package graft.sinks

import java.sql.{Connection, DriverManager, SQLException, Statement}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sinks.MetadataUpsert.{CountryEditRow, MetadataRow, MetadataStore, StoredMetadata}
import graft.sinks.UpsertSink.{StatsRow, StoredStats, UpsertStore}

/** JDBC-backed [[UpsertStore]] — the production counterpart of
  * [[UpsertSink.InMemoryUpsertStore]], carrying the reference's
  * battle-hardened conflict semantics to a real database (reference
  * statement at analytics/.../stats/ChangesetStatsForeachWriter.scala:17-130;
  * result schema per deployment/sql/06-changesets.sql,
  * 02-checkpoints.sql).
  *
  * Two dialect paths:
  *  - [[JdbcUpsertStore.PostgresSql]]: the generated ON-CONFLICT
  *    statement family for PostgreSQL — single-statement atomic merge
  *    with the jsonb key-wise sum and the `&&` sequence-overlap dedup
  *    guard, parameterized identically to the reference.
  *  - portable read-merge-write (used below, runs on Derby/H2/any
  *    ANSI JDBC): each `applyBatch` is ONE serializable transaction —
  *    SELECT current row, apply [[UpsertSink.mergeRow]] (the single
  *    source of truth for merge-or-skip), INSERT or UPDATE, commit.
  *    At-least-once delivery is made exactly-once by the same
  *    sequence-overlap guard, now enforced transactionally by the
  *    database instead of a JVM lock.
  *
  * The instance is a serializable handle (url string); connections are
  * opened per batch on the executor — `writeStats`'s
  * `repartition(maxConnections)` bounds concurrency exactly like the
  * reference's partition-per-connection rule.
  */
class JdbcUpsertStore(url: String) extends UpsertStore with MetadataStore {

  import JdbcUpsertStore._

  /** Tables are created once per instance (once per deserialized copy
    * on an executor), not on every connection. */
  @transient private lazy val tablesReady: Unit = {
    val conn = DriverManager.getConnection(url)
    try ensureTables(conn) finally conn.close()
  }

  private def withConn[T](f: Connection => T): T = {
    tablesReady
    val conn = DriverManager.getConnection(url)
    try {
      conn.setTransactionIsolation(Connection.TRANSACTION_SERIALIZABLE)
      f(conn)
    } finally conn.close()
  }

  private def withTxn[T](f: Connection => T): T = withConn { conn =>
    conn.setAutoCommit(false)
    try {
      val r = f(conn)
      conn.commit()
      r
    } catch {
      case t: Throwable =>
        try conn.rollback() catch { case _: SQLException => () }
        throw t
    }
  }

  override def applyBatch(rows: Seq[StatsRow]): Unit = withTxn { conn =>
    // Per changeset, rows apply in input order (merge order matters
    // within a key); across changesets, ascending-id processing gives
    // every transaction the same lock-acquisition order, and the
    // FOR UPDATE read takes update locks up front — both standard
    // deadlock-avoidance measures for concurrent writers. All merges
    // commit together (same contract as the in-memory store).
    val staged = scala.collection.mutable.Map.empty[Long, (StoredStats, Boolean)]
    rows.groupBy(_.changeset).toSeq.sortBy(_._1).foreach { case (cs, csRows) =>
      csRows.foreach { r =>
        val existing = staged.get(cs).map(_._1)
          .orElse(select(conn, cs, forUpdate = true))
        val existedInDb = staged.get(cs).map(_._2)
          .getOrElse(existing.isDefined)
        UpsertSink.mergeRow(existing, r).foreach(v =>
          staged.update(cs, (v, existedInDb)))
      }
    }
    staged.toSeq.sortBy(_._1).foreach { case (_, (v, existed)) =>
      upsert(conn, v, existed)
    }
  }

  override def get(changeset: Long): Option[StoredStats] =
    withConn(select(_, changeset, forUpdate = false))

  override def saveCheckpoint(procName: String, sequence: Long): Unit =
    withTxn { conn =>
      val cur = {
        val ps = conn.prepareStatement(
          "SELECT seq FROM checkpoints WHERE proc_name = ?")
        ps.setString(1, procName)
        val rs = ps.executeQuery()
        val r = if (rs.next()) Some(rs.getLong(1)) else None
        ps.close(); r
      }
      cur match {
        case Some(s) if s >= sequence => ()
        case Some(_) =>
          val ps = conn.prepareStatement(
            "UPDATE checkpoints SET seq = ? WHERE proc_name = ?")
          ps.setLong(1, sequence); ps.setString(2, procName)
          ps.executeUpdate(); ps.close()
        case None =>
          val ps = conn.prepareStatement(
            "INSERT INTO checkpoints (proc_name, seq) VALUES (?, ?)")
          ps.setString(1, procName); ps.setLong(2, sequence)
          ps.executeUpdate(); ps.close()
      }
    }

  override def checkpoint(procName: String): Option[Long] = withConn { conn =>
    val ps = conn.prepareStatement(
      "SELECT seq FROM checkpoints WHERE proc_name = ?")
    ps.setString(1, procName)
    val rs = ps.executeQuery()
    val r = if (rs.next()) Some(rs.getLong(1)) else None
    ps.close(); r
  }

  def size: Int = withConn { conn =>
    val rs = conn.createStatement().executeQuery(
      "SELECT count(*) FROM changesets")
    rs.next(); rs.getInt(1)
  }

  // ------------------------------------------------------- S7: metadata

  /** Metadata family, one transaction per batch. Lock order matches the
    * stats path (ascending changeset id first), then the dictionaries in
    * sorted key order, so concurrent metadata/stats writers can't
    * deadlock on reversed acquisition. */
  override def applyMetadataBatch(rows: Seq[MetadataRow],
                                  updateUsernames: Boolean): Unit =
    withTxn { conn =>
      rows.groupBy(_.id).toSeq.sortBy(_._1).foreach { case (_, csRows) =>
        // descriptive columns are last-write-wins within the batch
        upsertMetadata(conn, csRows.last)
      }
      rows.groupBy(_.uid).toSeq.sortBy(_._1).foreach { case (uid, uRows) =>
        upsertUser(conn, uid, uRows.last.user.orNull, updateUsernames)
      }
      val tagPairs = rows.flatMap(r => r.hashtags.map(t => (t, r.id)))
        .distinct.sorted
      tagPairs.foreach { case (tag, cs) =>
        val hid = hashtagIdOrInsert(conn, tag)
        insertIgnoreJoin(conn, "changesets_hashtags",
          "changeset_id", cs, "hashtag_id", hid)
      }
    }

  /** Per-country additive rollup under the same `&&` sequence-overlap
    * guard as the stats row (reference UpdateChangesetCountriesQuery).
    * Unknown country codes are dropped, mirroring the reference's
    * `FROM countries WHERE code = ?` insert-nothing shape. */
  override def applyCountryBatch(rows: Seq[CountryEditRow]): Unit =
    withTxn { conn =>
      rows.groupBy(r => (r.changeset, r.code)).toSeq.sortBy(_._1)
        .foreach { case ((cs, code), ccRows) =>
          countryId(conn, code).foreach { cid =>
            ccRows.foreach(r => mergeCountryEdit(conn, cs, cid, r))
          }
        }
    }

  override def seedCountries(countries: Seq[(String, String)]): Unit =
    withTxn { conn =>
      countries.foreach { case (name, code) =>
        if (countryId(conn, code).isEmpty) {
          val ps = conn.prepareStatement(
            "INSERT INTO countries (name, code) VALUES (?, ?)")
          ps.setString(1, name); ps.setString(2, code)
          ps.executeUpdate(); ps.close()
        }
      }
    }

  override def metadata(changeset: Long): Option[StoredMetadata] =
    withConn { conn =>
      val ps = conn.prepareStatement(
        "SELECT id, editor, user_id, created_at_us, closed_at_us " +
          "FROM changesets WHERE id = ?")
      ps.setLong(1, changeset)
      val rs = ps.executeQuery()
      val r =
        if (rs.next())
          Some(StoredMetadata(rs.getLong(1), Option(rs.getString(2)),
            rs.getLong(3), getOptLong(rs, 4), getOptLong(rs, 5)))
        else None
      ps.close(); r
    }

  override def userName(id: Long): Option[String] = withConn { conn =>
    val ps = conn.prepareStatement("SELECT name FROM users WHERE id = ?")
    ps.setLong(1, id)
    val rs = ps.executeQuery()
    val r = if (rs.next()) Option(rs.getString(1)) else None
    ps.close(); r
  }

  override def hashtagId(tag: String): Option[Long] = withConn { conn =>
    selectHashtagId(conn, tag)
  }

  override def hashtagsOf(changeset: Long): Seq[String] = withConn { conn =>
    val ps = conn.prepareStatement(
      "SELECT h.hashtag FROM changesets_hashtags ch " +
        "JOIN hashtags h ON h.id = ch.hashtag_id " +
        "WHERE ch.changeset_id = ? ORDER BY h.hashtag")
    ps.setLong(1, changeset)
    val rs = ps.executeQuery()
    val b = Seq.newBuilder[String]
    while (rs.next()) b += rs.getString(1)
    ps.close(); b.result()
  }

  override def countriesOf(changeset: Long): Map[String, Long] =
    withConn { conn =>
      val ps = conn.prepareStatement(
        "SELECT c.code, cc.edit_count FROM changesets_countries cc " +
          "JOIN countries c ON c.id = cc.country_id " +
          "WHERE cc.changeset_id = ?")
      ps.setLong(1, changeset)
      val rs = ps.executeQuery()
      val b = Map.newBuilder[String, Long]
      while (rs.next()) b += (rs.getString(1) -> rs.getLong(2))
      ps.close(); b.result()
    }

  private def getOptLong(rs: java.sql.ResultSet, i: Int): Option[Long] = {
    val v = rs.getLong(i)
    if (rs.wasNull()) None else Some(v)
  }

  private def upsertMetadata(conn: Connection, r: MetadataRow): Unit = {
    val exists = select(conn, r.id, forUpdate = true).isDefined
    val sql =
      if (exists)
        "UPDATE changesets SET editor = ?, user_id = ?, created_at_us = ?, " +
          "closed_at_us = ?, updated_at = CURRENT_TIMESTAMP WHERE id = ?"
      else
        "INSERT INTO changesets (editor, user_id, created_at_us, " +
          "closed_at_us, updated_at, id) " +
          "VALUES (?, ?, ?, ?, CURRENT_TIMESTAMP, ?)"
    val ps = conn.prepareStatement(sql)
    ps.setString(1, r.editor.orNull)
    ps.setLong(2, r.uid)
    setOptLong(ps, 3, r.createdAtUs)
    setOptLong(ps, 4, r.closedAtUs)
    ps.setLong(5, r.id)
    ps.executeUpdate(); ps.close()
  }

  private def setOptLong(ps: java.sql.PreparedStatement, i: Int,
                         v: Option[Long]): Unit = v match {
    case Some(x) => ps.setLong(i, x)
    case None    => ps.setNull(i, java.sql.Types.BIGINT)
  }

  private def upsertUser(conn: Connection, id: Long, name: String,
                         updateUsernames: Boolean): Unit = {
    val ps = conn.prepareStatement("SELECT name FROM users WHERE id = ?")
    ps.setLong(1, id)
    val rs = ps.executeQuery()
    val existing = if (rs.next()) Some(Option(rs.getString(1))) else None
    ps.close()
    existing match {
      case None =>
        val ins = conn.prepareStatement(
          "INSERT INTO users (id, name) VALUES (?, ?)")
        ins.setLong(1, id); ins.setString(2, name)
        ins.executeUpdate(); ins.close()
      // name != null: an incoming row with no username must never erase
      // a known one — the PG-dialect predicate (u.name != data.name)
      // never fires on NULL, and the live store must agree with it
      case Some(old) if updateUsernames && name != null
          && old != Option(name) =>
        val upd = conn.prepareStatement(
          "UPDATE users SET name = ? WHERE id = ?")
        upd.setString(1, name); upd.setLong(2, id)
        upd.executeUpdate(); upd.close()
      case _ => () // ON CONFLICT (id) DO NOTHING
    }
  }

  private def selectHashtagId(conn: Connection, tag: String): Option[Long] = {
    val ps = conn.prepareStatement(
      "SELECT id FROM hashtags WHERE hashtag = ?")
    ps.setString(1, tag)
    val rs = ps.executeQuery()
    val r = if (rs.next()) Some(rs.getLong(1)) else None
    ps.close(); r
  }

  /** Insert-returning dictionary semantics: the id comes back whether the
    * insert landed or the tag already existed (reference
    * UpdateChangesetsHashtagsQuery's ins/UNION ALL CTE dance). */
  private def hashtagIdOrInsert(conn: Connection, tag: String): Long =
    selectHashtagId(conn, tag).getOrElse {
      val ps = conn.prepareStatement(
        "INSERT INTO hashtags (hashtag) VALUES (?)",
        Statement.RETURN_GENERATED_KEYS)
      ps.setString(1, tag)
      ps.executeUpdate()
      val keys = ps.getGeneratedKeys
      keys.next()
      val id = keys.getLong(1)
      ps.close()
      id
    }

  private def insertIgnoreJoin(conn: Connection, table: String,
                               kCol: String, k: Long,
                               vCol: String, v: Long): Unit = {
    val sel = conn.prepareStatement(
      s"SELECT 1 FROM $table WHERE $kCol = ? AND $vCol = ?")
    sel.setLong(1, k); sel.setLong(2, v)
    val rs = sel.executeQuery()
    val present = rs.next()
    sel.close()
    if (!present) {
      val ins = conn.prepareStatement(
        s"INSERT INTO $table ($kCol, $vCol) VALUES (?, ?)")
      ins.setLong(1, k); ins.setLong(2, v)
      ins.executeUpdate(); ins.close()
    }
  }

  private def countryId(conn: Connection, code: String): Option[Long] = {
    val ps = conn.prepareStatement(
      "SELECT id FROM countries WHERE code = ?")
    ps.setString(1, code)
    val rs = ps.executeQuery()
    val r = if (rs.next()) Some(rs.getLong(1)) else None
    ps.close(); r
  }

  private def mergeCountryEdit(conn: Connection, cs: Long, cid: Long,
                               r: CountryEditRow): Unit = {
    val sel = conn.prepareStatement(
      "SELECT edit_count, sequences FROM changesets_countries " +
        "WHERE changeset_id = ? AND country_id = ? FOR UPDATE")
    sel.setLong(1, cs); sel.setLong(2, cid)
    val rs = sel.executeQuery()
    val existing =
      if (rs.next()) Some((rs.getLong(1), decodeLongSet(rs.getString(2))))
      else None
    sel.close()
    existing match {
      case None =>
        val ins = conn.prepareStatement(
          "INSERT INTO changesets_countries " +
            "(changeset_id, country_id, edit_count, sequences) " +
            "VALUES (?, ?, ?, ?)")
        ins.setLong(1, cs); ins.setLong(2, cid)
        ins.setLong(3, r.editCount)
        ins.setString(4, encodeSet(r.sequences))
        ins.executeUpdate(); ins.close()
      case Some((_, seqs)) if seqs.intersect(r.sequences).nonEmpty =>
        () // dedup guard: this delivery was already applied
      case Some((cnt, seqs)) =>
        val upd = conn.prepareStatement(
          "UPDATE changesets_countries SET edit_count = ?, sequences = ? " +
            "WHERE changeset_id = ? AND country_id = ?")
        upd.setLong(1, cnt + r.editCount)
        upd.setString(2, encodeSet(seqs ++ r.sequences))
        upd.setLong(3, cs); upd.setLong(4, cid)
        upd.executeUpdate(); upd.close()
    }
  }

  private def select(conn: Connection, changeset: Long,
                     forUpdate: Boolean): Option[StoredStats] = {
    val ps = conn.prepareStatement(
      "SELECT id, user_id, counts, measurements, total_edits, sequences " +
        "FROM changesets WHERE id = ?" +
        (if (forUpdate) " FOR UPDATE" else ""))
    ps.setLong(1, changeset)
    val rs = ps.executeQuery()
    val r =
      if (rs.next())
        Some(StoredStats(rs.getLong(1), rs.getLong(2),
          decodeLongMap(rs.getString(3)), decodeDoubleMap(rs.getString(4)),
          rs.getLong(5), decodeLongSet(rs.getString(6))))
      else None
    ps.close()
    r
  }

  private def upsert(conn: Connection, v: StoredStats, existed: Boolean): Unit = {
    val sql =
      if (existed)
        "UPDATE changesets SET user_id = ?, counts = ?, measurements = ?, " +
          "total_edits = ?, sequences = ?, updated_at = CURRENT_TIMESTAMP " +
          "WHERE id = ?"
      else
        "INSERT INTO changesets " +
          "(user_id, counts, measurements, total_edits, sequences, updated_at, id) " +
          "VALUES (?, ?, ?, ?, ?, CURRENT_TIMESTAMP, ?)"
    val ps = conn.prepareStatement(sql)
    ps.setLong(1, v.uid)
    ps.setString(2, encode(v.counts))
    ps.setString(3, encode(v.measurements))
    ps.setLong(4, v.totalEdits)
    ps.setString(5, encodeSet(v.sequences))
    ps.setLong(6, v.changeset)
    ps.executeUpdate()
    ps.close()
  }
}

object JdbcUpsertStore {

  private val mapper = new ObjectMapper()

  private[sinks] def encode(m: Map[String, _]): String = {
    val jm = new java.util.TreeMap[String, Any]()
    m.foreach { case (k, v) => jm.put(k, v) }
    mapper.writeValueAsString(jm)
  }

  private[sinks] def encodeSet(s: Set[Long]): String =
    s.toSeq.sorted.mkString("[", ",", "]")

  private[sinks] def decodeLongMap(s: String): Map[String, Long] = {
    if (s == null) return Map.empty // metadata-first row: stats not yet written
    val n = mapper.readTree(s)
    val b = Map.newBuilder[String, Long]
    n.properties().forEach(e => b += (e.getKey -> e.getValue.asLong()))
    b.result()
  }

  private[sinks] def decodeDoubleMap(s: String): Map[String, Double] = {
    if (s == null) return Map.empty
    val n = mapper.readTree(s)
    val b = Map.newBuilder[String, Double]
    n.properties().forEach(e => b += (e.getKey -> e.getValue.asDouble()))
    b.result()
  }

  private[sinks] def decodeLongSet(s: String): Set[Long] = {
    if (s == null) return Set.empty
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) Set.empty
    else body.split(",").map(_.trim.toLong).toSet
  }

  private def ensureTables(conn: Connection): Unit = {
    def createIfMissing(ddl: String): Unit =
      try { conn.createStatement().executeUpdate(ddl); () }
      catch {
        // Derby X0Y32 = object already exists; Postgres/H2 support
        // IF NOT EXISTS natively but Derby does not.
        case e: SQLException if e.getSQLState == "X0Y32" => ()
      }
    createIfMissing(
      """CREATE TABLE changesets (
        |  id BIGINT PRIMARY KEY,
        |  user_id BIGINT,
        |  counts CLOB,
        |  measurements CLOB,
        |  total_edits BIGINT,
        |  sequences CLOB,
        |  editor VARCHAR(255),
        |  created_at_us BIGINT,
        |  closed_at_us BIGINT,
        |  updated_at TIMESTAMP)""".stripMargin)
    createIfMissing(
      """CREATE TABLE checkpoints (
        |  proc_name VARCHAR(255) PRIMARY KEY,
        |  seq BIGINT)""".stripMargin)
    // S7 dictionaries + join tables (reference deployment/sql/01,03,04,07,08)
    createIfMissing(
      """CREATE TABLE users (
        |  id BIGINT PRIMARY KEY,
        |  name VARCHAR(255))""".stripMargin)
    createIfMissing(
      """CREATE TABLE hashtags (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  hashtag VARCHAR(255) NOT NULL UNIQUE)""".stripMargin)
    createIfMissing(
      """CREATE TABLE changesets_hashtags (
        |  changeset_id BIGINT NOT NULL,
        |  hashtag_id BIGINT NOT NULL,
        |  PRIMARY KEY (changeset_id, hashtag_id))""".stripMargin)
    createIfMissing(
      """CREATE TABLE countries (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  name VARCHAR(255),
        |  code VARCHAR(64) NOT NULL UNIQUE)""".stripMargin)
    createIfMissing(
      """CREATE TABLE changesets_countries (
        |  changeset_id BIGINT NOT NULL,
        |  country_id BIGINT NOT NULL,
        |  edit_count BIGINT NOT NULL,
        |  sequences CLOB,
        |  PRIMARY KEY (changeset_id, country_id))""".stripMargin)
  }

  /** The PostgreSQL single-statement merge family, generated from the
    * [[StatsRow]] column shape — structurally the reference's
    * UpdateChangesetsQuery (ChangesetStatsForeachWriter.scala:17-71):
    * CTE-shaped parameters, jsonb key-wise SUM merge of both map
    * columns, additive total_edits, array-concat of sequence ids, and
    * the `&&` overlap dedup guard that makes replays no-ops. */
  object PostgresSql {

    private def jsonbKeywiseSum(column: String): String =
      s"""  $column = (
         |    SELECT jsonb_object_agg(key, value)
         |    FROM (
         |      SELECT key, sum((value->>0)::numeric) AS value
         |      FROM (
         |        SELECT * FROM jsonb_each(c.$column)
         |        UNION ALL
         |        SELECT * FROM jsonb_each(EXCLUDED.$column)
         |      ) AS _
         |      WHERE key IS NOT NULL
         |      GROUP BY key
         |    ) AS _
         |  )""".stripMargin

    val upsertChangesets: String =
      s"""WITH data AS (
         |  SELECT
         |    ? AS id,
         |    ? AS user_id,
         |    ?::jsonb AS counts,
         |    ?::jsonb AS measurements,
         |    ? AS total_edits,
         |    ?::bigint[] AS sequences,
         |    current_timestamp AS updated_at
         |)
         |INSERT INTO changesets AS c (
         |  id, user_id, counts, measurements, total_edits, sequences, updated_at
         |) SELECT * FROM data
         |ON CONFLICT (id) DO UPDATE
         |SET
         |  user_id = coalesce(EXCLUDED.user_id, c.user_id),
         |${jsonbKeywiseSum("counts")},
         |${jsonbKeywiseSum("measurements")},
         |  total_edits = coalesce(c.total_edits, 0) + coalesce(EXCLUDED.total_edits, 0),
         |  sequences = coalesce(c.sequences, ARRAY[]::bigint[]) || EXCLUDED.sequences,
         |  updated_at = current_timestamp
         |WHERE c.id = EXCLUDED.id
         |  AND NOT coalesce(c.sequences, ARRAY[]::bigint[]) && EXCLUDED.sequences""".stripMargin

    val upsertCheckpoint: String =
      """INSERT INTO checkpoints AS k (proc_name, sequence)
        |VALUES (?, ?)
        |ON CONFLICT (proc_name) DO UPDATE
        |SET sequence = EXCLUDED.sequence
        |WHERE k.sequence < EXCLUDED.sequence""".stripMargin

    /** S7: descriptive changeset columns are REPLACED on conflict (unlike
      * the additive stats merge) — reference
      * ChangesetMetadataForeachWriter.UpdateChangesetsQuery. */
    val upsertChangesetMetadata: String =
      """WITH data AS (
        |  SELECT
        |    ? AS id,
        |    ? AS editor,
        |    ? AS user_id,
        |    ?::timestamp with time zone AS created_at,
        |    ?::timestamp with time zone AS closed_at,
        |    current_timestamp AS updated_at
        |)
        |INSERT INTO changesets AS c (
        |  id, editor, user_id, created_at, closed_at, updated_at
        |) SELECT * FROM data
        |ON CONFLICT (id) DO UPDATE
        |SET
        |  editor = EXCLUDED.editor,
        |  user_id = EXCLUDED.user_id,
        |  created_at = EXCLUDED.created_at,
        |  closed_at = EXCLUDED.closed_at,
        |  updated_at = current_timestamp
        |WHERE c.id = EXCLUDED.id""".stripMargin

    /** S7: users dictionary is insert-if-absent. */
    val insertUser: String =
      """INSERT INTO users AS u (id, name)
        |VALUES (?, ?)
        |ON CONFLICT (id) DO NOTHING""".stripMargin

    /** S7: optional username refresh (writer opened with
      * shouldUpdateUsernames). */
    val updateUsername: String =
      """UPDATE users u
        |SET name = data.name
        |FROM (SELECT ? AS id, ? AS name) AS data
        |WHERE u.id = data.id
        |  AND u.name != data.name""".stripMargin

    /** S7: hashtag dictionary insert-returning + join-table insert in one
      * statement — the id comes back whether the INSERT landed or the tag
      * already existed (the ins-CTE RETURNING UNION the pre-existing row;
      * same technique as the reference's UpdateChangesetsHashtagsQuery,
      * which cites the canonical upsert-returning idiom). */
    val upsertChangesetHashtag: String =
      """WITH tag AS (
        |  SELECT ? AS hashtag
        |),
        |ins AS (
        |  INSERT INTO hashtags AS h (hashtag)
        |  SELECT hashtag FROM tag
        |  ON CONFLICT DO NOTHING
        |  RETURNING id
        |),
        |resolved AS (
        |  SELECT id FROM ins
        |  UNION ALL
        |  SELECT hashtags.id FROM tag JOIN hashtags USING (hashtag)
        |)
        |INSERT INTO changesets_hashtags (changeset_id, hashtag_id)
        |SELECT ?, id FROM resolved
        |ON CONFLICT DO NOTHING""".stripMargin

    /** S7: per-country additive rollup through the countries dictionary,
      * gated by the same `&&` overlap guard as the stats row. Unknown
      * codes insert nothing (dictionary miss = empty data CTE). */
    val upsertChangesetCountry: String =
      """WITH data AS (
        |  SELECT
        |    ? AS changeset_id,
        |    id AS country_id,
        |    ? AS edit_count,
        |    ?::bigint[] AS sequences
        |  FROM countries
        |  WHERE code = ?
        |)
        |INSERT INTO changesets_countries AS cc (
        |  changeset_id, country_id, edit_count, sequences
        |) SELECT * FROM data
        |ON CONFLICT (changeset_id, country_id) DO UPDATE
        |SET
        |  edit_count = cc.edit_count + EXCLUDED.edit_count,
        |  sequences = coalesce(cc.sequences, ARRAY[]::bigint[]) || EXCLUDED.sequences
        |WHERE cc.changeset_id = EXCLUDED.changeset_id
        |  AND NOT coalesce(cc.sequences, ARRAY[]::bigint[]) && EXCLUDED.sequences""".stripMargin
  }
}
