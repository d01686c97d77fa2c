package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter}
import org.apache.spark.sql.functions._

/** Changeset-METADATA upsert family (SURVEY.md §2.1 S7) — the relational
  * shape the reference persists alongside the stats rollup: the
  * `changesets` descriptive columns, the `users` and `hashtags`
  * dictionaries, and the `changesets_hashtags` / `changesets_countries`
  * join tables.
  *
  * Reference semantics (analytics/.../stats/ChangesetMetadataForeachWriter.scala:16-110
  * and ChangesetStatsForeachWriter.scala:106-131; table DDL at
  * deployment/sql/01,03,04,07,08-*.sql):
  *  - `changesets` descriptive columns (editor, user_id, created_at,
  *    closed_at) are REPLACED on conflict — last write wins, unlike the
  *    additive stats columns;
  *  - `users(id, name)` is insert-if-absent; usernames are rewritten only
  *    when the writer is opened with `updateUsernames = true`;
  *  - `hashtags(id serial, hashtag unique)` is an insert-returning
  *    dictionary: writing a tag yields its id whether the insert landed
  *    or the tag already existed;
  *  - `changesets_hashtags(changeset_id, hashtag_id)` is insert-ignore on
  *    its composite key;
  *  - `changesets_countries(changeset_id, country_id, edit_count,
  *    sequences)` merges ADDITIVELY under the same sequence-overlap (`&&`)
  *    dedup guard as the stats row, and resolves `country_id` through the
  *    pre-seeded `countries(code unique)` dictionary — unknown codes are
  *    dropped, mirroring the reference's `FROM countries WHERE code = ?`
  *    shape which inserts nothing when the dictionary misses.
  */
object MetadataUpsert {

  /** One changeset-metadata row at the sink boundary. Timestamps travel
    * as epoch microseconds (None = absent), matching the engine's `ts_us`
    * convention. */
  case class MetadataRow(id: Long, editor: Option[String], uid: Long,
                         user: Option[String],
                         createdAtUs: Option[Long], closedAtUs: Option[Long],
                         hashtags: Seq[String])

  /** Stored descriptive state per changeset. */
  case class StoredMetadata(id: Long, editor: Option[String], uid: Long,
                            createdAtUs: Option[Long], closedAtUs: Option[Long])

  /** One per-country edit rollup row for a changeset. */
  case class CountryEditRow(changeset: Long, code: String, editCount: Long,
                            sequences: Set[Long])

  /** Pluggable transactional store for the metadata family. `applyBatch`
    * calls must be atomic per batch, like [[UpsertSink.UpsertStore]]. */
  trait MetadataStore extends Serializable {
    def applyMetadataBatch(rows: Seq[MetadataRow],
                           updateUsernames: Boolean = false): Unit
    def applyCountryBatch(rows: Seq[CountryEditRow]): Unit
    /** Seed the countries dictionary with (name, code) pairs; serial ids
      * are assigned in input order, existing codes keep their id. */
    def seedCountries(countries: Seq[(String, String)]): Unit

    def metadata(changeset: Long): Option[StoredMetadata]
    def userName(id: Long): Option[String]
    /** Dictionary lookup; None when the tag was never written. */
    def hashtagId(tag: String): Option[Long]
    /** Tags joined through changesets_hashtags, sorted. */
    def hashtagsOf(changeset: Long): Seq[String]
    /** code -> summed edit_count through changesets_countries. */
    def countriesOf(changeset: Long): Map[String, Long]
  }

  /** Project [[graft.operators.Metadata.assemble]] output (id, user_id,
    * user, created_at, closed_at, tags, hashtags) into the sink row type.
    * Editor is the OSM convention: the `created_by` tag. */
  def toMetadataRows(assembled: DataFrame): Dataset[MetadataRow] = {
    val spark = assembled.sparkSession
    import spark.implicits._
    assembled.select(
      col("id"),
      col("tags").getItem("created_by").as("editor"),
      col("user_id").as("uid"),
      col("user"),
      unix_micros(col("created_at")).as("createdAtUs"),
      unix_micros(col("closed_at")).as("closedAtUs"),
      col("hashtags"))
      .as[MetadataRow]
  }

  /** Streaming sink: reference ForeachWriter lifecycle, batched like
    * [[UpsertSink.BatchedWriter]] (1000 rows/txn, ≤3 attempts via
    * the store's own transactionality + BatchedWriter-style retry). */
  class MetadataForeachWriter(store: MetadataStore, batchSize: Int = 1000,
                              maxRetries: Int = 3,
                              updateUsernames: Boolean = false)
      extends ForeachWriter[MetadataRow] {
    @transient private var buffer: scala.collection.mutable.ArrayBuffer[MetadataRow] = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      buffer = scala.collection.mutable.ArrayBuffer.empty; true
    }
    override def process(value: MetadataRow): Unit = {
      buffer += value
      if (buffer.size >= batchSize) flush()
    }
    override def close(errorOrNull: Throwable): Unit =
      if (errorOrNull == null) flush()
    private def flush(): Unit = if (buffer.nonEmpty) {
      var attempt = 0
      var done = false
      var lastErr: Throwable = null
      while (!done && attempt < maxRetries) {
        try { store.applyMetadataBatch(buffer.toSeq, updateUsernames); done = true }
        catch { case t: Throwable => lastErr = t; attempt += 1 }
      }
      if (!done) throw lastErr
      buffer.clear()
    }
  }

  /** Distributed batch path: partition-per-connection like
    * [[UpsertSink.writeStats]]. */
  def writeMetadata(rows: Dataset[MetadataRow], store: MetadataStore,
                    maxConnections: Int = 8, batchSize: Int = 1000,
                    updateUsernames: Boolean = false): Unit =
    rows.repartition(maxConnections).foreachPartition {
      (it: Iterator[MetadataRow]) =>
        val w = new MetadataForeachWriter(store, batchSize,
          updateUsernames = updateUsernames)
        w.open(0L, 0L)
        it.foreach(w.process)
        w.close(null)
    }
}
