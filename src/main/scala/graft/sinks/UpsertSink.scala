package graft.sinks

import scala.collection.mutable

/** Idempotent changeset-stats upsert — the reference system's core
  * exactly-once invariant, re-implemented store-agnostically.
  *
  * Reference semantics preserved verbatim (SURVEY.md §2.1 S6/S7, §2.9;
  * reference analytics/.../stats/ChangesetStatsForeachWriter.scala:17-130):
  *  - upsert keyed by changeset id;
  *  - on conflict, key-wise sum of the counts/measurements maps and of
  *    total_edits;
  *  - the dedup guard: an incoming row whose `sequences` overlap the
  *    stored row's `sequences` is SKIPPED (`NOT c.augmented_diffs &&
  *    EXCLUDED.augmented_diffs`) — this is what makes at-least-once
  *    delivery exactly-once at the store;
  *  - batches of `batchSize` rows applied transactionally with
  *    ≤ `maxRetries` attempts (reference: 1000 rows/txn, 3 retries).
  *
  * The store is pluggable: [[InMemoryUpsertStore]] for tests/local runs;
  * a production deployment supplies a JDBC-backed implementation whose
  * `applyBatch` is one transaction executing the reference's ON CONFLICT
  * statement. Parallelism is bounded upstream by `repartition(maxConn)`
  * exactly like the reference (ChangesetStatsCreator.scala:201).
  */
object UpsertSink {

  /** One changeset-stats row at the sink boundary. */
  case class StatsRow(changeset: Long, uid: Long,
                      counts: Map[String, Long],
                      measurements: Map[String, Double],
                      totalEdits: Long, sequences: Set[Long])

  /** Stored state per changeset. */
  case class StoredStats(changeset: Long, uid: Long,
                         counts: Map[String, Long],
                         measurements: Map[String, Double],
                         totalEdits: Long, sequences: Set[Long])

  /** Pluggable transactional store. `applyBatch` must be atomic: all
    * rows' merge-or-skip decisions commit together or not at all. */
  trait UpsertStore extends Serializable {
    def applyBatch(rows: Seq[StatsRow]): Unit
    def get(changeset: Long): Option[StoredStats]
    /** Checkpoint table (S11): high-water sequence per process name. */
    def saveCheckpoint(procName: String, sequence: Long): Unit
    def checkpoint(procName: String): Option[Long]
  }

  /** Merge-or-skip for one row against existing state — THE reference
    * conflict semantics. Returns None when the dedup guard rejects. */
  def mergeRow(existing: Option[StoredStats], row: StatsRow): Option[StoredStats] =
    existing match {
      case None =>
        Some(StoredStats(row.changeset, row.uid, row.counts,
          row.measurements, row.totalEdits, row.sequences))
      case Some(e) if e.sequences.intersect(row.sequences).nonEmpty =>
        None // dedup guard: this delivery was already applied
      case Some(e) =>
        val counts = (e.counts.keySet ++ row.counts.keySet).map(k =>
          k -> (e.counts.getOrElse(k, 0L) + row.counts.getOrElse(k, 0L))).toMap
        val meas = (e.measurements.keySet ++ row.measurements.keySet).map(k =>
          k -> (e.measurements.getOrElse(k, 0.0) + row.measurements.getOrElse(k, 0.0))).toMap
        Some(StoredStats(e.changeset, row.uid, counts, meas,
          e.totalEdits + row.totalEdits, e.sequences ++ row.sequences))
    }

  /** JVM-local store (tests / local mode). The instance is a serializable
    * HANDLE: task-deserialized copies carry the same id and resolve to
    * one shared backing map in this JVM (like a connection pool resolves
    * to one database) — so `foreachPartition` closures reach the same
    * state. Atomicity via a global lock; the production JDBC store gets
    * it from the database transaction. */
  object InMemoryUpsertStore {
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[String,
        (mutable.Map[Long, StoredStats], mutable.Map[String, Long])]()
    private def resolve(id: String) =
      tables.computeIfAbsent(id, _ => (mutable.Map.empty, mutable.Map.empty))
    private def evict(id: String): Unit = { tables.remove(id); () }
  }

  class InMemoryUpsertStore extends UpsertStore {
    private val id = java.util.UUID.randomUUID().toString
    private def data = InMemoryUpsertStore.resolve(id)._1
    private def checkpoints = InMemoryUpsertStore.resolve(id)._2
    override def applyBatch(rows: Seq[StatsRow]): Unit = data.synchronized {
      // fold sequentially: later rows in the batch see earlier rows'
      // staged merges, like consecutive statements in one transaction
      val staged = mutable.Map.empty[Long, StoredStats]
      rows.foreach { r =>
        val existing = staged.get(r.changeset).orElse(data.get(r.changeset))
        mergeRow(existing, r).foreach(v => staged.update(r.changeset, v))
      }
      staged.foreach { case (k, v) => data.update(k, v) }
    }
    override def get(changeset: Long): Option[StoredStats] =
      data.synchronized(data.get(changeset))
    override def saveCheckpoint(procName: String, sequence: Long): Unit =
      checkpoints.synchronized {
        checkpoints.update(procName,
          math.max(sequence, checkpoints.getOrElse(procName, Long.MinValue)))
      }
    override def checkpoint(procName: String): Option[Long] =
      checkpoints.synchronized(checkpoints.get(procName))
    def size: Int = data.synchronized(data.size)
    /** Release this store's backing maps from the process-global
      * registry (long test sessions otherwise accumulate stores). */
    def close(): Unit = InMemoryUpsertStore.evict(id)
  }

  /** Batched, bounded-retry writer core shared by [[writeBatch]] and
    * the foreachPartition path of [[writeStats]]. */
  class BatchedWriter(store: UpsertStore, batchSize: Int = 1000,
                      maxRetries: Int = 3) extends Serializable {
    private val buffer = mutable.ArrayBuffer.empty[StatsRow]
    def add(row: StatsRow): Unit = {
      buffer += row
      if (buffer.size >= batchSize) flush()
    }
    def flush(): Unit = {
      if (buffer.nonEmpty) {
        var attempt = 0
        var done = false
        var lastErr: Throwable = null
        while (!done && attempt < maxRetries) {
          try { store.applyBatch(buffer.toSeq); done = true }
          catch { case t: Throwable => lastErr = t; attempt += 1 }
        }
        if (!done) throw lastErr
        buffer.clear()
      }
    }
  }

  /** Batch path: foreachPartition with the same writer core. */
  def writeBatch(rows: Seq[StatsRow], store: UpsertStore,
                 batchSize: Int = 1000): Unit = {
    val w = new BatchedWriter(store, batchSize)
    rows.foreach(w.add)
    w.flush()
  }

  /** Distributed batch path: `repartition(maxConnections)` bounds the
    * number of concurrent store connections exactly like the reference
    * (ChangesetStatsCreator.scala:60-67,201 — "a partition per
    * connection"); each executor partition runs its own BatchedWriter
    * lifecycle. The Dataset must be of StatsRow. */
  def writeStats(rows: org.apache.spark.sql.Dataset[StatsRow],
                 store: UpsertStore, maxConnections: Int = 8,
                 batchSize: Int = 1000): Unit =
    rows.repartition(maxConnections).foreachPartition {
      (it: Iterator[StatsRow]) =>
        val w = new BatchedWriter(store, batchSize)
        it.foreach(w.add)
        w.flush()
    }
}
