package graft.apps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Compaction, StatsManifest}

/** End-to-end table maintenance: the periodic job that keeps a plain
  * parquet table healthy for the skipping-read path —
  *
  *   1. build the per-file min/max manifest (one scan-local groupBy);
  *   2. plan key-ordered next-fit compaction bins against a target
  *      row count;
  *   3. rewrite each bin as one sorted file (clustering preserved,
  *      so pruning keeps working);
  *   4. rebuild the manifest over the compacted layout and report
  *      before/after file counts plus a pruning sanity probe.
  *
  * The compacted table + fresh manifest land under `outDir`; the
  * source table is never mutated (swap is the caller's atomic-rename
  * step, same discipline as StreamingMv's `_CURRENT` flip).
  */
object TableMaintenanceApp {

  final case class Report(filesBefore: Int, filesAfter: Int,
      rows: Long, binCount: Long, keptAfterProbe: Int)

  def run(spark: SparkSession, tableDir: String, statCol: String,
      targetRows: Long, outDir: String): Report = {
    val df = spark.read.parquet(tableDir)
    val before = df.inputFiles.length
    val manifest = StatsManifest.build(df, Seq(statCol)).localCheckpoint()
    val plan = Compaction.planSortedBins(
      manifest.withColumnRenamed("min_v", "lo"), "lo", "n_rows", targetRows)
    val binCount = plan.select(col("bin")).distinct().count()
    Compaction.compactFiles(spark, plan, statCol, s"$outDir/data")
    val compacted = spark.read.parquet(s"$outDir/data")
    val after = compacted.inputFiles.length
    val manifest2 = StatsManifest.build(compacted, Seq(statCol))
      .localCheckpoint()
    manifest2.write.mode("overwrite").parquet(s"$outDir/manifest")
    // pruning sanity probe: a range inside ONE bin keeps one file.
    // Skipped (0) for an empty table or an all-NULL stat column —
    // there is no interval to probe.
    val bounds = manifest2.agg(min(col("min_v")), max(col("max_v"))).head()
    val kept =
      if (bounds.isNullAt(0) || bounds.isNullAt(1)) Seq.empty[String]
      else {
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val probeHi =
          lo + math.max(1L, (hi - lo) / (2 * math.max(binCount, 1L)))
        StatsManifest.prunedFiles(manifest2, statCol, lo, probeHi)
      }
    Report(before, after, compacted.count(), binCount, kept.length)
  }

  def main(args: Array[String]): Unit = {
    val Array(tableDir, statCol, targetRows, outDir) = args.take(4)
    val spark = Apps.session("table-maintenance")
    try {
      val r = run(spark, tableDir, statCol, targetRows.toLong, outDir)
      println(s"maintenance: files ${r.filesBefore} -> ${r.filesAfter} " +
        s"(${r.binCount} bins, ${r.rows} rows), probe kept " +
        s"${r.keptAfterProbe} file(s)")
    } finally spark.stop()
  }
}
