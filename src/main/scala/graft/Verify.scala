package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
/** Correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/check.py).
  * Usage: runMain graft.Verify <sfDir> <outDir> [q_name,q_name,...] */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = apps.Apps.session("graft-verify")
    // materialize shared graph preprocessing once per run: the N
    // queries folding the same base table re-read one artifact
    plans.ResultCache.installHooks()
    val status = run(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) =>
        only.forall(_.contains(name)) },
      SparkEntry.oracleSql)
    spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** Writes each query's result to `outDir/<name>` as parquet and the
    * oracle map to `outDir/oracle_sql.json`. A failing query does not
    * stop the others; the failures are named on stderr at the end.
    * Returns the process exit status: 0 when every query wrote, else 1. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String]): Int = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        Console.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(oracleSql.asJava))
    if (failed.isEmpty) 0
    else {
      Console.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
      1
    }
  }
}
