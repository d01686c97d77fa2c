package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Malformed-row side channel — the reference's
  * `AugmentedDiffSourceErrorHandler` semantics (SURVEY.md §2.1 S5):
  * rows failing validation are not dropped and do not kill the job; they
  * are routed to a dead-letter table with a reason column while the
  * clean rows continue (reference handler at
  * apps/.../streaming/StreamingChangesetStatsUpdater.scala:149-216,
  * errors table per deployment/sql/05-errors.sql).
  *
  * Works identically on batch and streaming DataFrames: `split` is a
  * pair of filters over one upstream plan, and in streaming each side
  * can feed its own sink (errors typically via foreachBatch into the
  * same idempotent store family as the stats). Each sink is its own
  * action over that plan, so a foreachBatch body persists the batch
  * before splitting it, or every action reads the source again (see
  * `AugDiffStatsPipeline.run`).
  */
object ErrorChannel {

  /** (clean, dead) split: `dead` carries an `error_reason` column naming
    * the first failed check. Checks are (name, predicate-that-must-hold). */
  def split(df: DataFrame, checks: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val allOk = checks.map(_._2).reduce(_ && _)
    val reason = checks.foldRight(lit(null: String)) { case ((name, ok), acc) =>
      when(!coalesce(ok, lit(false)), lit(name)).otherwise(acc)
    }
    val clean = df.filter(coalesce(allOk, lit(false)))
    val dead = df.filter(!coalesce(allOk, lit(false)))
      .withColumn("error_reason", reason)
    (clean, dead)
  }

  /** Standard element-row checks for SequenceSource-schema data. */
  def elementChecks: Seq[(String, Column)] = Seq(
    "null_id" -> col("id").isNotNull,
    "bad_lon" -> (col("lon") >= -180.0 && col("lon") <= 180.0),
    "bad_lat" -> (col("lat") >= -90.0 && col("lat") <= 90.0),
    "bad_type" -> col("element_type").isin("node", "way", "relation"))
}
