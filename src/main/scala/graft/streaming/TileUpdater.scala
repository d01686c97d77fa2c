package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.TileSink

/** Streaming tile updater: per micro-batch, rasterize the batch's
  * element changes and commit them to the MVT store under their
  * replication sequence ids (reference
  * apps/.../streaming/StreamingFacetedEditHistogramTileUpdater.scala and
  * the update path EditHistogram.scala:219-278).
  *
  * Exactly-once comes from composing the two protocols:
  *  - Spark's offset log makes each sequence processed at-least-once;
  *  - `Mvt.commitTile`'s `__sequences__` guard makes the re-application
  *    of an already-committed sequence a no-op.
  * So a crash/restart between offset-commit and tile-write replays the
  * batch and the store deduplicates — the reference's design, verbatim
  * (SURVEY.md §2.9 exactly-once).
  *
  * Each micro-batch is ONE job with ONE exchange
  * ([[graft.sinks.TileSink.commitPoints]]): row keys carry the sequence
  * (`<sequence>:<layer>`), points are shuffled by tile, and each touched
  * tile gets one read-modify-write however many sequences the batch
  * spans — each (sequence, tile) still passes its own guard, so partial
  * batch replays converge. Every streaming tile updater (edit, faceted,
  * hashtag and user footprints) commits through [[startKeyed]].
  */
object TileUpdater {

  /** Start the updater over a SequenceSource-schema stream; every row
    * lands in `layer`. */
  def start(changes: DataFrame, tileDir: String, layer: String,
            zoom: Int, cells: Int, checkpoint: String,
            availableNow: Boolean = true): StreamingQuery =
    startKeyed(changes,
      concat(col("sequence").cast("string"), lit(":"), lit(layer)),
      tileDir, zoom, cells, checkpoint,
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))

  /** Start an updater whose `key` column, `<sequence>:<layer>`, picks
    * each row's layer; rows need `lon` and `lat`. */
  def startKeyed(changes: DataFrame, key: Column, tileDir: String,
                 zoom: Int, cells: Int, checkpoint: String,
                 trigger: Trigger): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TileSink.commitPoints(batch.withColumn("key", key), "key", "lon",
          "lat", zoom, cells, tileDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
