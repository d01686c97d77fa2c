package graft.sinks

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, floor}

import graft.operators.Tiles
import graft.operators.Tiles.Raster

/** Writes sparse-raster tiles as gzipped MVT files via partition-local
  * I/O — the reference's sink shape (mapPartitions + ForkJoinTaskSupport,
  * 8 concurrent uploads/partition: reference
  * analytics/.../EditHistogram.scala:54-64, VectorGrid.scala:30).
  * The driver never touches tile bytes; each task writes its own tiles
  * (to file:// here, s3:// in production — same pattern) and the driver
  * collects one commit count per partition.
  */
object TileSink {

  /** Commit every raster under `sequence`; returns tiles written (tiles
    * whose sequence was already committed are skipped — idempotent).
    * Rasters that share a tile (one per key, e.g. per event type) are
    * summed into one `layer` raster first: the `__sequences__` guard is
    * per tile, so separate commits of the same (tile, sequence) would
    * keep only whichever landed first. */
  def writeRasters(tiles: Dataset[Raster], dir: String, layer: String,
                   sequence: Long, concurrency: Int = 8): Long =
    writeRasters(tiles, new LocalFsStore(dir): ObjectStore, layer,
      sequence, concurrency)

  /** Store-seam variant: same sink against any [[ObjectStore]] (the
    * reference writes s3://; the store handle serializes to tasks). */
  def writeRasters(tiles: Dataset[Raster], store: ObjectStore, layer: String,
                   sequence: Long, concurrency: Int): Long = {
    import tiles.sparkSession.implicits._
    sumPartitions(tiles.groupByKey(r => (r.zoom, r.x, r.y))
      .mapGroups((_, rs) => sumRasters(layer, rs))
      .mapPartitions { rs =>
        val pool = Executors.newFixedThreadPool(concurrency)
        try {
          val futures = rs.map { r =>
            pool.submit(new Callable[Long] {
              override def call(): Long =
                if (Mvt.commitTile(store, r.zoom, r.x, r.y, layer,
                  featuresOf(r), sequence, 4096, Mvt.SumSchema)) 1L
                else 0L
            })
          }.toList // materialize: submit all before awaiting
          futures.map(_.get(120, TimeUnit.SECONDS)).iterator
        } finally pool.shutdown()
      })
  }

  /** The streaming tile commit: each micro-batch point's `keyCol` is
    * `<sequence>:<layer>`. Points are shuffled BY TILE — the one
    * exchange — so exactly one task owns each tile; the task counts
    * cells per (tile, key) with [[Tiles.pixels]]' arithmetic (the same
    * rasters [[Tiles.rasterize]] builds) and gives each tile ONE
    * read-modify-write covering all of its sequences
    * ([[Mvt.commitTileSequences]]). Tile ownership is the concurrency
    * control: the commit has no cross-writer lock, the same reason the
    * reference keys its updater partitions by tile. Guards stay
    * per-(tile, sequence), so replays that batch differently still
    * deduplicate at sequence granularity. Returns the (tile, sequence)
    * commits applied. */
  def commitPoints(points: DataFrame, keyCol: String, lonCol: String,
                   latCol: String, zoom: Int, cells: Int, dir: String): Long =
    commitPoints(points, keyCol, lonCol, latCol, zoom, cells,
      new LocalFsStore(dir): ObjectStore)

  def commitPoints(points: DataFrame, keyCol: String, lonCol: String,
                   latCol: String, zoom: Int, cells: Int,
                   store: ObjectStore): Long = {
    import points.sparkSession.implicits._
    sumPartitions(Tiles.pixels(points, keyCol, lonCol, latCol, zoom, cells)
      .repartition(floor(col("gx") / cells), floor(col("gy") / cells))
      .as[(String, Long, Long)]
      .mapPartitions { rows =>
        // (tile x, tile y) -> key -> cell -> points
        val tiles = mutable.HashMap
          .empty[(Long, Long), mutable.HashMap[String, mutable.LongMap[Int]]]
        rows.foreach { case (key, gx, gy) =>
          val counts = tiles.getOrElseUpdate((gx / cells, gy / cells),
            mutable.HashMap.empty).getOrElseUpdate(key, mutable.LongMap.empty)
          val cell = (gy % cells) * cells + (gx % cells)
          counts.update(cell, counts.getOrElse(cell, 0) + 1)
        }
        tiles.iterator.map { case ((tx, ty), byKey) =>
          commitSequenced(store, zoom, tx, ty, byKey.toSeq.map {
            case (key, counts) => Raster(key, zoom, tx, ty, cells, counts.toMap)
          }).toLong
        }
      })
  }

  /** [[commitPoints]] over already-built rasters keyed
    * `<sequence>:<layer>`: one shuffle by tile, then the same per-tile
    * commit. */
  def writeSequencedRasters(tiles: Dataset[Raster], dir: String): Long =
    writeSequencedRasters(tiles, new LocalFsStore(dir): ObjectStore)

  def writeSequencedRasters(tiles: Dataset[Raster], store: ObjectStore): Long = {
    import tiles.sparkSession.implicits._
    sumPartitions(tiles.groupByKey(r => (r.zoom, r.x, r.y))
      .mapGroups { (tile: (Int, Long, Long), rs: Iterator[Raster]) =>
        commitSequenced(store, tile._1, tile._2, tile._3, rs.toSeq).toLong
      })
  }

  /** One tile's rasters, keyed `<sequence>:<layer>`, in one
    * read-modify-write: ALL of a sequence's layers (in name order) land
    * under one `__sequences__` mark, since per-layer calls would mark
    * the sequence on the first layer and no-op the rest. */
  private def commitSequenced(store: ObjectStore, z: Int, x: Long, y: Long,
                              rs: Seq[Raster]): Int =
    Mvt.commitTileSequences(store, z, x, y,
      rs.map { r =>
        val Array(seq, layer) = r.key.split(":", 2)
        (seq.toLong, layer, r)
      }.groupBy(_._1).toSeq.map { case (seq, group) =>
        seq -> group.sortBy(_._2).map { case (_, layer, r) => layer -> featuresOf(r) }
      })

  private def sumRasters(key: String, rs: Iterator[Raster]): Raster = {
    val all = rs.toSeq
    val m = mutable.LongMap.empty[Int]
    all.foreach(_.values.foreach { case (c, v) => m.update(c, m.getOrElse(c, 0) + v) })
    all.head.copy(key = key, values = m.toMap)
  }

  private def featuresOf(r: Raster): Seq[Mvt.Feature] =
    r.values.toSeq.sortBy(_._1).map { case (cell, v) =>
      val px = (cell % r.cells) * (4096 / r.cells)
      val py = (cell / r.cells) * (4096 / r.cells)
      Mvt.Feature(cell + 1, 1,
        Seq(Mvt.MoveTo(Seq((px.toInt, py.toInt)))),
        Map("density" -> Mvt.MLong(v.toLong)))
    }

  /** Sum of a count per row, folded in each task so the driver collects
    * one value per partition — no global aggregate stage, and an empty
    * input is 0. */
  private def sumPartitions(counts: Dataset[Long]): Long = {
    import counts.sparkSession.implicits._
    counts.mapPartitions(it => Iterator.single(it.sum)).collect().sum
  }
}
