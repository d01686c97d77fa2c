package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The typed tile pipeline: tile → rasterize → downsample → merge →
  * pyramid → vectorize (reference analytics/.../Implicits.scala:57-408 and
  * EditHistogram.scala:21-66; sparse-raster row encoding per
  * vectorgrid/package.scala:70-84).
  *
  * Row model: a sparse raster per (key, zoom, x, y) tile — `values:
  * Map[Long,Int]` keyed by cell id `py*cells+px`, exactly the reference's
  * Encoder-friendly sparse encoding (SparseIntTile, reference
  * analytics/.../raster/SparseIntTile.scala:16-64). Dense 128×128 arrays
  * per key would blow memory at skewed keys; the sparse map keeps
  * per-tile state proportional to occupancy.
  *
  * Layout: equirectangular lon/lat grid by default — pure integer/floor
  * arithmetic end to end, so pyramid totals are engine-independent (the
  * floor-division nesting identity floor(floor(u·2^zb)/2^(zb−z)) =
  * floor(u·2^z) makes every pyramid level independently checkable).
  * Scale shape: one shuffle per pyramid step, keyed by (key,zoom,x,y);
  * partial aggregation happens in mapGroups on the combined partials.
  */
object Tiles {

  /** One sparse raster tile. */
  case class Raster(key: String, zoom: Int, x: Long, y: Long, cells: Int,
                    values: Map[Long, Int])

  /** One vectorized cell feature (cell-center coordinates). `z_index`
    * is the Morton (Z-order) code of the cell within its tile — the
    * reference's per-feature `__id` (ZSpatialKeyIndex at
    * Implicits.scala:333-343), giving features a locality-preserving
    * stable id. */
  case class CellFeature(key: String, zoom: Int, x: Long, y: Long,
                         lon: Double, lat: Double, value: Int,
                         z_index: Long)

  /** Morton (Z-order) interleave of two 16-bit cell coordinates —
    * public bit-twiddling construction. */
  def mortonIndex(cx: Long, cy: Long): Long = {
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      x = (x | (x << 1)) & 0x55555555L
      x
    }
    spread(cx) | (spread(cy) << 1)
  }

  /** `key`, `gx`, `gy`: each point's key and its global pixel
    * coordinates at `zoom` with `cells`-per-side tiles (equirect,
    * clamped to the grid). Tile (`gx / cells`, `gy / cells`), cell
    * (`gy % cells`, `gx % cells`). */
  def pixels(df: DataFrame, keyCol: String, lonCol: String, latCol: String,
             zoom: Int, cells: Int): DataFrame = {
    val n = (1L << zoom) * cells
    val gx = least(greatest(
      floor((col(lonCol) + 180.0) / 360.0 * n), lit(0.0)), lit((n - 1).toDouble))
      .cast(LongType)
    val gy = least(greatest(
      floor((lit(90.0) - col(latCol)) / 180.0 * n), lit(0.0)), lit((n - 1).toDouble))
      .cast(LongType)
    df.select(col(keyCol).as("key"), gx.as("gx"), gy.as("gy"))
  }

  /** Rasterize [[pixels]]: one shuffle by tile key, sparse sum per
    * cell. Input: any DataFrame with key/lon/lat columns. */
  def rasterize(df: DataFrame, keyCol: String, lonCol: String, latCol: String,
                zoom: Int, cells: Int): Dataset[Raster] = {
    val spark = df.sparkSession
    import spark.implicits._
    // Codegen'd hash aggregate first: map-side combine collapses the
    // point stream to distinct occupied cells before the shuffle; the
    // typed mapGroups then only assembles counted cells into rasters.
    pixels(df, keyCol, lonCol, latCol, zoom, cells)
      .groupBy(col("key"), col("gx"), col("gy"))
      .agg(count(lit(1)).cast("int").as("n"))
      .as[(String, Long, Long, Int)]
      .groupByKey { case (k, gxx, gyy, _) => (k, gxx / cells, gyy / cells) }
      .mapGroups { (key, rows) =>
        val (k, tx, ty) = key
        val m = scala.collection.mutable.LongMap.empty[Int]
        rows.foreach { case (_, gxx, gyy, n) =>
          val cell = (gyy % cells) * cells + (gxx % cells)
          m.update(cell, m.getOrElse(cell, 0) + n)
        }
        Raster(k, zoom, tx, ty, cells, m.toMap.map { case (c, v) => (c: Long, v) })
      }
  }

  /** One zoom-out step: re-key every cell to its parent tile/cell (global
    * pixel halves), then sum-merge partial rasters (reference downsample
    * + merge, Implicits.scala:188-220,159-179). */
  def downsampleMerge(tiles: Dataset[Raster]): Dataset[Raster] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles
      .map { r =>
        val cells = r.cells
        val m = scala.collection.mutable.LongMap.empty[Int]
        r.values.foreach { case (cell, v) =>
          val gpx = (r.x * cells + cell % cells) >> 1
          val gpy = (r.y * cells + cell / cells) >> 1
          val pcell = (gpy % cells) * cells + (gpx % cells)
          m.update(pcell, m.getOrElse(pcell, 0) + v)
        }
        Raster(r.key, r.zoom - 1, (r.x * cells >> 1) / cells,
          (r.y * cells >> 1) / cells, cells,
          m.toMap.map { case (c, v) => (c: Long, v) })
      }
      .groupByKey(r => (r.key, r.zoom, r.x, r.y))
      .mapGroups { (key, rs) =>
        val (k, z, x, y) = key
        val m = scala.collection.mutable.LongMap.empty[Int]
        var cells = 0
        rs.foreach { r =>
          cells = r.cells
          r.values.foreach { case (c, v) => m.update(c, m.getOrElse(c, 0) + v) }
        }
        Raster(k, z, x, y, cells, m.toMap.map { case (c, v) => (c: Long, v) })
      }
  }

  /** Full pyramid: base rasterization plus every zoom level down to
    * `minZoom`, unioned (reference pyramid fold, Implicits.scala:145-152;
    * driver-side fold over lazy plans — each level is one more
    * shuffle+mapGroups stage on the previous level's output). */
  def pyramid(df: DataFrame, keyCol: String, lonCol: String, latCol: String,
              baseZoom: Int, minZoom: Int, cells: Int): Dataset[Raster] = {
    val base = rasterize(df, keyCol, lonCol, latCol, baseZoom, cells)
    val levels = Iterator.iterate(base)(downsampleMerge)
      .take(baseZoom - minZoom + 1).toSeq
    levels.reduce(_ union _)
  }

  /** Vectorize: sparse raster → per-cell point features at cell centers
    * (reference Implicits.scala:222-243). */
  def vectorize(tiles: Dataset[Raster]): Dataset[CellFeature] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { r =>
      val n = (1L << r.zoom) * r.cells
      r.values.toSeq.sortBy(_._1).map { case (cell, v) =>
        val cx = cell % r.cells
        val cy = cell / r.cells
        val gpx = r.x * r.cells + cx
        val gpy = r.y * r.cells + cy
        val lon = (gpx + 0.5) / n * 360.0 - 180.0
        val lat = 90.0 - (gpy + 0.5) / n * 180.0
        CellFeature(r.key, r.zoom, r.x, r.y, lon, lat, v, mortonIndex(cx, cy))
      }
    }
  }

  /** Tile summary DataFrame: (zoom, x, y, total, n_cells) — the
    * oracle-checkable projection of the pyramid (mass conservation:
    * sum(total) is invariant across zoom levels). */
  def pyramidSummary(tiles: Dataset[Raster]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles
      .map(r => (r.zoom, r.x, r.y, r.values.values.foldLeft(0L)(_ + _), r.values.size.toLong))
      .toDF("zoom", "x", "y", "total", "n_cells")
      .groupBy(col("zoom"), col("x"), col("y"))
      .agg(sum(col("total")).as("total"), sum(col("n_cells")).as("n_cells"))
  }
}
