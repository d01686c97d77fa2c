package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.apps.{AugDiffStatsPipeline, EditTileUpdaterPipeline, FacetedEditTilePipeline}
import graft.functions.{synthLat, synthLon}
import graft.geo.CountryIndex
import graft.operators.{Stats, Tiles}
import graft.sinks.{JdbcUpsertStore, Mvt, TileSink, UpsertSink}
import graft.streaming.WireFormats

/** A fixed mix of registry queries, shuffled by the seed on every pass,
  * each timed from `SparkEntry.queries(name)` to a full-result noop
  * write. The gate writes the very DataFrames of the last timed pass,
  * built with `plans.ResultCache` warm, to parquet for the DuckDB
  * oracle. */
final class QueryMix(val ctx: Ctx) extends Workload {
  import QueryMix._

  /** name -> DataFrame of the newest timed pass, for the gate. */
  private var lastTimed = Map.empty[String, DataFrame]

  override def prepare(): Unit = graft.plans.ResultCache.installHooks()

  def pass(kind: String, index: Int): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val built = mutable.Map.empty[String, DataFrame]
    val order = new scala.util.Random(ctx.seed * 7919L + index).shuffle(All)
    order.foreach { case (name, part) =>
      ctx.op(name, part, out) {
        val df = ctx.layer("SparkEntry", "build") {
          SparkEntry.queries(name)(ctx.spark, ctx.data)
        }
        ctx.layer("plans", "planning")(df.queryExecution.executedPlan)
        ctx.layer("operators", "action")(ctx.noop(df))
        built(name) = df
      }
    }
    if (kind == "timed") lastTimed = built.toMap
    out.toSeq
  }

  /** An op that threw in the last timed pass has no DataFrame here; it
    * is already counted as a failure. */
  def gate(): Map[String, Any] = {
    val results = s"${ctx.work}/results"
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    All.foreach { case (name, part) =>
      lastTimed.get(name).foreach { df =>
        ctx.op(name, part, recs)(df.write.mode("overwrite").parquet(s"$results/$name"))
      }
    }
    lastTimed = Map.empty
    Map("results_dir" -> results,
      "expected" -> All.map(_._1),
      "ok" -> recs.filter(_("ok") == true).map(_("name")),
      "oracle_sql" -> All.map(_._1)
        .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }

  /** Probes, each to a noop sink: the `events` scan alone, the
    * broadcast geocoder alone, and the changeset-stats app chain
    * (`ChangesetStatsApp`) with its compute and its parquet write timed
    * apart. */
  override def probes(): Unit = {
    val sink = mutable.ArrayBuffer.empty[Map[String, Any]]
    ctx.op("probe_tables_scan", "probe", sink) {
      ctx.layer("Tables", "scan")(ctx.noop(Tables.events(ctx.spark, ctx.data)))
    }
    ctx.op("probe_geocode", "probe", sink) {
      ctx.layer("geo", "geocodeFirst") {
        val g = CountryIndex.geocodeFirst(ctx.spark, CountryIndex.synthetic())
        ctx.noop(Tables.events(ctx.spark, ctx.data).select(
          g(synthLon(col("event_id")), synthLat(col("event_id"))).as("c")))
      }
    }
    ctx.op("probe_parquet_write", "probe", sink) {
      val df = ctx.layer("operators", "build") {
        Stats.exploded(Stats.changesetStats(ctx.spark,
          Tables.events(ctx.spark, ctx.data)))
      }
      df.persist()
      try {
        ctx.layer("operators", "action")(ctx.noop(df))
        ctx.layer("sinks", "parquet_write") {
          df.write.mode("overwrite").parquet(s"${ctx.work}/probe_stats")
        }
      } finally df.unpersist(blocking = true)
    }
  }
}

object QueryMix {
  /** osmesa-core queries: changeset stats, tile addressing, geocode,
    * hashtags. */
  val Core: Seq[String] = Seq("q_stats_e2e", "q_tile_zxy", "q_j7_geocode",
    "q_f_hashtags")
  /** Eager-build family: most of its wall time is DataFrame build. */
  val EagerBuild: Seq[String] = Seq("q_graph_ktruss")
  val Shapes: Seq[String] = Seq("q_s1_scan", "q1_agg", "q_p3_isin", "q_olap_cube")
  val All: Seq[(String, String)] =
    Core.map(_ -> "a") ++ EagerBuild.map(_ -> "b") ++ Shapes.map(_ -> "c")
}

/** Drains a seeded augmented-diff backlog through the three production
  * topologies: stats into a Derby in-memory JDBC upsert store, edit
  * tiles, and faceted edit tiles. */
final class StreamReplay(val ctx: Ctx) extends Workload {
  private val nSeq: Int = ctx.opts("sequences").toInt
  private val nCs: Int = ctx.opts("changesets").toInt
  private val end = nSeq - 1L
  /** The warm-up drains only the first micro-batch's sequences. */
  private val warmEnd = math.min(4L, end)
  private var last: (String, JdbcUpsertStore) = ("", null)
  private var warm: (String, JdbcUpsertStore) = ("", null)
  private val traced = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def newStore(tag: String): JdbcUpsertStore =
    new JdbcUpsertStore(s"jdbc:derby:memory:graftbench_${tag}_${System.nanoTime()};create=true")

  private def topology[T](name: String)(f: => T): T = {
    ctx.batches.topology = name
    ctx.batches.topologySpan = ctx.tracer.filter(_ => ctx.tracing)
      .map(_.currentId).getOrElse(0L)
    try f finally ctx.batches.awaitTerminated()
  }

  private def drain(dir: String, store: JdbcUpsertStore, proc: String,
                    ckpt: String, upTo: Long,
                    out: mutable.Buffer[Map[String, Any]]): Unit = {
    ctx.op("stats_topology", "a", out) {
      ctx.layer("operators", "action")(topology(s"stats|$dir|$ckpt") {
        AugDiffStatsPipeline.run(ctx.spark, ctx.data, upTo, store, proc,
          s"$dir/$ckpt/stats", s"$dir/dead", maxConnections = 4)
      })
    }
    ctx.op("edit_tiles", "b", out) {
      ctx.layer("operators", "action")(topology(s"edit|$dir|$ckpt") {
        EditTileUpdaterPipeline.run(ctx.spark, ctx.data, upTo,
          s"$dir/edit_tiles", s"$dir/$ckpt/edit")
      })
    }
    ctx.op("faceted_tiles", "c", out) {
      ctx.layer("operators", "action")(topology(s"facet|$dir|$ckpt") {
        FacetedEditTilePipeline.run(ctx.spark, ctx.data, upTo,
          s"$dir/facet_tiles", s"$dir/$ckpt/facet")
      })
    }
  }

  def pass(kind: String, index: Int): Seq[Map[String, Any]] = {
    val dir = s"${ctx.work}/pass$index"
    val store = newStore(s"p$index")
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    drain(dir, store, "graftbench-stats", "ckpt",
      if (kind == "warmup") warmEnd else end, out)
    if (kind == "warmup") warm = (dir, store)
    if (kind == "timed") {
      if (last._1.nonEmpty) ctx.rm(new File(last._1))
      last = (dir, store)
    }
    out.toSeq
  }

  /** Micro-batch latencies of the newest pass's drains, by batch id
    * per topology. */
  override def samplesMs(records: Seq[Map[String, Any]]): Map[String, Map[String, Double]] =
    ctx.batches.batches.asScala.toSeq
      .filter(b => b.topology.endsWith(s"|${last._1}|ckpt"))
      .groupMap(_.topology.takeWhile(_ != '|'))(b =>
        b.batchId.toString -> b.durations.getOrElse("triggerExecution", 0L).toDouble)
      .map { case (t, bs) => t -> bs.toMap }

  /** Every stored changeset, read with `get` on 4 threads (one store
    * connection per call). */
  private def dumpStore(store: JdbcUpsertStore): Seq[Map[String, Any]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rows =
      try {
        (0L until nCs).map(cs => pool.submit(
          new java.util.concurrent.Callable[Option[UpsertSink.StoredStats]] {
            def call(): Option[UpsertSink.StoredStats] = store.get(cs)
          })).flatMap(_.get())
      } finally pool.shutdown()
    rows.map { s =>
      Map("changeset" -> s.changeset, "uid" -> s.uid, "total" -> s.totalEdits,
        "nodes" -> s.counts.getOrElse("nodes", 0L),
        "ways" -> s.counts.getOrElse("ways", 0L),
        "deletes" -> s.counts.getOrElse("deletes", 0L),
        "sequences" -> s.sequences.toSeq.sorted)
    }
  }

  /** Tiles as path -> content hash. */
  private def tileBytes(dir: String): Map[String, Int] =
    Seq("edit_tiles", "facet_tiles").flatMap { sub =>
      val root = Paths.get(dir, sub)
      if (!Files.exists(root)) Nil
      else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => s"$sub/${root.relativize(p)}" ->
          java.util.Arrays.hashCode(Files.readAllBytes(p))).toSeq
    }.toMap

  def gate(): Map[String, Any] = {
    val (dir, store) = last
    val storeRows = dumpStore(store)
    val dead = ctx.spark.read.parquet(s"$dir/dead").count()
    val edit = StreamReplay.readTiles(s"$dir/edit_tiles")
    val facet = StreamReplay.readTiles(s"$dir/facet_tiles")
    // replay the warm-up's sequences from fresh checkpoints into its own
    // store and tile dirs: the sequence guards must make it a no-op
    val (wDir, wStore) = warm
    val (rowsBefore, tilesBefore) = (dumpStore(wStore), tileBytes(wDir))
    drain(wDir, wStore, "graftbench-stats-replay", "ckpt_replay", warmEnd,
      mutable.ArrayBuffer.empty[Map[String, Any]])
    if (dumpStore(wStore) != rowsBefore)
      ctx.fail("replay_store", "a fresh-checkpoint replay changed the store")
    if (tileBytes(wDir) != tilesBefore)
      ctx.fail("replay_tiles", "a fresh-checkpoint replay changed the tiles")
    Map("store" -> storeRows, "dead" -> dead, "edit_tiles" -> edit,
      "facet_tiles" -> facet, "checkpoint" -> store.checkpoint("graftbench-stats"))
  }

  /** Split a micro-batch by layer: parse every payload, then replay the
    * same 5-sequence ranges through the public pieces in batch mode. */
  override def probes(): Unit = {
    val sink = mutable.ArrayBuffer.empty[Map[String, Any]]
    val payloads = (0L to end).map(seq =>
      seq -> Files.readString(Paths.get(ctx.data, s"$seq.json")))
    traced("parse_bytes") = payloads.map(_._2.getBytes("UTF-8").length).sum.toDouble
    ctx.op("probe_parse", "probe", sink) {
      payloads.foreach { case (seq, text) =>
        ctx.layer("streaming", "parse")(WireFormats.parseAugmentedDiff(seq, text))
      }
    }
    val spark = ctx.spark
    def range(lo: Long): DataFrame = ctx.layer("streaming", "read") {
      spark.read.format("graft.streaming.SequenceSource")
        .option("format", "augdiff").option("payloadDir", ctx.data)
        .option("startSequence", lo).option("endSequence", math.min(lo + 4, end))
        .load()
    }
    val replayStore = newStore("replay")
    ctx.op("replay_stats", "probe", sink) {
      (0L to end by 5).foreach { lo =>
        val (stats, _) = ctx.layer("operators", "build")(AugDiffStatsPipeline.rollup(range(lo)))
        stats.persist()
        try {
          ctx.layer("operators", "action") {
            ctx.noop(stats.toDF())
            traced("upsert_rows") += stats.count()
          }
          ctx.layer("sinks", "upsert")(UpsertSink.writeStats(stats, replayStore, 4))
        } finally stats.unpersist(blocking = true)
      }
    }
    if (dumpStore(replayStore) != dumpStore(last._2))
      ctx.fail("replay_pieces_store",
        "the public-piece replay disagrees with the stats topology")
    val tileDir = s"${ctx.work}/replay_tiles"
    ctx.op("replay_tiles", "probe", sink) {
      (0L to end by 5).foreach { lo =>
        val pts = range(lo)
          .filter(col("error").isNull && col("lon").isNotNull && col("lat").isNotNull)
          .withColumn("key", concat(col("sequence").cast("string"), lit(":edits")))
        val rasters: Dataset[Tiles.Raster] = ctx.layer("operators", "build") {
          Tiles.rasterize(pts, "key", "lon", "lat", 3, 8)
        }
        rasters.persist()
        try {
          ctx.layer("operators", "action")(ctx.noop(rasters.toDF()))
          traced("tiles_written") += ctx.layer("sinks", "tile_write") {
            TileSink.writeSequencedRasters(rasters, tileDir)
          }
        } finally rasters.unpersist(blocking = true)
      }
    }
    traced("tile_mb") = StreamReplay.bytesUnder(new File(tileDir)) / 1e6
  }

  override def layerMetrics(): Map[String, Double] = {
    val parseS = ctx.tracer.get.spans.synchronized(ctx.tracer.get.spans.toList)
      .filter(s => s.layer == "streaming" && s.name == "parse").map(_.durNs).sum / 1e9
    val bs = ctx.batches.batches.asScala.toSeq
      .filter(_.topology.endsWith(s"|${ctx.work}/pass1001|ckpt"))
    def med(k: String): Double = {
      val v = bs.map(_.durations.getOrElse(k, 0L).toDouble).sorted
      if (v.isEmpty) 0.0 else v(v.size / 2)
    }
    val dead = ctx.spark.read.parquet(s"${ctx.work}/pass1001/dead").count()
    Map(
      "streaming.parse_s" -> parseS,
      "streaming.parse_mb_per_s" ->
        (if (parseS > 0) traced("parse_bytes") / 1e6 / parseS else 0.0),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "streaming.dead_letters" -> dead.toDouble,
      "sinks.tiles_written" -> traced("tiles_written"),
      "sinks.tile_mb" -> traced("tile_mb"),
      "sinks.upsert_rows" -> traced("upsert_rows"))
  }
}

object StreamReplay {
  /** `z/x/y.mvt` files under `dir` as "z/x/y|layer" -> summed `density`
    * of every layer but the sequence bookkeeping one. */
  def readTiles(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".mvt")).toSeq
    files.flatMap { p =>
      val rel = root.relativize(p).toString.stripSuffix(".mvt")
      val Array(z, x, y) = rel.split("/")
      Mvt.readTile(dir, z.toInt, x.toLong, y.toLong).toSeq.flatten
        .filter(_.name != Mvt.SequencesLayerName)
        .map { l =>
          s"$rel|${l.name}" -> l.features.flatMap(_.tags.get("density")).collect {
            case Mvt.MLong(v) => v
          }.sum
        }
    }.toMap
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length()
}
