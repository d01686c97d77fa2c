package graft.apps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Thin CLI mains over the library — the engine's analog of the
  * reference's batch/streaming command apps (reference
  * apps/src/main/scala/osmesa/apps/batch and streaming; SURVEY.md §3).
  * Arg parsing is plain (no CLI-framework dependency available offline).
  *
  * Every streaming pipeline takes a `trigger` knob defaulting to
  * AvailableNow (drain-and-stop — the reference's one-shot updaters);
  * pass `Trigger.ProcessingTime(...)` for the reference's `Streaming*`
  * continuous variants — the topology, state and exactly-once
  * discipline are identical either way.
  */
object Apps {
  /** The one session recipe: every app, harness main, benchmark and
    * spec takes its session here. `local[cpus]` with one shuffle
    * partition per core, where `cpus` is `SPARK_GRAFT_CPUS` or else
    * the cores the JVM sees; UTC session time zone, no UI, WARN logs. */
  def session(name: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Batch changeset stats: events parquet dir -> stats parquet
  * (reference ChangesetStatsCreator). Usage: <sfDir> <outDir> */
object ChangesetStatsApp {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Apps.session("changeset-stats")
    graft.operators.Stats.exploded(
        graft.operators.Stats.changesetStats(
          spark, graft.Tables.events(spark, sfDir)))
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}

/** Streaming changeset stats from the sequence source into the
  * idempotent store (reference StreamingChangesetStatsUpdater).
  * Usage: <startSeq> <endSeq> <checkpointDir> */
object StreamingStatsApp {
  def main(args: Array[String]): Unit = {
    val Array(startSeq, endSeq, ckpt) = args.take(3)
    val spark = Apps.session("streaming-stats")
    val stream = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("startSequence", startSeq).option("endSequence", endSeq)
      .load()
    val q = graft.streaming.StreamingStats.changesetStats(stream)
      .writeStream.format("console").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.stop()
  }
}

/** The full production topology in one callable unit (reference
  * StreamingChangesetStatsUpdater end to end): augmented-diff payload
  * files → executor-side JSON parse ([[graft.streaming.WireFormats]])
  * → dead-letter split ([[graft.streaming.ErrorChannel]]) →
  * per-changeset rollup → idempotent upsert store
  * ([[graft.sinks.UpsertSink]], e.g. the Derby/PostgreSQL
  * [[graft.sinks.JdbcUpsertStore]]), with progress mirrored to the
  * store's checkpoint table and the start sequence seeded FROM that
  * table ([[graft.streaming.CheckpointMirror]]).
  *
  * Exactly-once comes from two independent layers, both exercised by
  * the spec: Spark's offset log (same checkpoint dir → no batch
  * replays) and the store's sequence-overlap guard (fresh checkpoint
  * dir + store-seeded restart → replayed sequences are no-ops). */
object AugDiffStatsPipeline {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** One micro-batch's transform: split off malformed rows, roll up
    * clean rows per (sequence, changeset, uid) into StatsRows. */
  def rollup(batch: DataFrame): (org.apache.spark.sql.Dataset[graft.sinks.UpsertSink.StatsRow], DataFrame) = {
    val spark = batch.sparkSession
    import spark.implicits._
    val (clean, dead) = graft.streaming.ErrorChannel.split(batch, Seq(
      "parse_error" -> col("error").isNull,
      "bad_type" -> col("element_type").isin("node", "way", "relation"),
      "bad_changeset" -> (col("changeset") >= 0)))
    val stats = clean
      .groupBy(col("sequence"), col("changeset"), col("uid"))
      .agg(
        count(lit(1)).as("total_edits"),
        sum(when(col("element_type") === "node", 1L).otherwise(0L)).as("nodes"),
        sum(when(col("element_type") === "way", 1L).otherwise(0L)).as("ways"),
        sum(when(!col("visible"), 1L).otherwise(0L)).as("deletes"))
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .map { case (seq, cs, uid, total, nodes, ways, deletes) =>
        graft.sinks.UpsertSink.StatsRow(cs, uid,
          Map("nodes" -> nodes, "ways" -> ways, "deletes" -> deletes)
            .filter(_._2 > 0),
          Map.empty, total, Set(seq))
      }
    (stats, dead)
  }

  /** Run the stream to completion (AvailableNow). Returns the number of
    * dead-lettered rows written under `deadDir`. */
  def run(spark: SparkSession, payloadDir: String, endSequence: Long,
          store: graft.sinks.UpsertSink.UpsertStore, procName: String,
          checkpointDir: String, deadDir: String,
          maxConnections: Int = 4,
          trigger: Trigger = Trigger.AvailableNow()): Unit = {
    val mirror = new graft.streaming.CheckpointMirror(store, procName)
    spark.streams.addListener(mirror)
    try {
      val start = graft.streaming.CheckpointMirror
        .startSequenceFrom(store, procName)
      val stream = spark.readStream
        .format("graft.streaming.SequenceSource")
        .option("format", "augdiff").option("payloadDir", payloadDir)
        .option("startSequence", start).option("endSequence", endSequence)
        .load()
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // two sinks, one source read: without the persist each
          // action below would fetch and parse every sequence again
          batch.persist()
          try {
            val (stats, dead) = rollup(batch)
            dead.write.mode("append").parquet(deadDir)
            graft.sinks.UpsertSink.writeStats(stats, store, maxConnections)
          } finally batch.unpersist()
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .start()
      q.awaitTermination(180000)
      ()
    } finally spark.streams.removeListener(mirror)
  }
}

/** Streaming changeset-METADATA updater (reference
  * ChangesetMetadataUpdater + ChangesetMetadataForeachWriter):
  * changesets wire payloads → metadata rows (editor = created_by tag,
  * hashtags from the comment tag) → the dictionary/join-table upsert
  * store (users, hashtags insert-returning, changesets_hashtags), with
  * progress mirrored to the store's checkpoint table. Replay safety:
  * every statement in the store's metadata batch is
  * insert-if-absent/last-write-wins, so re-delivered sequences
  * converge. */
object ChangesetMetadataPipeline {
  import org.apache.spark.sql.{DataFrame, Dataset}
  import org.apache.spark.sql.functions._

  import graft.sinks.MetadataUpsert

  /** One micro-batch's transform: wire rows → sink rows. */
  def toRows(batch: DataFrame): Dataset[MetadataUpsert.MetadataRow] = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.filter(col("error").isNull)
      .select(col("id"),
        col("tags").getItem("created_by").as("editor"),
        col("uid"),
        col("user"),
        unix_micros(col("created_at")).as("createdAtUs"),
        unix_micros(col("closed_at")).as("closedAtUs"),
        graft.functions.hashtags(
          coalesce(col("tags").getItem("comment"), lit("")))
          .as("hashtags"))
      .as[MetadataUpsert.MetadataRow]
  }

  def run(spark: SparkSession, payloadDir: String, endSequence: Long,
          store: graft.sinks.MetadataUpsert.MetadataStore with graft.sinks.UpsertSink.UpsertStore,
          procName: String, checkpointDir: String,
          updateUsernames: Boolean = false,
          maxConnections: Int = 4,
          trigger: Trigger = Trigger.AvailableNow()): Unit = {
    import org.apache.spark.sql.DataFrame
    val mirror = new graft.streaming.CheckpointMirror(store, procName)
    spark.streams.addListener(mirror)
    try {
      val start = graft.streaming.CheckpointMirror
        .startSequenceFrom(store, procName)
      val stream = spark.readStream
        .format("graft.streaming.SequenceSource")
        .option("format", "changesets").option("payloadDir", payloadDir)
        .option("startSequence", start).option("endSequence", endSequence)
        .load()
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          MetadataUpsert.writeMetadata(toRows(batch), store,
            maxConnections, updateUsernames = updateUsernames)
          ()
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .start()
      q.awaitTermination(180000)
      ()
    } finally spark.streams.removeListener(mirror)
  }
}

/** Streaming hashtag-footprint updater (reference
  * HashtagFootprintUpdater): augmented-diff geometries stream-stream
  * joined to changeset metadata. The reference watermarks BOTH streams
  * at 25 hours (HashtagFootprintUpdater.scala:176,185); here the diff
  * side is watermarked at 0 s — a deliberate deviation: diff events
  * carry the sequence-derived timestamp, which never arrives late, so
  * the tighter bound drops join state sooner without losing rows.
  * Hashtags are merged from the changeset comment AND the `hashtags`
  * tag (reference merges both via merge_sets), every point attributed
  * to each of its hashtags, and per-hashtag density rasters committed
  * to the tile store under (sequence, hashtag) — the hashtag IS the MVT
  * layer name, so one tile file carries every campaign's footprint and
  * each (tile, sequence) commit stays idempotent under replay. */
object HashtagFootprintPipeline {
  import org.apache.spark.sql.functions._

  import graft.functions.sequenceToTimestamp

  def run(spark: SparkSession, diffDir: String, csDir: String,
          endSequence: Long, tileDir: String, checkpointDir: String,
          zoom: Int = 3, cells: Int = 8,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val changes = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "augdiff").option("payloadDir", diffDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
      .filter(col("error").isNull && col("lon").isNotNull &&
        col("lat").isNotNull)
      .select(col("sequence"), col("changeset"), col("lon"), col("lat"))
      .withColumn("event_ts", sequenceToTimestamp(col("sequence")))
      .withWatermark("event_ts", "0 seconds")
    val meta = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "changesets").option("payloadDir", csDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
      .filter(col("error").isNull)
      .select(col("id").as("changeset"), col("created_at"),
        graft.functions.mergeSets(
          graft.functions.hashtags(coalesce(
            col("tags").getItem("comment"), lit(""))),
          graft.functions.hashtags(coalesce(
            col("tags").getItem("hashtags"), lit("")))).as("hashtags"))
      .withWatermark("created_at", "25 hours")
    val joined = changes.join(meta, Seq("changeset"), "inner")
      .filter(col("created_at") <= col("event_ts") &&
        col("event_ts") <= col("created_at") + expr("INTERVAL 25 HOURS"))
      .select(col("sequence"), col("lon"), col("lat"),
        explode(col("hashtags")).as("hashtag"))
    val q = graft.streaming.TileUpdater.startKeyed(joined,
      concat(col("sequence").cast("string"), lit(":"), col("hashtag")),
      tileDir, zoom, cells, checkpointDir, trigger)
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }
}

/** Streaming per-USER footprint updater (reference
  * apps/streaming/UserFootprintUpdater.scala:106-113 and its
  * StreamingUserFootprintTileUpdater sibling): changed nodes keyed
  * DIRECTLY by uid — unlike the hashtag pipeline there is no
  * changeset-metadata join, the uid rides on the diff row — rasterized
  * into per-user density tiles committed under (sequence, user layer).
  * The uid is the MVT layer name, so one tile file carries every
  * user's footprint and each (tile, sequence) commit stays idempotent
  * under replay (same exactly-once discipline as
  * [[HashtagFootprintPipeline]]). */
object UserFootprintPipeline {
  import org.apache.spark.sql.functions._

  def run(spark: SparkSession, diffDir: String, endSequence: Long,
          tileDir: String, checkpointDir: String,
          zoom: Int = 3, cells: Int = 8,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val changes = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "augdiff").option("payloadDir", diffDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
      .filter(col("error").isNull && col("lon").isNotNull &&
        col("lat").isNotNull && col("uid").isNotNull)
      .select(col("sequence"), col("uid"), col("lon"), col("lat"))
    val q = graft.streaming.TileUpdater.startKeyed(changes,
      concat(col("sequence").cast("string"), lit(":user_"),
        col("uid").cast("string")),
      tileDir, zoom, cells, checkpointDir, trigger)
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }

  /** Usage: <diffDir> <endSeq> <tileDir> <checkpointDir> */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("user-footprint-updater")
    try run(spark, args(0), args(1).toLong, args(2), args(3))
    finally spark.stop()
  }
}

/** Streaming edit-density tile updater (reference
  * EditHistogramTileUpdater / StreamingEditHistogramTileUpdater): the
  * unkeyed sibling of [[UserFootprintPipeline]] — every changed node
  * lands in one "edits" layer per sequence, the whole-map edit
  * heatmap. */
object EditTileUpdaterPipeline {
  import org.apache.spark.sql.functions._

  def run(spark: SparkSession, diffDir: String, endSequence: Long,
          tileDir: String, checkpointDir: String,
          zoom: Int = 3, cells: Int = 8,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val changes = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "augdiff").option("payloadDir", diffDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
      .filter(col("error").isNull && col("lon").isNotNull &&
        col("lat").isNotNull)
      .select(col("sequence"), col("lon"), col("lat"))
    val q = graft.streaming.TileUpdater.startKeyed(changes,
      concat(col("sequence").cast("string"), lit(":edits")),
      tileDir, zoom, cells, checkpointDir, trigger)
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }

  /** Usage: <diffDir> <endSeq> <tileDir> <checkpointDir> */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("edit-tile-updater")
    try run(spark, args(0), args(1).toLong, args(2), args(3))
    finally spark.stop()
  }
}

/** Streaming FACETED edit-histogram tile updater (reference
  * apps/streaming/StreamingFacetedEditHistogramTileUpdater.scala and
  * its one-shot FacetedEditHistogramTileUpdater sibling): each changed
  * node is classified into the reference's facet set — building /
  * road / waterway / poi / coastline from its effective tags
  * (`visible ? tags : prevTags`, the reference's
  * `when('visible, 'tags).otherwise('prevTags)` at
  * StreamingFacetedEditHistogramTileUpdater.scala:129), plus the
  * lifecycle facets created (version 1), modified (visible, version
  * > 1) and deleted (!visible) — and rasterized into one density
  * layer PER facet per sequence ("facet_<name>"), committed under the
  * same (tile, sequence) idempotence guard as every updater here.
  *
  * Deviation, documented: the reference propagates WAY tags onto
  * member nodes through a (sequence, ref) stream self-join before
  * faceting; the augdiff wire rows here are already point-level and
  * carry no `nds`, so facets come from the element's own tag
  * generations. The way-tag-propagated form is the batch
  * [[graft.operators.FacetedTiles]] path. */
object FacetedEditTilePipeline {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Facet-name array for one row's effective tags — null entries
    * compacted out so only held facets explode into points. */
  private[apps] def facetArray(tags: Column, version: Column,
                               visible: Column): Column = {
    def f(cond: Column, name: String) = when(cond, lit(name))
    filter(array(
      f(graft.functions.isBuilding(tags), "building"),
      f(graft.functions.isRoad(tags), "road"),
      f(graft.functions.isWaterway(tags), "waterway"),
      f(graft.functions.isPOI(tags), "poi"),
      f(graft.functions.isCoastline(tags), "coastline"),
      f(visible && version === 1, "created"),
      f(visible && version > 1, "modified"),
      f(!visible, "deleted")), c => c.isNotNull)
  }

  def run(spark: SparkSession, diffDir: String, endSequence: Long,
          tileDir: String, checkpointDir: String,
          zoom: Int = 3, cells: Int = 8,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val changes = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "augdiff").option("payloadDir", diffDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
      .filter(col("error").isNull && col("lon").isNotNull &&
        col("lat").isNotNull)
      .select(col("sequence"), col("lon"), col("lat"),
        explode(facetArray(
          when(col("visible"), col("tags")).otherwise(col("prev_tags")),
          col("version"), col("visible"))).as("facet"))
    val q = graft.streaming.TileUpdater.startKeyed(changes,
      concat(col("sequence").cast("string"), lit(":facet_"),
        col("facet")),
      tileDir, zoom, cells, checkpointDir, trigger)
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }

  /** Usage: <diffDir> <endSeq> <tileDir> <checkpointDir> */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("faceted-edit-tile-updater")
    try run(spark, args(0), args(1).toLong, args(2), args(3))
    finally spark.stop()
  }
}

/** The continuous (`Streaming*`) variants of the three tile updaters —
  * the reference ships each updater twice, a one-shot drain
  * (`EditHistogramTileUpdater`) and a run-forever micro-batch loop
  * (`StreamingEditHistogramTileUpdater`); here the topology is ONE
  * pipeline and the main picks the trigger: these mains run
  * `Trigger.ProcessingTime(intervalMs)` until killed, polling the
  * payload directory for sequences beyond what the offset log has
  * committed. Everything else — state, rasterization, the
  * (tile, sequence) idempotence guard — is byte-identical to the
  * one-shot mains, which is the point: drain-mode specs prove the
  * continuous path too. */
object StreamingEditTileUpdaterApp {
  /** Usage: <diffDir> <tileDir> <checkpointDir> [intervalMs] */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("streaming-edit-tile-updater")
    val interval = if (args.length > 3) args(3).toLong else 15000L
    try EditTileUpdaterPipeline.run(spark, args(0),
      endSequence = Long.MaxValue, args(1), args(2),
      trigger = Trigger.ProcessingTime(interval), awaitMs = -1L)
    finally spark.stop()
  }
}

/** See [[StreamingEditTileUpdaterApp]]. Reference
  * StreamingFacetedEditHistogramTileUpdater.scala. */
object StreamingFacetedEditTileUpdaterApp {
  /** Usage: <diffDir> <tileDir> <checkpointDir> [intervalMs] */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("streaming-faceted-edit-tile-updater")
    val interval = if (args.length > 3) args(3).toLong else 15000L
    try FacetedEditTilePipeline.run(spark, args(0),
      endSequence = Long.MaxValue, args(1), args(2),
      trigger = Trigger.ProcessingTime(interval), awaitMs = -1L)
    finally spark.stop()
  }
}

/** See [[StreamingEditTileUpdaterApp]]. Reference
  * StreamingUserFootprintTileUpdater.scala. */
object StreamingUserFootprintTileUpdaterApp {
  /** Usage: <diffDir> <tileDir> <checkpointDir> [intervalMs] */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("streaming-user-footprint-tile-updater")
    val interval = if (args.length > 3) args(3).toLong else 15000L
    try UserFootprintPipeline.run(spark, args(0),
      endSequence = Long.MaxValue, args(1), args(2),
      trigger = Trigger.ProcessingTime(interval), awaitMs = -1L)
    finally spark.stop()
  }
}

/** Batch-mode changeset-metadata updater main (reference
  * apps/streaming/ChangesetMetadataUpdater.scala — the drain-and-stop
  * variant of the metadata dictionary upsert): changesets wire
  * payloads through [[ChangesetMetadataPipeline]] into a JDBC
  * dictionary store, start sequence seeded from the store's
  * checkpoint table. Pass a Derby or PostgreSQL JDBC URL; the store
  * speaks both dialects. */
object ChangesetMetadataUpdaterApp {
  /** Usage: <payloadDir> <endSeq> <jdbcUrl> <checkpointDir>
    *        [updateUsernames] */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("changeset-metadata-updater")
    val store = new graft.sinks.JdbcUpsertStore(args(2))
    try ChangesetMetadataPipeline.run(spark, args(0), args(1).toLong,
      store, "changeset-metadata-updater", args(3),
      updateUsernames = args.length > 4 && args(4).toBoolean)
    finally spark.stop()
  }
}

/** Batch per-user footprint creator (reference batch/FootprintCreator):
  * events → optional allow/blocklist → per-user faceted tile pyramid →
  * faceted summary parquet (the MVT commit path is exercised by the
  * streaming updaters; batch output is the relational footprint table).
  * Usage: <sfDir> <outDir> [baseZoom] [blockedUsersCsv] */
object FootprintCreatorApp {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val sfDir = args(0); val outDir = args(1)
    val baseZoom = if (args.length > 2) args(2).toInt else 4
    val blocklist =
      if (args.length > 3) args(3).split(",").toSeq else Seq.empty
    val spark = Apps.session("footprint-creator")
    val pts = graft.Tables.events(spark, sfDir)
      .withColumn("lon", graft.functions.synthLon(col("event_id")))
      .withColumn("lat", graft.functions.synthLat(col("event_id")))
      .withColumn("user_key", concat(lit("user_"), col("user_id")))
    graft.operators.FacetedTiles.facetSummaryKeyed(
        graft.operators.Footprints.create(pts, "user_key", "lon", "lat",
          "event_type", blocklist = blocklist,
          baseZoom = baseZoom, minZoom = baseZoom))
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}

/** Batch changeset-metadata creator (reference
  * batch/ChangesetMetadataCreator): OSM-DB-style CSV dumps
  * (changesets, changeset_tags, changeset_comments, users) assembled
  * into one authoritative metadata table — tag k/v rows re-zipped to a
  * map, comments collected date-ascending with author names joined in,
  * 1e-7 fixed-point bbox coords divided out — written as parquet. The
  * reference `repartition(1)`s the output; kept here only behind an
  * explicit knob because a single output partition funnels the whole
  * table through one task at scale.
  * The reference emits ORC; `format` accepts "orc" or "parquet" (both
  * are columnar + predicate-pushdown-capable Spark built-ins — parquet
  * is the engine default, ORC is the drop-in for reference parity).
  * Usage: <changesetsCsv> <tagsCsv> <commentsCsv> <usersCsv> <outDir>
  *        [singleFile] [format] */
object ChangesetMetadataCreatorApp {
  def run(spark: SparkSession, changesetsCsv: String, tagsCsv: String,
          commentsCsv: String, usersCsv: String, outDir: String,
          singleFile: Boolean = false, format: String = "parquet"): Unit = {
    // header + multiline + quote/escape match the reference's CSV
    // options (ChangesetMetadataCreator.scala:110-116); schemas are
    // declared, not inferred — inference is a second full read
    def csv(path: String, ddl: String) =
      spark.read.options(Map("header" -> "true", "multiline" -> "true",
          "quote" -> "\"", "escape" -> "\""))
        .schema(ddl).csv(path)
    val changesets = csv(changesetsCsv,
      "id LONG, user_id LONG, created_at TIMESTAMP, closed_at TIMESTAMP," +
        " num_changes INT, min_lat LONG, max_lat LONG, min_lon LONG," +
        " max_lon LONG")
    val tags = csv(tagsCsv, "changeset_id LONG, k STRING, v STRING")
    val comments = csv(commentsCsv,
      "changeset_id LONG, author_id LONG, body STRING," +
        " created_at TIMESTAMP")
    val users = csv(usersCsv, "id LONG, name STRING")
    val meta = graft.operators.Metadata
      .assemble(changesets, tags, users, comments)
    (if (singleFile) meta.coalesce(1) else meta)
      .write.mode("overwrite").format(format).save(outDir)
  }

  def main(args: Array[String]): Unit = {
    val spark = Apps.session("changeset-metadata-creator")
    try run(spark, args(0), args(1), args(2), args(3), args(4),
      singleFile = args.length > 5 && args(5).toBoolean,
      format = if (args.length > 6) args(6) else "parquet")
    finally spark.stop()
  }
}

/** Batch changeset-snapshot merge (reference batch/MergeChangesets):
  * union an existing snapshot with a fresh delta, latest closed_at
  * wins per id. Usage: <existingParquet> <freshParquet> <outDir> */
object MergeChangesetsApp {
  def main(args: Array[String]): Unit = {
    val Array(existingDir, freshDir, outDir) = args.take(3)
    val spark = Apps.session("merge-changesets")
    graft.operators.Metadata.mergeChangesets(
        spark.read.parquet(existingDir), spark.read.parquet(freshDir))
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}

/** Raw change-stream processor (reference ChangeStreamProcessor): the
  * osmchange sequence stream dumped to columnar storage with the
  * standard dead-letter split — the "just land the replication feed"
  * utility. Survivors go under `outDir/batch=<id>` (overwrite —
  * replay converges), malformed rows append under `deadDir`. */
object ChangeStreamApp {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  def run(spark: SparkSession, payloadDir: String, endSequence: Long,
          outDir: String, deadDir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val stream = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "osmchange").option("payloadDir", payloadDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.filter(col("error").isNotNull)
          .write.mode("append").parquet(deadDir)
        batch.filter(col("error").isNull).drop("error")
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }

  /** Usage: <payloadDir> <endSeq> <outDir> <deadDir> <checkpointDir> */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("change-stream")
    try run(spark, args(0), args(1).toLong, args(2), args(3), args(4))
    finally spark.stop()
  }
}

/** Merged changeset-snapshot maintainer (reference
  * MergedChangesetStreamProcessor): every changesets micro-batch merges
  * into a maintained snapshot via [[graft.operators.Metadata
  * .mergeChangesets]] (latest closed_at wins per id). Snapshot
  * versions land under `snapshotDir/v=<batchId>`; each batch reads the
  * newest version strictly OLDER than itself, so checkpoint replays
  * rebuild byte-identical snapshots (same discipline as the
  * streaming near-dedup state store). */
object MergedChangesetStreamApp {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def latestBelow(spark: SparkSession, snapshotDir: String,
                          batchId: Long): Option[DataFrame] = {
    val dir = new java.io.File(snapshotDir)
    val versions =
      if (!dir.isDirectory) Seq.empty
      else dir.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong)
        .filter(_ < batchId)
    if (versions.isEmpty) None
    else Some(spark.read.parquet(s"$snapshotDir/v=${versions.max}"))
  }

  def run(spark: SparkSession, payloadDir: String, endSequence: Long,
          snapshotDir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow(),
          awaitMs: Long = 180000L): Unit = {
    val stream = spark.readStream
      .format("graft.streaming.SequenceSource")
      .option("format", "changesets").option("payloadDir", payloadDir)
      .option("startSequence", 0).option("endSequence", endSequence)
      .load()
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = batch.filter(col("error").isNull)
          .select(col("id"), col("uid").as("user_id"), col("created_at"),
            col("closed_at"), col("num_changes"))
        val merged = latestBelow(spark, snapshotDir, batchId) match {
          case Some(existing) =>
            graft.operators.Metadata.mergeChangesets(existing, fresh)
          case None =>
            graft.operators.Metadata.mergeChangesets(
              fresh.limit(0), fresh)
        }
        merged.write.mode("overwrite")
          .parquet(s"$snapshotDir/v=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
    // awaitMs <= 0: run until killed (the continuous Streaming* mains)
    if (awaitMs > 0) q.awaitTermination(awaitMs) else q.awaitTermination()
    ()
  }

  /** Usage: <payloadDir> <endSeq> <snapshotDir> <checkpointDir> */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("merged-changeset-stream")
    try run(spark, args(0), args(1).toLong, args(2), args(3))
    finally spark.stop()
  }
}

/** Batch FACETED edit-histogram tile creator (reference
  * FacetedEditHistogramTileCreator): per-day-facet density pyramid
  * over all events, written as the relational facet summary.
  * Usage: <sfDir> <outDir> [baseZoom] [minZoom] */
object FacetedTileCreatorApp {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StringType
    val sfDir = args(0); val outDir = args(1)
    val baseZoom = if (args.length > 2) args(2).toInt else 5
    val minZoom = if (args.length > 3) args(3).toInt else 0
    val spark = Apps.session("faceted-tile-creator")
    val pts = graft.Tables.events(spark, sfDir)
      .withColumn("lon", graft.functions.synthLon(col("event_id")))
      .withColumn("lat", graft.functions.synthLat(col("event_id")))
      .withColumn("key", lit("all"))
      .withColumn("facet",
        graft.functions.dayKey(col("ts")).cast(StringType))
    graft.operators.FacetedTiles.facetSummary(
        graft.operators.FacetedTiles.pyramidFaceted(pts, "key", "lon",
          "lat", "facet", baseZoom = baseZoom, minZoom = minZoom,
          cells = 16))
      .write.mode("overwrite").parquet(outDir)
    spark.stop()
  }
}

/** Tile pyramid -> MVT directory (reference EditHistogramTileCreator).
  * Usage: <sfDir> <tileDir> [baseZoom] [sequence] */
object TilePyramidApp {
  /** Pyramid of `events` (`event_id`, `event_type`) from `baseZoom` down
    * to 0, committed as one summed "edits" layer per tile under
    * `sequence`; returns tiles written. */
  def run(events: org.apache.spark.sql.DataFrame, tileDir: String,
          baseZoom: Int, sequence: Long): Long = {
    import org.apache.spark.sql.functions.col
    val pts = events
      .withColumn("lon", graft.functions.synthLon(col("event_id")))
      .withColumn("lat", graft.functions.synthLat(col("event_id")))
    val pyr = graft.operators.Tiles.pyramid(
      pts, "event_type", "lon", "lat", baseZoom, 0, cells = 16)
    graft.sinks.TileSink.writeRasters(pyr, tileDir, "edits", sequence)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val tileDir = args(1)
    val baseZoom = if (args.length > 2) args(2).toInt else 6
    val sequence = if (args.length > 3) args(3).toLong else 0L
    val spark = Apps.session("tile-pyramid")
    val n = run(graft.Tables.events(spark, sfDir), tileDir, baseZoom, sequence)
    println(s"wrote $n tiles under $tileDir")
    spark.stop()
  }
}

/** Drift gate between two corpus snapshots: per-category PSI/KL over
  * a grouping column plus the fingerprint-level add/remove/change
  * report, written as two parquet tables; exits nonzero when any
  * category's PSI exceeds the gate (the CI-style "don't admit this
  * crawl" hook). Usage: <baseDir> <curDir> <outDir> [psiGateMicro]
  * (dirs are documents.parquet parents; gate default 250000 = 0.25). */
object DriftGateApp {
  /** Core (session-agnostic, spec-callable): writes drift + diff
    * parquet and returns the worst |psi_micro|. */
  def run(spark: SparkSession, baseDir: String, curDir: String,
          outDir: String): Long = {
    import org.apache.spark.sql.functions._
    val base = graft.Tables.documents(spark, baseDir)
    val cur = graft.Tables.documents(spark, curDir)
    val flagged = base.select(col("source"), lit(true).as("is_base"))
      .unionByName(cur.select(col("source"), lit(false).as("is_base")))
    val drift = graft.operators.Drift.categoryDrift(
      flagged, col("source"), col("is_base"))
    drift.write.mode("overwrite").parquet(s"$outDir/drift")
    graft.operators.Drift.snapshotDiff(
        base.select(col("doc_id"), md5(col("text")).as("fp")),
        cur.select(col("doc_id"), md5(col("text")).as("fp")),
        "doc_id", "fp")
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$outDir/diff")
    val worst = drift.agg(max(abs(col("psi_micro")))).collect()
      .head.get(0)
    if (worst == null) 0L else worst.asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = {
    val Array(baseDir, curDir, outDir) = args.take(3)
    val gate = if (args.length > 3) args(3).toLong else 250000L
    val spark = Apps.session("drift-gate")
    val worstPsi = run(spark, baseDir, curDir, outDir)
    println(s"max |psi_micro| = $worstPsi (gate $gate)")
    spark.stop()
    if (worstPsi > gate) sys.exit(1)
  }
}

/** Streaming MV maintenance main: fold a parquet drop-directory stream
  * into the versioned summary snapshot ([[graft.streaming.StreamingMv]])
  * that [[graft.plans.MvRewrite]] can then serve — the "keep the
  * dashboard rollup seconds behind the fact stream" deployment shape. */
object StreamingMvApp {
  import org.apache.spark.sql.streaming.StreamingQuery
  import graft.streaming.StreamingMv

  /** Schema comes from a committed sample file (file streams need one
    * up front). `awaitMs` < 0 blocks forever (service mode). */
  def run(spark: SparkSession, inDir: String, sampleParquet: String,
          keys: Seq[String], valueCol: String, mvPath: String,
          checkpoint: String, trigger: Trigger,
          awaitMs: Long): StreamingQuery = {
    val schema = spark.read.parquet(sampleParquet).schema
    val stream = spark.readStream.schema(schema).parquet(inDir)
    val q = StreamingMv.writer(stream,
        StreamingMv.Target(mvPath, keys, valueCol), checkpoint)
      .trigger(trigger).start()
    if (awaitMs >= 0) { q.awaitTermination(awaitMs); q.stop() }
    else q.awaitTermination()
    q
  }

  /** Usage: <inDir> <sampleParquet> <keysCsv> <valueCol> <mvPath>
    *        <checkpointDir> [intervalMs] */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("streaming-mv")
    val interval = if (args.length > 6) args(6).toLong else 15000L
    try run(spark, args(0), args(1), args(2).split(",").toSeq, args(3),
      args(4), args(5), Trigger.ProcessingTime(interval), awaitMs = -1L)
    finally spark.stop()
  }
}
