package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.sinks.{InMemoryObjectStore, Mvt, ObjectStore, TileSink, UpsertSink}
import graft.sinks.UpsertSink.{StatsRow, InMemoryUpsertStore}

/** Counts `get`/`put` per key across every deserialized copy in this
  * JVM (Spark tasks get their own copy of the handle). */
class CountingStore(inner: ObjectStore) extends ObjectStore {
  private val id = java.util.UUID.randomUUID().toString
  private def bump(op: String, key: String): Unit = {
    CountingStore.calls.computeIfAbsent(s"$id|$op|$key",
      _ => new AtomicInteger()).incrementAndGet(); ()
  }
  /** key -> calls of `op` since the last [[reset]]. */
  def counts(op: String): Map[String, Int] =
    CountingStore.calls.asScala.toMap.collect {
      case (k, n) if k.startsWith(s"$id|$op|") =>
        k.stripPrefix(s"$id|$op|") -> n.get()
    }
  def reset(): Unit =
    CountingStore.calls.keySet().removeIf(_.startsWith(s"$id|"))
  override def put(key: String, bytes: Array[Byte]): Unit = {
    bump("put", key); inner.put(key, bytes)
  }
  override def get(key: String): Option[Array[Byte]] = {
    bump("get", key); inner.get(key)
  }
  override def list(prefix: String): Seq[String] = inner.list(prefix)
  override def delete(key: String): Unit = inner.delete(key)
}

object CountingStore {
  private val calls = new ConcurrentHashMap[String, AtomicInteger]()
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("upsert merges key-wise on conflict") {
    val store = new InMemoryUpsertStore
    UpsertSink.writeBatch(Seq(
      StatsRow(1L, 10L, Map("roads" -> 2L), Map("km" -> 1.5), 2L, Set(100L)),
      StatsRow(1L, 10L, Map("roads" -> 1L, "buildings" -> 4L), Map("km" -> 0.5), 5L, Set(101L))),
      store)
    val got = store.get(1L).get
    got.counts shouldBe Map("roads" -> 3L, "buildings" -> 4L)
    got.measurements shouldBe Map("km" -> 2.0)
    got.totalEdits shouldBe 7L
    got.sequences shouldBe Set(100L, 101L)
  }

  test("dedup guard: replaying an overlapping sequence is a no-op") {
    val store = new InMemoryUpsertStore
    val row = StatsRow(2L, 10L, Map("roads" -> 2L), Map.empty, 2L, Set(100L))
    UpsertSink.writeBatch(Seq(row), store)
    UpsertSink.writeBatch(Seq(row), store) // at-least-once replay
    store.get(2L).get.counts shouldBe Map("roads" -> 2L)
    store.get(2L).get.totalEdits shouldBe 2L
    // a NEW sequence for the same changeset still merges
    UpsertSink.writeBatch(Seq(row.copy(sequences = Set(101L))), store)
    store.get(2L).get.totalEdits shouldBe 4L
  }

  test("checkpoint table keeps the high-water mark") {
    val store = new InMemoryUpsertStore
    store.saveCheckpoint("augdiff-stream", 42L)
    store.saveCheckpoint("augdiff-stream", 40L) // stale write doesn't regress
    store.checkpoint("augdiff-stream") shouldBe Some(42L)
    store.checkpoint("other") shouldBe None
  }

  test("writeStats: distributed upsert path (repartition-bounded)") {
    val store = new InMemoryUpsertStore
    val rows = (1L to 500L).map(i =>
      StatsRow(i % 50, i % 7, Map("e" -> 1L), Map.empty, 1L, Set(i)))
    import spark.implicits._
    UpsertSink.writeStats(rows.toDS(), store, maxConnections = 4,
      batchSize = 100)
    store.size shouldBe 50
    (0L until 50L).foreach { cs =>
      store.get(cs).get.totalEdits shouldBe 10L // 500 rows over 50 changesets
    }
  }

  test("stableHash64Scala fast path equals the hex-string definition") {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq("", "a", "hello world", "shingle one two", "ünïcode").foreach { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      val hex = d.take(8).map(b => f"$b%02x").mkString
      val ref = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      graft.functions.TextFunctions.stableHash64Scala(t) shouldBe ref
    }
  }

  test("MVT encode/decode round-trip") {
    val layer = Mvt.Layer("edits", 4096, Seq(
      Mvt.Feature(1L, 1, Seq(Mvt.MoveTo(Seq((100, 200)))),
        Map("density" -> Mvt.MLong(7), "name" -> Mvt.MString("x"),
          "score" -> Mvt.MDouble(1.25))),
      Mvt.Feature(2L, 2, Seq(Mvt.MoveTo(Seq((0, 0))), Mvt.LineTo(Seq((10, -5), (3, 4)))),
        Map("density" -> Mvt.MLong(1)))))
    val back = Mvt.decode(Mvt.encode(Seq(layer)))
    back shouldBe Seq(layer)
    // gzip framing round-trips too
    Mvt.gunzip(Mvt.gzip(Mvt.encode(Seq(layer)))) shouldBe Mvt.encode(Seq(layer))
  }

  test("commit protocol: sequence replay is a no-op, new sequences merge") {
    val dir = Files.createTempDirectory("graft-tiles").toString
    val f = Seq(Mvt.Feature(5L, 1, Seq(Mvt.MoveTo(Seq((64, 64)))),
      Map("density" -> Mvt.MLong(3))))
    Mvt.commitTile(dir, 4, 7, 5, "edits", f, sequence = 1L) shouldBe true
    Mvt.commitTile(dir, 4, 7, 5, "edits", f, sequence = 1L) shouldBe false // replay
    var tile = Mvt.readTile(dir, 4, 7, 5).get
    tile.find(_.name == "edits").get.features.head.tags("density") shouldBe Mvt.MLong(3)
    // a new sequence sums same-id long tags
    Mvt.commitTile(dir, 4, 7, 5, "edits", f, sequence = 2L) shouldBe true
    tile = Mvt.readTile(dir, 4, 7, 5).get
    tile.find(_.name == "edits").get.features.head.tags("density") shouldBe Mvt.MLong(6)
    // __sequences__ layer records both commits
    val seqs = tile.find(_.name == Mvt.SequencesLayerName).get.features
      .map(_.tags("sequence"))
    seqs should contain theSameElementsAs Seq(Mvt.MLong(1), Mvt.MLong(2))
  }

  test("SnapshotSchema replaces same-id features instead of summing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val f1 = Seq(Mvt.Feature(5L, 1, Seq(Mvt.MoveTo(Seq((1, 1)))),
      Map("density" -> Mvt.MLong(3))))
    val f2 = Seq(Mvt.Feature(5L, 1, Seq(Mvt.MoveTo(Seq((2, 2)))),
      Map("density" -> Mvt.MLong(9))))
    Mvt.commitTile(dir, 1, 0, 0, "snap", f1, 1L,
      schema = Mvt.SnapshotSchema) shouldBe true
    Mvt.commitTile(dir, 1, 0, 0, "snap", f2, 2L,
      schema = Mvt.SnapshotSchema) shouldBe true
    val tile = Mvt.readTile(dir, 1, 0, 0).get
    val feat = tile.find(_.name == "snap").get.features.head
    feat.tags("density") shouldBe Mvt.MLong(9) // replaced, not 12
    feat.commands shouldBe Seq(Mvt.MoveTo(Seq((2, 2))))
  }

  test("commitTileLayers: one sequence's layers land atomically under one mark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multilayer").toString
    def f(v: Long) = Seq(Mvt.Feature(1L, 1,
      Seq(Mvt.MoveTo(Seq((1, 1)))), Map("density" -> Mvt.MLong(v))))
    val store = new graft.sinks.LocalFsStore(dir)
    Mvt.commitTileLayers(store, 2, 1, 1,
      Seq("alpha" -> f(3), "beta" -> f(5)), sequence = 1L) shouldBe true
    def density(layer: String): Long =
      Mvt.readTile(dir, 2, 1, 1).get.find(_.name == layer).get
        .features.flatMap(_.tags.get("density"))
        .collect { case Mvt.MLong(v) => v }.sum
    density("alpha") shouldBe 3L
    density("beta") shouldBe 5L
    // replay: whole multi-layer commit is one no-op
    Mvt.commitTileLayers(store, 2, 1, 1,
      Seq("alpha" -> f(3), "beta" -> f(5)), sequence = 1L) shouldBe false
    density("alpha") shouldBe 3L
    // a later sequence touching ONE of the layers merges it, leaves the
    // other untouched
    Mvt.commitTileLayers(store, 2, 1, 1,
      Seq("alpha" -> f(2)), sequence = 2L) shouldBe true
    density("alpha") shouldBe 5L
    density("beta") shouldBe 5L
    // the per-layer single call (commitTile) would have no-opped the
    // second layer of sequence 1 — the bug this API exists to prevent:
    Mvt.commitTile(dir, 2, 2, 2, "alpha", f(3), 1L) shouldBe true
    Mvt.commitTile(dir, 2, 2, 2, "beta", f(5), 1L) shouldBe false
  }

  test("HistorySchema: newer generation retires the valid one via __validUntil") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString
    def gen(fid: Long, version: Long, updated: Long) =
      Seq(Mvt.Feature(fid, 1, Seq(Mvt.MoveTo(Seq((1, 1)))), Map(
        "__id" -> Mvt.MString("w42"),
        "__version" -> Mvt.MLong(version),
        "__updated" -> Mvt.MLong(updated))))
    Mvt.commitTile(dir, 2, 1, 1, "history", gen(1L, 1L, 1000L), 1L,
      schema = Mvt.HistorySchema) shouldBe true
    Mvt.commitTile(dir, 2, 1, 1, "history", gen(2L, 2L, 2000L), 2L,
      schema = Mvt.HistorySchema) shouldBe true
    val feats = Mvt.readTile(dir, 2, 1, 1).get
      .find(_.name == "history").get.features
    feats.length shouldBe 2 // both generations retained
    val v1 = feats.find(_.tags("__version") == Mvt.MLong(1)).get
    val v2 = feats.find(_.tags("__version") == Mvt.MLong(2)).get
    v1.tags("__validUntil") shouldBe Mvt.MLong(2000L) // retired at v2's updated
    v2.tags("__validUntil") shouldBe Mvt.MLong(0L)    // currently valid
    // replaying sequence 2 is a no-op; a STALE generation (older
    // timestamp, new sequence) is ignored by the schema
    Mvt.commitTile(dir, 2, 1, 1, "history", gen(2L, 2L, 2000L), 2L,
      schema = Mvt.HistorySchema) shouldBe false
    Mvt.commitTile(dir, 2, 1, 1, "history", gen(3L, 1L, 500L), 3L,
      schema = Mvt.HistorySchema) shouldBe true
    Mvt.readTile(dir, 2, 1, 1).get.find(_.name == "history").get
      .features.length shouldBe 2
    // a different element gets its own generation chain
    val other = Seq(Mvt.Feature(9L, 1, Seq(Mvt.MoveTo(Seq((2, 2)))), Map(
      "__id" -> Mvt.MString("n7"),
      "__version" -> Mvt.MLong(1), "__updated" -> Mvt.MLong(1500L))))
    Mvt.commitTile(dir, 2, 1, 1, "history", other, 4L,
      schema = Mvt.HistorySchema) shouldBe true
    val all = Mvt.readTile(dir, 2, 1, 1).get.find(_.name == "history").get.features
    all.length shouldBe 3
    all.find(f => f.tags("__id") == Mvt.MString("n7")).get
      .tags("__validUntil") shouldBe Mvt.MLong(0L)
  }

  test("UrchnSchema: author sets accumulate, creation is preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft-urchn").toString
    def gen(updated: Long, author: String, density: Long) =
      Seq(Mvt.Feature(5L, 1, Seq(Mvt.MoveTo(Seq((1, 1)))), Map(
        "__id" -> Mvt.MString("w42"),
        "__updated" -> Mvt.MLong(updated),
        "__lastAuthor" -> Mvt.MString(author),
        "density" -> Mvt.MLong(density))))
    Mvt.commitTile(dir, 3, 2, 2, "urchn", gen(1000L, "alice", 1L), 1L,
      schema = Mvt.UrchnSchema) shouldBe true
    Mvt.commitTile(dir, 3, 2, 2, "urchn", gen(2000L, "bob", 7L), 2L,
      schema = Mvt.UrchnSchema) shouldBe true
    Mvt.commitTile(dir, 3, 2, 2, "urchn", gen(3000L, "alice", 9L), 3L,
      schema = Mvt.UrchnSchema) shouldBe true
    val feats = Mvt.readTile(dir, 3, 2, 2).get
      .find(_.name == "urchn").get.features
    feats.length shouldBe 1 // one feature per element
    val f = feats.head
    f.tags("__authors") shouldBe Mvt.MString("alice,bob")
    f.tags("__creation") shouldBe Mvt.MLong(1000L)   // first generation's time
    f.tags("__lastAuthor") shouldBe Mvt.MString("alice")
    f.tags("density") shouldBe Mvt.MLong(9L)          // newest wins, not summed
    // stale update (older timestamp) leaves the feature untouched
    Mvt.commitTile(dir, 3, 2, 2, "urchn", gen(500L, "carol", 2L), 4L,
      schema = Mvt.UrchnSchema) shouldBe true
    val f2 = Mvt.readTile(dir, 3, 2, 2).get
      .find(_.name == "urchn").get.features.head
    f2.tags("__lastAuthor") shouldBe Mvt.MString("alice")
    f2.tags("__authors") shouldBe Mvt.MString("alice,bob")
  }

  test("Footprints: allowlist + blocklist + per-target pyramids") {
    val pts = Seq(
      ("alice", 10.0, 10.0, "d1"), ("alice", 10.0, 10.0, "d2"),
      ("bob", 20.0, 20.0, "d1"), ("carol", 30.0, 30.0, "d1"),
      ("spammer", 40.0, 40.0, "d1"))
      .toDF("user", "lon", "lat", "day")
    val fp = graft.operators.Footprints.create(pts, "user", "lon", "lat", "day",
      targets = Some(Seq("alice", "bob", "spammer")),
      blocklist = Seq("spammer"), baseZoom = 3, minZoom = 3, cells = 4)
    val keys = fp.collect().map(_.key).toSet
    keys shouldBe Set("alice", "bob") // carol not targeted, spammer blocked
    val aliceTotal = fp.collect().filter(_.key == "alice")
      .flatMap(_.values.values).map(_.values.sum).sum
    aliceTotal shouldBe 2
  }

  test("TileSink writes a pyramid level end-to-end and is idempotent") {
    val dir = Files.createTempDirectory("graft-tiles2").toString
    val pts = Seq(("k", 10.0, 20.0), ("k", 10.1, 20.1), ("k", -60.0, -30.0))
      .toDF("key", "lon", "lat")
    val rasters = graft.operators.Tiles.rasterize(pts, "key", "lon", "lat",
      zoom = 3, cells = 16)
    val written = TileSink.writeRasters(rasters, dir, "edits", sequence = 1L)
    written should be >= 1L
    val again = TileSink.writeRasters(rasters, dir, "edits", sequence = 1L)
    again shouldBe 0L // all tiles already committed under this sequence
  }

  /** key -> bytes of every object in `store`. */
  private def contents(store: ObjectStore): Map[String, Seq[Byte]] =
    store.list("").map(k => k -> store.get(k).get.toSeq).toMap

  private def feature(id: Long, tags: (String, Mvt.MValue)*): Mvt.Feature =
    Mvt.Feature(id, 1, Seq(Mvt.MoveTo(Seq((id.toInt, 2)))), tags.toMap)

  test("commitTileSequences: one read-modify-write, bytes equal per-sequence commits") {
    // small tag maps keep insertion order, which differs between a
    // built and a decoded feature: encode must not depend on it
    def layers(seq: Long): Seq[(String, Seq[Mvt.Feature])] = Seq(
      "alpha" -> Seq(feature(1L, "z" -> Mvt.MLong(seq * 3),
        "name" -> Mvt.MString(s"s$seq"), "density" -> Mvt.MLong(seq),
        "w" -> Mvt.MDouble(0.5))),
      "beta" -> Seq(feature(seq, "density" -> Mvt.MLong(1L))))
      .filter(_._1 == "alpha" || seq % 2 == 0)
    val all = Seq(4L, 1L, 5L, 2L, 3L) // out of order on purpose
    for {
      schema <- Seq(Mvt.SumSchema, Mvt.SnapshotSchema)
      prior <- Seq(Seq.empty[Long], Seq(2L, 5L)) // fresh, partial replay
    } withClue(s"$schema after $prior: ") {
      val folded = new CountingStore(new InMemoryObjectStore)
      val stepped = new InMemoryObjectStore
      prior.foreach { s =>
        Mvt.commitTileLayers(folded, 3, 1, 2, layers(s), s, schema = schema)
        Mvt.commitTileLayers(stepped, 3, 1, 2, layers(s), s, schema = schema)
      }
      folded.reset()
      Mvt.commitTileSequences(folded, 3, 1, 2, all.map(s => s -> layers(s)),
        schema = schema) shouldBe all.size - prior.size
      val applied = all.sorted.count(s =>
        Mvt.commitTileLayers(stepped, 3, 1, 2, layers(s), s, schema = schema))
      applied shouldBe all.size - prior.size
      folded.counts("get") shouldBe Map(Mvt.tileKey(3, 1, 2) -> 1)
      folded.counts("put") shouldBe Map(Mvt.tileKey(3, 1, 2) -> 1)
      contents(folded) shouldBe contents(stepped)
      // nothing left to apply: one read, no write
      folded.reset()
      Mvt.commitTileSequences(folded, 3, 1, 2, all.map(s => s -> layers(s)),
        schema = schema) shouldBe 0
      folded.counts("get") shouldBe Map(Mvt.tileKey(3, 1, 2) -> 1)
      folded.counts("put") shouldBe Map.empty
    }
  }

  /** Points over 3 tiles at zoom 2 / 4 cells, sequences 1-4, layers
    * a/b: some (tile, sequence) pairs carry both layers. */
  private val spanningPoints = for {
    seq <- 1L to 4L
    (lon, lat) <- Seq((10.0, 20.0), (12.0, 21.0), (-60.0, -30.0),
      (100.0, 40.0), (10.5, 20.5))
    layer <- if ((seq + lon.toLong) % 3 == 0) Seq("a", "b") else Seq("a")
  } yield (s"$seq:$layer", lon + seq * 0.7, lat)

  /** The reference path: rasterize, then one commitTileLayers per
    * (tile, sequence) in ascending sequence order. */
  private def commitStepwise(store: ObjectStore,
                             pts: Seq[(String, Double, Double)]): Int = {
    val rasters = graft.operators.Tiles.rasterize(
      pts.toDF("key", "lon", "lat"), "key", "lon", "lat", zoom = 2, cells = 4)
      .collect().toSeq
    rasters.groupBy(r => (r.zoom, r.x, r.y)).toSeq.map { case ((z, x, y), rs) =>
      rs.map(r => (r.key.split(":")(0).toLong, r.key.split(":")(1), r))
        .groupBy(_._1).toSeq.sortBy(_._1).count { case (seq, group) =>
          val layers = group.sortBy(_._2).map { case (_, layer, r) =>
            layer -> r.values.toSeq.sortBy(_._1).map { case (cell, v) =>
              Mvt.Feature(cell + 1, 1, Seq(Mvt.MoveTo(Seq((
                (cell % r.cells * (4096 / r.cells)).toInt,
                (cell / r.cells * (4096 / r.cells)).toInt)))),
                Map("density" -> Mvt.MLong(v.toLong)))
            }
          }
          Mvt.commitTileLayers(store, z, x, y, layers, seq)
        }
    }.sum
  }

  test("commitPoints writes the tiles of rasterize + per-sequence commits") {
    val pts = spanningPoints
    // fresh stores, then stores that already hold sequences 1 and 3
    Seq(Seq.empty[Long], Seq(1L, 3L)).foreach { done =>
      val viaPoints = new InMemoryObjectStore
      val stepwise = new InMemoryObjectStore
      val before = pts.filter(p => done.contains(p._1.takeWhile(_ != ':').toLong))
      commitStepwise(viaPoints, before)
      commitStepwise(stepwise, before)
      val applied = TileSink.commitPoints(pts.toDF("key", "lon", "lat"),
        "key", "lon", "lat", zoom = 2, cells = 4, viaPoints)
      applied shouldBe commitStepwise(stepwise, pts).toLong
      applied should be > 0L
      contents(viaPoints) shouldBe contents(stepwise)
      contents(viaPoints).keySet.size shouldBe 3
      // a replay of the whole batch is a no-op
      TileSink.commitPoints(pts.toDF("key", "lon", "lat"),
        "key", "lon", "lat", zoom = 2, cells = 4, viaPoints) shouldBe 0L
      contents(viaPoints) shouldBe contents(stepwise)
    }
  }

  test("commitPoints: at most one get and one put per touched tile") {
    val store = new CountingStore(new InMemoryObjectStore)
    val df = spanningPoints.toDF("key", "lon", "lat")
    TileSink.commitPoints(df, "key", "lon", "lat", 2, 4, store) shouldBe
      commitStepwise(new InMemoryObjectStore, spanningPoints).toLong
    val touched = store.list("").toSet
    touched.size shouldBe 3
    store.counts("get") shouldBe touched.map(_ -> 1).toMap
    store.counts("put") shouldBe touched.map(_ -> 1).toMap
    store.reset()
    TileSink.commitPoints(df, "key", "lon", "lat", 2, 4, store) shouldBe 0L
    store.counts("get") shouldBe touched.map(_ -> 1).toMap
    store.counts("put") shouldBe Map.empty
  }

  test("TilePyramidApp: every zoom sums to the event count, runs are byte-identical") {
    // five event types share tiles: one commit per tile must carry all
    val events = spark.range(0, 2000)
      .selectExpr("id AS event_id",
        "element_at(array('view', 'click', 'cart', 'buy', 'share'), " +
          "CAST(id % 5 AS INT) + 1) AS event_type")
    def run(): (Map[String, Seq[Byte]], Long) = {
      val dir = Files.createTempDirectory("graft-pyramid").toString
      val n = graft.apps.TilePyramidApp.run(events, dir, baseZoom = 3,
        sequence = 7L)
      (contents(new graft.sinks.LocalFsStore(dir)), n)
    }
    val (first, written) = run()
    written shouldBe first.size.toLong
    val byZoom = first.keys.toSeq.groupBy(_.takeWhile(_ != '/'))
    byZoom.keySet shouldBe Set("0", "1", "2", "3")
    byZoom.foreach { case (_, keys) =>
      keys.map { k =>
        Mvt.decode(Mvt.gunzip(first(k).toArray)).filter(_.name == "edits")
          .flatMap(_.features.flatMap(_.tags.get("density")))
          .collect { case Mvt.MLong(v) => v }.sum
      }.sum shouldBe 2000L
    }
    run()._1 shouldBe first
  }
}
