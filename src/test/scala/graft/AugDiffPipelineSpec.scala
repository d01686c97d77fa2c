package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.apps.AugDiffStatsPipeline
import graft.sinks.JdbcUpsertStore
import graft.streaming.CheckpointMirror

/** End-to-end production topology: augmented-diff payload files →
  * executor-side parse → dead-letter split → per-changeset rollup →
  * Derby-backed JDBC upsert store with checkpoint mirroring and
  * store-seeded restart. Both exactly-once layers asserted. */
class AugDiffPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def diffLine(typ: String, id: Long, cs: Long, uid: Long,
                       user: String, visible: Boolean = true): String =
    s"""{"new": {"type": "Feature", "properties": {"type": "$typ", "id": $id,
       | "version": 1, "updated": "2026-01-01T00:0$id:00Z", "visible": $visible,
       | "changeset": $cs, "uid": $uid, "user": "$user",
       | "tags": {"highway": "residential"}}}}""".stripMargin
      .replace("\n", "")

  test("augdiff pipeline: parse -> dead letter -> rollup -> jdbc store, exactly-once twice over") {
    val payloadDir = Files.createTempDirectory("graft-e2e-payload").toString
    Files.writeString(Paths.get(payloadDir, "0.json"), Seq(
      diffLine("node", 1, 900, 7, "alice"),
      diffLine("way", 2, 900, 7, "alice"),
      diffLine("node", 3, 901, 8, "bob")).mkString("\n"))
    Files.writeString(Paths.get(payloadDir, "1.json"), Seq(
      diffLine("node", 4, 900, 7, "alice"),
      "{corrupt json").mkString("\n"))
    Files.writeString(Paths.get(payloadDir, "2.json"),
      diffLine("node", 5, 902, 9, "carol", visible = false))

    val store = new JdbcUpsertStore(
      s"jdbc:derby:memory:e2e${System.nanoTime()};create=true")
    val ckpt1 = Files.createTempDirectory("graft-e2e-ckpt1").toString
    val deadDir = Files.createTempDirectory("graft-e2e-dead").toString

    AugDiffStatsPipeline.run(spark, payloadDir, endSequence = 2,
      store, "augdiff-e2e", ckpt1, deadDir)

    // rollup landed with the reference merge semantics
    val cs900 = store.get(900L).get
    cs900.totalEdits shouldBe 3L // 2 edits in seq 0 + 1 in seq 1
    cs900.counts shouldBe Map("nodes" -> 2L, "ways" -> 1L)
    cs900.sequences shouldBe Set(0L, 1L)
    store.get(901L).get.totalEdits shouldBe 1L
    val cs902 = store.get(902L).get
    cs902.counts shouldBe Map("nodes" -> 1L, "deletes" -> 1L)
    // the corrupt line is in the dead-letter table, not lost, not fatal
    val dead = spark.read.parquet(deadDir)
    dead.count() shouldBe 1
    dead.select(col("error_reason")).as[String].head() shouldBe "parse_error"
    dead.select(col("sequence")).as[Long].head() shouldBe 1L

    // layer 1: same Spark checkpoint -> no batches re-run
    AugDiffStatsPipeline.run(spark, payloadDir, endSequence = 2,
      store, "augdiff-e2e", ckpt1, deadDir)
    store.get(900L).get.totalEdits shouldBe 3L
    spark.read.parquet(deadDir).count() shouldBe 1

    // checkpoint mirror recorded the high-water mark; a store-seeded
    // restart starts past the consumed range
    val deadline = System.currentTimeMillis() + 20000
    while (store.checkpoint("augdiff-e2e").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(200)
    store.checkpoint("augdiff-e2e") shouldBe Some(2L) // last consumed seq
    CheckpointMirror.startSequenceFrom(store, "augdiff-e2e") shouldBe 3L

    // layer 2: FRESH checkpoint + process name forces a full re-read;
    // the store's sequence-overlap guard turns every replay into a
    // no-op (at-least-once delivery, exactly-once state)
    val ckpt2 = Files.createTempDirectory("graft-e2e-ckpt2").toString
    AugDiffStatsPipeline.run(spark, payloadDir, endSequence = 2,
      store, "augdiff-e2e-replay", ckpt2, deadDir)
    store.get(900L).get.totalEdits shouldBe 3L
    store.get(900L).get.counts shouldBe Map("nodes" -> 2L, "ways" -> 1L)
    store.get(901L).get.totalEdits shouldBe 1L
    store.get(902L).get.totalEdits shouldBe 1L
  }

  test("a stats micro-batch reads its source once for both sinks") {
    val payloadDir = Files.createTempDirectory("graft-e2e-once").toString
    Files.writeString(Paths.get(payloadDir, "0.json"), Seq(
      diffLine("node", 1, 900, 7, "alice"),
      diffLine("way", 2, 900, 7, "alice"),
      "{corrupt json").mkString("\n"))
    Files.writeString(Paths.get(payloadDir, "1.json"),
      diffLine("node", 3, 901, 8, "bob"))
    val sourceRows = spark.read.format("graft.streaming.SequenceSource")
      .option("format", "augdiff").option("payloadDir", payloadDir)
      .option("startSequence", 0).option("endSequence", 1)
      .load().count()
    sourceRows shouldBe 4L
    // numInputRows is the scan node's output-row count of each batch:
    // every action that recomputes the batch adds its rows again, a
    // cached read adds none
    val inputRows = new AtomicLong()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        inputRows.addAndGet(e.progress.numInputRows); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        done.countDown()
    }
    val store = new JdbcUpsertStore(
      s"jdbc:derby:memory:once${System.nanoTime()};create=true")
    spark.streams.addListener(listener)
    try {
      AugDiffStatsPipeline.run(spark, payloadDir, endSequence = 1,
        store, "augdiff-once",
        Files.createTempDirectory("graft-e2e-once-ckpt").toString,
        Files.createTempDirectory("graft-e2e-once-dead").toString)
      done.await(30, TimeUnit.SECONDS) shouldBe true
    } finally spark.streams.removeListener(listener)
    inputRows.get shouldBe sourceRows
    store.get(900L).get.totalEdits shouldBe 2L
    store.get(901L).get.totalEdits shouldBe 1L
  }
}
