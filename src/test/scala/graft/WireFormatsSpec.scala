package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{ErrorChannel, WireFormats}

class WireFormatsSpec extends SparkSpec {
  import spark.implicits._

  private val sourceName = "graft.streaming.SequenceSource"

  private val osmChangeXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osmChange version="0.6" generator="test">
      |  <create>
      |    <node id="101" version="1" timestamp="2026-01-01T00:00:30Z"
      |          changeset="900" uid="7" user="alice" lat="51.5" lon="-0.1">
      |      <tag k="amenity" v="cafe"/>
      |    </node>
      |    <way id="202" version="1" timestamp="2026-01-01T00:00:45Z"
      |         changeset="900" uid="7" user="alice">
      |      <nd ref="101"/><nd ref="102"/>
      |      <tag k="highway" v="residential"/>
      |    </way>
      |  </create>
      |  <modify>
      |    <node id="103" version="4" timestamp="2026-01-01T00:01:00Z"
      |          changeset="901" uid="8" user="bob" lat="40.0" lon="2.0"/>
      |  </modify>
      |  <delete>
      |    <node id="104" version="2" timestamp="2026-01-01T00:01:30Z"
      |          changeset="901" uid="8" user="bob" visible="false"
      |          lat="40.1" lon="2.1"/>
      |  </delete>
      |</osmChange>""".stripMargin

  private val changesetsXml =
    """<osm version="0.6" generator="test">
      |  <changeset id="900" created_at="2026-01-01T00:00:00Z"
      |             closed_at="2026-01-01T00:05:00Z" open="false"
      |             user="alice" uid="7" min_lat="51.0" max_lat="52.0"
      |             min_lon="-1.0" max_lon="0.0" num_changes="2"
      |             comments_count="1">
      |    <tag k="comment" v="add cafe"/>
      |    <tag k="created_by" v="editor/1.0"/>
      |  </changeset>
      |  <changeset id="901" created_at="2026-01-01T00:01:00Z" open="true"
      |             user="bob" uid="8" num_changes="2" comments_count="0"/>
      |</osm>""".stripMargin

  private val augDiffJson =
    """{"old": {"type": "Feature", "properties": {"type": "node", "id": 101, "version": 1, "updated": "2026-01-01T00:00:00Z", "tags": {"amenity": "bar"}}}, "new": {"type": "Feature", "geometry": {"type": "Point", "coordinates": [-0.1, 51.5]}, "properties": {"type": "node", "id": 101, "version": 2, "minorVersion": 0, "updated": "2026-01-01T00:02:00Z", "visible": true, "tags": {"amenity": "cafe"}}}}
      |{"new": {"type": "Feature", "properties": {"type": "way", "id": 202, "version": 1, "updated": "2026-01-01T00:03:00Z", "visible": true, "tags": {"highway": "residential"}}}}""".stripMargin

  // ------------------------------------------------------ pure parsers

  test("parseOsmChange decodes create/modify/delete with tags and nds") {
    val rows = WireFormats.parseOsmChange(5L, osmChangeXml)
    rows.length shouldBe 4
    rows.forall(_.error.isEmpty) shouldBe true
    val node = rows.find(r => r.id == 101L).get
    node.action shouldBe "create"
    node.elementType shouldBe "node"
    node.tags shouldBe Map("amenity" -> "cafe")
    node.lat shouldBe Some(51.5)
    node.user shouldBe "alice"
    val way = rows.find(_.id == 202L).get
    way.nds shouldBe Seq(101L, 102L)
    val deleted = rows.find(_.id == 104L).get
    deleted.action shouldBe "delete"
    deleted.visible shouldBe false
  }

  test("parseOsmChange: malformed document and malformed element surface as error rows") {
    val bad = WireFormats.parseOsmChange(1L, "<osmChange><create><node id=")
    bad.length shouldBe 1
    bad.head.error.get should startWith("xml_parse")
    // an element missing a required attribute errors alone; siblings parse
    val partial = WireFormats.parseOsmChange(2L,
      """<osmChange><create>
        |  <node id="1" version="1" timestamp="2026-01-01T00:00:00Z"
        |        changeset="9" lat="1.0" lon="1.0"/>
        |  <node id="2" version="not_a_number" timestamp="2026-01-01T00:00:00Z"
        |        changeset="9" lat="1.0" lon="1.0"/>
        |</create></osmChange>""".stripMargin)
    partial.length shouldBe 2
    partial.count(_.error.isEmpty) shouldBe 1
    partial.find(_.error.isDefined).get.error.get should include("element_parse")
  }

  test("parseChangesets decodes open/closed changesets with bboxes and tags") {
    val rows = WireFormats.parseChangesets(3L, changesetsXml)
    rows.length shouldBe 2
    val closed = rows.find(_.id == 900L).get
    closed.open shouldBe false
    closed.closedAtMicros.isDefined shouldBe true
    closed.tags("comment") shouldBe "add cafe"
    closed.minLat shouldBe Some(51.0)
    val open = rows.find(_.id == 901L).get
    open.open shouldBe true
    open.closedAtMicros shouldBe None
    open.tags shouldBe Map.empty
  }

  test("parseAugmentedDiff decodes old/new generations and point geometry") {
    val rows = WireFormats.parseAugmentedDiff(9L, augDiffJson)
    rows.length shouldBe 2
    val node = rows.find(_.id == 101L).get
    node.version shouldBe 2L
    node.tags shouldBe Map("amenity" -> "cafe")
    node.prevTags shouldBe Map("amenity" -> "bar")
    node.lon shouldBe Some(-0.1)
    node.lat shouldBe Some(51.5)
    val way = rows.find(_.id == 202L).get
    way.prevTags shouldBe Map.empty
    way.lon shouldBe None
    // malformed line -> error row, good lines unaffected
    val mixed = WireFormats.parseAugmentedDiff(9L, augDiffJson + "\n{nope")
    mixed.count(_.error.isDefined) shouldBe 1
  }

  // ------------------------------------------- source + dead letter

  test("SequenceScanBuilder: a pushed sequence range narrows the planned partitions " +
      "whatever other options are set") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.streaming.{SequencePartition, SequenceScanBuilder}
    val base = Map("startSequence" -> "0", "endSequence" -> "40")
    val extras = Seq("rowsPerSequence" -> "3", "sequencesPerBatch" -> "2",
      "format" -> "synthetic", "fetchAttempts" -> "1",
      "fetchBackoffMs" -> "1", "transport" -> "file", "payloadDir" -> "",
      "note" -> "x")
    (0 to extras.size).foreach { n =>
      val opts = new CaseInsensitiveStringMap((base ++ extras.take(n)).asJava)
      val b = new SequenceScanBuilder(opts)
      b.pushFilters(Array(GreaterThanOrEqual("sequence", 12L),
        LessThan("sequence", 16L)))
      withClue(s"with ${n} extra options: ") {
        b.build().toBatch.planInputPartitions()
          .map(_.asInstanceOf[SequencePartition].seq).toSeq shouldBe (12L to 15L)
      }
    }
  }

  test("SequenceSource format=osmchange: batch read parses payload files per sequence") {
    val dir = Files.createTempDirectory("graft-wire").toString
    Files.writeString(Paths.get(dir, "0.xml"), osmChangeXml)
    Files.writeString(Paths.get(dir, "1.xml"), osmChangeXml.replace("101", "111"))
    val df = spark.read.format(sourceName)
      .option("format", "osmchange").option("payloadDir", dir)
      .option("startSequence", 0).option("endSequence", 1).load()
    df.count() shouldBe 8
    df.filter(col("error").isNotNull).count() shouldBe 0
    df.filter(col("element_type") === "way").count() shouldBe 2
    df.select(col("sequence")).distinct().count() shouldBe 2
  }

  test("osmchange source drives the streaming tile updater (UserFootprintUpdater shape)") {
    def nodeXml(seq: Long, ids: Seq[Long]): String = {
      val nodes = ids.map(i =>
        s"""<node id="$i" version="1" timestamp="2026-01-01T00:0$seq:00Z"
           | changeset="9" uid="1" user="u" lat="${10.0 + i}" lon="${20.0 + i}"/>"""
          .stripMargin.replace("\n", "")).mkString("\n")
      s"<osmChange><create>\n$nodes\n</create></osmChange>"
    }
    val dir = Files.createTempDirectory("graft-fp-payload").toString
    Files.writeString(Paths.get(dir, "0.xml"), nodeXml(0, Seq(1, 2, 3)))
    Files.writeString(Paths.get(dir, "1.xml"), nodeXml(1, Seq(4, 5)))
    val tiles = Files.createTempDirectory("graft-fp-tiles").toString

    def run(ckpt: String): Unit = {
      val stream = spark.readStream.format(sourceName)
        .option("format", "osmchange").option("payloadDir", dir)
        .option("startSequence", 0).option("endSequence", 1).load()
        .filter(col("element_type") === "node" && col("lon").isNotNull)
        .select(col("sequence"), col("lon"), col("lat"))
      val q = graft.streaming.TileUpdater.start(
        stream, tiles, "footprint", zoom = 2, cells = 8, checkpoint = ckpt)
      q.awaitTermination(120000)
    }
    def density(): Long = {
      val root = java.nio.file.Paths.get(tiles, "2")
      if (!java.nio.file.Files.exists(root)) return 0L
      java.nio.file.Files.walk(root).toArray.toSeq.map(_.toString)
        .filter(_.endsWith(".mvt")).map { f =>
          val parts = f.split("/")
          val y = parts.last.stripSuffix(".mvt").toLong
          val x = parts(parts.length - 2).toLong
          graft.sinks.Mvt.readTile(tiles, 2, x, y).get
            .find(_.name == "footprint").toSeq
            .flatMap(_.features.flatMap(_.tags.get("density")))
            .collect { case graft.sinks.Mvt.MLong(v) => v }.sum
        }.sum
    }
    run(Files.createTempDirectory("graft-fp-ckpt1").toString)
    density() shouldBe 5L // 5 parsed nodes rasterized
    // fresh checkpoint -> full XML re-read; __sequences__ guard no-ops
    run(Files.createTempDirectory("graft-fp-ckpt2").toString)
    density() shouldBe 5L
  }

  test("two wire-format sources compose through the J5 enrichment join") {
    // the MergedChangesetStreamProcessor shape: augdiff elements joined
    // stream-stream to changeset metadata, BOTH decoded from real wire
    // formats by SequenceSource partitions
    def diffLine(id: Long, cs: Long, user: String): String =
      s"""{"new": {"type": "Feature", "properties": {"type": "node",
         | "id": $id, "version": 1, "updated": "2012-09-12T08:20:00Z",
         | "visible": true, "changeset": $cs, "uid": 1, "user": "$user",
         | "tags": {}}}}""".stripMargin.replace("\n", "")
    val diffDir = Files.createTempDirectory("graft-j5-diff").toString
    Files.writeString(Paths.get(diffDir, "0.json"),
      Seq(diffLine(1, 900, "alice"), diffLine(2, 900, "alice")).mkString("\n"))
    Files.writeString(Paths.get(diffDir, "1.json"), diffLine(3, 901, "bob"))
    val csDir = Files.createTempDirectory("graft-j5-cs").toString
    Files.writeString(Paths.get(csDir, "0.xml"),
      """<osm><changeset id="900" created_at="2012-09-12T08:10:00Z"
        | open="false" user="alice" uid="7"/></osm>""".stripMargin)
    Files.writeString(Paths.get(csDir, "1.xml"),
      """<osm><changeset id="901" created_at="2012-09-12T08:14:00Z"
        | open="true" user="bob" uid="8"/></osm>""".stripMargin)

    val changes = spark.readStream.format(sourceName)
      .option("format", "augdiff").option("payloadDir", diffDir)
      .option("startSequence", 0).option("endSequence", 1).load()
      .select(col("sequence"), col("changeset"), col("id"),
        col("element_type"))
    val meta = spark.readStream.format(sourceName)
      .option("format", "changesets").option("payloadDir", csDir)
      .option("startSequence", 0).option("endSequence", 1).load()
      .select(col("id").as("changeset"), col("created_at"),
        col("user").as("meta_user"))
    val out = Files.createTempDirectory("graft-j5-out").toString
    val q = graft.streaming.StreamingStats
      .enrichWithChangesets(changes, meta)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-j5-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val joined = spark.read.parquet(out)
    joined.count() shouldBe 3
    joined.filter(col("changeset") === 900L)
      .select(col("meta_user")).distinct().as[String].collect() shouldBe
      Array("alice")
    joined.filter(col("changeset") === 901L)
      .select(col("meta_user")).as[String].head() shouldBe "bob"
  }

  test("SequenceSource format=augdiff streaming: corrupt payloads land in the dead-letter table") {
    val dir = Files.createTempDirectory("graft-wire-json").toString
    Files.writeString(Paths.get(dir, "0.json"), augDiffJson)
    Files.writeString(Paths.get(dir, "1.json"), "{corrupt")
    // sequence 2 has no payload at all -> payload_read error row
    val ckpt = Files.createTempDirectory("graft-wire-ckpt").toString
    val outClean = Files.createTempDirectory("graft-wire-clean").toString
    val outDead = Files.createTempDirectory("graft-wire-dead").toString

    val stream = spark.readStream.format(sourceName)
      .option("format", "augdiff").option("payloadDir", dir)
      .option("startSequence", 0).option("endSequence", 2)
      .option("sequencesPerBatch", 2).load()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (clean, dead) = ErrorChannel.split(batch,
          Seq("parse_error" -> col("error").isNull,
            "bad_type" -> col("element_type").isin("node", "way", "relation")))
        clean.write.mode("append").parquet(outClean)
        dead.write.mode("append").parquet(outDead)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val clean = spark.read.parquet(outClean)
    clean.count() shouldBe 2 // the two good lines of sequence 0
    clean.filter(col("prev_tags")("amenity") === "bar").count() shouldBe 1
    val dead = spark.read.parquet(outDead)
    dead.count() shouldBe 2 // corrupt json line + missing payload
    dead.filter(col("error_reason") === "parse_error").count() shouldBe 2
    dead.select(col("sequence")).as[Long].collect().sorted shouldBe Array(1L, 2L)
  }
}
