package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.streaming.ErrorChannel

class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("GraftExtensions injects a working dot_prod builder; SQL resolves it") {
    // the injector populates a SparkSessionExtensions without error and
    // its builder constructs the native expression
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    // end-to-end through the function registry + SQL string
    graft.plans.ArrayExpressions.register(spark)
    val got = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .selectExpr("dot_prod(a, b)").as[Double].head
    got shouldBe 11.0
  }

  test("ErrorChannel routes malformed rows to the dead-letter side") {
    val df = Seq(
      (Some(1L), 10.0, 20.0, "node"),
      (None: Option[Long], 10.0, 20.0, "node"), // null id
      (Some(3L), 500.0, 20.0, "node"),          // bad lon
      (Some(4L), 10.0, 20.0, "asteroid"))       // bad type
      .toDF("id", "lon", "lat", "element_type")
    val (clean, dead) = ErrorChannel.split(df, ErrorChannel.elementChecks)
    clean.count() shouldBe 1
    clean.select(col("id")).as[Long].head shouldBe 1L
    val reasons = dead.select(col("id"), col("error_reason"))
      .as[(Option[Long], String)].collect().toMap
    reasons(None) shouldBe "null_id"
    reasons(Some(3L)) shouldBe "bad_lon"
    reasons(Some(4L)) shouldBe "bad_type"
    // total conservation: nothing silently dropped
    clean.count() + dead.count() shouldBe df.count()
  }

  test("Apps.session: one shuffle partition per core, UTC, no split floor") {
    // TestSpark's session is the one Apps.session builds
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt shouldBe cpus
    spark.sparkContext.defaultParallelism shouldBe cpus
    spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) shouldBe "UTC"
    spark.conf.getOption(SQLConf.FILES_MIN_PARTITION_NUM.key) shouldBe None
    spark.sparkContext.uiWebUrl shouldBe None
  }

  test("Apps.session holds the only session-builder call") {
    // assembled from pieces so this file does not match itself
    val call = ("SparkSession" + "\\s*\\.\\s*" + "builder\\b").r
    val hits = for {
      root <- Seq("src/main", "src/test")
      f <- scala.util.Using.resource(Files.walk(Paths.get(root)))(
        _.iterator.asScala.toList.sorted)
      if f.toString.endsWith(".scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield (f.toString, i)
    val apps = "src/main/scala/graft/apps/Apps.scala"
    hits.map(_._1) shouldBe Seq(apps)
    val lines = Files.readAllLines(Paths.get(apps)).asScala
    val start = lines.indexWhere(_.contains("def session(name: String)"))
    val end = lines.indexWhere(_ == "  }", start)
    hits.head._2 should (be > start and be < end)
  }
}
