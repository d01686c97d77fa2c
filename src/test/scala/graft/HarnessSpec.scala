package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

class HarnessSpec extends SparkSpec {

  test("Verify.run writes every good query, names the failures, exits non-zero") {
    val out = Files.createTempDirectory("verify-spec").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_good" -> ((s, _) => s.range(3).toDF("id")),
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
    // control characters must survive the JSON round trip
    val oracle = Map("q_good" -> "SELECT \"id\"\tFROM t\n", "q_bad" -> "SELECT 1")
    val err = new ByteArrayOutputStream
    val status = Console.withErr(err) {
      Verify.run(spark, "unused", out, queries, oracle)
    }
    status should not be 0
    err.toString should include("q_bad")
    spark.read.parquet(s"$out/q_good").count() shouldBe 3
    new File(s"$out/q_bad").exists() shouldBe false
    new ObjectMapper().readValue(new File(s"$out/oracle_sql.json"),
      classOf[java.util.Map[String, String]]).asScala shouldBe oracle

    Verify.run(spark, "unused", out, queries - "q_bad", oracle) shouldBe 0
  }
}
