package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Graph
import graft.plans.{Materialize, PlanGuard}

class MaterializeSpec extends SparkSpec {

  /** A 3-round label propagation over a fixed edge list on `s`, and the
    * number of edge rows its BUILD read (each eager cut runs a job). */
  private def lpa(s: SparkSession): (DataFrame, Long) = {
    import s.implicits._
    val reads = s.sparkContext.longAccumulator("edge rows read")
    val edges = (0 until 100).map(i => (i.toLong % 20, (i * 7) % 20L))
      .toDS().map { e => reads.add(1); e }.toDF("u", "v")
    val df = Graph.labelPropagation(edges, col("u"), col("v"), rounds = 3)
    (df, reads.sum)
  }

  test("the materialization mode belongs to the session") {
    withMaterialize(Materialize.Plan) {
      val other = spark.newSession()
      Materialize.mode(spark) shouldBe Materialize.Plan
      Materialize.mode(other) shouldBe Materialize.Checkpoint

      val (dry, dryReads) = lpa(spark)
      val p = PlanGuard.planString(dry)
      "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
        .findAllIn(p).length should be >= 3
      p should not include "Scan ExistingRDD"
      dryReads shouldBe 0L

      val (cut, cutReads) = lpa(other)
      PlanGuard.planString(cut) should include("Scan ExistingRDD")
      cutReads should be > 0L
      cut.collect().map(_.toSeq).sortBy(_.toString) shouldBe
        dry.collect().map(_.toSeq).sortBy(_.toString)
    }
    Materialize.mode(spark) shouldBe Materialize.Checkpoint
  }

  test("no object in src/main holds a function in a var") {
    val varDecl =
      """^(\s*)(?:@\w+\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+)?var\s+(\w+)(.*)$""".r
    val header = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)*(?:case\s+)?object\s""".r
    // a declared type up to the `=` that starts the initializer
    val fnType = """^\s*:([^=]|=>)*=>""".r
    val fnInit = """^\s*(?::[^=]*)?=\s*(identity\b|_\.|\([^)]*\)\s*=>|\w+\s*=>)""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val hits = for {
      f <- scala.util.Using.resource(Files.walk(Paths.get("src/main")))(
        _.iterator.asScala.toList.sorted)
      if f.toString.endsWith(".scala")
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      m <- varDecl.findFirstMatchIn(line).toSeq
      owner = lines.take(i).reverseIterator
        .find(l => l.trim.nonEmpty && indent(l) < m.group(1).length)
      if owner.exists(header.findFirstIn(_).isDefined)
      decl = (m.group(3) +: lines.slice(i + 1, i + 3)).mkString(" ")
      if fnType.findFirstIn(decl).isDefined || fnInit.findFirstIn(decl).isDefined
    } yield s"$f:${i + 1} ${m.group(2)}"
    hits shouldBe empty
  }
}
