package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local session for specs (one per JVM; tests fork once). */
object TestSpark {
  lazy val spark: SparkSession = {
    // a per-JVM warehouse dir; SparkConf reads `spark.*` properties
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = graft.apps.Apps.session("graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` with `spark` in materialization mode `m`, then puts
    * the previous mode back. */
  def withMaterialize[A](m: graft.plans.Materialize.Mode)(body: => A): A = {
    import graft.plans.Materialize
    val previous = Materialize.mode(spark)
    Materialize.setMode(spark, m)
    try body finally Materialize.setMode(spark, previous)
  }
}
