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
}
