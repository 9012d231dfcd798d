package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites and keeps the test run fast).
  * It is the engine's own session, so the specs test the configuration
  * users get.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits: spark.implicits.type = spark.implicits
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a deployment setting, passed the way build.sbt passes spark.* ones
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = Engine.session(appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
