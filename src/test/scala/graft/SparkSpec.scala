package graft

import graft.pipeline.RedshiftScript
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

  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a deployment setting, passed the way build.sbt passes spark.* ones
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    sys.props("spark.sql.warehouse.dir") = warehouse
    val s = Engine.session(appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      .deleteOnExit(new org.apache.hadoop.fs.Path(warehouse))
    s
  }

  /** A new local directory for a test, deleted with everything under it
    * at JVM exit ([[RedshiftScript.tempLayoutRoot]]). The tests make every
    * temp directory here, so none is left behind.
    */
  def tempDir(prefix: String): String = RedshiftScript.tempLayoutRoot(session, prefix)
}
