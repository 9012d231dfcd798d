package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** A warm session does no driver work again for a query it has run before:
  * building q01–q28 starts no schema-inference job, and running them again
  * compiles no class the codegen cache already holds.
  */
class WarmSessionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val relational = SparkEntry.queries.toSeq
    .filter { case (n, _) => n.drop(1).takeWhile(_.isDigit).toInt <= 28 }
    .sortBy(_._1)
  private val QueryKey = "graft.spec.query"

  test("building q01–q28 again starts no Spark job, except q17's global rank") {
    val sc = spark.sparkContext
    relational.foreach { case (_, q) => q(spark, dir) }
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(QueryKey))).foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      relational.foreach { case (n, q) =>
        sc.setLocalProperty(QueryKey, n)
        try q(spark, dir) finally sc.setLocalProperty(QueryKey, null)
      }
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val perQuery = jobs.asScala.groupBy(identity).map { case (n, js) => n -> js.size }
    // q17's Ops.withGlobalPercentRank takes its range-partitioned RDD at
    // build time (localCheckpoint), which samples and shuffles its input
    assert(perQuery.keySet.subsetOf(Set("q17_window_suite")), perQuery)
  }

  test("running q01–q28 again compiles almost no class") {
    def pass(): Unit = relational.foreach { case (_, q) =>
      q(spark, dir).write.format("noop").mode("overwrite").save()
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled < 10, s"$compiled classes compiled on the second pass")
  }
}
