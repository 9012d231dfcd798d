package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The specs run the engine's configuration, and `Engine.session` stays the
  * only place a session is built.
  */
class EngineConfigSpec extends SparkSpec {

  test("the shared test session carries the engine's configuration") {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("dynamic"))
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === (cpus * 2).toString)
    assert(spark.sql("SELECT graft_word_shingles('a b c', 2)").head().getSeq[String](0) ===
      Seq("a b", "b c"))
  }

  private def scalaSources(root: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => (p, Files.readString(p)))
    finally walk.close()
  }

  test("a session is built only in Engine.scala, and the test tree has no mains") {
    val Builder = """SparkSession\s*\.\s*builder""".r
    val builders = scalaSources(Paths.get("src"))
      .collect { case (p, text) if Builder.findFirstIn(text).isDefined => p.toString }
    assert(builders === Seq(Paths.get("src/main/scala/graft/Engine.scala").toString))
    val mains = scalaSources(Paths.get("src/test"))
      .collect { case (p, text) if """\bdef\s+main\b""".r.findFirstIn(text).isDefined => p.toString }
    assert(mains.isEmpty, mains)
  }
}
