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
    assert(spark.conf.get("spark.sql.cteRecursionLevelLimit") === "100000")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
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

  test("session settings are made in Engine.session, not at run time") {
    val sets = scalaSources(Paths.get("src/main")).flatMap { case (p, text) =>
      """spark\.conf\.set\(""".r.findAllIn(text).map(_ => p.getFileName.toString)
    }
    assert(sets.isEmpty, sets)
  }

  test("Redshift shapes are analyzer rules; the Runner analyzes each statement once") {
    // RedshiftCoercions, the lateral-alias rules and the Redshift shape
    // rules resolve them; the Runner catches no analysis error and reads
    // no error class to retry a statement
    val runner = Files.readString(Paths.get("src/main/scala/graft/pipeline/RedshiftScript.scala"))
    val arms = Seq("AnalysisException", "UNRESOLVED_COLUMN", "STAR_GROUP_BY_POS",
      "SCALAR_SUBQUERY_IS_IN_GROUP_BY", "UNSUPPORTED_SUBQUERY_EXPRESSION", "must be aggregated",
      "UNEXPECTED_INPUT_TYPE", "BINARY_OP_DIFF_TYPES", "BINARY_OP_WRONG_TYPE",
      "LATERAL_COLUMN_ALIAS", "MISSING_AGGREGATION", "AMBIGUOUS_LATERAL_COLUMN_ALIAS")
      .filter(runner.contains)
    assert(arms.isEmpty, arms)
  }

  test("DML runs from Spark's resolved plans") {
    // MERGE, UPDATE and DELETE are evaluated from the analyzer's resolved
    // MergeIntoTable / UpdateTable / DeleteFromTable: no statement body is
    // split by regex or rebuilt with renamed columns, and Writers keeps no
    // second upsert path
    def read(f: String) = Files.readString(Paths.get(s"src/main/scala/graft/$f"))
    val runner = Seq("MergeRe", "DeleteUsingRe", "splitAssignments", "__s_", "__j_", "__upd_t_")
      .filter(read("pipeline/RedshiftScript.scala").contains)
    val writers = Seq("mergeByKey", "updateWhere").filter(read("io/Writers.scala").contains)
    assert(runner.isEmpty && writers.isEmpty, runner ++ writers)
  }
}
