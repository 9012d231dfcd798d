package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, Footer => ParquetFooter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** The one SparkSession factory: every main, the test suites and the
  * benchmark take their session from here, so they all run the same engine.
  *
  * Mirrors the operational posture of the reference warehouse
  * (`/root/reference/bi-airflow-prod/dags/pipeline/fullload/dag_fullload_pipeline.py:43-80`):
  * UTC session time and dynamic partition overwrite for the incremental
  * DELETE+INSERT pattern
  * (`Datawarehouse-ETL/30_segment_events/01_track_events_incremental.sql:206-212`).
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *   - AQE (on by default in Spark 4) handles skew-join splitting and
  *     partition coalescing at runtime.
  *   - `partitionOverwriteMode=dynamic` makes date-partition reloads atomic
  *     per partition and idempotent on rerun.
  *   - `local[SPARK_GRAFT_CPUS]` (default 4) with twice as many shuffle
  *     partitions; a cluster deploy overrides via `--conf` (AQE coalescing
  *     makes the initial number less critical). Other deployment settings
  *     (e.g. `spark.sql.warehouse.dir`) arrive as `spark.*` system
  *     properties, which SparkConf picks up.
  */
object Engine {

  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Spark rejects TIMESTAMP(NANOS) parquet outright; read the raw int64
      // and let Tables.read convert footer-declared nanos columns (at µs
      // engine precision) — see [[Tables.read]].
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // Redshift places no practical bound on WITH RECURSIVE depth; Spark
      // defaults to 100 levels, which a 365-day date spine already exceeds
      // (`bi-airflow-prod/dags/dim_dates/sql/dim_dates.sql:3-8`)
      .config("spark.sql.cteRecursionLevelLimit", "100000")
      // Spark's codegen cache keeps 100 generated classes by default; one
      // pass of q01–q28 compiles about 290, so a long-lived session that
      // runs more than 100 plan shapes recompiles every class on every
      // pass. With 2000 entries a second pass compiles almost none
      // (WarmSessionSpec). Keeping them did not raise memory: a traced
      // `queries` run (sf0.01, local[4], 4 vCPU) peaked at 2344 MB RSS
      // before and 2214 MB after (together with Tables.read's footer
      // schemas).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Accessors for the fixture tables (TESTDATA.md). Column pruning and filter
  * pushdown happen automatically because these return lazy scans.
  *
  * One footer read per fixture file gives both the Spark schema and the
  * TIMESTAMP(NANOS) columns, and the scan is built with that schema, so
  * building a plan over the fixtures runs no Spark job (a bare
  * `spark.read.parquet(path)` starts a schema-inference job on every call).
  */
object Tables {

  /** What the footer of a fixture's first data file says: the Spark schema,
    * and the columns declared TIMESTAMP(NANOS). Spark has no nanosecond
    * timestamp type, so those arrive as raw int64 (via
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and [[read]] converts
    * them to microsecond timestamps.
    */
  private case class Footer(schema: StructType, nanosCols: Seq[String])

  /** Keyed on the footer file's path, length and modification time, so a
    * fixture rewritten in place is read again.
    */
  private val footers = TrieMap.empty[(String, Long, Long), Footer]

  private def footer(spark: SparkSession, path: String): Footer = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    // like Spark's inference, the footer of one visible data file
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .headOption.getOrElse(throw new java.io.FileNotFoundException(s"no data file in $path"))
    footers.getOrElseUpdate((file.getPath.toString, file.getLen, file.getModificationTime), {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val meta = try reader.getFooter finally reader.close()
      // Spark's inference code for this file, so nanosAsLong and the row
      // metadata Spark writes (NTZ vs LTZ timestamps) apply as they would
      // under spark.read.parquet
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new ParquetFooter(file.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      val nanos = meta.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => f.getName
      }.toSeq
      Footer(schema, nanos)
    })
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = footer(spark, path)
    f.nanosCols.foldLeft(spark.read.schema(f.schema).parquet(path)) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
