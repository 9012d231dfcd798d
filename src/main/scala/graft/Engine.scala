package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Accessors for the fixture tables (TESTDATA.md). Column pruning and filter
  * pushdown happen automatically because these return lazy scans.
  */
object Tables {

  /** Column names declared TIMESTAMP(NANOS) in the parquet footer. Spark has
    * no nanosecond timestamp type, so these arrive as raw int64 (via
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and are converted to
    * microsecond timestamps here. Footer inspection is driver-side-cheap
    * (one file open), cached per path.
    */
  private val nanosCache = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]

  private def nanosTimestampCols(spark: SparkSession, path: String): Seq[String] =
    nanosCache.getOrElseUpdate(path, {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
      try {
        val conf = spark.sparkContext.hadoopConfiguration
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        val file =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).map(_.getPath).find(_.getName.endsWith(".parquet")).getOrElse(p)
          else p
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        try {
          reader.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
            case f if f.isPrimitive =>
              f.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                    if t.getUnit == TimeUnit.NANOS => Some(f.getName)
                case _ => None
              }
          }.flatten.toSeq
        } finally reader.close()
      } catch { case _: Exception => Nil }
    })

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    nanosTimestampCols(spark, path).foldLeft(df) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros(`$c` div 1000)"))
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
