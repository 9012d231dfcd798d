package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.read` takes each fixture's schema from its parquet footer instead
  * of running Spark's inference job; the schema must be the one
  * `spark.read.parquet` infers, with TIMESTAMP(NANOS) columns converted to
  * microsecond timestamps.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `spark.read.parquet`'s schema, with `nanos` converted as `Tables.read` documents. */
  private def inferred(dir: String, name: String, nanos: Seq[String] = Nil): StructType =
    nanos.foldLeft(spark.read.parquet(s"$dir/$name.parquet")) { (d, c) =>
      d.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
    }.schema

  /** One single-file parquet table written through parquet's example writer. */
  private def writeParquet(file: String, message: String)(rows: Seq[Seq[(String, Any)]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), new Configuration()))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = groups.newGroup()
      row.foreach {
        case (k, v: Int) => g.append(k, v)
        case (k, v: Long) => g.append(k, v)
        case (k, v: Double) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => fail(s"unsupported $k=$v")
      }
      writer.write(g)
    } finally writer.close()
  }

  test("every fixture table reads with the schema spark.read.parquet infers") {
    val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier")
    for (t <- tables) assert(Tables.read(spark, sf, t).schema === inferred(sf, t), t)
  }

  test("NTZ and LTZ copies of events keep their flavor") {
    for ((flavor, typ) <- Seq("timestamp_ntz" -> TimestampNTZType, "timestamp_ltz" -> TimestampType)) {
      val dir = tempDir(s"graft-tables-$flavor")
      Tables.events(spark, sf).withColumn("ts", col("ts").cast(flavor))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val schema = Tables.events(spark, dir).schema
      assert(schema === inferred(dir, "events"), flavor)
      assert(schema("ts").dataType === typ, flavor)
    }
  }

  test("TIMESTAMP(NANOS) columns read as microsecond timestamps") {
    val dir = tempDir("graft-tables-nanos")
    writeParquet(s"$dir/t.parquet",
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")(
      Seq(Seq("id" -> 1L, "ts" -> 1704067200123456789L)))
    val df = Tables.read(spark, dir, "t")
    assert(df.schema === inferred(dir, "t", nanos = Seq("ts")))
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(unix_micros(col("ts"))).head().getLong(0) === 1704067200123456L)
  }

  test("a fixture rewritten in place is read with its new schema") {
    val dir = tempDir("graft-tables-rewrite")
    val file = s"$dir/t.parquet"
    writeParquet(file, "message m { required int32 a; }")(Seq(Seq("a" -> 1)))
    assert(Tables.read(spark, dir, "t").schema.fieldNames.toSeq === Seq("a"))
    writeParquet(file, "message m { required binary b (STRING); required double c; }")(
      Seq(Seq("b" -> "x", "c" -> 2.5)))
    val df = Tables.read(spark, dir, "t")
    assert(df.schema === inferred(dir, "t"))
    assert(df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq === Seq(("x", 2.5)))
  }
}
