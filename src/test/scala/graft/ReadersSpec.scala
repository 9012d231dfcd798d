package graft

import graft.io.Readers
import java.nio.file.Files

class ReadersSpec extends SparkSpec {

  test("csv reader honors COPY-style options: delimiter, header, empty-as-null") {
    val dir = java.nio.file.Paths.get(tempDir("graft-csv"))
    Files.writeString(dir.resolve("staging.csv"),
      "id;name;amount\n1;alpha;10.5\n2;;\n3;gamma;7.25\n")
    val df = Readers.csv(spark, dir.toString, delimiter = ";", header = true)
    val rows = df.collect()
    assert(df.columns.toSeq === Seq("id", "name", "amount"))
    assert(rows.length === 3)
    val r2 = rows.find(_.getInt(0) == 2).get
    assert(r2.isNullAt(1) && r2.isNullAt(2)) // EMPTYASNULL
    assert(rows.find(_.getInt(0) == 1).get.getDouble(2) === 10.5)
  }

  test("all-string staging load defers casts downstream (reference convention)") {
    val dir = java.nio.file.Paths.get(tempDir("graft-csv2"))
    Files.writeString(dir.resolve("s.csv"), "a;b\n1;2.5\n")
    val df = Readers.csv(spark, dir.toString, allString = true)
    assert(df.schema.fields.forall(_.dataType.typeName === "string"))
  }

  test("incremental watermark predicate filters past the high-water mark") {
    import sqlImplicits._
    val df = Seq(("r1", "2024-01-01 00:00:00"), ("r2", "2024-01-02 00:00:00"))
      .toDF("id", "updated_at")
      .withColumn("updated_at", org.apache.spark.sql.functions.col("updated_at").cast("timestamp"))
    val out = df.where(Readers.incrementalAfter("updated_at",
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
    assert(out.collect().map(_.getString(0)).toSeq === Seq("r2"))
  }
}
