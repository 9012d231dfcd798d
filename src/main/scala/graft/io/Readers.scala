package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion readers — the engine-side of the reference's load paths
  * (SURVEY §2.1).
  */
object Readers {

  /** Delimited-file bulk load with the Redshift COPY options the reference
    * uses: `DELIMITER ';' IGNOREHEADER 1 EMPTYASNULL`
    * (`11_marketing_reporting/Affiliate_Automation/affiliate_everflow_staging.sql:22-27`).
    * The staging convention loads everything as strings and casts
    * downstream (`all_columns_as_string=True`,
    * `api_production_hourly_load.py:60`) — pass `allString = true` for it.
    */
  def csv(
      spark: SparkSession,
      path: String,
      delimiter: String = ";",
      header: Boolean = true,
      emptyAsNull: Boolean = true,
      allString: Boolean = false,
      schema: Option[StructType] = None): DataFrame = {
    var r = spark.read
      .option("delimiter", delimiter)
      .option("header", header.toString)
    if (emptyAsNull) r = r.option("nullValue", "")
    r = schema match {
      case Some(s) => r.schema(s)
      case None if allString => r // string by default without inferSchema
      case None => r.option("inferSchema", "true")
    }
    r.csv(path)
  }

  /** JDBC incremental extract predicate — the reference's watermark
    * pattern (uid + timestamp columns, `api_production_hourly_load.py:37-61`):
    * read only rows past the stored high-water mark. Usage:
    * `spark.read.jdbc(url, table, props).where(incrementalAfter("updated_at", last))`
    * — the predicate pushes into the remote query.
    */
  def incrementalAfter(watermarkCol: String, lastMax: java.sql.Timestamp) =
    col(watermarkCol) > lit(lastMax)
}
