package graft.expressions

import java.util.Locale
import org.apache.spark.sql.catalyst.parser.SqlBaseParser.PrimitiveDataTypeContext
import org.apache.spark.sql.execution.{SparkSqlAstBuilder, SparkSqlParser}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Spark's SQL parser with Redshift's type names, the session's parser
  * ([[GraftExtensions]]). Spark's grammar reads `int8`, `float4`, `text`,
  * bare `varchar`, `timestamptz` or `timestamp(3)` as a type name and its
  * visitor then rejects it (`UNSUPPORTED_DATATYPE`, `DATATYPE_MISSING_SIZE`);
  * here those names map to Spark's types, in `::` and CAST alike, and
  * every other type goes to Spark's visitor. Since each mapped name is one
  * Spark rejects, no SQL Spark accepts changes meaning, and a view body
  * that uses one reads back the same way from a Runner statement and from
  * DataFrame code.
  */
class GraftParser extends SparkSqlParser {
  override val astBuilder: SparkSqlAstBuilder = new SparkSqlAstBuilder {
    override def visitPrimitiveDataType(ctx: PrimitiveDataTypeContext): DataType =
      GraftParser.redshiftType(ctx.primitiveType.getText.toLowerCase(Locale.ROOT))
        .getOrElse(super.visitPrimitiveDataType(ctx))
  }
}

object GraftParser {
  private val TimestampN = "timestamp(?:tz)?\\(\\d+\\)".r

  /** The Spark type of a Redshift type name Spark's visitor rejects
    * (`name` is the type's tokens, lower case, without spaces).
    */
  private def redshiftType(name: String): Option[DataType] = name match {
    case "int8" => Some(LongType)
    case "int4" => Some(IntegerType)
    case "int2" => Some(ShortType)
    case "float8" => Some(DoubleType)
    case "float4" => Some(FloatType)
    // Redshift trims CHAR padding on retrieval, so STRING reads the same
    case "text" | "bpchar" | "varchar" => Some(StringType)
    case "bool" => Some(BooleanType)
    // Spark's TIMESTAMP carries no precision and no zone
    case "datetime" | "timestamptz" | TimestampN() => Some(SQLConf.get.timestampType)
    case _ => None
  }
}
