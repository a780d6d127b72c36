package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: `rows:contentHash:schemaHash`.
  * The content hash sums a 64-bit hash of every row, so row order and
  * partitioning do not matter. Floating-point values are hashed at ten
  * significant digits (with -0.0 folded into 0.0) so a last-bit summation
  * difference does not read as a wrong answer. */
object Fingerprint {
  private def norm(dt: DataType, c: Column): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.10g", c.cast("double") + lit(0.0))
    case ArrayType(et, _) => transform(c, x => norm(et, x))
    case st: StructType =>
      struct(st.fields.map(f => norm(f.dataType, c.getField(f.name))
        .as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(kt, e.getField("key")).as("k"),
        norm(vt, e.getField("value")).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    val cols = fields.map(f => norm(f.dataType, col(s"`${f.name}`")))
    // which columns are null, so nulls in different places hash apart
    val nulls = array(fields.map(f => col(s"`${f.name}`").isNull): _*)
    val h = xxhash64((cols :+ nulls): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    s"${r.getLong(0)}:${r.getDecimal(1)}:" +
      f"${scala.util.hashing.MurmurHash3.stringHash(schema)}%08x"
  }
}
