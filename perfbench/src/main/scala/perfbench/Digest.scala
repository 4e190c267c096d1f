package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count and order-independent digest of a query result, computed in
  * the same execution that materialises every output column into Spark's
  * no-op sink. The digest is the sum of a 31-bit hash per row; doubles and
  * floats (also inside arrays) are rendered to 9 significant digits first,
  * so summation order inside the engine cannot change it. */
object Digest {
  final case class Result(rows: Long, digest: Long)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.8e", x.cast(DoubleType) + lit(0.0)))
    case _ => c
  }

  /** Execute `df` into the no-op sink and return its digest. */
  def run(df: DataFrame): Result = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashed = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val rowHash = if (hashed.isEmpty) lit(0L) else pmod(xxhash64(hashed: _*), lit(1L << 31))
    val obs = Observation("digest")
    named.observe(obs, count(lit(1)).as("n"), coalesce(sum(rowHash), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Result(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }
}
