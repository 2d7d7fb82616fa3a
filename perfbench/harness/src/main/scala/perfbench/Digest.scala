package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a result: row count, and the xor and sum
  * of every row's 64-bit hash over all columns (maps made
  * order-independent first). */
object Digest {
  def columns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.cast("decimal(38,0)")).as("s"))
  }

  def of(df: DataFrame): String =
    df.agg(columns(df).head, columns(df).tail: _*).collect().head.toSeq
      .map(String.valueOf).mkString("/")
}
