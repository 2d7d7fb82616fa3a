package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one blocked self-join behind every near-duplicate and
  * record-linkage query: candidates are the pairs that share a
  * blocking key (a shingle, a band bucket, a name prefix), never the
  * all-pairs product. q23, q24, q25, q48, q167, q171 and q217 take
  * their candidate pairs from [[pairs]]; the bit-band blockers (q25's
  * SimHash, q167's pHash) take their keys from [[byteBands]].
  *
  * The join is an aliased self-join renamed after the join, so both
  * sides read one plan and Spark reuses its exchange.
  */
object Blocking {

  /** Every pair of `rows` that agrees on all `keys`, with
    * `a.<id> < b.<id>`: `a_id`, `b_id`, then `a_<c>` and `b_<c>` for
    * each other column `c`. A null key matches nothing. A pair that
    * shares several key values comes out once per value, so a caller
    * whose ids carry several keys adds `distinct()`. */
  def pairs(rows: DataFrame, id: String, keys: String*): DataFrame = {
    val rest = rows.columns.toSeq.filterNot(c => c == id || keys.contains(c))
    val on = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col(s"a.$id") < col(s"b.$id")
    def side(s: String) = rest.map(c => col(s"$s.$c").as(s"${s}_$c"))
    rows.as("a").join(rows.as("b"), on)
      .select(Seq(col(s"a.$id").as("a_id"), col(s"b.$id").as("b_id")) ++
        side("a") ++ side("b"): _*)
  }

  /** `rows` with one row per 8-bit band of the 64-bit `hash` column:
    * `band` in `0 until n` and `key`, bits `8·band` to `8·band + 7`.
    * Two hashes within Hamming distance `n - 1` share a band. */
  def byteBands(rows: DataFrame, hash: String, n: Int): DataFrame = {
    val cols = rows.columns.toSeq.map(col)
    rows.select(cols :+ explode(array((0 until n).map { b =>
        struct(lit(b).as("band"),
          shiftright(col(hash), 8 * b).bitwiseAND(lit(255L)).as("key"))
      }: _*)).as("bk"): _*)
      .select(cols ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }
}
