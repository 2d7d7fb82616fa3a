package graft.ops

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** THE planted-corpus id convention — the one place it is defined
  * (VERDICT r11 #3). Synthetic copy/slice/retired families re-key
  * rows as `doc_id + slot·B`, and several censuses CLASSIFY rows by
  * that id range (e.g. q194's `contained >= 5B → planted_slice`).
  * Two properties make that sound:
  *
  *   1. **Correctness headroom** — every ORGANIC id must sit below
  *      the smallest offset, else an organic doc silently misreports
  *      as planted and the shift collides with real ids.
  *   2. **Probe ceiling ≠ correctness headroom** — a FIXED offset
  *      (the pre-r12 `+100000` constant) turns the guard into a
  *      scale ceiling: the r11 q157 30× probe was blocked because
  *      staged organic ids reached 149,999. The offset must GROW
  *      with the corpus it is carved from.
  *
  * So the base is derived from the staged corpus itself:
  *
  *   `B = max(100000, 10^(digits(maxDocId) + 1))`
  *
  * — the next-next power of ten above the organic range, always
  * ≥ 10× the max organic id, floored at the historical 100000 so
  * every declared SF (max ids 499 / 499 / 4999 at sf0.001/0.01/0.1)
  * keeps its exact pre-r12 ids while a staged 30× corpus (max id
  * 149,999) transparently gets B = 10⁷. The DuckDB oracle derives
  * the identical B from the same rule via [[baseSqlExpr]], so the
  * engines can never drift.
  *
  * Family slots (slot·B, optionally +adj to pin a batch residue;
  * all slots ≤ 8 so every family lands inside one decade and
  * range-classification by `[slot·B, (slot+1)·B)` stays sound):
  *
  *   - 1B  near-dup tail (q23/q24 Dedup, q102 Winnow), q27 perturbed
  *     vectors, q58 blog ids, q182 CDC twins, q228 leaked eval twins
  *   - 2B  exact-dup upper-case (q22), q58 unknown-schema ids;
  *     2B+1 stream-dedup upper family (q191, batch residue 1 mod 4)
  *   - 3B  snapshot retired ids (q106/q136)
  *   - 4B+2  stream-dedup re-spaced family (q191, residue 2 mod 4)
  *   - 5B  containment slices (q194) — also its classification bound
  *   - 6B  stream-dedup trailing-tab family (q191, residue 0 mod 4)
  *   - 7B  NFC decomposed twins (q209)
  *   - 8B  NFC over-merge control (q209)
  *
  * The batch residues hold for ANY base the rule can produce: every
  * power of ten ≥ 100 is divisible by 4, so `(slot·B + adj) % 4 =
  * adj % 4`.
  */
object Planted {

  /** Historical floor of the family base — keeps every declared SF's
    * planted ids byte-identical to the pre-r12 constant convention. */
  val BaseFloor = 100000L

  /** `max(BaseFloor, 10^(digits(maxId)+1))` — always > 10× maxId. */
  private[graft] def baseFor(maxId: Long): Long = {
    require(maxId >= 0, s"organic max id must be non-negative, got $maxId")
    var p = 10L
    while (p <= maxId) p *= 10
    math.max(BaseFloor, p * 10)
  }

  /** A family's id offset: `slot·B + adjust`, with the headroom
    * guard restated loudly even though `baseFor` guarantees it by
    * construction. Call at staging time, before the carved union is
    * built. */
  def familyOffset(spark: SparkSession, sfDir: String, slot: Int,
      site: String, adjust: Long = 0L): Long = {
    require(slot >= 1 && slot <= 8,
      s"[$site] family slot $slot outside the documented 1..8 decade")
    require(adjust >= 0 && adjust < 8,
      s"[$site] batch-residue adjust $adjust outside 0..7")
    val mx = maxDocId(spark, sfDir)
    val b = baseFor(mx)
    require(mx * 10 < b,
      s"[$site] planted base $b lost its 10x headroom over the " +
        s"organic doc_id range (max=$mx at $sfDir) — baseFor broke")
    slot * b + adjust
  }

  /** The DuckDB rendering of the SAME base rule — a scalar subquery
    * over the session's `documents` view, so the oracle recomputes B
    * from the corpus it actually reads. */
  val baseSqlExpr: String =
    "GREATEST(100000, CAST('1' || repeat('0', " +
      "length(CAST((SELECT MAX(doc_id) FROM documents) AS VARCHAR)) + 1) " +
      "AS BIGINT))"

  /** `slot·B (+adjust)` as a DuckDB scalar expression. */
  def offsetSql(slot: Int, adjust: Long = 0L): String =
    if (adjust == 0L) s"($slot * $baseSqlExpr)"
    else s"($slot * $baseSqlExpr + $adjust)"

  private val maxIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Max organic doc_id, computed once per sfDir per JVM (pruned
    * single-column parquet scan — milliseconds, cached thereafter). */
  def maxDocId(spark: SparkSession, sfDir: String): Long =
    maxIdCache.computeIfAbsent(
      new java.io.File(sfDir).getAbsolutePath,
      _ => Tables.documents(spark, sfDir)
        .agg(max(col("doc_id"))).head().getLong(0)).longValue()

  /** Fail loudly if a FIXED offset could collide with (or be
    * confused for) an organic id range — the shared guard for carve
    * sites on id spaces [[familyOffset]] does not govern (callers
    * supply their own max id, e.g. q167's image ids). */
  def assertIdHeadroom(maxId: Long, offset: Long, site: String,
      where: String): Unit =
    require(maxId < offset,
      s"[$site] planted-id offset $offset collides with the organic " +
        s"id range (max=$maxId at $where): range-derived origin " +
        "classification would misreport — re-key the carving")
}
