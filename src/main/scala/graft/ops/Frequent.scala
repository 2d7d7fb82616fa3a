package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact frequent items via Misra-Gries candidate generation — the
  * two-pass pattern that finds every φ-frequent key in a corpus
  * WITHOUT ever shuffling the full key space. Complements q90's
  * count-min sketch: CMS answers point estimates against a fixed-size
  * array, Misra-Gries yields a bounded CANDIDATE SET with a coverage
  * guarantee, and the exact verify pass turns that guarantee into an
  * exact answer.
  *
  * Algorithm (Misra & Gries 1982; the summary-merge coverage argument
  * is Agarwal et al., "Mergeable Summaries", PODS 2012):
  *
  *   1. One pass per partition keeps at most [[MgCounters]] counters:
  *      increment a held token, admit when a slot is free, otherwise
  *      decrement ALL counters (dropping zeros). A token x with
  *      partition count c_p(x) > n_p/(K+1) always survives partition
  *      p's summary.
  *   2. Union of per-partition survivors. If x is in NO summary then
  *      c_p(x) ≤ n_p/(K+1) for every p, so c(x) ≤ N/(K+1): every
  *      token with c(x)·(K+1) > N is guaranteed captured — for ANY
  *      partitioning of the corpus, which is why the guarantee holds
  *      identically on 32 local threads and 1000 executors.
  *   3. Exact verify: re-scan counting ONLY candidate tokens (hash
  *      semi-join against the broadcast candidate set) and keep those
  *      with cnt·(K+1) > N — integer arithmetic, no float threshold.
  *
  * Scale shape: pass 1 shuffles ≤ K rows per partition (the
  * summaries); pass 2's exchange carries only candidate-token partial
  * counts (≤ K·partitions distinct keys) because the broadcast
  * semi-join prunes before the aggregation — at 100 TB the full
  * token vocabulary (billions of keys) never crosses the wire, which
  * is exactly what a plain `GROUP BY token HAVING` would do wrong.
  * The final answer is EXACT, so the DuckDB oracle is the plain
  * HAVING query — approximation lives only in the intermediate.
  */
object Frequent {

  /** Misra-Gries counter budget K: captures every token with
    * frequency above N/(K+1) (~0.39%). 256 string+long counters per
    * task is a few KB of state at any scale. */
  val MgCounters = 256

  /** Per-partition Misra-Gries summaries over an iterator of tokens.
    * Emits the partition's token count under a sentinel null token
    * (so pass 1 also produces N without a second scan), then the
    * surviving candidate tokens. */
  private[graft] def mgSummarize(it: Iterator[String])
      : Iterator[(String, Long)] = {
    val counters = new java.util.HashMap[String, Long](MgCounters * 2)
    var n = 0L
    while (it.hasNext) {
      val t = it.next()
      n += 1
      val held = counters.getOrDefault(t, -1L)
      if (held >= 0L) counters.put(t, held + 1L)
      else if (counters.size < MgCounters) counters.put(t, 1L)
      else {
        // decrement-all: amortized O(1) per input token because each
        // decrement round consumes K+1 prior increments
        val iter = counters.entrySet().iterator()
        while (iter.hasNext) {
          val e = iter.next()
          if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    Iterator.single((null: String, n)) ++
      counters.keySet().iterator().asScala.map(t => (t, 0L))
  }

  /** q163: exact frequent tokens over the document corpus. Output is
    * every token with cnt·(K+1) > N, with its exact count — the
    * answer a full-vocabulary GROUP BY would give, produced without
    * shuffling the vocabulary. */
  def frequentTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .pin() // both passes read the same materialization
    val summaries = toks.as[String]
      .mapPartitions(mgSummarize)
      .toDF("tok", "n_part")
      .pin() // one MG pass feeds both N and the candidates
    // single-row total as a broadcast join, not a driver scalar
    val total = summaries.filter(col("tok").isNull)
      .agg(sum(col("n_part")).as("n_total"))
    val candidates = summaries.filter(col("tok").isNotNull)
      .select(col("tok")).distinct()
    toks.join(broadcast(candidates), Seq("tok")) // prune BEFORE the agg
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .filter(col("cnt") * lit(MgCounters + 1L) > col("n_total"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** DuckDB oracle: the exact definition — frequent items are a plain
    * HAVING over the full vocabulary (affordable at oracle scale). */
  val frequentTermsSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH toks AS (SELECT unnest($tokSql) AS tok FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT tok, COUNT(*) AS cnt FROM toks, tot
      |GROUP BY tok, tot.n HAVING COUNT(*) * ${MgCounters + 1} > tot.n
      |ORDER BY cnt DESC, tok""".stripMargin
  }
}
