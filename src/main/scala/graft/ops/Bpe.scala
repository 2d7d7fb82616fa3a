package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge learning — the tokenizer-training core, distributed:
  * repeatedly find the most frequent adjacent symbol pair over the
  * (word, frequency) vocabulary and fuse it everywhere.
  *
  * Scale shape: the corpus collapses to a WORD-LEVEL vocabulary first
  * (one partial-agg shuffle over tokens; everything after runs per
  * distinct word × its count, which is millions of rows at 100 TB,
  * not trillions of tokens). Each merge round is (a) one explode +
  * partial-agg count keyed on the symbol pair, (b) a 1-row top-1 —
  * the same shape real distributed BPE trainers use. The chosen pair
  * is a literal in the next round's plan (nothing joins against it).
  *
  * Merge semantics: segmentations live as space-joined symbol strings
  * padded with one boundary space, and a round fuses pair (a, b) via
  * `replace(seg, ' a b ', ' ab ')` — single left-to-right
  * non-overlapping scan, IDENTICAL in Spark (Java String.replace) and
  * DuckDB. On a chain like `a a a` this fuses the first pair only and
  * leaves the rest for later rounds (canonical BPE re-counts between
  * merges anyway, so chains resolve over rounds either way; the
  * outcome here is deterministic and engine-portable, which is what
  * the oracle gate needs). Tie-break on equal pair counts is
  * (pair_a, pair_b) ascending in both engines.
  */
object Bpe {

  val Rounds = 3

  /** SPEC-ONLY sequential reference: the strictly-canonical merge
    * loop, re-counting pairs between every single merge — 3 driver
    * actions per merge, so it does NOT scale past toy merge counts
    * and no declared query runs it. It exists so BpeSpec can pin the
    * batched production loop ([[mergeLoopBatched]], which q96/q143/
    * q154 all consume) merge-for-merge against the textbook
    * algorithm. */
  private[graft] def mergeLoopSequential(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, Long, Long)], DataFrame) = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1))), " "),
          lit(" ")))
      .pin()

    var words = vocab
    val roundRows = (1 to Rounds).map { r =>
      val syms = words.withColumn("syms", split(trim(col("seg")), " "))
      val pairs = syms
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - lit(2)),
            i => struct(element_at(col("syms"), i + lit(1)).as("a"),
              element_at(col("syms"), i + lit(2)).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
      val top = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect().head
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      words = Materialize.advance(words, words.withColumn("seg",
        replace(col("seg"), lit(s" $a $b "), lit(s" $a$b "))))
      val tokensAfter = words
        .select(sum(col("freq") * size(split(trim(col("seg")), " "))).as("t"))
        .collect().head.getLong(0)
      (r, s"$a+$b", n, tokensAfter)
    }
    (roundRows, words)
  }

  /** The SCALABLE formulation: batched top-N compatible merges. The
    * driver-paced loop above pays 3 actions per learned merge — fine
    * at [[Rounds]]=3, but a real 30k-merge vocabulary would mean ~90k
    * driver round-trips and as many plan materializations. Batching
    * amortizes: each iteration counts pairs ONCE, takes the top of
    * the ranking, and accepts the longest PREFIX of pairwise
    * SYMBOL-DISJOINT pairs, stopping the batch at the FIRST pair that
    * shares a symbol with an accepted one (skipping past a conflict
    * would let a lower-ranked pair jump the queue: the conflicting
    * pair's count may survive the earlier merge intact, as (o,r)
    * does after e+r on this corpus). Disjoint merges can't change
    * each other's counts, so applying the accepted prefix in one
    * chained-replace pass is order-independent; everything at and
    * beyond the conflict re-ranks in the next batch, AFTER a
    * re-count. Cost: between ceil(M / batch) and M counting passes
    * for M merges, degrading gracefully toward sequential exactly
    * when the ranking is conflict-dense.
    *
    * This is the standard large-scale BPE trade (batch merges between
    * re-counts); it can diverge from strictly-sequential BPE only
    * when a merge creates a NEW pair that out-ranks an already
    * accepted one — rare on natural text and absent on this corpus:
    * BpeSpec pins merge-for-merge equivalence with
    * [[mergeLoopSequential]] at [[Rounds]]=3, and the q96/q154
    * oracles are the sequential CTE chain, so the equivalence is
    * cross-engine-hashed every round.
    *
    * Each returned merge carries the corpus token count AFTER it
    * applies (q96's compression trajectory). Within a batch those
    * counts come from ONE aggregate pass: cumulative-prefix seg
    * expressions are summed side by side, so the trajectory costs one
    * extra action per BATCH, not per merge. */
  private[graft] def mergeLoopBatched(spark: SparkSession, sfDir: String,
      rounds: Int = Rounds, batch: Int = 8)
      : (Seq[(String, String, Long, Long)], DataFrame) = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1))), " "),
          lit(" ")))
      .pin()

    var words = vocab
    val merges =
      scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    var guard = 0
    while (merges.size < rounds && guard < rounds) {
      guard += 1
      val syms = words.withColumn("syms", split(trim(col("seg")), " "))
      val ranked = syms
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - lit(2)),
            i => struct(element_at(col("syms"), i + lit(1)).as("a"),
              element_at(col("syms"), i + lit(2)).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        // headroom: conflicts shrink the accepted prefix, so pull a
        // few times the batch size in the single collect
        .limit(batch * 4)
        .collect()
      val used = scala.collection.mutable.Set[String]()
      val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var open = true
      ranked.iterator
        .takeWhile(_ => open && accepted.size < batch &&
          merges.size + accepted.size < rounds)
        .foreach { row =>
          val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used(a) && !used(b) && !used(a + b)) {
            accepted += ((a, b, n))
            used ++= Seq(a, b, a + b)
          } else open = false // first conflict CLOSES the batch
        }
      if (accepted.isEmpty) guard = rounds // vocabulary fully fused
      else {
        // cumulative-prefix segs: segAfter(i) = seg with merges 1..i
        // applied — the whole batch's token trajectory aggregates in
        // ONE pass over the (checkpointed) vocabulary
        val segAfter = accepted.scanLeft(col("seg")) {
          case (c, (a, b, _)) => replace(c, lit(s" $a $b "), lit(s" $a$b "))
        }.drop(1)
        val statsRow = words.select(segAfter.zipWithIndex.map {
          case (c, i) =>
            sum(col("freq") * size(split(trim(c), " "))).as(s"t$i")
        }.toSeq: _*).collect().head
        words = Materialize.advance(words, words.withColumn("seg", segAfter.last))
        merges ++= accepted.zipWithIndex.map { case ((a, b, n), i) =>
          (a, b, n, statsRow.getLong(i))
        }
      }
    }
    (merges.toSeq, words)
  }

  /** q154: the batched merge table — same first [[Rounds]] merges as
    * q96, learned through the batched formulation (the 100 TB path).
    * The oracle is the SEQUENTIAL CTE chain: a hash match every round
    * certifies batched ≡ sequential on this corpus. */
  def bpeMergesBatched(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = mergeLoopBatched(spark, sfDir)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b, n, _), i) => (i + 1, s"$a+$b", n) }
      .toDF("round", "merge", "pair_count")
      .orderBy(col("round"))
  }

  val bpeMergesBatchedSql: String = {
    val selects = (1 to Rounds).map(i => s"SELECT * FROM r$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${mergeCtesSql(withStats = true)}
      |SELECT round, merge, pair_count FROM (
      |$selects)
      |ORDER BY round""".stripMargin
  }

  /** q96: the first [[Rounds]] BPE merges over the document corpus —
    * per round the fused pair, its count, and the corpus token count
    * after the merge (compression trajectory). Runs the BATCHED loop
    * (the 100 TB formulation); the oracle stays the sequential CTE
    * chain, so every round cross-engine-certifies batched ≡
    * sequential on this corpus. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = mergeLoopBatched(spark, sfDir)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b, n, t), i) => (i + 1, s"$a+$b", n, t) }
      .toDF("round", "merge", "pair_count", "corpus_tokens")
      .orderBy(col("round"))
  }

  /** q143: tokenizer fertility by source — APPLY the learned BPE
    * segmentation to every word occurrence and report, per data
    * source, tokens-per-word (fertility) and chars-per-token. This is
    * the tokenizer-health dashboard a pretraining pipeline keeps per
    * source: a source whose fertility spikes is one the tokenizer
    * represents badly (costly in sequence length) and a candidate for
    * vocabulary retraining or down-weighting in the mixture.
    *
    * Shape: the model is the WORD-level segmented vocabulary (distinct
    * words, not occurrences), joined UNHINTED against per-(source,
    * word) occurrence counts — the q69 lesson: a web-scale vocabulary
    * is corpus-sized, so no broadcast hint; AQE still picks broadcast
    * when the measured size permits. Occurrence counts partial-agg
    * before the join, so token text crosses exactly one shuffle. The
    * segmentation comes from the BATCHED merge loop (the 100 TB
    * path); the sequential reference survives only in BpeSpec. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, words) = mergeLoopBatched(spark, sfDir)
    val model = words.select(col("word"),
      size(split(trim(col("seg")), " ")).as("n_sym"))
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
    // merge: the segmentation model is vocabulary-proportional (one
    // row per distinct corpus word) and rode a stats-blind checkpoint
    // estimate into a static broadcast (PERF.md r11 audit); AQE still
    // promotes it back AFTER measuring when the vocab is small
    perSource.join(model.hint("merge"), Seq("word"))
      .groupBy(col("source")).agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_tokens"),
        sum(col("cnt") * length(col("word"))).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast("double")
          / col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double")
          / col("n_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** The w0 + per-round (p_i, w_i) merge CTE chain, shared by the q96
    * and q143 oracles. `withStats` adds q96's per-round r_i blocks. */
  private def mergeCtesSql(withStats: Boolean): String = {
    val tok = TextOps.tokSql()
    def round(i: Int): String = {
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      val stats = if (withStats)
        s""",
        |r$i AS (
        |  SELECT $i AS round,
        |    (SELECT a FROM p$i) || '+' || (SELECT b FROM p$i) AS merge,
        |    (SELECT n FROM p$i) AS pair_count,
        |    (SELECT CAST(SUM(freq * len(string_split(trim(seg), ' '))) AS BIGINT)
        |     FROM w$i) AS corpus_tokens)""".stripMargin
      else ""
      s"""p$i AS (
        |  SELECT a, b, n FROM (
        |    SELECT u.a AS a, u.b AS b, CAST(SUM(freq) AS BIGINT) AS n
        |    FROM (
        |      SELECT freq,
        |        unnest(list_transform(range(1, len(syms)),
        |          j -> {'a': syms[j], 'b': syms[j + 1]})) AS u
        |      FROM (SELECT freq,
        |              string_split(trim(seg), ' ') AS syms FROM $prev)
        |      WHERE len(syms) >= 2)
        |    GROUP BY u.a, u.b)
        |  ORDER BY n DESC, a, b LIMIT 1),
        |w$i AS (
        |  SELECT word, freq,
        |    replace(seg, ' ' || (SELECT a FROM p$i) || ' ' || (SELECT b FROM p$i) || ' ',
        |            ' ' || (SELECT a FROM p$i) || (SELECT b FROM p$i) || ' ') AS seg
        |  FROM $prev)$stats""".stripMargin
    }
    val rounds = (1 to Rounds).map(round).mkString(",\n")
    s"""w0 AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
      |    ' ' || array_to_string(
      |      list_transform(range(1, length(word) + 1),
      |        i -> substr(word, CAST(i AS INTEGER), 1)), ' ') || ' ' AS seg
      |  FROM (SELECT unnest($tok) AS word FROM documents)
      |  GROUP BY word),
      |$rounds""".stripMargin
  }

  val bpeMergesSql: String = {
    val selects = (1 to Rounds).map(i => s"SELECT * FROM r$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${mergeCtesSql(withStats = true)}
      |SELECT round, merge, pair_count, corpus_tokens FROM (
      |$selects)
      |ORDER BY round""".stripMargin
  }

  val tokenizerFertilitySql: String = {
    val tok = TextOps.tokSql()
    s"""WITH ${mergeCtesSql(withStats = false)},
      |model AS (
      |  SELECT word, len(string_split(trim(seg), ' ')) AS n_sym
      |  FROM w$Rounds),
      |pc AS (
      |  SELECT source, word, COUNT(*) AS cnt
      |  FROM (SELECT source, unnest($tok) AS word FROM documents)
      |  GROUP BY source, word)
      |SELECT source,
      |  CAST(SUM(cnt) AS BIGINT) AS n_words,
      |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens,
      |  CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars,
      |  ROUND(CAST(SUM(cnt * n_sym) AS DOUBLE)
      |    / CAST(SUM(cnt) AS DOUBLE), 6) AS fertility,
      |  ROUND(CAST(SUM(cnt * length(word)) AS DOUBLE)
      |    / CAST(SUM(cnt * n_sym) AS DOUBLE), 6) AS chars_per_token
      |FROM pc JOIN model USING (word)
      |GROUP BY source ORDER BY source""".stripMargin
  }
}
