package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text relevance ranking: BM25 (k1=1.2, b=0.75) over the
  * documents table — the scoring layer the reference's tsvector
  * matching lacks (its FTS is boolean, `search.py:60-63`).
  *
  * Shape: one scan computes per-doc term frequencies for the query
  * terms (explode over a 3-literal array, not over the corpus
  * vocabulary); document frequencies and corpus stats are tiny
  * aggregates broadcast back; the final score is a per-doc sum and a
  * top-k heap. No shuffle ever carries token arrays — at 100 TB the
  * heavy side streams through scan → project → partial agg.
  *
  * Determinism: idf and each term contribution are rounded to 9
  * decimals (ln differs across libm implementations in the last ulp),
  * per-doc sums accumulate in DECIMAL, avgdl is fixed to 6 decimals —
  * both engines compute bit-identical scores.
  */
object Ranking {

  val QueryTerms: Seq[String] = Seq("merge", "window", "fast")
  val K1 = 1.2
  val B = 0.75

  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      round(sum(col("dl").cast("decimal(28,6)")).cast("double")
        / count(lit(1)), 6).as("avgdl"))
    val terms = array(QueryTerms.map(lit): _*)
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(transform(terms, t => struct(t.as("term"),
          size(filter(col("toks"), x => x === t)).cast("double").as("tf"))))
          .as("t"))
      .select(col("doc_id"), col("dl"), col("t.term"), col("t.tf"))
      .filter(col("tf") > 0)
    val df_ = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val contrib = tf
      .join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 9))
      .withColumn("c", round(
        col("idf") * (col("tf") * lit(K1 + 1.0))
          / (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))), 9))
    contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 6)
        .as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Unigram log-probability scoring — the deterministic stand-in for
    * KenLM-style perplexity filtering: train add-1-smoothed unigram
    * probabilities on the corpus itself, score each document by its
    * mean token log-probability, surface the most "surprising"
    * (lowest mean logprob) documents. Shape: one explode → one join
    * to the (token, count) model → per-doc partial-agg mean. The
    * model is CORPUS-VOCABULARY-sized — billions of distinct tokens
    * at web scale (typos, urls, numerals) — so the join deliberately
    * carries no broadcast hint: a shuffle join on `tok` is the
    * scale-correct shape, and AQE still converts it to broadcast at
    * runtime when the measured vocab happens to be small.
    * Determinism: per-token ln rounded to 9, per-doc sums in DECIMAL. */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame =
    unigramLogprobOf(Tables.documents(spark, sfDir))

  /** Core scoring over any (doc_id, text) relation. */
  def unigramLogprobOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val stats = vocab.agg(
      sum(col("cnt")).cast("double").as("total"),
      count(lit(1)).cast("double").as("vsize"))
    val scored = toks.join(vocab, Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("lp", round(
        log((col("cnt").cast("double") + 1.0)
          / (col("total") + col("vsize"))), 9))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_logprob"))
      .orderBy(col("avg_logprob"), col("doc_id"))
      .limit(10)
  }

  val unigramLogprobSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH toks AS (
      |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
      |vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |stats AS (
      |  SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
      |    CAST(COUNT(*) AS DOUBLE) AS vsize
      |  FROM vocab),
      |scored AS (
      |  SELECT t.doc_id,
      |    ROUND(ln((CAST(v.cnt AS DOUBLE) + 1.0) / (s.total + s.vsize)), 9) AS lp
      |  FROM toks t JOIN vocab v USING (tok) CROSS JOIN stats s)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      |FROM scored
      |GROUP BY doc_id
      |ORDER BY avg_logprob, doc_id
      |LIMIT 10""".stripMargin
  }

  /** Interpolation-free add-1 bigram LM (q82): the next step up from
    * [[unigramLogprob]] toward KenLM-style perplexity filtering.
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V) with c(w1) the corpus
    * unigram count and V the vocabulary size; documents score by mean
    * bigram log-probability and the most surprising surface first.
    *
    * Scale shape: both model tables are corpus-vocabulary-sized
    * (V and V² keys), so neither join carries a broadcast hint — the
    * occurrence stream shuffles on (w1, w2) then w1, the same
    * scale-correct shape as q69; AQE may still broadcast small
    * measured sides at runtime. Determinism: ln rounded to 9, per-doc
    * sums in DECIMAL. */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    // the tokenized docs feed three consumers (occurrences, unigram
    // model, vocab stats) and the occurrence stream feeds two (bigram
    // model + scoring) — materialize each once (pin, not
    // cache: the returned plan is lazy, round-2 lesson)
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .pin()
    val occ = d.filter(col("n") >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), col("n") - 1),
          slice(col("toks"), lit(2), col("n") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .pin()
    val uni = d.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bi = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val vstats = uni.agg(count(lit(1)).cast("double").as("vsize"))
    val scored = occ
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vstats))
      .withColumn("lp", round(
        log((col("c2").cast("double") + 1.0)
          / (col("c1").cast("double") + col("vsize"))), 9))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_logprob"))
      .orderBy(col("avg_logprob"), col("doc_id"))
      .limit(10)
  }

  val bigramLogprobSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH d AS (
      |  SELECT doc_id, $tokSql AS toks, len($tokSql) AS n FROM documents),
      |occ AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 1)) AS t(i)
      |  WHERE n >= 2),
      |uni AS (
      |  SELECT w1, COUNT(*) AS c1
      |  FROM (SELECT unnest(toks) AS w1 FROM d) GROUP BY w1),
      |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM occ GROUP BY w1, w2),
      |v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vsize FROM uni),
      |scored AS (
      |  SELECT o.doc_id,
      |    ROUND(ln((CAST(b.c2 AS DOUBLE) + 1.0)
      |      / (CAST(u.c1 AS DOUBLE) + v.vsize)), 9) AS lp
      |  FROM occ o JOIN bi b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      |FROM scored GROUP BY doc_id
      |ORDER BY avg_logprob, doc_id LIMIT 10""".stripMargin
  }

  /** Interpolated Kneser-Ney bigram LM (q180) — the published
    * smoothing standard (Kneser & Ney 1995; Chen & Goodman 1998's
    * empirical winner), closing the LM ladder q69 (add-1 unigram) →
    * q82 (add-1 bigram) → q111 (stupid backoff) with the model real
    * perplexity filters actually use. The lower-order distribution is
    * the CONTINUATION probability (how many distinct contexts a word
    * follows, not how often it occurs) — the property that stops
    * "francisco" stealing mass from novel contexts:
    *
    *   P(w2|w1) = max(c(w1w2)−D, 0)/c(w1)
    *            + (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··)
    *
    * with D = 0.75 and c(w1) = Σ_w2 c(w1w2), so each context's mass
    * sums to one. Every statistic is an integer count off the bigram
    * table; the scoring expression is built with IDENTICAL
    * parenthesization in both engines, ln rounds to 9 (q69 libm
    * discipline), per-doc sums accumulate in DECIMAL.
    *
    * Scale shape: q82's — the occurrence stream shuffles on (w1,w2)
    * then w1/w2 for the three count tables (vocabulary-sized, no
    * broadcast hints; AQE may broadcast measured-small sides), the
    * type total rides a 1-row broadcast. */
  def knesserNey(spark: SparkSession, sfDir: String): DataFrame = {
    val D = 0.75
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .pin()
    val occ = d.filter(col("n") >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("toks"), lit(1), col("n") - 1),
          slice(col("toks"), lit(2), col("n") - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .pin()
    val bi = occ.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")).pin()
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p_fwd"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1p_bwd"))
    val types = bi.agg(count(lit(1)).cast("double").as("nbb"))
    // merge on the bigram-model join: bi is a bigram-type-count
    // checkpoint (corpus-scale relation) whose stats-blind estimate
    // made the static planner broadcast it (PERF.md r11 audit); ctx/
    // cont feed through measured shuffles and stay AQE-adaptive
    val scored = occ
      .join(bi.hint("merge"), Seq("w1", "w2"))
      .join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("lp", round(log(
        (greatest(col("c2").cast("double") - lit(D), lit(0.0))
          + lit(D) * col("n1p_fwd").cast("double")
            * (col("n1p_bwd").cast("double") / col("nbb")))
          / col("c1").cast("double")), 9))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_logprob"))
      .orderBy(col("avg_logprob"), col("doc_id"))
      .limit(15)
  }

  val knesserNeySql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH d AS (
      |  SELECT doc_id, $tokSql AS toks, len($tokSql) AS n FROM documents),
      |occ AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 1)) AS t(i)
      |  WHERE n >= 2),
      |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM occ GROUP BY w1, w2),
      |ctx AS (
      |  SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p_fwd FROM bi GROUP BY w1),
      |cont AS (SELECT w2, COUNT(*) AS n1p_bwd FROM bi GROUP BY w2),
      |types AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbb FROM bi),
      |scored AS (
      |  SELECT o.doc_id,
      |    ROUND(ln((GREATEST(CAST(b.c2 AS DOUBLE) - 0.75, 0.0)
      |      + 0.75 * CAST(x.n1p_fwd AS DOUBLE)
      |        * (CAST(c.n1p_bwd AS DOUBLE) / t.nbb))
      |      / CAST(x.c1 AS DOUBLE)), 9) AS lp
      |  FROM occ o JOIN bi b USING (w1, w2) JOIN ctx x USING (w1)
      |    JOIN cont c USING (w2) CROSS JOIN types t)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_logprob
      |FROM scored GROUP BY doc_id
      |ORDER BY avg_logprob, doc_id LIMIT 15""".stripMargin
  }

  /** TF-IDF cosine retrieval (q83): ltc weighting — w(d,t) =
    * (1 + ln tf) · ln(N/df), document norms over the FULL term
    * vector, query terms at tf=1 — the classical vector-space
    * counterpart of [[bm25]] (Salton & Buckley; the SMART ltc
    * scheme).
    *
    * Scale shape: the (doc, term) stream joins the vocabulary-sized
    * df table WITHOUT a broadcast hint (same reasoning as q69 — df
    * has one row per distinct corpus token); only the 3-term query
    * side and the scalar stats broadcast. Norms are per-doc partial
    * aggs. Determinism: every transcendental (ln) rounds to 9 before
    * use, sums accumulate in DECIMAL, final scores round to 6. */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    // (doc, term, tf) feeds the weight table, the df model, and the
    // final scoring join; df feeds both document weights and the
    // query side — materialize each once so the tokenize scan and
    // the (doc, term) aggregate run exactly once
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val dt = docs.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .pin()
    // n_docs counts ALL documents (matching the oracle), not just
    // those with tokens; Catalyst prunes the tokenize for a bare count
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfT = dt.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .pin()
    // merge: dfT is the vocabulary-sized df checkpoint, statically
    // broadcast off its stats-blind estimate (PERF.md r11 audit)
    val w = dt.join(dfT.hint("merge"), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("w", round(
        (lit(1.0) + round(log(col("tf")), 9))
          * round(log(col("n_docs") / col("df")), 9), 9))
    val norms = w.groupBy(col("doc_id"))
      .agg(round(sqrt(
        sum((col("w") * col("w")).cast("decimal(28,12)")).cast("double")), 9)
        .as("dnorm"))
    val qw = dfT.filter(col("term").isin(QueryTerms: _*))
      .crossJoin(broadcast(stats))
      .withColumn("wq", round(log(col("n_docs") / col("df")), 9))
    val qnorm = qw.agg(round(sqrt(
      sum((col("wq") * col("wq")).cast("decimal(28,12)")).cast("double")), 9)
      .as("qnorm"))
    w.join(broadcast(qw.select(col("term"), col("wq"))), Seq("term"))
      .join(norms, Seq("doc_id"))
      .crossJoin(broadcast(qnorm))
      .groupBy(col("doc_id"), col("dnorm"), col("qnorm"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum((col("w") * col("wq")).cast("decimal(28,12)")).cast("double")
          .as("dot"))
      .select(col("doc_id"), col("n_terms_hit"),
        round(col("dot") / (col("dnorm") * col("qnorm")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(10)
  }

  val tfidfSql: String = {
    val tokSql = TextOps.tokSql()
    val termsSql = QueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH docs AS (
      |  SELECT doc_id, $tokSql AS toks FROM documents),
      |dt AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      |  GROUP BY doc_id, term),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM docs),
      |dfT AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM dt GROUP BY term),
      |w AS (
      |  SELECT dt.doc_id, dt.term,
      |    ROUND((1.0 + ROUND(ln(dt.tf), 9)) * ROUND(ln(n_docs / dfT.df), 9), 9) AS w
      |  FROM dt JOIN dfT USING (term) CROSS JOIN stats),
      |norms AS (
      |  SELECT doc_id,
      |    ROUND(sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)), 9) AS dnorm
      |  FROM w GROUP BY doc_id),
      |qw AS (
      |  SELECT term, ROUND(ln(n_docs / df), 9) AS wq
      |  FROM dfT CROSS JOIN stats WHERE term IN $termsSql),
      |qn AS (
      |  SELECT ROUND(sqrt(CAST(SUM(CAST(wq * wq AS DECIMAL(28,12))) AS DOUBLE)), 9) AS qnorm
      |  FROM qw)
      |SELECT w.doc_id, COUNT(*) AS n_terms_hit,
      |  ROUND(CAST(SUM(CAST(w.w * qw.wq AS DECIMAL(28,12))) AS DOUBLE)
      |    / (ANY_VALUE(norms.dnorm) * ANY_VALUE(qn.qnorm)), 6) AS cosine
      |FROM w JOIN qw USING (term) JOIN norms USING (doc_id) CROSS JOIN qn
      |GROUP BY w.doc_id
      |ORDER BY cosine DESC, doc_id LIMIT 10""".stripMargin
  }

  val bm25Sql: String = {
    val tokSql = TextOps.tokSql()
    val termsSql = QueryTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH docs AS (
      |  SELECT doc_id, $tokSql AS toks,
      |    CAST(len($tokSql) AS DOUBLE) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    ROUND(CAST(SUM(CAST(dl AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avgdl
      |  FROM docs),
      |tf AS (
      |  SELECT doc_id, dl, term,
      |    CAST(len(list_filter(toks, x -> x = term)) AS DOUBLE) AS tf
      |  FROM docs CROSS JOIN unnest($termsSql) AS t(term)
      |  WHERE len(list_filter(toks, x -> x = term)) > 0),
      |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    ROUND(ROUND(ln((n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0), 9)
      |      * (tf.tf * ${K1 + 1.0})
      |      / (tf.tf + $K1 * (1.0 - $B + $B * tf.dl / avgdl)), 9) AS c
      |  FROM tf JOIN df USING (term) CROSS JOIN stats)
      |SELECT doc_id,
      |  ROUND(CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6) AS score,
      |  COUNT(*) AS n_terms_hit
      |FROM contrib
      |GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 10""".stripMargin
  }

  // ---- q117: reciprocal-rank fusion --------------------------------

  /** RRF smoothing constant (Cormack et al. 2009's k=60 — the value
    * every production hybrid-search stack ships with). */
  val RrfC = 60

  /** q117: reciprocal-rank fusion of the BM25 (q65) and TF-IDF-cosine
    * (q83) top-10 lists for the shared query — the hybrid-search
    * merge step (lexical ∪ semantic) of a modern retrieval stack:
    * RRF(d) = Σ_lists 1/(C + rank_list(d)), documents missing from a
    * list contribute nothing.
    *
    * Shape: both input rankings end in bounded top-10 lists
    * (TakeOrderedAndProject on their own side), so the fusion is a
    * full-outer join of two ≤10-row relations plus a rank window over
    * rows that number in the dozens regardless of corpus size — all
    * the scale weight stays inside the two rankers. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the single-partition windows below rank ≤10-row relations —
    // bounded by construction, not by data volume
    val bmRank = Window.orderBy(col("score").desc, col("doc_id"))
    val tfRank = Window.orderBy(col("cosine").desc, col("doc_id"))
    // materialize each ranking before fusing: both rankers scan and
    // aggregate the same tokenized corpus, and a composed plan
    // re-inlines those stages per join side instead of reusing them.
    // The two ranker chains are independent, so they materialize on
    // concurrent driver threads (r15; guide §2.6 — values are
    // scheduling-independent, only the interleaving changes).
    val Seq(bm, tf) = Par.run(
      () => bm25(spark, sfDir)
        .withColumn("rank_bm25", row_number().over(bmRank))
        .select(col("doc_id"), col("rank_bm25")).pin(),
      () => tfidf(spark, sfDir)
        .withColumn("rank_tfidf", row_number().over(tfRank))
        .select(col("doc_id"), col("rank_tfidf")).pin())
    bm.join(tf, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_bm25")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_tfidf")),
            lit(0.0)), 9))
      .select(col("doc_id"), col("rank_bm25").cast("long").as("rank_bm25"),
        col("rank_tfidf").cast("long").as("rank_tfidf"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  val rrfFusionSql: String =
    s"""WITH bm AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_bm25
      |  FROM ($bm25Sql)),
      |tf AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rank_tfidf
      |  FROM ($tfidfSql))
      |SELECT COALESCE(bm.doc_id, tf.doc_id) AS doc_id,
      |  bm.rank_bm25, tf.rank_tfidf,
      |  ROUND(COALESCE(1.0 / ($RrfC + bm.rank_bm25), 0.0)
      |    + COALESCE(1.0 / ($RrfC + tf.rank_tfidf), 0.0), 9) AS rrf
      |FROM bm FULL OUTER JOIN tf ON bm.doc_id = tf.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
}
