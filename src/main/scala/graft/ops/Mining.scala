package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-mining operators for the training-data pipeline: web-scale
  * n-gram LM scoring with stupid backoff (Brants et al. 2007, "Large
  * Language Models in Machine Translation" — the score a trillion-token
  * corpus can actually compute, because it needs no normalization
  * pass), anchor-text aggregation over the link graph (the classic
  * web-search relevance signal), PMI collocation mining, and
  * CCNet-style boilerplate-paragraph removal by paragraph-hash
  * document frequency.
  *
  * Scale notes common to all four: every model/statistics table is
  * corpus-derived, so model joins are UNHINTED shuffle joins on the
  * token/hash key (the q69 lesson: never force a corpus-sized
  * broadcast); only provably tiny 1-row stat aggregates are
  * broadcast. Score accumulation is DECIMAL so both engines sum in
  * the same order-independent arithmetic.
  */
object Mining {

  // ---------------------------------------------------------------
  // q111: stupid-backoff trigram LM
  // ---------------------------------------------------------------

  /** Backoff multiplier α from Brants et al. 2007 §4. */
  val Alpha = 0.4

  /** q111: score held-out documents (odd doc_id) against a trigram
    * model counted from the other half of the corpus (even doc_id) —
    * the train/held-out split is what makes the backoff chain
    * actually fire on unseen n-grams.
    *
    * Stupid backoff (no discounting, no normalization):
    *   S(w3|w1w2) = c3/c2(w1w2)            if c3 > 0
    *              = α·c2(w2w3)/c1(w2)      elif c2(w2w3) > 0
    *              = α²·c1(w3)/N            elif c1(w3) > 0
    *              = α²·0.5/N               else (OOV floor)
    *
    * Shape: three model groupBys (partial-agg), then the held-out
    * trigram stream left-joins each model level on its own key —
    * all shuffle joins, no broadcast of anything corpus-sized; the
    * only broadcast is the 1-row token-count aggregate. */
  def stupidBackoff(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .pin() // feeds the model side and the held-out side
    val train = d.filter(col("doc_id") % 2 === 0)
    val held = d.filter(col("doc_id") % 2 === 1)

    val uni = train.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = train.filter(col("n") >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), col("n") - 1),
        slice(col("toks"), lit(2), col("n") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val tri = train.filter(col("n") >= 3)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), col("n") - 2),
        slice(col("toks"), lit(2), col("n") - 2),
        slice(col("toks"), lit(3), col("n") - 2))).as("tg"))
      .select(col("tg.0").as("w1"), col("tg.1").as("w2"), col("tg.2").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val nTok = train.select(explode(col("toks")).as("w"))
      .agg(count(lit(1)).cast("double").as("ntok"))

    val occ = held.filter(col("n") >= 3)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), col("n") - 2),
        slice(col("toks"), lit(2), col("n") - 2),
        slice(col("toks"), lit(3), col("n") - 2))).as("tg"))
      .select(col("doc_id"),
        col("tg.0").as("w1"), col("tg.1").as("w2"), col("tg.2").as("w3"))

    val scored = occ
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c2").as("c2_12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2_23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1_2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1_3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTok))
      .withColumn("s",
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("c2_12").cast("double"))
        .when(col("c2_23").isNotNull,
          lit(Alpha) * col("c2_23").cast("double") / col("c1_2").cast("double"))
        .when(col("c1_3").isNotNull,
          lit(Alpha * Alpha) * col("c1_3").cast("double") / col("ntok"))
        .otherwise(lit(Alpha * Alpha) * lit(0.5) / col("ntok")))
      .withColumn("lp", round(log(col("s")), 9))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c3").isNull, 1L).otherwise(0L)).as("n_backoff"),
        round(sum(col("lp").cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_logprob"))
      .orderBy(col("avg_logprob"), col("doc_id"))
      .limit(10)
  }

  val stupidBackoffSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH d AS (
      |  SELECT doc_id, $tokSql AS toks, len($tokSql) AS n FROM documents),
      |uni AS (
      |  SELECT tok AS w, COUNT(*) AS c1
      |  FROM (SELECT unnest(toks) AS tok FROM d WHERE doc_id % 2 = 0)
      |  GROUP BY 1),
      |bi AS (
      |  SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS c2
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 1)) AS t(i)
      |  WHERE doc_id % 2 = 0 AND n >= 2 GROUP BY 1, 2),
      |tri AS (
      |  SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3, COUNT(*) AS c3
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 2)) AS t(i)
      |  WHERE doc_id % 2 = 0 AND n >= 3 GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT CAST(SUM(n) AS DOUBLE) AS ntok FROM d WHERE doc_id % 2 = 0),
      |occ AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 2)) AS t(i)
      |  WHERE doc_id % 2 = 1 AND n >= 3),
      |scored AS (
      |  SELECT occ.doc_id, tri.c3,
      |    ROUND(LN(CASE
      |      WHEN tri.c3 IS NOT NULL
      |        THEN CAST(tri.c3 AS DOUBLE) / CAST(b12.c2 AS DOUBLE)
      |      WHEN b23.c2 IS NOT NULL
      |        THEN 0.4 * CAST(b23.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
      |      WHEN u3.c1 IS NOT NULL
      |        THEN 0.4 * 0.4 * CAST(u3.c1 AS DOUBLE) / stats.ntok
      |      ELSE 0.4 * 0.4 * 0.5 / stats.ntok END), 9) AS lp
      |  FROM occ
      |  LEFT JOIN tri ON occ.w1 = tri.w1 AND occ.w2 = tri.w2 AND occ.w3 = tri.w3
      |  LEFT JOIN bi b12 ON occ.w1 = b12.w1 AND occ.w2 = b12.w2
      |  LEFT JOIN bi b23 ON occ.w2 = b23.w1 AND occ.w3 = b23.w2
      |  LEFT JOIN uni u2 ON occ.w2 = u2.w
      |  LEFT JOIN uni u3 ON occ.w3 = u3.w
      |  CROSS JOIN stats)
      |SELECT doc_id, COUNT(*) AS n_trigrams,
      |  CAST(SUM(CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
      |  ROUND(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_logprob
      |FROM scored GROUP BY doc_id
      |ORDER BY avg_logprob, doc_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------
  // q112: anchor-text aggregation over the link graph
  // ---------------------------------------------------------------

  /** q112: aggregate anchor text per link target — every lineitem row
    * is one link from page (l_orderkey mod 2000) to page (l_partkey
    * mod 2000) whose anchor text is the linked part's name (the q66
    * PageRank edge derivation, with text attached). For the 10
    * most-linked targets, report the top-3 anchor terms.
    *
    * Shape: one broadcast dim join (part — a true dimension table,
    * broadcastable at any corpus scale), term explode, then a
    * two-level partial aggregation ((dst,term) then dst) and a
    * bounded per-key top-3 window over only the 10 surviving
    * targets. The full (dst,term) count table shuffles once on a
    * composite key whose cardinality is bounded by pages × vocabulary
    * — never by link count. */
  def anchorText(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val links = Tables.lineitem(spark, sfDir)
      .select(pmod(col("l_orderkey"), lit(2000)).as("src"),
        col("l_partkey"),
        pmod(col("l_partkey"), lit(2000)).as("dst"))
      .join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))),
        Seq("l_partkey"))
      .pin() // feeds both the per-target totals and the term counts
    val totals = links.groupBy(col("dst"))
      .agg(count(lit(1)).as("links"))
      .orderBy(col("links").desc, col("dst"))
      .limit(10)
    val termCounts = links
      .join(totals, Seq("dst")) // semi-reduces the explode to 10 targets
      .select(col("dst"), col("links"),
        explode(TextOps.tokens(col("p_name"))).as("term"))
      .groupBy(col("dst"), col("links"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("term"))
    termCounts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("dst"), col("links"), col("rank"), col("term"), col("cnt"))
      .orderBy(col("links").desc, col("dst"), col("rank"))
  }

  val anchorTextSql: String =
    """WITH links AS (
      |  SELECT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst, p_name
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |totals AS (
      |  SELECT dst, COUNT(*) AS links FROM links GROUP BY dst
      |  ORDER BY links DESC, dst LIMIT 10),
      |terms AS (
      |  SELECT links.dst, totals.links,
      |    unnest(list_filter(string_split_regex(lower(p_name), '[^a-z0-9_]+'),
      |      x -> x != '')) AS term
      |  FROM links JOIN totals ON links.dst = totals.dst),
      |counts AS (
      |  SELECT dst, links, term, COUNT(*) AS cnt
      |  FROM terms GROUP BY dst, links, term),
      |ranked AS (
      |  SELECT dst, links, term, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, term) AS rank
      |  FROM counts)
      |SELECT dst, links, rank, term, cnt FROM ranked WHERE rank <= 3
      |ORDER BY links DESC, dst, rank""".stripMargin

  // ---------------------------------------------------------------
  // q113: PMI collocation mining
  // ---------------------------------------------------------------

  /** Minimum bigram count for a collocation candidate (standard PMI
    * hygiene: raw PMI over-rewards hapax pairs). */
  val PmiMinCount = 5

  /** q113: pointwise mutual information over adjacent token pairs —
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p from corpus counts.
    * Top-15 by PMI. Two partial-agg groupBys (unigram, bigram), two
    * unhinted shuffle joins to attach the marginal counts, one
    * broadcast 1-row totals aggregate, TakeOrderedAndProject top-15:
    * nothing in the plan is proportional to corpus size except the
    * scans and the token-keyed shuffles. */
  def pmiCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(TextOps.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .pin() // feeds unigram and bigram counters
    val uni = d.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      .pin() // joined twice (marginals of both slots)
    val bi = d.filter(col("n") >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), col("n") - 1),
        slice(col("toks"), lit(2), col("n") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val totals = d.agg(
      sum(col("n")).cast("double").as("ntok"),
      sum(greatest(col("n") - 1, lit(0))).cast("double").as("nbig"))
    // merge: the unigram checkpoint is vocabulary-proportional and
    // its inherited stats under-report it — the static planner
    // broadcast it into both marginal joins (PERF.md r11 audit)
    bi.filter(col("c2") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("c1").as("c1a"))
        .hint("merge"), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c1").as("c1b"))
        .hint("merge"), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("c2").cast("double") / col("nbig"))
          / ((col("c1a").cast("double") / col("ntok"))
            * (col("c1b").cast("double") / col("ntok")))), 6))
      .select(col("w1"), col("w2"), col("c2").as("cnt"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(15)
  }

  val pmiCollocationsSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH d AS (
      |  SELECT $tokSql AS toks, len($tokSql) AS n FROM documents),
      |uni AS (
      |  SELECT tok AS w, COUNT(*) AS c1
      |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1),
      |bi AS (
      |  SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS c2
      |  FROM d CROSS JOIN LATERAL unnest(generate_series(1, n - 1)) AS t(i)
      |  WHERE n >= 2 GROUP BY 1, 2),
      |totals AS (
      |  SELECT CAST(SUM(n) AS DOUBLE) AS ntok,
      |    CAST(SUM(GREATEST(n - 1, 0)) AS DOUBLE) AS nbig FROM d)
      |SELECT bi.w1, bi.w2, bi.c2 AS cnt,
      |  ROUND(LN((CAST(bi.c2 AS DOUBLE) / nbig)
      |    / ((CAST(ua.c1 AS DOUBLE) / ntok)
      |      * (CAST(ub.c1 AS DOUBLE) / ntok))), 6) AS pmi
      |FROM bi
      |JOIN uni ua ON bi.w1 = ua.w
      |JOIN uni ub ON bi.w2 = ub.w
      |CROSS JOIN totals
      |WHERE bi.c2 >= $PmiMinCount
      |ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 15""".stripMargin
  }

  // ---------------------------------------------------------------
  // q114: CCNet-style boilerplate-paragraph removal
  // ---------------------------------------------------------------

  /** A paragraph appearing in at least this many documents is
    * boilerplate (CCNet removes paragraphs duplicated across the
    * shard; df≥3 is the multi-document threshold). */
  val BoilerDf = 3

  /** q114: paragraph-hash document-frequency boilerplate removal
    * (Wenzek et al. 2020 CCNet §3.1 — dedup at paragraph level
    * removes headers/footers/cookie banners without touching unique
    * prose). Pages are modeled as body text plus a per-source footer
    * paragraph (the banner every page of a site shares); the operator
    * re-discovers the footers from paragraph df alone.
    *
    * Shape: paragraphs hash AT THE SCAN (the shuffle carries 15-hex
    * hashes + doc/source ids, never paragraph text), one df groupBy,
    * one hash-keyed join back, then a per-source partial agg — the
    * CCNet shard pass re-expressed as two shuffles of fixed-width
    * keys. */
  def boilerplateRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit("\n"),
          lit("visit "), col("source"),
          lit(" for more info terms privacy cookies")).as("page"))
    val paras = pages
      .select(col("doc_id"), col("source"),
        explode(split(col("page"), "\n")).as("para"))
      .select(col("doc_id"), col("source"),
        substring(md5(col("para")), 1, 15).as("ph"))
      .pin() // feeds df counting and the join back
    val dfCounts = paras.groupBy(col("ph"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // merge: the paragraph checkpoint is corpus-proportional and was
    // statically broadcast off its stats-blind estimate (PERF.md r11)
    paras.hint("merge").join(dfCounts, Seq("ph"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_paras"),
        sum(when(col("df") >= BoilerDf, 1L).otherwise(0L)).as("n_boiler"),
        round(sum(when(col("df") >= BoilerDf, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("pct_removed"))
      .orderBy(col("source"))
  }

  val boilerplateRemovalSql: String =
    s"""WITH pages AS (
      |  SELECT doc_id, source,
      |    text || chr(10) || 'visit ' || source ||
      |      ' for more info terms privacy cookies' AS page
      |  FROM documents),
      |paras AS (
      |  SELECT doc_id, source, substr(md5(para), 1, 15) AS ph
      |  FROM (SELECT doc_id, source, unnest(string_split(page, chr(10))) AS para
      |        FROM pages)),
      |dfc AS (
      |  SELECT ph, COUNT(DISTINCT doc_id) AS df FROM paras GROUP BY ph)
      |SELECT source, COUNT(DISTINCT paras.doc_id) AS n_docs,
      |  COUNT(*) AS n_paras,
      |  CAST(SUM(CASE WHEN df >= $BoilerDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  ROUND(CAST(SUM(CASE WHEN df >= $BoilerDf THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS pct_removed
      |FROM paras JOIN dfc ON paras.ph = dfc.ph
      |GROUP BY source ORDER BY source""".stripMargin

  /** q149: cross-source contamination matrix — which data sources
    * share content with which? The inter-source cousin of q63's
    * benchmark-contamination check, and a standing curation question
    * (mirror sites, syndication, scraped re-posts inflate a mixture's
    * effective epoch count). Per source-pair: shared distinct 8-gram
    * count and the Jaccard of the two sources' distinct gram sets.
    *
    * Scale shape: grams are hashed and deduped per (source, gram)
    * BEFORE the self-join, so the join input is bounded by distinct
    * grams x sources, the join key is the gram hash (one shuffle),
    * and a gram shared by k sources fans out to C(k,2) <= C(|S|,2)
    * pairs — bounded by the SOURCE count, not the corpus. Per-source
    * gram totals are a |S|-row broadcast. No text crosses a shuffle.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("source"), explode(array_distinct(transform(
        TextOps.shinglesFromTokens(col("toks"), 8),
        s => TextOps.hash60(s)))).as("g"))
      .distinct()
      .pin() // shared by sizes + both join sides
    val sizes = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    // merge: both sides are the (source, gram) checkpoint — the
    // static planner broadcast one side of the self-join (PERF.md r11)
    val inter = grams.as("x").hint("merge")
      .join(grams.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n_grams").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n_grams").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_grams"),
        round(col("n_shared_grams").cast("double") /
          (col("na") + col("nb") - col("n_shared_grams")), 6).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String = {
    val tokSql = TextOps.tokSql()
    val grams8 =
      s"""list_distinct(list_transform(
         |  CASE WHEN len($tokSql) < 8 THEN [COALESCE(array_to_string($tokSql, ' '), '')]
         |       ELSE list_transform(generate_series(1, len($tokSql) - 7),
         |              i -> array_to_string(($tokSql)[i:i+7], ' ')) END,
         |  s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))""".stripMargin
    s"""WITH g AS (
      |  SELECT DISTINCT source, unnest($grams8) AS g
      |  FROM documents),
      |sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |inter AS (
      |  SELECT x.source AS src_a, y.source AS src_b, COUNT(*) AS n_shared_grams
      |  FROM g x JOIN g y ON x.g = y.g AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared_grams,
      |  ROUND(CAST(n_shared_grams AS DOUBLE)
      |    / (sa.n + sb.n - n_shared_grams), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.source = src_a
      |JOIN sizes sb ON sb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin
  }
}
