package graft.ops

import graft.{Corpus, Tables}
import graft.functions.{Embeddings, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's serving layer re-expressed Spark-first:
  * semantic KNN search (E2: `search.py:77-99` + `db.py:72-88`),
  * dashboard analytics (`search.py:20-44`), web-pages listing with
  * FTS + pagination (`search.py:47-74`), snippet extraction
  * (`search.py:102-112`), RAG context assembly (`search.py:127-138`).
  *
  * Scale notes: the KNN queries (semantic, RAG, q57) share one plan
  * shape, [[nearest]]: the embedded query is a literal vector folded
  * into the corpus projection (no join, no broadcast), and each row's
  * text is scored against it by one fused kernel
  * ([[graft.expressions.HashQueryDot]]: tokenize, hash, norm, then a
  * dot over the query's few non-zero slots), so no 1024-d vector is
  * built per row. The corpus streams through that single projection
  * into a TakeOrderedAndProject, and the range filter applies to the k
  * survivors — no shuffle of the corpus, no global sort, one hash pass
  * per row; at 100 TB this is the plan you want (embarrassingly
  * parallel scan, k-sized heap per partition, one k·P-row final
  * merge).
  */
object Search {

  /** The search string every semantic query embeds (words drawn from
    * the corpus vocabulary so the match is real). */
  val QueryText = "red widget bolt"

  /** The 5 nearest rows of `rows` to the embedded `query` string,
    * with their `distance` column.
    *
    * The query is featurized at model width and normalized-then-
    * truncated to reference width (quirk Q1) — the "embed the query
    * string" step that is an Ollama call in the reference. That
    * expression is constant, so Catalyst folds it into a literal vector
    * inside the corpus projection. Each row scores the reference's
    * negative-inner-product distance (quirk Q2) between the stored
    * embedding of its `text` and the query, through the fused
    * [[graft.functions.Embeddings.queryDot]] (bit-identical to
    * `vec_dot` over the stored vector), then maps it through `score`.
    * The top 5 are taken by
    * `(distance asc NULLS LAST, id)`, and only then does the optional
    * `distance <= maxDistance` range filter apply. That is the same
    * answer as filtering first: the rows that pass are a prefix of the
    * order, since NULL and NaN sort after every number and fail the
    * filter (NearestSpec checks this algebra). Filtering after the
    * limit leaves Catalyst no filter to push below the projection, so
    * each row's text is hashed once. */
  private def nearest(rows: DataFrame, text: Column, query: String,
      id: String, maxDistance: Option[Double],
      score: Column => Column = identity): DataFrame = {
    val q = Embeddings.embedStored(lit(query))
    val top = rows.withColumn("distance", score(-Embeddings.queryDot(text, q)))
      .orderBy(col("distance").asc_nulls_last, col(id))
      .limit(5)
    maxDistance.fold(top)(t => top.filter(col("distance") <= t))
  }

  private[ops] val queryVectorSql: String =
    Embeddings.featurizeCtes(s"(SELECT 0 AS qid, '$QueryText' AS qt)",
      "qid", "qt", dims = Embeddings.ModelDims, prefix = "q") + ",\n" +
      s"qv AS (SELECT v[1:${Embeddings.RefDims}] AS q_emb FROM qfeat)"

  /** Semantic search (E2) at reference dimensionality: featurize the
    * query string and score each page's content ([[Corpus.webPages]])
    * against it with the reference's negative-inner-product distance
    * (quirk Q2), range-filter at 0.05, top-5 ascending. No stored
    * vector is read: the fused kernel hashes the content and scores
    * it in one codegen'd scan, bit-identical to the dot over the
    * page's 1024-d embedding that the oracle computes, with a
    * per-partition top-k heap and no corpus shuffle ([[nearest]]).
    */
  def semanticSearch(spark: SparkSession, sfDir: String): DataFrame =
    nearest(Corpus.webPages(spark, sfDir), col("content"),
      QueryText, "id", Some(0.05))
      .select(col("id"), col("url"), round(col("distance"), 6).as("distance"))

  val semanticSearchSql: String =
    s"""WITH ${Corpus.webPagesEmbCte},
      |$queryVectorSql
      |SELECT id, url, ROUND(d_raw, 6) AS distance FROM (
      |  SELECT id, url, distance AS d_raw FROM (
      |    SELECT w.id, w.url,
      |      -list_dot_product(w.embedding, q.q_emb) AS distance
      |    FROM wp_emb w CROSS JOIN qv q)
      |  WHERE distance <= 0.05
      |  ORDER BY distance, id
      |  LIMIT 5)
      |ORDER BY d_raw, id""".stripMargin

  /** Semantic search at REFERENCE dimensionality (E2 at 1024-d):
    * featurize document text at [[Embeddings.ModelDims]] (the
    * featurizer output is unit-norm, i.e. already L2-normalized),
    * truncate to [[Embeddings.RefDims]] (quirk Q1 order — the stored
    * vectors are not unit norm), same for the query literal, then the
    * negative-inner-product range + top-k chain. The corpus side is a
    * single codegen'd scan that scores each document's text against
    * the literal query vector with the fused kernel ([[nearest]]). */
  def knn1024(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    nearest(docs, col("text"), "fast merge window", "doc_id", Some(0.05))
      .select(col("doc_id"), round(col("distance"), 6).as("distance"))
  }

  val knn1024Sql: String = {
    val docCtes = Embeddings.featurizeCtes(
      "(SELECT doc_id, text FROM documents WHERE doc_id < 100)",
      "doc_id", "text", dims = 1280)
    val qCtes = Embeddings.featurizeCtes(
      "(SELECT 0 AS qid, 'fast merge window' AS qt)",
      "qid", "qt", dims = 1280, prefix = "q")
    s"""WITH $docCtes,
      |$qCtes,
      |d AS (SELECT doc_id, v[1:1024] AS v FROM feat),
      |q AS (SELECT v[1:1024] AS qv FROM qfeat),
      |scored AS (
      |  SELECT doc_id, -list_dot_product(d.v, q.qv) AS distance
      |  FROM d CROSS JOIN q)
      |SELECT doc_id, ROUND(d_raw, 6) AS distance FROM (
      |  SELECT doc_id, distance AS d_raw FROM scored
      |  WHERE distance <= 0.05
      |  ORDER BY distance, doc_id
      |  LIMIT 5)
      |ORDER BY d_raw, doc_id""".stripMargin
  }

  /** Dashboard analytics (A1-A3): the reference runs four separate
    * queries over one connection; here it's one pass per table and a
    * 1×1 cross join — two tiny aggregates, no wide shuffle. */
  def dashboard(spark: SparkSession, sfDir: String): DataFrame = {
    val wp = Corpus.webPages(spark, sfDir)
    val jobs = Corpus.jobs(spark, sfDir)
    val wpAgg = wp.agg(
      count(lit(1)).as("total_urls"),
      countDistinct(col("domain")).as("total_domains"))
    val jobAgg = jobs.agg(
      count(when(col("status") === "running", 1)).as("running_crawlers"),
      count(when(col("status") === "completed", 1)).as("jobs_completed"))
    wpAgg.crossJoin(jobAgg)
  }

  val dashboardSql: String =
    s"""WITH ${Corpus.webPagesCte}, ${Corpus.jobsCte}
      |SELECT
      |  (SELECT COUNT(*) FROM web_pages) AS total_urls,
      |  (SELECT COUNT(DISTINCT domain) FROM web_pages) AS total_domains,
      |  (SELECT COUNT(*) FROM jobs WHERE status = 'running') AS running_crawlers,
      |  (SELECT COUNT(*) FROM jobs WHERE status = 'completed') AS jobs_completed""".stripMargin

  /** Columns a caller may sort the listing by — everything on the
    * web_pages schema that has a total-orderable type. The reference
    * interpolates the caller's string raw (quirk Q6, `search.py:68`)
    * and its API default names a column that doesn't exist
    * (`main.py:96`); ours validates against the schema and falls back
    * to the frontend's actual choice, `last_crawled`. */
  private val sortableCols =
    Set("id", "url", "domain", "title", "last_crawled", "file_type",
      "embedding_type", "meta_description")

  /** Resolve a caller-chosen sort column (O2 quirk Q6): unknown or
    * null → `last_crawled`. */
  def resolveSortColumn(sortBy: String): String =
    if (sortBy != null && sortableCols(sortBy)) sortBy else "last_crawled"

  /** Parameterized web-pages listing (E3): FTS predicate over the
    * null-strict `title || domain || url` concat (quirk Q5 — NULL
    * title hides the row), caller-chosen sort column (validated, id
    * tiebreak), LIMIT/OFFSET page, plus the listing total as a
    * separate aggregate (the reference also runs a separate COUNT
    * query, `search.py:65-66`).
    *
    * Scale shape: the predicate is one fused byte scan per row
    * ([[graft.expressions.FtsMatch]]: no token array, stops at the
    * first hit); the page is TakeOrderedAndProject with offset —
    * per-partition (offset+limit)-row heaps, no single-partition
    * global window; the total is a partial-agg count; the two meet in
    * a 1-row broadcast cross join. The page and the total each scan
    * the predicate: a one-pass `count(*) over ()` window would move
    * every match into one task, the shape this note rules out.
    * `stemmed` matches through [[TextOps.ftsMatchStemmed]] instead. */
  def listingPage(spark: SparkSession, sfDir: String, query: String,
      sortBy: String = "last_crawled", asc: Boolean = false,
      offset: Int = 0, limit: Int = 10,
      stemmed: Boolean = false): DataFrame = {
    val wp = Corpus.webPages(spark, sfDir)
    val hay = concat(col("title"), lit(" "), col("domain"), lit(" "),
      col("url"))
    val matches = if (stemmed) TextOps.ftsMatchStemmed _ else TextOps.ftsMatch _
    val filtered = wp.filter(matches(hay, lit(query)) === true)
    val sortCol = col(resolveSortColumn(sortBy))
    val page = filtered
      .orderBy(if (asc) sortCol.asc else sortCol.desc, col("id"))
      .offset(offset).limit(limit)
      .select(col("id"), col("url"), col("domain"), col("title"),
        unix_timestamp(col("last_crawled")).as("crawled_s"))
    val total = filtered.agg(count(lit(1)).as("total"))
    page.crossJoin(broadcast(total))
      .select(col("total"), col("id"), col("url"), col("domain"),
        col("title"), col("crawled_s"))
  }

  /** The declared listing query: page 2 (offset 10 / limit 10) of the
    * 'widget' search, default sort. */
  def listing(spark: SparkSession, sfDir: String): DataFrame =
    listingPage(spark, sfDir, "widget", sortBy = "last_crawled",
      asc = false, offset = 10, limit = 10)

  /** The oracle's rendering of [[listingPage]]'s haystack. */
  private val listingHaySql = "title || ' ' || domain || ' ' || url"

  val listingSql: String =
    s"""WITH ${Corpus.webPagesCte},
      |filtered AS (
      |  SELECT * FROM web_pages
      |  WHERE len(list_intersect(
      |    ${TextOps.tokSql(listingHaySql)},
      |    ['widget'])) > 0)
      |SELECT (SELECT COUNT(*) FROM filtered) AS total,
      |  id, url, domain, title, CAST(epoch(last_crawled) AS BIGINT) AS crawled_s
      |FROM filtered
      |ORDER BY last_crawled DESC, id
      |LIMIT 10 OFFSET 10""".stripMargin

  /** q135: STEMMED listing (the F2 variant matching the reference's
    * Postgres `to_tsquery('english', …)` semantics, `search.py:61`) —
    * identical listing shape to q9 but both haystack and query tokens
    * pass through [[graft.functions.TextOps.stem]] before the overlap
    * test, so the inflected query "widgets gearing" normalizes to
    * (widget, gear) and retrieves the titles the literal tokens miss
    * entirely — the query-side normalization Postgres to_tsquery
    * performs. First page, default recency sort.
    *
    * Scale shape: same as q9 — a scan-local predicate (the fused
    * [[graft.expressions.FtsMatch]] scan, which stems each haystack
    * token with Porter2 and builds no token array),
    * TakeOrderedAndProject page, partial-agg total, 1-row broadcast
    * cross join. Stemming adds zero exchanges. */
  def listingStemmed(spark: SparkSession, sfDir: String): DataFrame =
    listingPage(spark, sfDir, "widgets gearing", stemmed = true)

  val listingStemmedSql: String = {
    val st = TextOps.stemSql("t")
    s"""WITH ${Corpus.webPagesCte},
      |filtered AS (
      |  SELECT * FROM web_pages
      |  WHERE len(list_intersect(
      |    list_transform(
      |      ${TextOps.tokSql(listingHaySql)},
      |      t -> $st),
      |    list_transform(['widgets', 'gearing'], t -> $st))) > 0)
      |SELECT (SELECT COUNT(*) FROM filtered) AS total,
      |  id, url, domain, title, CAST(epoch(last_crawled) AS BIGINT) AS crawled_s
      |FROM filtered
      |ORDER BY last_crawled DESC, id
      |LIMIT 10""".stripMargin
  }

  /** Snippet search (P11 + F2) over the documents table: filter docs
    * containing any query token, emit the ±100-char window around the
    * first hit, top-10 by doc_id. */
  def snippetSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val query = "merge window"
    docs.filter(TextOps.ftsMatch(col("text"), lit(query)) === true)
      .select(col("doc_id"),
        TextOps.snippet(col("text"), query).as("snippet"))
      .orderBy(col("doc_id"))
      .limit(10)
  }

  val snippetSearchSql: String =
    s"""WITH toks AS (SELECT ['merge', 'window'] AS qt)
      |SELECT doc_id,
      |  CASE WHEN pos > 0 THEN '... ' || substr(text, GREATEST(pos - 100, 1), 200) || ' ...'
      |       ELSE substr(text, 1, 200) || '...' END AS snippet
      |FROM (
      |  SELECT doc_id, text,
      |    CASE WHEN instr(lower(text), 'merge') > 0 THEN instr(lower(text), 'merge')
      |         ELSE COALESCE(instr(lower(text), 'window'), 0) END AS pos
      |  FROM documents, toks
      |  WHERE len(list_intersect(
      |    ${TextOps.tokSql()},
      |    qt)) > 0)
      |ORDER BY doc_id
      |LIMIT 10""".stripMargin

  /** RAG context assembly (P12): top-5 semantic hits formatted
    * "URL: {url}\nContent: {content}" and joined with blank lines —
    * one ordered string aggregation. The hits rank by the rounded
    * distance, as the oracle does. */
  def ragContext(spark: SparkSession, sfDir: String): DataFrame = {
    val top = nearest(Corpus.webPages(spark, sfDir),
      col("content"), QueryText, "id", None, round(_, 6))
      .select(col("id"), col("distance"),
        concat(lit("URL: "), col("url"), lit("\nContent: "), col("content"))
          .as("chunk"))
    top.agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("distance"), col("id"),
            col("chunk")))),
          x => x.getField("chunk")),
        "\n\n").as("context"))
  }

  val ragContextSql: String =
    s"""WITH ${Corpus.webPagesEmbCte},
      |$queryVectorSql,
      |top5 AS (
      |  SELECT id, distance, 'URL: ' || url || chr(10) || 'Content: ' || content AS chunk
      |  FROM (
      |    SELECT w.id, w.url, w.content,
      |      ROUND(-list_dot_product(w.embedding, q.q_emb), 6) AS distance
      |    FROM wp_emb w CROSS JOIN qv q)
      |  ORDER BY distance, id
      |  LIMIT 5)
      |SELECT string_agg(chunk, chr(10) || chr(10) ORDER BY distance, id) AS context
      |FROM top5""".stripMargin
}
