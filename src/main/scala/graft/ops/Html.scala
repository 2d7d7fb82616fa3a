package graft.ops

import graft.{Corpus, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Content-type routing + HTML field extraction (S2 + P1-P3): the
  * reference's spider parses title / meta-description / body text out
  * of fetched HTML via XPath (`dynamic_spider.py:29-77`) and routes
  * non-HTML responses to PDF/image handlers (`file_handler.py`).
  *
  * Here a deterministic HTML document is synthesized per corpus row
  * (so the oracle can synthesize the identical bytes), then parsed
  * back with codegen'd regexp expressions — title, meta content,
  * script/style-stripped whitespace-normalized body text — and routed
  * by content type into the three per-type pipelines, unioned back.
  * One scan, no UDF, no shuffle.
  */
object Html {

  /** Deterministic HTML synthesis (stands in for the HTTP fetch):
    * one `name=` meta always, a second `name=` meta on the rows whose
    * corpus meta_tags carry it (id%3≠0, mirroring `Corpus.webPages`),
    * and a `property=` meta on every row — so the P2 extraction
    * exercises both attribute forms the reference reads
    * (`dynamic_spider.py:54-58`). */
  private def htmlOf: Column =
    concat(
      lit("<html><head><title>"), coalesce(col("title"), lit("")),
      lit("</title><meta name=\"description\" content=\""),
      col("meta_description"), lit("\">"),
      when(pmod(col("id"), lit(3)) =!= 0,
        concat(lit("<meta name=\"keywords\" content=\""), col("domain"),
          lit("\">"))).otherwise(lit("")),
      lit("<meta property=\"og:site_name\" content=\""), col("domain"),
      lit("\"></head><body><p>"), col("content"),
      lit("</p><script>var x = 1;</script></body></html>"))

  private val htmlOfSql =
    """'<html><head><title>' || COALESCE(title, '') ||
      |      '</title><meta name="description" content="' || meta_description ||
      |      '">' ||
      |      CASE WHEN id % 3 <> 0
      |           THEN '<meta name="keywords" content="' || domain || '">'
      |           ELSE '' END ||
      |      '<meta property="og:site_name" content="' || domain ||
      |      '"></head><body><p>' || content ||
      |      '</p><script>var x = 1;</script></body></html>'""".stripMargin

  /** The reference's meta pattern: every `<meta>` with a name or
    * property attribute and a content value. */
  private val MetaPattern =
    "<meta (?:name|property)=\"([^\"]+)\" content=\"([^\"]*)\""

  /** Parse + route. html rows get full field extraction; pdf rows get
    * text passthrough (the reference extracts per-page text); image
    * rows carry no content (vision-embedding path). */
  def routeAndExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val wp = Corpus.webPages(spark, sfDir).withColumn("html", htmlOf)
    // P2: {name-or-property → content} map for every meta tag; the
    // sink stores the KEY NAMES only (quirk Q3, `db.py:35-40`), which
    // is the tag_names column; one value is surfaced to prove the map
    // carries contents before the quirk drops them.
    val metaMap = map_from_arrays(
      regexp_extract_all(col("html"), lit(MetaPattern), lit(1)),
      regexp_extract_all(col("html"), lit(MetaPattern), lit(2)))
    val htmlRows = wp.filter(col("file_type") === "html").select(
      col("id"),
      col("file_type"),
      regexp_extract(col("html"), "<title>([^<]*)</title>", 1)
        .as("ex_title"),
      regexp_extract(col("html"),
        "<meta name=\"description\" content=\"([^\"]*)\"", 1)
        .as("ex_meta"),
      array_join(map_keys(metaMap), ",").as("tag_names"),
      element_at(metaMap, "keywords").as("kw_content"),
      trim(regexp_replace(regexp_replace(regexp_replace(col("html"),
        "<script>.*?</script>", " "), "<[^>]+>", " "), "\\s+", " "))
        .as("body_text"))
    val pdfRows = wp.filter(col("file_type") === "pdf").select(
      col("id"), col("file_type"),
      lit("").as("ex_title"), lit("").as("ex_meta"),
      lit("").as("tag_names"),                      // meta_tags = {}
      lit(null).cast("string").as("kw_content"),
      col("content").as("body_text"))
    val imageRows = wp.filter(col("file_type") === "image").select(
      col("id"), col("file_type"),
      lit("").as("ex_title"), lit("").as("ex_meta"),
      lit("").as("tag_names"),                      // meta_tags = {}
      lit(null).cast("string").as("kw_content"),
      lit(null).cast("string").as("body_text"))
    htmlRows.unionByName(pdfRows).unionByName(imageRows)
      .filter(col("id") < 60)
      .orderBy(col("id"))
  }

  val routeAndExtractSql: String =
    s"""WITH ${Corpus.webPagesCte},
      |h AS (SELECT *, $htmlOfSql AS html FROM web_pages),
      |html_rows AS (
      |  SELECT id, file_type,
      |    COALESCE(regexp_extract(html, '<title>([^<]*)</title>', 1), '') AS ex_title,
      |    COALESCE(regexp_extract(html, '<meta name="description" content="([^"]*)"', 1), '') AS ex_meta,
      |    array_to_string(regexp_extract_all(html, '<meta (?:name|property)="([^"]+)" content="([^"]*)"', 1), ',') AS tag_names,
      |    NULLIF(COALESCE(regexp_extract(html, '<meta name="keywords" content="([^"]*)"', 1), ''), '') AS kw_content,
      |    trim(regexp_replace(regexp_replace(regexp_replace(html,
      |      '<script>.*?</script>', ' ', 'g'), '<[^>]+>', ' ', 'g'),
      |      '\\s+', ' ', 'g')) AS body_text
      |  FROM h WHERE file_type = 'html'),
      |pdf_rows AS (
      |  SELECT id, file_type, '' AS ex_title, '' AS ex_meta,
      |    '' AS tag_names, NULL AS kw_content,
      |    content AS body_text
      |  FROM h WHERE file_type = 'pdf'),
      |image_rows AS (
      |  SELECT id, file_type, '' AS ex_title, '' AS ex_meta,
      |    '' AS tag_names, NULL AS kw_content,
      |    NULL AS body_text
      |  FROM h WHERE file_type = 'image')
      |SELECT * FROM (
      |  SELECT * FROM html_rows UNION ALL
      |  SELECT * FROM pdf_rows UNION ALL
      |  SELECT * FROM image_rows)
      |WHERE id < 60
      |ORDER BY id""".stripMargin

  /** Structured-data extraction (P10): the reference prompts an LLM
    * with a named JSON schema (`structured_data.py:33-109`); our
    * deterministic equivalent is a rule-based extractor for the
    * "ecommerce" schema — product / brand / category pulled by
    * pattern from the content — surfaced as both columns and a JSON
    * blob (the `from_json`/`to_json` round-trip the schema registry
    * needs). */
  def structuredExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val wp = Corpus.webPages(spark, sfDir)
    wp.filter(col("file_type") === "html")
      .select(col("id"),
        regexp_extract(col("content"), "^(\\w+ \\w+)", 1).as("product"),
        regexp_extract(col("content"), "brand (\\S+)", 1).as("brand"),
        regexp_extract(col("content"), "(ECONOMY|SMALL|STANDARD|LARGE|MEDIUM|PROMO)", 1)
          .as("category"))
      .withColumn("structured_json",
        to_json(struct(col("product"), col("brand"), col("category"))))
      .filter(col("id") < 40)
      .orderBy(col("id"))
  }

  val structuredExtractSql: String =
    s"""WITH ${Corpus.webPagesCte}
      |SELECT id, product, brand, category,
      |  '{"product":"' || product || '","brand":"' || brand ||
      |    '","category":"' || category || '"}' AS structured_json
      |FROM (
      |  SELECT id,
      |    COALESCE(regexp_extract(content, '^(\\w+ \\w+)', 1), '') AS product,
      |    COALESCE(regexp_extract(content, 'brand (\\S+)', 1), '') AS brand,
      |    COALESCE(regexp_extract(content, '(ECONOMY|SMALL|STANDARD|LARGE|MEDIUM|PROMO)', 1), '') AS category
      |  FROM web_pages WHERE file_type = 'html')
      |WHERE id < 40
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------
  // Extraction-schema registry (P10 / §2.J)
  // ---------------------------------------------------------------

  /** Named extraction schemas, mirroring the reference's
    * PREDEFINED_SCHEMAS registry (`structured_data.py:12-28`:
    * `ecommerce` AND `blog`). The StructTypes are the `from_json`
    * round-trip contract for persisted `structured_data` blobs —
    * the extension recipe's `Map[String, StructType]` dispatch
    * (reference `README.md:80-115`). */
  val extractionSchemas: Map[String, StructType] = Map(
    "ecommerce" -> StructType(Seq(
      StructField("product", StringType),
      StructField("brand", StringType),
      StructField("category", StringType))),
    "blog" -> StructType(Seq(
      StructField("post_title", StringType),
      StructField("tags", StringType),
      StructField("summary", StringType))))

  /** Rule-based extraction dispatched by schema name — the
    * deterministic equivalent of `extract_structured_data_with_ollama`
    * (`structured_data.py:57-109`): a known schema applies its rule
    * set; an UNKNOWN schema extracts nothing and yields `{}` (the
    * reference's behavior for unregistered names,
    * `structured_data.py:64-69`). Fields the rules find nothing for
    * are emitted empty rather than omitted, keeping the blob
    * `from_json`-parseable under the registered StructType. */
  def extractBySchema(schemaName: String, content: Column): Column =
    schemaName match {
      case "ecommerce" => to_json(struct(
        regexp_extract(content, "^(\\w+ \\w+)", 1).as("product"),
        regexp_extract(content, "brand (\\S+)", 1).as("brand"),
        regexp_extract(content,
          "(ECONOMY|SMALL|STANDARD|LARGE|MEDIUM|PROMO)", 1).as("category")))
      case "blog" => to_json(struct(
        array_join(slice(graft.functions.TextOps.tokens(content), 1, 4), " ")
          .as("post_title"),
        array_join(slice(array_sort(array_distinct(
          graft.functions.TextOps.tokens(content))), 1, 3), ",").as("tags"),
        substring(content, 1, 60).as("summary")))
      case _ => lit("{}")
    }

  /** Registry-dispatch query: ecommerce rules over the html corpus,
    * blog rules over the documents table, and an unknown schema name
    * over the same docs → `{}` rows, all through the one dispatch
    * function. */
  def structuredRegistry(spark: SparkSession, sfDir: String): DataFrame = {
    val off1 = Planted.familyOffset(spark, sfDir, 1, "q58 blog ids")
    val off2 = Planted.familyOffset(spark, sfDir, 2, "q58 unknown-schema ids")
    val eco = Corpus.webPages(spark, sfDir)
      .filter(col("file_type") === "html" && col("id") < 20)
      .select(col("id"), lit("ecommerce").as("schema_name"),
        extractBySchema("ecommerce", col("content")).as("structured_json"))
    val blog = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 10)
      .select((col("doc_id") + off1).as("id"), lit("blog").as("schema_name"),
        extractBySchema("blog", col("text")).as("structured_json"))
    val unknown = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 5)
      .select((col("doc_id") + off2).as("id"),
        lit("not_a_schema").as("schema_name"),
        extractBySchema("not_a_schema", col("text")).as("structured_json"))
    eco.unionByName(blog).unionByName(unknown)
      .orderBy(col("id"))
  }

  private val tokSqlDoc = graft.functions.TextOps.tokSql()

  val structuredRegistrySql: String =
    s"""WITH ${Corpus.webPagesCte},
      |eco AS (
      |  SELECT id, 'ecommerce' AS schema_name,
      |    '{"product":"' || COALESCE(regexp_extract(content, '^(\\w+ \\w+)', 1), '') ||
      |    '","brand":"' || COALESCE(regexp_extract(content, 'brand (\\S+)', 1), '') ||
      |    '","category":"' || COALESCE(regexp_extract(content, '(ECONOMY|SMALL|STANDARD|LARGE|MEDIUM|PROMO)', 1), '') ||
      |    '"}' AS structured_json
      |  FROM web_pages WHERE file_type = 'html' AND id < 20),
      |blog AS (
      |  SELECT doc_id + ${Planted.offsetSql(1)} AS id, 'blog' AS schema_name,
      |    '{"post_title":"' || array_to_string(($tokSqlDoc)[1:4], ' ') ||
      |    '","tags":"' || array_to_string(list_sort(list_distinct($tokSqlDoc))[1:3], ',') ||
      |    '","summary":"' || substr(text, 1, 60) ||
      |    '"}' AS structured_json
      |  FROM documents WHERE doc_id < 10),
      |unk AS (
      |  SELECT doc_id + ${Planted.offsetSql(2)} AS id, 'not_a_schema' AS schema_name,
      |    '{}' AS structured_json
      |  FROM documents WHERE doc_id < 5)
      |SELECT * FROM (
      |  SELECT * FROM eco UNION ALL
      |  SELECT * FROM blog UNION ALL
      |  SELECT * FROM unk)
      |ORDER BY id""".stripMargin
}
