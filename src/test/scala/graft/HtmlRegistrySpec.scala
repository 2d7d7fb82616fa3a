package graft

import graft.ops.Html
import org.apache.spark.sql.functions._

/** Extraction-schema registry (P10 / §2.J): named schemas mirroring
  * `structured_data.py:12-28`, unknown-schema behavior
  * (`structured_data.py:64-69`), and the from_json round-trip the
  * extension recipe advertises. */
class HtmlRegistrySpec extends SparkSpec {
  import spark.implicits._

  /** Parse a persisted structured_data blob back through the
    * registry's StructType (the schema-on-read half of P10). */
  private def parseStructured(json: org.apache.spark.sql.Column,
      schemaName: String) =
    from_json(json, Html.extractionSchemas(schemaName))

  test("registry holds the reference's two named schemas") {
    assert(Html.extractionSchemas.keySet === Set("ecommerce", "blog"))
    assert(Html.extractionSchemas("blog").fieldNames.contains("post_title"))
  }

  test("ecommerce rules extract product/brand/category") {
    val df = Seq("lavender blue product STANDARD thing brand B#42")
      .toDF("content")
    val json = df.select(Html.extractBySchema("ecommerce", $"content"))
      .as[String].head()
    assert(json.contains("\"product\":\"lavender blue\""))
    assert(json.contains("\"brand\":\"B#42\""))
    assert(json.contains("\"category\":\"STANDARD\""))
  }

  test("blog rules extract title/tags/summary") {
    val df = Seq("spark window merge fast table row agg").toDF("content")
    val json = df.select(Html.extractBySchema("blog", $"content"))
      .as[String].head()
    assert(json.contains("\"post_title\":\"spark window merge fast\""))
    assert(json.contains("\"tags\":\"agg,fast,merge\""))
  }

  test("unknown schema extracts nothing: {}") {
    val df = Seq("anything at all").toDF("content")
    val json = df.select(Html.extractBySchema("nope", $"content"))
      .as[String].head()
    assert(json === "{}")
  }

  test("from_json round-trip through the registered StructType") {
    val df = Seq("lavender blue thing PROMO brand B#7").toDF("content")
    val parsed = df
      .select(Html.extractBySchema("ecommerce", $"content").as("j"))
      .select(parseStructured($"j", "ecommerce").as("s"))
      .select($"s.product", $"s.category")
      .collect().head
    assert(parsed.getString(0) === "lavender blue")
    assert(parsed.getString(1) === "PROMO")
  }
}
