package graft

import graft.Corpus.WebPage

/** Typed Dataset[T] boundary (SURVEY §1.3): case-class rows with
  * compile-time field checks over the same Catalyst plan. */
class TypedApiSpec extends SparkSpec {
  import spark.implicits._

  /** Typed view of [[Corpus.webPages]] — compile-time field checks for
    * API-boundary code; the DataFrame plan underneath is unchanged. */
  private def typedWebPages(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.Dataset[WebPage] =
    Corpus.webPages(spark, sfDir).as[WebPage]

  test("typedWebPages round-trips the schema into case classes") {
    val ds = typedWebPages(spark, sfDir)
    val page: WebPage = ds.filter(_.id == 1L).head()
    assert(page.url === "https://d1.test/p/1")
    assert(page.domain === "d1.test")
    assert(page.file_type === "html")
    assert(page.meta_tags.nonEmpty)
  }

  test("quirk coverage: title None exactly on id % 7 == 0 rows") {
    val ds = typedWebPages(spark, sfDir)
    val titled = ds.map(p => (p.id, p.title.isDefined)).collect()
    titled.foreach { case (id, hasTitle) =>
      assert(hasTitle === (id % 7 != 0), s"id=$id")
    }
  }

  test("typed aggregation: pages per file_type via groupByKey") {
    val ds = typedWebPages(spark, sfDir)
    val counts = ds.groupByKey(_.file_type).count().collect().toMap
    assert(counts("html") > counts("pdf"))
    assert(counts.keySet === Set("html", "pdf", "image"))
  }
}
