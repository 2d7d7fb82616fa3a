package graft

import graft.functions.TextOps
import graft.ops.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** O2 dynamic sort + pagination (quirk Q6): the reference interpolates
  * the caller's sort column raw (`search.py:68`) and defaults to a
  * column that doesn't exist on web_pages (`main.py:96`); ours
  * validates against the schema and defaults to `last_crawled`. */
class ListingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("valid sort columns pass validation unchanged") {
    assert(Search.resolveSortColumn("id") === "id")
    assert(Search.resolveSortColumn("domain") === "domain")
    assert(Search.resolveSortColumn("last_crawled") === "last_crawled")
  }

  test("unknown / hostile / null sort columns fall back to last_crawled") {
    assert(Search.resolveSortColumn("created_at") === "last_crawled") // the reference's broken default
    assert(Search.resolveSortColumn("no_such_col") === "last_crawled")
    assert(Search.resolveSortColumn("id; DROP TABLE web_pages") === "last_crawled")
    assert(Search.resolveSortColumn(null) === "last_crawled")
  }

  test("listing pages are disjoint, ordered, and carry the same total") {
    val p1 = Search.listingPage(spark, sfDir, "widget", offset = 0, limit = 10).collect()
    val p2 = Search.listingPage(spark, sfDir, "widget", offset = 10, limit = 10).collect()
    val ids1 = p1.map(_.getAs[Long]("id")).toSet
    val ids2 = p2.map(_.getAs[Long]("id")).toSet
    assert(ids1.intersect(ids2).isEmpty, "pages overlap")
    assert(p1.map(_.getAs[Long]("total")).toSet === p2.map(_.getAs[Long]("total")).toSet)
    // default sort is last_crawled desc with id tiebreak: page 1's
    // minimum crawled_s must be >= page 2's maximum (desc ordering)
    if (p1.nonEmpty && p2.nonEmpty) {
      assert(p1.map(_.getAs[Long]("crawled_s")).min >=
        p2.map(_.getAs[Long]("crawled_s")).max)
    }
  }

  test("stemmed listing retrieves inflected forms plain FTS misses") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    val wp = graft.Corpus.webPages(spark, sfDir)
    val hay = concat(col("title"), lit(" "), col("domain"), lit(" "),
      col("url"))
    val q = lit("widgets gearing")
    val plain = wp.filter(TextOps.ftsMatch(hay, q) === true).count()
    val stemmed = wp.filter(TextOps.ftsMatchStemmed(hay, q) === true).count()
    // neither literal token exists in any title; both stem to words
    // ("widget", "gear") that do
    assert(stemmed > plain, s"stemmed=$stemmed plain=$plain")
    // the stemmed set contains every plain match (stemming only widens)
    val plainIds = wp.filter(TextOps.ftsMatch(hay, q) === true)
      .select("id").collect().map(_.getLong(0)).toSet
    val stemmedIds = wp.filter(TextOps.ftsMatchStemmed(hay, q) === true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plainIds.subsetOf(stemmedIds))
    // haystack-side stemming (no inflected forms exist in the corpus
    // vocabulary, so pin it on a synthetic frame): a root query finds
    // inflected document text
    import spark.implicits._
    val synth = Seq("sorted widgets arrived", "plain gear here", "nothing")
      .toDF("t")
    val hits = synth
      .filter(TextOps.ftsMatchStemmed(col("t"), lit("sort gearing")) === true)
      .count()
    assert(hits === 2,
      "haystack 'sorted' must stem to 'sort'; query 'gearing' to 'gear'")
    // and the q135 page itself is well-formed
    val page = Search.listingStemmed(spark, sfDir).collect()
    assert(page.nonEmpty && page.length <= 10)
    assert(page.map(_.getAs[Long]("total")).toSet.size === 1)
  }

  test("ascending sort by id paginates in key order") {
    val p = Search.listingPage(spark, sfDir, "widget", sortBy = "id",
      asc = true, offset = 0, limit = 5).collect()
    val ids = p.map(_.getAs[Long]("id")).toSeq
    assert(ids === ids.sorted)
  }

  /** The listing as the reference runs it, and as [[Search.listingPage]]
    * ran it before its one-pass operator: the page, and the total as a
    * second filtered scan with its own aggregate, the two met by a
    * 1-row broadcast cross join. Kept here as the answer's reference. */
  private def twoScanListing(query: String, sortBy: String, asc: Boolean,
      offset: Int, limit: Int, stemmed: Boolean = false): DataFrame = {
    val wp = Corpus.webPages(spark, sfDir)
    val hay = concat(col("title"), lit(" "), col("domain"), lit(" "),
      col("url"))
    val matches = if (stemmed) TextOps.ftsMatchStemmed _ else TextOps.ftsMatch _
    val filtered = wp.filter(matches(hay, lit(query)) === true)
    val sortCol = col(Search.resolveSortColumn(sortBy))
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

  private def assertSameListing(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    assert(got.collect().toSeq === want.collect().toSeq, s"$what: rows")
  }

  private val sortNames = Seq("id", "url", "domain", "title", "last_crawled",
    "file_type", "embedding_type", "meta_description", "no_such_col", null)

  test("the one-pass listing equals the two-scan listing over the parameter grid") {
    for (query <- Seq("widget", "zzzunmatched")) {
      val total = twoScanListing(query, "id", asc = true, 0, 1).collect()
        .headOption.fold(0L)(_.getAs[Long]("total"))
      assert((query == "widget") === (total > 0), s"$query: total $total")
      for (sortBy <- sortNames; asc <- Seq(true, false);
           offset <- Seq(0, 10, total.toInt + 1); limit <- Seq(1, 10)) {
        val what = s"query=$query sortBy=$sortBy asc=$asc offset=$offset limit=$limit"
        val listing = Search.listingPage(spark, sfDir, query, sortBy = sortBy,
          asc = asc, offset = offset, limit = limit)
        assertSameListing(listing,
          twoScanListing(query, sortBy, asc, offset, limit), what)
        // the final adaptive plan, query stages included
        val scans = collect(listing.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s }
        assert(scans.size === 1, s"$what: ${scans.size} scans")
      }
    }
    assertSameListing(Search.listingStemmed(spark, sfDir),
      twoScanListing("widgets gearing", "last_crawled", asc = false, 0, 10,
        stemmed = true), "q135")
  }

  test("the total resets per execution, count() is the page size, NULL titles stay hidden") {
    val df = Search.listingPage(spark, sfDir, "widget", offset = 10, limit = 10)
    val (first, jobs1) = jobsOf(df.collect())
    val (second, jobs2) = jobsOf(df.collect())
    assert(first.nonEmpty)
    assert(first.toSeq === second.toSeq, "a second collect of one frame differs")
    assert((jobs1, jobs2) === ((1, 1)), "each collect counts in its one job")
    assert(df.count() === first.length)
    // every url holds the token "test" (`https://dN.test/p/N`), so
    // the match set is exactly the pages with a title (quirk Q5: the
    // haystack is NULL when the title is)
    val all = Search.listingPage(spark, sfDir, "test", sortBy = "id",
      asc = true, limit = 100000).collect()
    val titled = Corpus.webPages(spark, sfDir).filter(col("title").isNotNull)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(titled.nonEmpty && titled.size < Corpus.webPages(spark, sfDir).count())
    assert(all.map(_.getAs[Long]("id")).toSeq === titled)
    assert(all.forall(r => !r.isNullAt(r.fieldIndex("title"))))
    assert(all.map(_.getAs[Long]("total")).toSet === Set(titled.size.toLong))
  }
}
