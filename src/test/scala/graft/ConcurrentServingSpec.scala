package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import graft.ops.Search
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Serving threads that share one session answer as one thread does.
  * A deployed server (and the serve benchmark) serves from a pool of
  * threads on one session, so per-request state must not leak between
  * requests in flight: above all each listing's `total`, which its
  * page counts in the page's own job. Four threads issue a mix like
  * the served one at once (listings with different tokens, offsets and
  * sorts, plus semantic search, RAG context, snippet search and the
  * dashboard), each in its own order, and every answer must equal the
  * single-thread answer. */
class ConcurrentServingSpec extends SparkSpec {

  private val requests: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      ("widget", "last_crawled", false, 0),
      ("widget", "id", true, 10),
      ("gear", "title", true, 0),
      ("anvil", "domain", false, 10),
      ("bolt", "no_such_col", false, 0),
      ("red", "url", true, 5),
      ("zzzunmatched", "id", true, 0)
    ).map { case (token, sortBy, asc, offset) =>
      s"listing($token, $sortBy, $asc, $offset)" ->
        ((s: SparkSession, d: String) => Search.listingPage(s, d, token,
          sortBy = sortBy, asc = asc, offset = offset, limit = 10))
    } ++ Seq(
      "semantic" -> Search.semanticSearch _,
      "rag" -> Search.ragContext _,
      "snippet" -> Search.snippetSearch _,
      "dashboard" -> Search.dashboard _)

  private def answer(i: Int): Seq[Row] =
    requests(i)._2(spark, sfDir).collect().toSeq

  test("four serving threads on one session answer as one thread does") {
    val expected = requests.indices.map(answer)
    // listings with matches carry one total per page, and the tokens'
    // totals differ, so a count that leaked between pages would show
    val totals = requests.indices.filter(i => requests(i)._1.startsWith("listing"))
      .flatMap(i => expected(i).headOption.map(_.getAs[Long]("total")))
    assert(totals.distinct.size > 1, s"listing totals do not tell pages apart: $totals")

    val threads = 4
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = (0 until threads).map { t =>
        Future {
          start.await()
          // each thread walks the mix twice, from its own offset
          val order = Seq.tabulate(2 * requests.size)(k => (k + t * 3) % requests.size)
          order.map(i => i -> answer(i))
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(runs), 5.minutes).flatten
      assert(got.size === threads * 2 * requests.size)
      got.foreach { case (i, rows) =>
        assert(rows === expected(i), s"${requests(i)._1} answered differently")
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
