package graft.ops

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index + phrase search — the retrieval
  * primitive BM25 (q65) can't express: "these words, ADJACENT, in
  * this order". Postings are (term, doc, position); an n-word phrase
  * match is an n-way self-join of postings on doc with consecutive
  * positions.
  *
  * Scale shape: the index is term-partitioned, so a phrase query
  * touches ONLY its own terms' posting lists — the join runs on the
  * query terms' postings (thousands of rows per term), never the
  * corpus. Here the postings materialize from the documents table
  * (filter on term IMMEDIATELY after the explode, before any
  * shuffle); in a deployed index they'd be a parquet table bucketed
  * by term, and the same join plan applies unchanged. Positions are
  * document-local, so the adjacency join needs no document content —
  * the shuffle carries (term, doc_id, pos) triples only.
  */
object Index {

  /** The benchmark phrase (2 terms — the most selective frequent
    * bigram in the synthetic corpus). */
  val Phrase: Seq[String] = Seq("table", "hash")

  /** q95: documents matching the phrase, with match counts and the
    * first hit position — top 10 by matches. */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val postings = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text")))
        .as(Seq("pos", "term")))
      .where(col("term").isin(Phrase: _*))
      .pin() // one tokenize pass feeds both join sides
    val first = postings.where(col("term") === Phrase.head)
      .select(col("doc_id"), col("pos"))
    val hits = Phrase.zipWithIndex.tail.foldLeft(first) {
      case (acc, (term, i)) =>
        val next = postings.where(col("term") === term)
          .select(col("doc_id").as("d2"), col("pos").as("p2"))
        // merge: term postings are df(term)-proportional; the
        // postings checkpoint's stats-blind estimate made the static
        // planner broadcast them (PERF.md r11 audit)
        acc.join(next.hint("merge"),
            acc("doc_id") === col("d2") && acc("pos") + lit(i) === col("p2"))
          .select(acc("doc_id"), acc("pos"))
    }
    hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(10)
  }

  val phraseSearchSql: String = {
    val tok = TextOps.tokSql()
    val terms = Phrase.map(t => s"'$t'").mkString(", ")
    val joins = Phrase.zipWithIndex.tail.map { case (term, i) =>
      s"JOIN posts p$i ON p$i.doc_id = p0.doc_id AND p$i.term = '$term' AND p$i.pos = p0.pos + $i"
    }.mkString("\n  ")
    s"""WITH posts AS (
      |  SELECT doc_id, u.t AS term, u.p AS pos FROM (
      |    SELECT doc_id,
      |      unnest(list_transform($tok, (t, i) -> {'t': t, 'p': i - 1})) AS u
      |    FROM documents)
      |  WHERE u.t IN ($terms))
      |SELECT p0.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_matches,
      |  CAST(MIN(p0.pos) AS INTEGER) AS first_pos
      |FROM posts p0
      |  $joins
      |WHERE p0.term = '${Phrase.head}'
      |GROUP BY p0.doc_id
      |ORDER BY n_matches DESC, p0.doc_id
      |LIMIT 10""".stripMargin
  }
}
