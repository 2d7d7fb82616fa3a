package graft

import org.apache.spark.sql.functions._

/** The SQL face of the library: tables registered as temp views +
  * the injected native functions give users a pure-SQL workflow
  * (`spark.sql("...")`) equivalent to the DataFrame API. */
class SqlApiSpec extends SparkSpec {

  test("semantic search expressed entirely in SQL matches the DataFrame API") {
    Corpus.webPagesWithEmbeddings(spark, sfDir)
      .createOrReplaceTempView("wp_emb")
    val viaSql = spark.sql(
      s"""SELECT id, url, ROUND(distance, 6) AS distance FROM (
        |  SELECT w.id, w.url,
        |    vec_negdot(w.embedding,
        |      slice(vec_featurize('${ops.Search.QueryText}', 1280), 1, 1024)) AS distance
        |  FROM wp_emb w)
        |WHERE distance <= 0.05
        |ORDER BY distance, id
        |LIMIT 5""".stripMargin).collect().toSeq
    val viaDf = ops.Search.semanticSearch(spark, sfDir).collect().toSeq
    assert(viaSql === viaDf)
  }

  test("vec_signpack in pure SQL matches the Column API") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sp")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  vec_signpack(slice(vec_featurize(text, 1280), 1, 1024)) AS code
        |FROM docs_sp WHERE doc_id < 5 ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val viaDf = Corpus.docEmbeddings(spark, sfDir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), ops.BinaryAnn.signPack(col("v")).as("code"))
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("featurize + score pipeline in pure SQL") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs")
    val rows = spark.sql(
      """SELECT doc_id,
        |  ROUND(vec_dot(vec_featurize(text), vec_featurize('merge window')), 6) AS sim
        |FROM docs WHERE doc_id < 5
        |ORDER BY doc_id""".stripMargin).collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(math.abs(r.getDouble(1)) <= 1.0 + 1e-9))
  }
}
