package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe: hyperplane-LSH bucket-density census for the q27
  * near-dup corpus at a given staging dir — quantifies the
  * candidate-pair volume Σ c·(c−1)/2 per (band, key) bucket, the term
  * that grows ~n²/2^BandBits when corpus size outruns the fixed band
  * width.
  *
  * {{{ sbt "runMain graft.tools.ProbeLshDensity /dev/shm/graft-x10" }}}
  */
object ProbeLshDensity {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val bits = if (args.length > 1) args(1).toInt else graft.ops.Similarity.BandBits
    val planes = if (args.length > 2) args(2).toInt
      else graft.ops.Similarity.NHyperplanes
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = graft.ops.Similarity.nearDupCorpus(spark, sfDir)
    val n = corpus.count()
    val buckets = graft.ops.Similarity.buckets(corpus, planes, bits)
    val stats = buckets.agg(
      count(lit(1)).as("n_buckets"),
      max(col("c")).as("max_bucket"),
      sum(col("c") * (col("c") - 1) / 2).cast("long").as("cand_pairs"))
      .head
    println(s"[lsh] dir=$sfDir planes=$planes bits=$bits n=$n " +
      s"buckets=${stats.getLong(0)} max_bucket=${stats.getLong(1)} " +
      s"cand_pairs=${stats.getLong(2)}")
    val top = buckets.orderBy(col("c").desc).limit(10).collect()
      .map(r => r.getLong(2)).mkString(",")
    println(s"[lsh] top10 bucket sizes: $top")
    // wall at this geometry (2 runs, min): the full operator including
    // verification, exactly the q27 pipeline at (planes, bits)
    graft.GraftSession.scrub(spark)
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val rows = graft.ops.Similarity
        .embeddingNearDupAt(spark, sfDir, planes, bits).count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.scrub(spark)
      (dt, rows)
    }
    println(f"[lsh] wall min-of-2 = ${times.map(_._1).min}%.2fs " +
      s"(rows=${times.head._2})")
    spark.stop()
  }
}
