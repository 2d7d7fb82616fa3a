package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._

/** BPE merge-learning invariants (q96). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** q96's report off the sequential reference loop, for the
    * batched ≡ sequential pin. */
  private def bpeMergesSequential() =
    Bpe.mergeLoopSequential(spark, sfDir)._1
      .toDF("round", "merge", "pair_count", "corpus_tokens")
      .orderBy(col("round"))

  test("replace fuses left-to-right non-overlapping — the semantics the oracle shares") {
    // chain ' a a a ': one fuse per pass, remainder deferred to later
    // rounds (DuckDB's replace() does exactly the same — probed)
    val got = Seq(" a a a ").toDF("s")
      .select(replace($"s", lit(" a a "), lit(" aa ")))
      .as[String].head
    assert(got === " aa a ")
  }

  test("merges are greedy-maximal and compress the corpus monotonically") {
    val rows = Bpe.bpeMerges(spark, sfDir).orderBy($"round").collect()
    assert(rows.length === Bpe.Rounds)
    // greedy: each round's winning count can never exceed the prior
    // round's (a merge only creates pairs rarer than the one it fused)
    rows.map(_.getAs[Long]("pair_count")).sliding(2).foreach {
      case Array(prev, next) => assert(next <= prev)
    }
    // each fuse removes one symbol per fused occurrence: tokens drop,
    // and never by more than the pair's count
    val tok0 = {
      val vocabTokens = Tables.documents(spark, sfDir)
        .select(explode(graft.functions.TextOps.tokens($"text")).as("w"))
        .select(sum(length($"w"))).as[Long].head
      vocabTokens // char-level segmentation: one symbol per char
    }
    var before = tok0
    rows.foreach { r =>
      val after = r.getAs[Long]("corpus_tokens")
      val fused = before - after
      assert(fused > 0, s"round ${r.getAs[Int]("round")} fused nothing")
      assert(fused <= r.getAs[Long]("pair_count"))
      before = after
    }
  }

  test("merge learning is deterministic across runs") {
    val a = Bpe.bpeMerges(spark, sfDir).collect().toSeq
    val b = Bpe.bpeMerges(spark, sfDir).collect().toSeq
    assert(a === b)
  }

  test("batched compatible-merge variant is equivalent at Rounds=3") {
    // the scalable formulation (one counting pass per BATCH of
    // symbol-disjoint merges) — what declared q96/q143/q154 now run —
    // must learn the SAME merges, in the same order with the same
    // counts AND the same post-merge token trajectory, as the
    // spec-only strictly-sequential reference loop
    val seq = bpeMergesSequential().orderBy($"round")
      .collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("merge"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("corpus_tokens")))
    val bat = Bpe.bpeMerges(spark, sfDir).orderBy($"round").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("merge"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("corpus_tokens")))
    assert(bat.toSeq === seq.toSeq,
      "batched merges diverge from the sequential reference")
    // a forced CONFLICT defers, not skips: with batch=1 the variant
    // degenerates to exactly the sequential algorithm
    val one = Bpe.mergeLoopBatched(spark, sfDir, rounds = 3, batch = 1)
      ._1.zipWithIndex.map { case ((a, b, n, t), i) => (i + 1, s"$a+$b", n, t) }
    assert(one === seq.toSeq, "batch=1 must equal sequential")
  }

  test("fertility conserves occurrences and sits between merged and char-level") {
    val rows = Bpe.tokenizerFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per-source word occurrences must conserve exactly
    val wordCounts = Tables.documents(spark, sfDir)
      .select($"source", explode(graft.functions.TextOps.tokens($"text")).as("w"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum(length($"w")).as("chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (nWords, nChars) = wordCounts(src)
      assert(r.getAs[Long]("n_words") === nWords, s"$src words")
      assert(r.getAs[Long]("n_chars") === nChars, s"$src chars")
      val fert = r.getAs[Double]("fertility")
      val cpt = r.getAs[Double]("chars_per_token")
      // 3 merges: tokens per word strictly above 1 (nothing fuses to a
      // single symbol corpus-wide) and at most the char count
      assert(fert > 1.0 && fert <= nChars.toDouble / nWords, s"$src fertility $fert")
      // merged symbols average longer than 1 char, shorter than a word
      assert(cpt > 1.0 - 1e-9 && cpt < nChars.toDouble / nWords, s"$src cpt $cpt")
      // the two ratios factor the same integers: fert * cpt = chars/word
      assert(math.abs(fert * cpt - nChars.toDouble / nWords) < 1e-3,
        s"$src ratio factorization")
    }
    // fertility must be strictly below the char-level baseline
    // (the 3 learned merges fire somewhere in every source)
    val better = rows.count { r =>
      r.getAs[Long]("n_tokens") < r.getAs[Long]("n_chars") }
    assert(better === rows.length, "some source saw no merge fire")
  }
}
