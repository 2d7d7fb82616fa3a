package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the scale contract, checked in CI:
  * pushdown reaches the scans, dims broadcast, top-k never global
  * sorts, and the KNN corpus side never shuffles.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1 scan gets predicate pushdown and column pruning") {
    val p = plan(ops.Relational.pricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double"),
      "schema not pruned to used columns")
    assert(!p.contains("l_partkey"), "unused column read")
  }

  test("q2 dims join as broadcast, not shuffle") {
    val p = plan(ops.Relational.revenueByNation(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "dim join degraded to sort-merge")
  }

  test("top-k plans TakeOrderedAndProject (no global sort)") {
    val p = plan(ops.Relational.topOrdersByRevenue(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("semantic search: literal query vector, corpus not shuffled, top-k heap") {
    val p = plan(ops.Search.semanticSearch(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"query vector joined instead of folded into the scan:\n$p")
    assert(!p.contains("Exchange"), s"corpus shuffled:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("pagination plans TakeOrderedAndProject with offset — no global window") {
    val p4 = plan(ops.Relational.paginateOrders(spark, sfDir))
    assert(p4.contains("TakeOrderedAndProject"), s"q4 not top-k planned:\n$p4")
    assert(!p4.contains("Window"), s"q4 still uses a window:\n$p4")
    val p9 = plan(ops.Search.listing(spark, sfDir))
    assert(p9.contains("TakeOrderedAndProject"), s"q9 not top-k planned:\n$p9")
    assert(!p9.contains("Window"), s"q9 still uses a window:\n$p9")
  }

  test("partial aggregation (map-side combine) before the shuffle") {
    val p = plan(ops.Relational.pricingSummary(spark, sfDir))
    assert(p.contains("partial_sum"),
      "no partial aggregation before exchange")
  }

  test("q69 vocab join carries no broadcast hint (corpus-sized model)") {
    val df = ops.Ranking.unigramLogprob(spark, sfDir)
    // the only broadcast hint in the plan is the 1-row stats side;
    // the (token, count) model — billions of rows at web scale —
    // must reach the join unhinted (shuffle on `tok`; AQE may still
    // choose broadcast at runtime when the measured size is small)
    val logical = df.queryExecution.optimizedPlan.toString
    val hints = "strategy=broadcast".r.findAllIn(logical).size
    assert(hints <= 1, s"vocab side broadcast-hinted:\n$logical")
    // with size-based auto-broadcast off, an unhinted vocab join MUST
    // degrade to a shuffle join (a forced hint would keep broadcasting
    // — the 100 TB OOM); the hinted 1-row stats side still broadcasts
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val physical = plan(ops.Ranking.unigramLogprob(spark, sfDir))
      assert(physical.contains("SortMergeJoin") ||
        physical.contains("ShuffledHashJoin"),
        s"vocab join not planned as a shuffle join:\n$physical")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q82/q83 LM model joins degrade to shuffle joins when broadcast is off") {
    // both carry vocabulary-sized model tables (V and V² keys at web
    // scale) — the model joins must work as shuffle joins; only the
    // scalar stats / 3-term query sides are hint-broadcast
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq(ops.Ranking.bigramLogprob _, ops.Ranking.tfidf _).foreach { q =>
        val p = plan(q(spark, sfDir))
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"model join not planned as a shuffle join:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q86 packing windows are per-shard — no single-partition exchange") {
    val p = plan(ops.Curation.seqPack(spark, sfDir))
    assert(p.contains("Window"), s"expected a window plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packing serialized through one partition:\n$p")
  }

  test("q87 rule table broadcasts; URLs never shuffle") {
    val p = plan(ops.Robots.robotsEnforce(spark, sfDir))
    assert(p.contains("Broadcast"), s"rules not broadcast:\n$p")
  }

  test("q99 DSIR vocab join degrades to a shuffle join when broadcast is off") {
    // one (token, counts) model table, corpus-vocabulary-sized —
    // same contract as q69/q82: no forced broadcast on the model side
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(ops.Dsir.dsirWeights(spark, sfDir))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"model join not planned as a shuffle join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q100 SemDeDup pair join is cluster-keyed — no nested-loop/cartesian") {
    val p = plan(ops.SemDedup.semDedup(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"pair stage planned as a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair stage planned as a nested loop:\n$p")
  }

  test("q98 gap-fill windows are per-user; q101 selection never sorts base rows") {
    val gap = plan(ops.Timeseries.gapFill(spark, sfDir))
    assert(gap.contains("Window"), s"expected a window plan:\n$gap")
    assert(!gap.contains("SinglePartition"),
      s"LOCF serialized through one partition:\n$gap")
    // the two-pass quantile histogram must partial-aggregate before
    // its exchange — the base rows feed HashAggregate, not a Sort
    val qd = ops.Stats.quantileDisc(spark, sfDir)
    val p = plan(qd)
    assert("partial_count|Partial".r.findFirstIn(p).isDefined,
      s"histogram not map-side combined:\n$p")
  }

  test("q135 stemmed listing keeps the q9 shape: top-k heap, no window, codegen'd stem") {
    val df = ops.Search.listingStemmed(spark, sfDir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"not top-k planned:\n$p")
    assert(!p.contains("Window"), s"page uses a window:\n$p")
    // the Porter2Stem expression must not knock the filter pipeline
    // out of whole-stage codegen (it generates a single static call)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "stemmed filter broke whole-stage codegen")
  }

  test("q136/q139/q144 audits partial-aggregate before their exchanges") {
    Seq("q136" -> ops.Snapshot.snapshotDrift _,
        "q139" -> ops.Curation.perplexityBuckets _,
        "q144" -> ops.TextAnalysis.mojibakeAudit _).foreach { case (n, q) =>
      val p = plan(q(spark, sfDir))
      assert("partial_|Partial".r.findFirstIn(p).isDefined,
        s"$n not map-side combined:\n$p")
    }
  }

  test("q140 calibration sweep is ONE codegen'd scan, not one scan per threshold") {
    val df = ops.Curation.filterCalibration(spark, sfDir)
    val p = plan(df)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$p")
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"threshold columns not map-side combined:\n$p")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "conditional-agg scan not codegen'd")
  }

  test("q137 epoch plan windows the corpus per-source; q143 fertility has no single-partition corpus path") {
    // q137's only global window is the largest-remainder seat ranking
    // over the SOURCE table (one row per source — bounded, not corpus-
    // sized); the per-document rank must be hash-partitioned by source
    val p137 = plan(ops.Mixture.epochPlan(spark, sfDir))
    assert(p137.contains("Exchange hashpartitioning(source"),
      s"q137 per-doc window not partitioned by source:\n$p137")
    val p143 = plan(ops.Bpe.tokenizerFertility(spark, sfDir))
    val bad = p143.linesIterator.exists(l =>
      l.contains("Exchange SinglePartition") && !l.contains("rangepartitioning"))
    assert(!bad, s"q143 serializes the corpus through one partition:\n$p143")
  }

  test("q142 WARC health rolls up per domain with map-side combine") {
    val p = plan(ops.Warc.fetchHealth(spark, sfDir))
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"health rollup not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q146 blocklist sweep is one codegen'd scan; q149 overlap join is equi-keyed") {
    val bl = ops.Blocklist.blocklistAudit(spark, sfDir)
    val bp = plan(bl)
    // the corpus-total side re-scans metadata only; exactly ONE scan
    // may read the text column (K patterns share a single automaton
    // pass — never one text scan per pattern)
    val textScans = bp.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("text:string"))
    assert(textScans == 1,
      s"expected 1 text-reading scan, got $textScans:\n$bp")
    bl.collect()
    assert(bl.queryExecution.executedPlan.toString.contains("*("),
      "multi_contains broke whole-stage codegen")
    val so = plan(ops.Mining.sourceOverlap(spark, sfDir))
    assert(!so.contains("CartesianProduct") &&
      !so.contains("BroadcastNestedLoopJoin"),
      s"gram self-join not equi-keyed:\n$so")
  }

  test("q148 epoch shuffle windows are per-(epoch, shard), never global") {
    val p = plan(ops.Sampling.epochShuffle(spark, sfDir))
    assert(p.contains("Window"), s"expected a window plan:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange SinglePartition") && !l.contains("rangepartitioning")),
      s"training order serialized through one partition:\n$p")
  }

  test("q151/q152 novelty attribution: partial aggs, equi-joins, no text through shuffles") {
    Seq(plan(ops.Novelty.noveltyScore(spark, sfDir)),
        plan(ops.Novelty.gramSaturation(spark, sfDir))).foreach { p =>
      assert("partial_|Partial".r.findFirstIn(p).isDefined,
        s"gram attribution not map-side combined:\n$p")
      assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
      // gram pairs carry (doc_id, g) only; document text must never
      // appear in an exchange's output schema
      assert(!p.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("text#")),
        s"document text crosses a shuffle:\n$p")
    }
    // the novelty cut is a top-k heap, not a global sort
    assert(plan(ops.Novelty.noveltyScore(spark, sfDir))
      .contains("TakeOrderedAndProject"))
  }

  test("q97 video sampling: binary payloads never cross a shuffle; one partial-agg rollup") {
    val p = plan(ops.Video.frameSample(spark, sfDir))
    // the AVI cell and decoded frame bytes stay partition-local: no
    // exchange output may carry the binary columns
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") &&
          (l.contains("content#") || l.contains("frame#"))),
      s"video/frame bytes cross a shuffle:\n$p")
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"bucket rollup not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q154 batched BPE: pair counting partial-aggregates before its exchange") {
    // the per-batch ranking is the loop's only corpus-scale shuffle;
    // it must map-side combine on (a, b) — token text never shuffles
    // unaggregated. Probe the counting stage the loop actually runs.
    val words = graft.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val p = plan(words)
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"vocab build not map-side combined:\n$p")
  }

  test("q163 frequent terms: candidate prune broadcasts; counts partial-agg") {
    // the verify pass must semi-join the token stream against the
    // BROADCAST candidate set BEFORE aggregating — the full
    // vocabulary must never reach an exchange
    val df = ops.Frequent.frequentTerms(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"candidate prune not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"candidate prune degraded to a vocabulary shuffle:\n$p")
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"candidate counts not map-side combined:\n$p")
  }

  test("q166 NB filter: weight join broadcasts; per-doc score partial-aggs") {
    // the 2x256-row model must broadcast to the scorers, and a doc's
    // token rows must collapse map-side before the exchange — the
    // token stream itself never shuffles
    val df = ops.Bayes.nbQualityFilter(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"bin-weight join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"model join degraded to a shuffle:\n$p")
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"per-doc scoring not map-side combined:\n$p")
  }

  test("q167 phash census: banded join carries hash groups, never payloads") {
    val df = ops.Phash.imageNearDup(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the band self-join must run over the collapsed (ph, sz) groups:
    // every exchange in the plan ships hash/size/band columns only —
    // the image payload column must not appear past its scan
    val exchanges = p.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty, s"no exchanges found:\n$p")
    assert(!exchanges.exists(_.contains("content")),
      s"image payload crosses a shuffle:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(_.contains("png")),
      s"encoded bytes cross a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q184 repetition: gram counts partial-agg; argmax is an agg, not a window") {
    val df = ops.Repetition.repetitionCensus(spark, sfDir)
    val p = plan(df)
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"gram counting not map-side combined:\n$p")
    assert(!p.contains("Window"),
      s"per-doc argmax must be a struct-min aggregate, not a window:\n$p")
  }

  test("q194 containment: candidate join is equi-keyed, never a cartesian") {
    val df = ops.Containment.containmentCensus(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment candidate join degraded to all-pairs:\n$p")
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"shingle df counting not map-side combined:\n$p")
  }

  test("q185 AUC: the per-doc relation partial-aggs; the bounded window rides the distinct-score relation") {
    val df = ops.Eval.aucReport(spark, sfDir)
    val p = plan(df)
    // one Window is the design (bounded by 1e6 distinct scores per
    // stratum); the per-doc groupBy before it must map-side combine
    assert("partial_|Partial".r.findFirstIn(p).isDefined,
      s"per-score counting not map-side combined:\n$p")
    assert("Window".r.findAllIn(p).size <= 2,
      s"more windows than the one bounded running-count:\n$p")
  }

  test("q175 scene cuts: decode is scan-local; only scalar pair rows reach the exchanges") {
    val df = ops.Scenes.sceneCuts(spark, sfDir)
    val p = plan(df)
    // mux→demux→decode→SAD all live in the object pipeline before
    // serialization; the AVI payload must never appear in a shuffle
    assert(p.contains("MapPartitions"), s"decode not partition-local:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange") && l.contains("content#")),
      s"AVI payload crosses a shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"q175 must be scan+map+agg only:\n$p")
    assert(p.contains("partial_"),
      s"pair rollup not map-side combined:\n$p")
  }

  test("q156 exact-substring dedup: one prefix-bucket shuffle, partition-local sort, no joins") {
    val df = ops.SuffixDedup.exactSubstr(spark, sfDir)
    val p = plan(df)
    // the Lee-et-al shape: windows shuffle ONCE (2-char-prefix
    // bucketing), sort WITHIN partitions, and the adjacent-equality
    // scan emits slim (doc_id, source, pos) rows — full windows never
    // shuffle again and nothing ever joins
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"suffix dedup must not join:\n$p")
    assert(p.contains("Exchange hashpartitioning(substr(w#"),
      s"prefix-bucket repartition missing:\n$p")
    val windowExchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("w#")).size
    assert(windowExchanges == 1,
      s"windows must cross exactly one exchange, saw $windowExchanges:\n$p")
    // the suffix sort is the partition-local one (global=false); the
    // only global sort is the 5-row final ORDER BY source
    assert("Sort \\[w#\\d+ ASC NULLS FIRST\\], false".r.findFirstIn(p).isDefined,
      s"suffix sort not partition-local:\n$p")
    assert(p.contains("partial_"),
      s"per-source rollup not map-side combined:\n$p")
  }

  test("q182 CDC census: chunks materialize once; report joins are 1-row broadcasts") {
    val df = ops.Cdc.cdcCensus(spark, sfDir)
    df.collect() // finalize the adaptive plan
    // count operators on the FINAL adaptive section only (toString
    // repeats the initial plan below it)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the chunk relation (doc_id, h, clen) is checkpointed once and
    // every census leg scans the cached blocks — chunk TEXT exists
    // only inside the checkpoint job, so no exchange here can carry it
    assert(p.contains("Scan ExistingRDD"),
      s"chunk relation not materialized once:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"q182 report assembly degraded to a cartesian:\n$p")
    // the only nested-loop joins are the two 1-row report crossjoins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"more nested-loop joins than the two 1-row report stitches:\n$p")
    assert(p.contains("partial_"),
      s"census legs not map-side combined:\n$p")
  }

  test("q200 build manifest: gate output materializes once; downstream is slim-row algebra") {
    val df = ops.Manifest.buildManifest(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // final adaptive section only
    // the per-doc gate relation is checkpointed (the corpus-scale
    // dedup→train→score pipeline runs exactly once; supply and the
    // shard manifest both reuse the slim blocks instead of
    // re-deriving the corpus — r10, VERDICT r9 #2)
    assert(p.contains("Scan ExistingRDD"),
      s"per-doc gate relation not materialized once:\n$p")
    assert(!p.contains("documents.parquet"),
      s"downstream stages rescan the corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"mixture stitch degraded to a cartesian:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"more nested-loop joins than the 1-row mixture total:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange") && l.contains("text#")),
      s"document text crosses a downstream shuffle:\n$p")
    assert(p.contains("partial_"),
      s"manifest rollup not map-side combined:\n$p")
  }

  test("q201 binary ANN: codes shuffle slim, vectors never cross an exchange, rerank joins broadcast") {
    val df = ops.BinaryAnn.hammingRerank(spark, sfDir)
    val p = plan(df)
    // query codes/vectors broadcast (BNLJ for the code scan, BHJ for
    // the keyed rerank fetches); the corpus side never sort-merges
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"Hamming scan should broadcast the query codes:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rerank fetch should be a broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a corpus-side shuffle join crept in:\n$p")
    // the top-R rank shuffles (vec_id, ham) only — the 1024-d double
    // vector must never ride an exchange (it is re-fetched BY KEY
    // after the gate; shipping it through the rank would be the 8
    // KB/row scale lie the operator exists to avoid)
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange") && l.contains("v#")),
      s"full vectors cross a shuffle:\n$p")
  }

  test("q202 MaxSim: query tokens broadcast; both aggs map-side combine") {
    val df = ops.MaxSim.maxSimRerank(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query-token side should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"token pairing degraded to a shuffle join:\n$p")
    assert("partial_max".r.findFirstIn(p).isDefined,
      s"per-(doc, q-token) max not map-side combined:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"per-doc score sum not map-side combined:\n$p")
  }

  test("q203 Luhn audit: scan-local validation, no joins, rollup partial-aggs") {
    val df = ops.Luhn.luhnAudit(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"q203 needs no join anywhere:\n$p")
    assert(!p.contains("Window"), s"q203 needs no window:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"status rollup not map-side combined:\n$p")
  }

  test("q204 t-digest audit: one agg pass, digest partial-merges map-side, no join") {
    // the declared query checkpoints this agg (one execution serving
    // answer + contract); pin the agg's own plan
    val df = ops.QuantileSketch.auditAgg(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"q204 needs no join:\n$p")
    assert("partial".r.findFirstIn(p.toLowerCase).isDefined,
      s"digest/percentile agg not map-side combined:\n$p")
  }

  test("q205 retrieval eval: queries broadcast; per-query windows partitioned; pools ride the label histogram") {
    val df = ops.RetrievalEval.retrievalEval(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side should broadcast against the streaming corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation degraded to a cartesian:\n$p")
    assert("windowspecdefinition\\(q_id#".r.findFirstIn(p).isDefined,
      s"the run's top-K window must partition by q_id (parallel per query):\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"metric sums not map-side combined:\n$p")
  }

  test("q206 peak concurrency: no interval join anywhere; sweep windows partition by (type, day)") {
    val df = ops.Intervals.peakConcurrency(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"),
      s"the sweep-line needs NO join (the naive overlap join is the quadratic it replaces):\n$p")
    assert("windowspecdefinition\\(event_type#".r.findFirstIn(p).isDefined,
      s"sweep window must partition by (event_type, day):\n$p")
    assert("partial_max".r.findFirstIn(p).isDefined
      || "partial_count".r.findFirstIn(p).isDefined,
      s"daily rollup not map-side combined:\n$p")
  }

  test("q207 skyline: equi-joins only; within-bucket windows partitioned; group mins partial-agg") {
    val df = ops.Skyline.paretoFrontier(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dominance must decompose to equi-joins, never all-pairs:\n$p")
    assert("windowspecdefinition\\(bucket#".r.findFirstIn(p).isDefined,
      s"running min must partition by bucket (parallel):\n$p")
    assert("partial_min".r.findFirstIn(p).isDefined,
      s"score-group mins not map-side combined:\n$p")
  }

  test("q208 OLS trend: ONE scan, no join — the sufficient statistics all partial-agg") {
    val df = ops.Regression.olsTrend(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"),
      s"q208 must ride a single scoring scan (carry, not self-join):\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"moment sums not map-side combined:\n$p")
  }

  test("q209 NFC census: scan-fused normalize, no join; count-distincts expand one input pass") {
    val df = ops.Unicode.nfcDedup(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"q209 needs no join:\n$p")
    assert(p.contains("Expand"),
      s"the two count-distincts should expand ONE staged pass, not rescan:\n$p")
    assert(p.contains("nfc_normalize"),
      s"normalization must appear as the native expression in the scan:\n$p")
  }

  test("q211 bootstrap: replicate means partial-agg; no cartesian anywhere") {
    val df = ops.Bootstrap.bootstrapCi(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"the B-fold replicate explode must ride the scan, not a join:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"replicate weighted sums not map-side combined:\n$p")
  }

  test("q212 robust means: the cutoff relation broadcasts back; aggs partial") {
    val df = ops.RobustStats.robustMeans(spark, sfDir)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"|groups|-row cutoff relation should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"cutoff join degraded to a corpus shuffle:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"conditional means not map-side combined:\n$p")
  }

  test("q213 KS drift: ECDF windows partition by source; counts partial-agg") {
    val df = ops.KsDrift.ksReport(spark, sfDir)
    val p = plan(df)
    assert("windowspecdefinition\\(source#".r.findFirstIn(p).isDefined,
      s"ECDF running sums must partition by source (parallel, bounded rows):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs anything in a CDF comparison:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"(source, score) counts not map-side combined:\n$p")
  }

  test("q214 Benford: digit counts partial-agg; the 9-digit grid joins broadcast") {
    val df = ops.Benford.benfordAudit(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"the bounded grid/counts joins must broadcast:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"digit counts not map-side combined:\n$p")
  }

  test("q215 kappa: slim decision join, no cartesian; cells partial-agg") {
    val df = ops.Agreement.kappaReport(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"decision pairing must stay keyed on doc_id:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"confusion cells not map-side combined:\n$p")
  }

  test("q216 Gini: no join; cumulative windows partition by stratum") {
    val df = ops.Gini.tokenGini(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"), s"the rank identity needs no join:\n$p")
    assert("windowspecdefinition\\(stratum#".r.findFirstIn(p).isDefined,
      s"run cumulative must partition by stratum:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined,
      s"value-run counts not map-side combined:\n$p")
  }

  test("q217 estimator audit: the q24 candidate shape — keyed joins, census partial-aggs") {
    val df = ops.MinHashAudit.estimatorAudit(spark, sfDir)
    // the declared query checkpoints the census (one execution
    // serves contract + answer) — pin the pre-checkpoint pipeline
    val docs = ops.Dedup.shingled(spark, sfDir)
    val signed = ops.Dedup.signedOf(docs)
    val cand = ops.Dedup.candOf(ops.Dedup.invOf(signed))
    val p = plan(cand)
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must stay band-keyed:\n$p")
    assert(df.columns.toSeq === Seq("band", "n_pairs", "mean_est",
      "mean_exact", "mean_abs_err", "max_abs_err"))
  }

  test("q218 assortativity: moment sums collapse map-side; no cartesian") {
    val df = ops.Graph.assortativity(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"degree attachment must stay keyed:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined
      || "partial_sum".r.findFirstIn(p).isDefined,
      s"degree counts / moment sums not map-side combined:\n$p")
  }

  test("q219 KM: spans partial-agg; horizon broadcasts; the KM table is the bounded relation") {
    val df = ops.Survival.kaplanMeier(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row horizon must broadcast:\n$p")
    assert("partial_min".r.findFirstIn(p).isDefined
      || "partial_max".r.findFirstIn(p).isDefined,
      s"per-user span bounds not map-side combined:\n$p")
  }

  test("q220 A/B: one events pass, totals broadcast, 1-row statistic") {
    val df = ops.AbTest.abTest(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row totals must broadcast:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"per-user conversion counts not map-side combined:\n$p")
  }

  test("q221 EB shrinkage: one scoring scan; the prior fit broadcasts back") {
    val df = ops.Shrinkage.ebKeepRates(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row fit must broadcast into the strata relation:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"keep counts not map-side combined:\n$p")
  }

  test("q222 CUPED: one events pass to slim per-user rows; fits broadcast back") {
    val df = ops.Cuped.cupedReport(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row epoch/fit relations must broadcast:\n$p")
    assert("partial_sum".r.findFirstIn(p).isDefined,
      s"per-arm moment sums not map-side combined:\n$p")
  }

  test("q237 char entropy: join-free, counts map-side combined") {
    val df = ops.Entropy.charEntropy(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Join"),
      s"the entropy census is three stacked partial aggs — no joins:\n$p")
    assert("partial_count".r.findFirstIn(p).isDefined
      || "partial_sum".r.findFirstIn(p).isDefined,
      s"(doc, char) counts not map-side combined:\n$p")
  }

  test("q147 score join: a LIVE static-stat broadcast — flips under a floored threshold") {
    // VERDICT r11 #5: q147's score-side broadcast is a static decision
    // from PARQUET stats — legitimate because those stats grow with
    // the file, so the planner re-decides per corpus ("flips to SMJ
    // when the file grows"), unlike the checkpoint class q224 pins
    // whose stats stay frozen at any scale. Contract pinned here:
    // (a) at testdata scale the decision IS a broadcast, and (b)
    // flooring the threshold flips it to a partitioned join — the
    // flip is the proof no hint froze the choice.
    val labels = ops.Components.starLabels(spark, sfDir)
    val scored = ops.Curation.scoreDocs(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("score"))
    def scoreJoin = labels.join(scored, labels("node") === scored("doc_id"))
    val p = plan(scoreJoin)
    assert(p.contains("BroadcastHashJoin"),
      s"score join not statically broadcast at testdata scale:\n$p")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(scoreJoin)
      assert(!p2.contains("BroadcastHashJoin"),
        s"score join still broadcasts under a floored threshold — a " +
          s"hint froze the decision:\n$p2")
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        s"no partitioned join after the flip:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q100 cluster pair join: a LIVE stats broadcast — flips under a floored threshold") {
    // VERDICT r11 #5. History: with the relational assignment the
    // checkpoint's origin stats were aggregate-opaque, the static
    // plan stayed broadcast-free, and AQE promoted at runtime from
    // measured bytes. The native nearest_centroid assignment gives
    // the checkpoint a scan-derived origin estimate that GROWS with
    // the corpus, so the decision moved from runtime to static — the
    // q147 class, still live, never frozen. Contract: (a) broadcast
    // at testdata scale, (b) flooring the threshold flips it to a
    // partitioned join (proof no hint froze the choice), (c) the
    // floored shape is what a 100 TB corpus would plan.
    // fit once; only the PAIR-JOIN planning is under test, so replan
    // semDedupOver on the same pinned assignment under each threshold
    // (constructing semDedup twice would re-run the whole Lloyd fit)
    val assigned = ops.KMeans.docAssignments(spark, sfDir)
      .select(col("vec_id"), col("v"), col("xx"), col("cid")).localCheckpoint()
    def df = ops.SemDedup.semDedupOver(assigned, alreadyPinned = true)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"pair join not statically broadcast at testdata scale:\n$p")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan(df)
      assert(!p2.contains("BroadcastHashJoin"),
        s"pair join still broadcasts under a floored threshold — a " +
          s"hint froze the decision:\n$p2")
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        s"no partitioned join after the flip:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q27 band join: explicit sized exchange, hash join, no broadcast") {
    // r12: the band join sizes its own (band, key) exchange so each
    // non-spillable hash build holds ~64 MB of wide rows (the 30×
    // probe OOM'd at the session default width). Pins: the explicit
    // REPARTITION_BY_COL exchange is present on the join keys, the
    // join executes hashed (never sorting 8 KB payloads), and the
    // corpus-proportional checkpoint is never broadcast (the q224
    // disease this operator had in r11).
    val p = plan(ops.Similarity.embeddingNearDup(spark, sfDir))
    assert(p.contains("REPARTITION_BY_COL") ||
      "hashpartitioning\\(band".r.findFirstIn(p).isDefined,
      s"band join lost its explicit sized exchange:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"band join must build hashed, not sort payloads:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-proportional checkpoint broadcast is back:\n$p")
  }

  test("whole-stage codegen covers the scan+filter+project pipeline") {
    val df = ops.Relational.pricingSummary(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val codegen = df.queryExecution.executedPlan.toString
    // WholeStageCodegen markers appear as '*(n)' prefixes
    assert(codegen.contains("*("), s"no whole-stage codegen spans:\n$codegen")
  }
}
