package graft.streaming

import graft.Tables
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming EXACT dedup via Structured Streaming's built-in
  * `dropDuplicates` state — the seventh streaming state shape in the
  * declared-query gate (q157 flatMapGroupsWithState, q158 complete
  * agg, q159 append windows, q160 mapGroupsWithState, q161 session
  * windows, q162 stream-stream join): the engine-managed dedup store
  * remembers every key it has admitted and suppresses re-arrivals
  * — the ingest-side twin of the batch q22, and the state shape any
  * at-least-once pipeline leans on for idempotence.
  *
  * Determinism without pinning WHICH duplicate survives: within a
  * micro-batch, `dropDuplicates` keeps an arbitrary first row per
  * key, so the SURVIVING doc_id is shuffle-order-dependent — but the
  * survivor's BATCH is not (a key's surviving row always belongs to
  * the key's first batch in the pinned drain order), and the rollup
  * publishes batch-level counts only. The planted copy families
  * shift doc ids by ≡1, ≡2, and ≡0 (mod [[StreamBatches]]), so the
  * replay provably exercises BOTH within-batch suppression and the
  * cross-batch state memory.
  *
  * Scale shape: the stream shuffles (fp, doc_id) pairs; state is one
  * entry per distinct fingerprint. Production bounds that state with
  * `dropDuplicatesWithinWatermark` (dup windows are temporal); the
  * bounded replay keeps NoTimeout-equivalent semantics for
  * determinism, same trade as q157.
  */
object StreamDedup {

  val StreamBatches = 4

  /** documents ∪ three fingerprint-identical copy families with
    * batch shifts 1, 2, 0: upper-case (id%7), re-spaced (id%9),
    * trailing-tab (id%11) — all normalize to the same fingerprint
    * ([[TextOps.fingerprint]] tokenizes first). */
  private[graft] def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Planted
    // slots 2/4/6 with +1/+2/+0 batch-residue adjusts: every base the
    // Planted rule produces is divisible by 4, so the residues mod
    // StreamBatches=4 are exactly the adjusts — the 1/2/0 shifts the
    // scaladoc's replay contract depends on, at ANY staged scale
    val off2 = Planted.familyOffset(spark, sfDir, 2,
      "q191 stream-dedup upper family", adjust = 1L)
    val off4 = Planted.familyOffset(spark, sfDir, 4,
      "q191 stream-dedup re-spaced family", adjust = 2L)
    val off6 = Planted.familyOffset(spark, sfDir, 6,
      "q191 stream-dedup tab family")
    val d = Tables.documents(spark, sfDir)
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + off2).as("doc_id"),
          upper(col("text")).as("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + off4).as("doc_id"),
          regexp_replace(col("text"), lit(" "), lit("  ")).as("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + off6).as("doc_id"),
          concat(col("text"), lit("\t")).as("text")))
  }

  private[graft] val corpusCte = {
    import graft.ops.Planted
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(2, 1L)}, upper(text)
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(4, 2L)}, replace(text, ' ', '  ')
      |  FROM documents WHERE doc_id % 9 = 0
      |  UNION ALL
      |  SELECT doc_id + ${Planted.offsetSql(6)}, text || chr(9)
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin
  }

  /** q191: the corpus replayed through a REAL `dropDuplicates`
    * streaming query (file source, one staged file per micro-batch,
    * oldest-first drain hard-asserted ≥ 2 batches, parquet-sink
    * append of survivors), rolled up per batch: arrivals, admitted,
    * suppressed. */
  def streamedExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Replay.scratch(spark, "stream_dedup", sfDir)
    val stage = s"$base/stage"
    // materialize (doc_id, fp) once (r16, guide §2.4): the four
    // staged writes each re-ran the 4-way corpus union + tokenizing
    // fingerprint; off the pin they are block reads
    graft.ops.Materialize.using(corpus(spark, sfDir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))) { docs =>
      Replay.stage(stage, (0 until StreamBatches).map(b =>
        docs.filter(pmod(col("doc_id"), lit(StreamBatches.toLong)) === b)))
    }
    val src = Replay.source(spark, "doc_id BIGINT, fp BIGINT", stage)
    val q = Replay.withStatePartitions(spark) {
      src.dropDuplicates("fp").writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/admitted")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 2, "streaming dedup")
    val admitted = spark.read.parquet(s"$base/admitted")
      .groupBy(pmod(col("doc_id"), lit(StreamBatches.toLong)).as("batch"))
      .agg(count(lit(1)).as("n_admitted"))
    val arrivals = spark.read.parquet(stage)
      .groupBy(pmod(col("doc_id"), lit(StreamBatches.toLong)).as("batch"))
      .agg(count(lit(1)).as("n_arrivals"))
    arrivals.join(admitted, Seq("batch"), "left")
      .na.fill(0L, Seq("n_admitted"))
      .withColumn("n_suppressed", col("n_arrivals") - col("n_admitted"))
      .orderBy(col("batch"))
  }

  // ---- q223: BOUNDED dedup state (dropDuplicatesWithinWatermark) --

  /** Dedup window for the bounded variant. */
  val DedupDelay = "10 minutes"

  /** q223: `dropDuplicatesWithinWatermark` — the BOUNDED-state dedup
    * q191's scaladoc points at: the unbounded `dropDuplicates` store
    * grows with every distinct key forever (the quiet OOM of a
    * year-long ingest), while the watermark variant evicts a key's
    * state once the watermark passes its event time + delay — at the
    * price of the at-least-once reality the unbounded store hides: a
    * re-delivery arriving AFTER eviction is admitted AGAIN. This
    * query certifies BOTH sides of that contract: a fast duplicate
    * (1 min after its original, well inside the 10-min window) must
    * be suppressed, and a late re-delivery (24 h after, with the
    * watermark advanced far past the original's horizon by
    * intervening batches) must be re-admitted.
    *
    * Determinism: timestamps are fixed literals (no data-derived
    * clock) and the gaps are EXTREME relative to the delay — the
    * suppression/eviction outcomes are forced by the API's coarse
    * guarantees, not by which batch the watermark update lands in
    * (the q197 one-batch-lag pin never becomes observable). Arrivals
    * carry their staged batch index as a COLUMN, so the rollup is
    * batch-exact without depending on which physical row survives.
    *
    * Scale shape: identical to q191 — (key, ts) pairs shuffle, one
    * state entry per key — except state size is now bounded by the
    * key-arrival rate × delay instead of the key cardinality of all
    * time: the difference between a dedup store that fits in RocksDB
    * forever and one that cannot. */
  def streamedBoundedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Replay.scratch(spark, "stream_wdedup", sfDir)
    val stage = s"$base/stage"
    val t0 = lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    def adv(k: Long, offsetMin: Int, bix: Int) = {
      import spark.implicits._
      Seq(k).toDF("key").select(col("key"),
        (t0 + expr(s"interval $offsetMin minutes")).as("ts"),
        lit(bix).as("bix"))
    }
    // materialized once (r16, guide §2.4): three staged batches
    // derive from `keys`, and each derivation re-ran the full
    // tokenizing-fingerprint + distinct pipeline before the pin
    graft.ops.Materialize.using(Tables.documents(spark, sfDir)
        .select(TextOps.fingerprint(col("text")).as("key")).distinct()) { keys =>
      Replay.stage(stage, Seq(
        keys.select(col("key"), t0.as("ts"), lit(0).as("bix")),
        keys.filter(pmod(col("key"), lit(3)) === 0)
          .select(col("key"), (t0 + expr("interval 1 minute")).as("ts"),
            lit(1).as("bix"))
          .unionByName(adv(-1L, 30, 1)),
        adv(-2L, 720, 2),
        keys.filter(pmod(col("key"), lit(5)) === 0)
          .select(col("key"), (t0 + expr("interval 1440 minutes")).as("ts"),
            lit(3).as("bix"))
          .unionByName(adv(-3L, 1500, 3))))
    }
    val src = Replay.source(spark, "key BIGINT, ts TIMESTAMP, bix INT", stage)
    val q = Replay.withStatePartitions(spark) {
      src.withWatermark("ts", DedupDelay)
        .dropDuplicatesWithinWatermark("key")
        .writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$base/admitted")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    }
    Replay.drain(q, 4, "bounded dedup")
    val admitted = spark.read.parquet(s"$base/admitted")
      .groupBy(col("bix").as("batch")).agg(count(lit(1)).as("n_admitted"))
    val arrivals = spark.read.parquet(stage)
      .groupBy(col("bix").as("batch")).agg(count(lit(1)).as("n_arrivals"))
    arrivals.join(admitted, Seq("batch"), "left")
      .na.fill(0L, Seq("n_admitted"))
      .withColumn("n_suppressed", col("n_arrivals") - col("n_admitted"))
      .orderBy(col("batch"))
  }

  /** Closed-form oracle — the staging's extreme gaps force every
    * outcome: batch 0 all admitted; batch 1's fast duplicates all
    * suppressed (the advance key admitted); batch 2's advance
    * admitted; batch 3's 24-h re-deliveries ALL RE-ADMITTED (state
    * evicted — the bounded-store contract under test). */
  val streamedBoundedDedupSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH fps AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5(array_to_string($tokSql, ' ')), 1, 15))::BIGINT
      |      AS key
      |  FROM documents)
      |SELECT 0 AS batch, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      |  CAST(COUNT(*) AS BIGINT) AS n_admitted,
      |  CAST(0 AS BIGINT) AS n_suppressed FROM fps
      |UNION ALL
      |SELECT 1,
      |  CAST(COUNT(*) FILTER (WHERE key % 3 = 0) + 1 AS BIGINT),
      |  CAST(1 AS BIGINT),
      |  CAST(COUNT(*) FILTER (WHERE key % 3 = 0) AS BIGINT) FROM fps
      |UNION ALL
      |SELECT 2, CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 3,
      |  CAST(COUNT(*) FILTER (WHERE key % 5 = 0) + 1 AS BIGINT),
      |  CAST(COUNT(*) FILTER (WHERE key % 5 = 0) + 1 AS BIGINT),
      |  CAST(0 AS BIGINT) FROM fps
      |ORDER BY batch""".stripMargin
  }

  /** DuckDB recomputes the stream's answer from the pinned split:
    * a fingerprint's surviving row lands in its FIRST batch; every
    * other arrival is suppressed. */
  val streamedExactDedupSql: String = {
    val tokSql = TextOps.tokSql()
    s"""WITH $corpusCte,
      |fps AS (
      |  SELECT doc_id, doc_id % $StreamBatches AS batch,
      |    ('0x' || substr(md5(array_to_string($tokSql, ' ')), 1, 15))::BIGINT
      |      AS fp
      |  FROM corpus),
      |first_seen AS (
      |  SELECT fp, MIN(batch) AS fb FROM fps GROUP BY fp)
      |SELECT b.batch, b.n_arrivals,
      |  COALESCE(a.n_admitted, 0) AS n_admitted,
      |  b.n_arrivals - COALESCE(a.n_admitted, 0) AS n_suppressed
      |FROM (SELECT batch, COUNT(*) AS n_arrivals FROM fps GROUP BY batch) b
      |LEFT JOIN (SELECT fb AS batch, COUNT(*) AS n_admitted
      |           FROM first_seen GROUP BY fb) a
      |  ON b.batch = a.batch
      |ORDER BY b.batch""".stripMargin
  }
}
