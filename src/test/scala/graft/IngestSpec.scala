package graft

import graft.streaming.Ingest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class PageItem(url: String, title: Option[String],
    meta_description: Option[String], content: Option[String],
    file_type: String, embedding_type: String)

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = new Timestamp(1000000L)
  private val t1 = new Timestamp(2000000L)

  private def items(rows: PageItem*) = rows.toDS().toDF()

  test("transformBatch drops guard-failing rows (tasks.py:66-74)") {
    val batch = items(
      PageItem(null, None, None, Some("x"), "html", "text"),
      PageItem("https://a.test/1", None, None, None, "html", "text"),
      PageItem("https://a.test/2", None, None, None, "image", "vision"),
      PageItem("https://a.test/3", None, None, Some("body"), "html", "text"))
    val out = Ingest.transformBatch(batch, t0)
    assert(out.count() === 2) // null url and null-content html dropped
    val domains = out.select("domain").as[String].collect().toSet
    assert(domains === Set("a.test"))
    assert(out.select(size($"embedding")).as[Int].collect()
      .forall(_ === graft.functions.Embeddings.RefDims))
  }

  test("vision path consumes image bytes, not the url string") {
    import graft.functions.Embeddings
    val batch = items(
      PageItem("https://a.test/img.jpg", None, None, None, "image", "vision"))
    val got = Ingest.transformBatch(batch, t0)
      .select($"embedding").as[Seq[Double]].head()
    val viaBytes = batch.select(Embeddings.embedVisionStored(
        Embeddings.fetchImageBytes($"url"))).as[Seq[Double]].head()
    val viaUrlText = batch.select(Embeddings.embedStored($"url"))
      .as[Seq[Double]].head()
    assert(got === viaBytes)   // fetch -> base64 -> featurize over bytes
    assert(got !== viaUrlText) // NOT the old url-string stand-in
  }

  test("upsertInto: newest wins per url, idempotent (S5/Q2)") {
    val state = Ingest.transformBatch(items(
      PageItem("https://a.test/1", None, None, Some("old"), "html", "text")), t0)
    val batch = Ingest.transformBatch(items(
      PageItem("https://a.test/1", None, None, Some("new"), "html", "text"),
      PageItem("https://a.test/2", None, None, Some("fresh"), "html", "text")), t1)
    val merged = Ingest.upsertInto(state, batch)
    assert(merged.count() === 2)
    val c1 = merged.filter($"url" === "https://a.test/1")
      .select("content").as[String].head()
    assert(c1 === "new")
    // idempotence: re-applying the same batch changes nothing
    val again = Ingest.upsertInto(merged, batch)
    assert(again.orderBy("url").collect().toSeq ===
      merged.orderBy("url").collect().toSeq)
  }

  test("upsertInto: a url repeated in one batch keeps the same row on any layout") {
    val state = Ingest.transformBatch(items(
      PageItem("https://a.test/1", None, None, Some("old"), "html", "text")), t0)
    val rows = Seq(
      PageItem("https://a.test/1", None, None, Some("zeta"), "html", "text"),
      PageItem("https://a.test/2", None, None, Some("other"), "html", "text"),
      PageItem("https://a.test/1", None, None, Some("alpha"), "html", "text"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val layouts = for {
      order <- Seq(rows, rows.reverse)
      parts <- Seq(1, 4)
      shuffle <- Seq(1, 7)
    } yield (order, parts, shuffle)
    val merges = layouts.map { case (order, parts, shuffle) =>
      spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
      try {
        val batch = Ingest.transformBatch(items(order: _*).repartition(parts), t1)
          .localCheckpoint()
        val merged = Ingest.upsertInto(state, batch).localCheckpoint()
        val again = Ingest.upsertInto(merged, batch)
        val got = merged.orderBy("url").collect().toSeq
        // re-delivering the batch changes nothing
        assert(again.orderBy("url").collect().toSeq === got,
          s"re-applying the batch changed the corpus ($parts parts, $shuffle shuffle)")
        got
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(merges.distinct.size === 1, s"winners differ by layout: $merges")
    // the tie breaks on the row's values: the least content wins
    assert(merges.head.map(_.getAs[String]("content")) === Seq("alpha", "other"))
  }

  test("ledger transition drives the Q3 state machine") {
    val ledger = Seq(("job-1", "queued", t0), ("job-2", "queued", t0))
      .toDF("id", "status", "updated_at")
    val running = Ingest.transition(ledger, $"id" === "job-1", "running", t1)
    val got = running.orderBy("id").select("status").as[String].collect()
    assert(got.toSeq === Seq("running", "queued"))
  }

  test("invalid transitions are silent no-ops; terminal states have no exits") {
    val ledger = Seq(
      ("job-1", "completed", t0), ("job-2", "queued", t0),
      ("job-3", "stopped", t0)).toDF("id", "status", "updated_at")
    // completed → running is not in the machine: nothing changes
    val a = Ingest.transition(ledger, $"id" === "job-1", "running", t1)
    assert(a.orderBy("id").select("status").as[String].collect().toSeq ===
      Seq("completed", "queued", "stopped"))
    // queued → stopping is not in the machine either (only running stops)
    val b = Ingest.transition(ledger, $"id" === "job-2", "stopping", t1)
    assert(b.filter($"id" === "job-2").select("status").as[String].head() ===
      "queued")
    assert(Ingest.ValidTransitions("stopped").isEmpty)
  }

  test("stop lifecycle: running → stopping → stopped, others untouched") {
    val ledger = Seq(
      ("job-1", "running", t0), ("job-2", "running", t0),
      ("job-3", "pending", t0), ("job-4", "completed", t0))
      .toDF("id", "status", "updated_at")
      .withColumn("param_domain",
        when($"id" === "job-2", "other.test").otherwise("d3.test"))
    val requested =
      Ingest.transition(ledger, $"param_domain" === "d3.test", "stopping", t1)
    assert(requested.orderBy("id").select("status").as[String].collect().toSeq
      === Seq("stopping", "running", "pending", "completed"))
    val done = Ingest.transition(requested, lit(true), "stopped", t1)
    assert(done.orderBy("id").select("status").as[String].collect().toSeq
      === Seq("stopped", "running", "pending", "completed"))
    // stamp only moves on the rows that transitioned
    val stamps = done.orderBy("id").select("updated_at")
      .as[java.sql.Timestamp].collect()
    assert(stamps.toSeq === Seq(t1, t0, t0, t0))
  }

  test("end-to-end micro-batch stream: two batches upsert into corpus") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageItem]
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus")
      .toString
    val q = Ingest.run(spark, mem.toDF(), s"$dir/corpus", s"$dir/ckpt")
    try {
      mem.addData(
        PageItem("https://a.test/1", None, None, Some("v1"), "html", "text"))
      q.processAllAvailable()
      mem.addData(
        PageItem("https://a.test/1", None, None, Some("v2"), "html", "text"),
        PageItem("https://a.test/2", None, None, Some("x"), "html", "text"))
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$dir/corpus")
      assert(corpus.count() === 2)
    } finally q.stop()
  }
}
