package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet testdata (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and resolve tables
  * through here so the scan always goes through the columnar parquet
  * reader with pushdown/pruning intact (no caching layer in the way).
  *
  * Each file's schema is inferred once and every later read passes it
  * to `spark.read.schema(s)`, so building a DataFrame launches no
  * Spark job (inference is one job per read, which a serving request
  * paid on every table it touched). The memo is keyed on everything
  * the inferred schema depends on — the qualified path, the length and
  * modification time of every leaf file under it, and the session
  * confs parquet schema conversion reads — so a regenerated file or a
  * toggled conf infers afresh. Rows are never cached: only the schema,
  * and through [[derived]] an analyzed derivation (no data) on the same
  * key.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else read(spark, s"$sfDir/$name.parquet")

  /** Session confs that change the schema parquet inference yields. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** What an inferred schema was derived from: (path, length, mtime)
    * of every leaf file, and the [[SchemaConfs]] values. */
  private final case class Source(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  /** Qualified path → the source its schema was inferred from, and the
    * schema. One entry per path; a changed source replaces it. Serving
    * builds DataFrames on many threads at once. */
  private val schemas = new ConcurrentHashMap[String, (Source, StructType)]()

  private def read(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path).fold(spark.read.parquet(path))(r =>
      spark.read.schema(r.schema).parquet(path))

  /** A present path: its qualified name, [[Source]] and schema. */
  private final case class Resolved(qualified: String, source: Source,
      schema: StructType)

  /** The path's memoized schema, inferred afresh when its source
    * changed; None for a missing path, which keeps Spark's own
    * PATH_NOT_FOUND analysis error. */
  private def resolve(spark: SparkSession, path: String): Option[Resolved] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val source = Source(
        leafFiles(fs, fs.getFileStatus(p))
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted,
        SchemaConfs.map(spark.conf.getOption))
      val qualified = fs.makeQualified(p).toString
      val (_, schema) = schemas.compute(qualified,
        (_, memo) =>
          if (memo != null && memo._1 == source) memo
          else (source, spark.read.parquet(path).schema))
      Some(Resolved(qualified, source, schema))
    }
  }

  /** What a [[derived]] frame was built from: the session, the table's
    * [[Source]], and every session conf (analysis reads some of them,
    * e.g. the time zone a timestamp literal parses in). */
  private final case class DerivedKey(session: SparkSession, source: Source,
      confs: Map[String, String])

  /** (derivation name, qualified path) → the key its frame was built
    * from, and the frame. A changed key replaces the entry. */
  private val derivedFrames =
    new ConcurrentHashMap[(String, String), (DerivedKey, DataFrame)]()

  /** `derive(load(spark, sfDir, name))`, analyzed once and reused while
    * the session, the table's files and the session confs stay the
    * same: a rewritten file or a changed conf builds afresh. `tag`
    * names the derivation. Not for `events`, whose adapter this
    * would skip. */
  def derived(spark: SparkSession, sfDir: String, name: String, tag: String)(
      derive: DataFrame => DataFrame): DataFrame = {
    require(name != "events", "events needs its adapter: use Tables.events")
    val path = s"$sfDir/$name.parquet"
    resolve(spark, path) match {
      case None => derive(spark.read.parquet(path))
      case Some(r) =>
        val key = DerivedKey(spark, r.source, spark.conf.getAll)
        derivedFrames.compute((tag, r.qualified), (_, memo) =>
          if (memo != null && memo._1 == key) memo
          else (key, derive(spark.read.schema(r.schema).parquet(path))))._2
    }
  }

  /** Plain statuses, not `listFiles`' located ones: building a located
    * status reads the file's permissions, which on the local file
    * system without native IO forks a process per file. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leafFiles(fs, _))
    else Seq(st)

  /** events.ts has shipped in two physical layouts across testdata
    * generations: parquet INT64 TIMESTAMP(NANOS) — which Spark's vector
    * reader only surfaces as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — and native
    * `timestamp[us]`, which Spark reads directly as a timestamp type.
    * The loader is an adapter over that boundary: it branches on the
    * column's resolved dtype so both layouts land on identical
    * microsecond timestamps (matching what DuckDB reads natively, so
    * the oracle sees the same values either way). */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, s"$sfDir/events.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      case LongType =>        // legacy INT64-nanos layout via nanosAsLong
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // native timestamp[us]; align to TIMESTAMP
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw            // already TIMESTAMP — pass through
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
