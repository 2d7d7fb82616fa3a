package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual-hash image near-duplicate detection — the multimodal
  * counterpart of q24/q25: find re-processed copies of the same image
  * (brightness shifts, re-encodes) that exact byte dedup misses.
  *
  * The hash is a comparison hash (the dHash family — Krawetz, "Kind
  * of Like That"): bit `16·(d−1)+i` is `p[i] > p[(i+d) mod 16]` for
  * pixel offsets d ∈ 1..3 over the 4×4 grayscale raster — 48 bits of
  * rank structure, invariant to monotone brightness changes, flipped
  * only where a perturbation crosses a pixel-pair ordering. Planted
  * near-dups (every [[CopyEvery]]-th image gets a copy with one
  * pixel brightened by [[Delta]]) land at Hamming ≈ 0-2; unrelated
  * images sit near 24, so the [[MaxHamming]] = 5 threshold separates
  * cleanly (random 48-bit collision odds ≈ 7e-9).
  *
  * Scale shape: the image PAYLOAD never crosses a shuffle — pixels
  * become a 48-bit hash inside the scan partition (real PNG
  * encode→decode roundtrip, same codec path as q78), and the
  * candidate self-join carries only (id, hash, band_key) rows.
  * Banding is exact-complete by pigeonhole: [[Bands]] = 6 disjoint
  * 8-bit bands, so any pair within Hamming ≤ 5 shares at least one
  * untouched band. Verification is one bit_count(xor) per candidate.
  * At 100 TB the same shape runs with a 64-bit DCT pHash over 32×32
  * rasters — band count and threshold scale with hash width, the
  * plan does not change.
  */
object Phash {

  /** Brightness perturbation applied to planted copies. */
  val Delta = 9

  /** Every N-th image gets a perturbed copy. */
  val CopyEvery = 5

  /** Planted-copy id offset (disjoint from any part key). */
  val CopyIdOffset = 100000000L

  /** Near-dup threshold: Hamming ≤ 5 over the 48-bit hash. */
  val MaxHamming = 5

  /** 6 disjoint 8-bit bands: 6 > [[MaxHamming]] ⇒ exact-complete. */
  val Bands = 6

  /** 48-bit comparison hash over a 16-pixel raster (row-major 4×4). */
  private[graft] def hash48(px: Array[Int]): Long = {
    var h = 0L
    var d = 1
    while (d <= 3) {
      var i = 0
      while (i < 16) {
        if (px(i) > px((i + d) % 16)) h |= 1L << (16 * (d - 1) + i)
        i += 1
      }
      d += 1
    }
    h
  }

  /** Decode a PNG back to its 16 pixels and hash it — the REAL codec
    * path (ImageIO), per partition, no driver involvement. */
  private[graft] def decodeAndHash(
      rows: Iterator[Media.ImageBytes]): Iterator[(Long, Long)] =
    rows.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.png))
      val raster = img.getRaster
      val px = new Array[Int](16)
      var i = 0
      while (i < 16) {
        px(i) = raster.getSample(i % 4, i / 4, 0)
        i += 1
      }
      (r.id, hash48(px))
    }

  /** Interleave a brightness-shifted copy after every
    * [[CopyEvery]]-th image (pixel `(id/CopyEvery) mod 16` raised by
    * [[Delta]], saturating at 255) — the processed-copy scenario
    * perceptual dedup exists for. Runs inside the scan partition, so
    * copies never cost a shuffle. */
  private val maxIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Max image id, computed once per sfDir per JVM (pruned column
    * scan); -1 for an imageless corpus (guard trivially passes). */
  private def maxImageId(spark: SparkSession, sfDir: String): Long =
    maxIdCache.computeIfAbsent(
      new java.io.File(sfDir).getAbsolutePath,
      _ => {
        val r = Media.mediaTable(spark, sfDir)
          .filter(col("kind") === "image")
          .agg(max(col("id"))).head()
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }).longValue()

  private[graft] def withCopies(
      rows: Iterator[Media.MediaRow]): Iterator[Media.MediaRow] =
    rows.flatMap { r =>
      if (r.id % CopyEvery == 0) {
        val b = r.content.clone()
        val pos = ((r.id / CopyEvery) % 16).toInt
        b(pos) = math.min((b(pos) & 0xff) + Delta, 255).toByte
        Iterator(r,
          Media.MediaRow(r.id + CopyIdOffset, r.kind, b, r.width, r.height))
      } else Iterator.single(r)
    }

  /** q167: the perceptual near-dup census over the image corpus +
    * planted processed copies: for each Hamming distance ≤
    * [[MaxHamming]], how many image PAIRS sit at that distance, and
    * how many of those are the planted copies.
    *
    * Exact-dup collapse first: identical images (and there are many —
    * the corpus reuses source assets) share a hash, so the banded
    * join runs over DISTINCT hash values only and pair counts expand
    * from group sizes (n₁·n₂ across groups, C(n,2) within). The
    * quadratic identical-cluster blowup every naive near-dup join
    * dies on at scale never materializes — same-hash pairs are
    * arithmetic, not rows. */
  def imageNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the copy classification below is range-derived (`b.id - a.id =
    // CopyIdOffset`), so the fixed offset needs the same loud
    // headroom guard the doc-space carvings get from
    // [[Planted.familyOffset]] — this id space is p_partkey-derived,
    // outside that convention (collides only past a ~5000× staged
    // part table, but silently misclassifying there is exactly the
    // r9 disease). Max id cached per (JVM, sfDir) like
    // [[Planted.maxDocId]]; an imageless corpus trivially passes.
    Planted.assertIdHeadroom(
      maxImageId(spark, sfDir), CopyIdOffset, "q167 image copies", sfDir)
    val hashes = Media.mediaTable(spark, sfDir)
      .filter(col("kind") === "image")
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Media.MediaRow]
      .mapPartitions(rows =>
        decodeAndHash(Media.encodePng(withCopies(rows))))
      .toDF("id", "ph")
      .cache() // feeds the group collapse AND the planted 1-1 join
    val groups = hashes.groupBy(col("ph"))
      .agg(count(lit(1)).as("sz"))
      .cache() // both sides of the band self-join
    val cross = Blocking.pairs(Blocking.byteBands(groups, "ph", Bands),
        "ph", "band", "key")
      .distinct() // a group pair can match in several bands
      .withColumn("hamming", bit_count(col("a_id").bitwiseXOR(col("b_id"))))
      .filter(col("hamming") <= MaxHamming)
      .select(col("hamming"), (col("a_sz") * col("b_sz")).as("n"))
    val within = groups.filter(col("sz") > 1)
      .select(lit(0).as("hamming"),
        ((col("sz") * (col("sz") - 1)) / 2).cast("long").as("n"))
    val pairHist = cross.unionByName(within)
      .groupBy(col("hamming")).agg(sum(col("n")).as("n_pairs"))
    val planted = hashes.as("a").join(hashes.as("b"),
        col("b.id") === col("a.id") + CopyIdOffset)
      .withColumn("hamming",
        bit_count(col("a.ph").bitwiseXOR(col("b.ph"))))
      .filter(col("hamming") <= MaxHamming)
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_planted"))
    pairHist.join(planted, Seq("hamming"), "left")
      .na.fill(0L, Seq("n_planted"))
      .select(col("hamming").cast("long").as("hamming"),
        col("n_pairs"), col("n_planted"))
      .orderBy(col("hamming"))
  }

  /** DuckDB oracle: same pixels from the md5 byte math (PNG roundtrip
    * is lossless), same hash, then the naive all-pairs definition the
    * group-collapsed banded plan must reproduce. */
  val imageNearDupSql: String =
    s"""WITH media AS (
      |  SELECT p_partkey AS id, md5(p_name) AS hx
      |  FROM part WHERE p_partkey % 3 <> 0),
      |base AS (
      |  SELECT id,
      |    list_transform(generate_series(0, 15),
      |      i -> ('0x' || substr(hx, 2 * i + 1, 2))::INT) AS px
      |  FROM media),
      |all_imgs AS (
      |  SELECT id, px FROM base
      |  UNION ALL
      |  SELECT b.id + $CopyIdOffset,
      |    list_transform(generate_series(0, 15),
      |      i -> CASE WHEN i = (b.id // $CopyEvery) % 16
      |        THEN LEAST(px[i + 1] + $Delta, 255) ELSE px[i + 1] END)
      |  FROM base b WHERE b.id % $CopyEvery = 0),
      |hashes AS (
      |  SELECT id, CAST(list_sum(flatten(list_transform([1, 2, 3], d ->
      |    list_transform(generate_series(0, 15), i ->
      |      CASE WHEN px[i + 1] > px[((i + d) % 16) + 1]
      |        THEN (1::BIGINT << (16 * (d - 1) + i)) ELSE 0 END))))
      |    AS BIGINT) AS ph
      |  FROM all_imgs),
      |pairs AS (
      |  SELECT bit_count(xor(a.ph, b.ph)) AS hamming,
      |    CASE WHEN b.id - a.id = $CopyIdOffset THEN 1 ELSE 0 END AS pl
      |  FROM hashes a JOIN hashes b ON a.id < b.id
      |  WHERE bit_count(xor(a.ph, b.ph)) <= $MaxHamming)
      |SELECT CAST(hamming AS BIGINT) AS hamming,
      |  COUNT(*) AS n_pairs, CAST(SUM(pl) AS BIGINT) AS n_planted
      |FROM pairs GROUP BY hamming ORDER BY hamming""".stripMargin
}
