package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — the physical-layout half of scan
  * performance at 100 TB: interleave the bits of two predicate
  * columns so a file (a contiguous z-range) stays local in BOTH
  * dimensions, and multi-dimensional box queries touch few files.
  * This is what `OPTIMIZE ZORDER BY (user_id, day)` computes before
  * a range-partitioned write; here the z-value and the file-touch
  * statistics are the query, so the locality win is measurable and
  * oracle-checkable.
  *
  * The demo clusters events by (user_id, day) under three layouts —
  * z-order, user-major, time-major — and counts the files holding
  * matching rows for two adversarial boxes (one wide in users, one
  * wide in days). Each linear layout is catastrophic on the box that
  * crosses its major axis; z-order stays close to the per-box winner
  * on both. All math is exact integer bit manipulation, identical in
  * both engines.
  */
object Zorder {

  val LowBits = 5    // interleaved low bits per dimension
  val FileShift = 4  // file = key >> 4 (16 z-cells per file)
  val EpochDay0 = 19723 // events' first day (2024-01-01)

  /** Morton-interleave x (11 bits: 5 low interleaved + 6 high
    * appended) with y (5 bits). */
  def morton(x: Column, y: Column): Column = {
    val pairs = (0 until LowBits).flatMap { i =>
      Seq(shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    (pairs :+ shiftleft(shiftrightunsigned(x, LowBits), 2 * LowBits))
      .reduce(_ + _)
  }

  private def mortonSql(x: String, y: String): String = {
    val pairs = (0 until LowBits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})",
        s"((($y >> $i) & 1) << ${2 * i + 1})")
    }
    (pairs :+ s"(($x >> $LowBits) << ${2 * LowBits})").mkString(" + ")
  }

  /** The two box predicates: (name, user range, day range). */
  val Boxes: Seq[(String, (Int, Int), (Int, Int))] = Seq(
    ("wide_users", (100, 199), (10, 13)),
    ("wide_days", (40, 49), (2, 25)))

  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.events(spark, sfDir).select(
      col("user_id").as("x"),
      (datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
        - EpochDay0).cast("bigint").as("y"))
    val keyed = base.select(col("x"), col("y"),
      shiftrightunsigned(morton(col("x"), col("y")), FileShift).as("f_z"),
      shiftrightunsigned(shiftleft(col("x"), LowBits) + col("y"), FileShift)
        .as("f_user"),
      shiftrightunsigned(shiftleft(col("y"), LowBits + 6) + col("x"), FileShift)
        .as("f_time")).pin()
    val layouts = Seq("zorder" -> "f_z", "user_major" -> "f_user",
      "time_major" -> "f_time")
    val perBox = for {
      (layout, fcol) <- layouts
      (box, (u0, u1), (d0, d1)) <- Boxes
    } yield {
      val nonempty = keyed.agg(countDistinct(col(fcol)).as("n_files_nonempty"))
      keyed.filter(col("x").between(u0, u1) && col("y").between(d0, d1))
        .agg(count(lit(1)).as("rows_selected"),
          countDistinct(col(fcol)).as("n_files_touched"))
        .crossJoin(nonempty)
        .select(lit(layout).as("layout"), lit(box).as("box"),
          col("rows_selected"), col("n_files_touched"),
          col("n_files_nonempty"),
          round(col("n_files_touched").cast("double")
            / col("n_files_nonempty"), 6).as("touch_ratio"))
    }
    perBox.reduce(_.unionByName(_)).orderBy(col("layout"), col("box"))
  }

  val zorderLayoutSql: String = {
    val boxSelects = for {
      (layout, fcol) <- Seq("zorder" -> "f_z", "user_major" -> "f_user",
        "time_major" -> "f_time")
      (box, (u0, u1), (d0, d1)) <- Boxes
    } yield
      s"""SELECT '$layout' AS layout, '$box' AS box,
         |  (SELECT COUNT(*) FROM keyed
         |   WHERE x BETWEEN $u0 AND $u1 AND y BETWEEN $d0 AND $d1) AS rows_selected,
         |  (SELECT COUNT(DISTINCT $fcol) FROM keyed
         |   WHERE x BETWEEN $u0 AND $u1 AND y BETWEEN $d0 AND $d1) AS n_files_touched,
         |  (SELECT COUNT(DISTINCT $fcol) FROM keyed) AS n_files_nonempty,
         |  ROUND(CAST((SELECT COUNT(DISTINCT $fcol) FROM keyed
         |    WHERE x BETWEEN $u0 AND $u1 AND y BETWEEN $d0 AND $d1) AS DOUBLE)
         |    / (SELECT COUNT(DISTINCT $fcol) FROM keyed), 6) AS touch_ratio""".stripMargin
    s"""WITH base AS (
      |  SELECT user_id AS x,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      - $EpochDay0 AS BIGINT) AS y
      |  FROM events),
      |keyed AS MATERIALIZED (
      |  SELECT x, y,
      |    (${mortonSql("x", "y")}) >> $FileShift AS f_z,
      |    ((x << $LowBits) + y) >> $FileShift AS f_user,
      |    ((y << ${LowBits + 6}) + x) >> $FileShift AS f_time
      |  FROM base)
      |${boxSelects.mkString("\nUNION ALL\n")}
      |ORDER BY layout, box""".stripMargin
  }
}
