package graft

import org.apache.spark.sql.types._

/** Schema contract on the driver-owned testdata boundary.
  *
  * The driver regenerates `/root/testdata` between rounds and has
  * twice moved the physical data contract under us (r5: HUGEINT sums;
  * r7: events.ts INT64-nanos → native timestamp[us]). Both times the
  * break surfaced as dozens of per-query analysis errors with no
  * pointer to the cause. This spec pins every table's column names and
  * dtypes so a contract move fails HERE, alone, with a message naming
  * the offending table/column — the loader ([[Tables]]) is an adapter,
  * and this is its contract test.
  *
  * `events.ts` is special-cased: the raw file may be INT64-nanos
  * (read as LongType under `nanosAsLong`) or a native timestamp —
  * both accepted raw; [[Tables.events]] must normalize either to
  * TimestampType.
  */
class TablesSpec extends SparkSpec {

  /** Expected post-loader dtypes (simpleString) per table, in order. */
  private val contract: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq(
      "n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer" -> Seq(
      "c_custkey" -> "bigint", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq(
      "s_suppkey" -> "bigint", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "double"),
    "part" -> Seq(
      "p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
    "orders" -> Seq(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq(
      "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
    "documents" -> Seq(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq(
      "vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int")
  )

  /** Timestamp columns accept any microsecond-precision timestamp
    * flavor: the loader session runs in UTC, so NTZ vs TZ is a
    * physical-encoding detail, not a value difference — but the
    * post-loader type must be usable in timestamp arithmetic. */
  private def typeOk(expected: String, actual: DataType): Boolean =
    expected match {
      case "timestamp" =>
        actual == TimestampType || actual == TimestampNTZType
      case other => actual.simpleString == other
    }

  for ((table, cols) <- contract.toSeq.sortBy(_._1)) {
    test(s"testdata contract: $table") {
      val df = Tables.load(spark, sfDir, table)
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val actualOrder = df.schema.fieldNames.toSeq
      assert(actualOrder == cols.map(_._1),
        s"table '$table': column set/order changed — expected " +
          s"${cols.map(_._1).mkString(",")} but testdata has " +
          s"${actualOrder.mkString(",")}. The driver moved the data " +
          "contract; adapt Tables.scala.")
      for ((name, expected) <- cols) {
        val dt = actual(name)
        assert(typeOk(expected, dt),
          s"table '$table', column '$name': expected $expected but " +
            s"testdata loads as ${dt.simpleString}. The driver moved " +
            "the data contract (cf. r5 HUGEINT, r7 events.ts); adapt " +
            "the Tables.scala adapter for this column.")
      }
    }
  }

  test("contract holds at sf0.01 — the driver's correctness-gate scale") {
    // the per-table tests above run at the spec-default sf0.001; the
    // driver's Verify/oracle compare reads sf0.01, so a contract move
    // that only touched the larger generations must also fail here
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    for ((table, cols) <- contract.toSeq.sortBy(_._1)) {
      val df = Tables.load(spark, dir, table)
      assert(df.schema.fieldNames.toSeq == cols.map(_._1),
        s"sf0.01 table '$table': column set/order changed")
      for ((name, expected) <- cols)
        assert(typeOk(expected, df.schema(name).dataType),
          s"sf0.01 table '$table', column '$name': expected $expected, " +
            s"got ${df.schema(name).dataType.simpleString}")
    }
  }

  /** A fresh scratch directory for a table the test writes itself. */
  private def scratchDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tables").toString

  test("a rewritten file resolves its new schema") {
    // the loader memoizes each file's schema; testdata is regenerated
    // in place, so a rewritten file must infer afresh
    import spark.implicits._
    val dir = scratchDir()
    Seq((1, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).schema.fieldNames.toSeq ==
      Seq("r_regionkey", "r_name"))
    Seq((1L, "AFRICA", 0.5)).toDF("r_key", "r_label", "r_weight")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val rewritten = Tables.region(spark, dir)
    assert(rewritten.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("r_key" -> "bigint", "r_label" -> "string", "r_weight" -> "double"),
      "Tables kept the schema of the file before the rewrite")
    assert(rewritten.collect().toSeq.map(_.toSeq) == Seq(Seq(1L, "AFRICA", 0.5)))
  }

  test("a rewritten part file rebuilds the cached web_pages frame") {
    // Corpus.webPages keeps its analyzed frame per session and part
    // files; a rewrite must show the new rows on the next build
    import spark.implicits._
    val dir = scratchDir()
    def writePart(keys: Seq[Long], mode: String): Unit =
      keys.map(k => (k, s"name $k", "TYPE", "Brand#1"))
        .toDF("p_partkey", "p_name", "p_type", "p_brand")
        .write.mode(mode).parquet(s"$dir/part.parquet")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted
    writePart(Seq(1L, 2L), "errorifexists")
    val first = Corpus.webPages(spark, dir)
    assert(ids(first) == Seq(1L, 2L))
    assert(Corpus.webPages(spark, dir) eq first,
      "an unchanged part file built the frame again")
    writePart(Seq(3L, 4L, 5L), "overwrite")
    assert(ids(Corpus.webPages(spark, dir)) == Seq(3L, 4L, 5L),
      "Corpus.webPages kept the frame of the part file before the rewrite")
  }

  test("spark.sql.parquet.binaryAsString is part of the resolved schema") {
    val dir = scratchDir()
    // an unannotated parquet BINARY column, as non-Spark writers emit
    // it: Spark's own writer stores its schema in the footer, and that
    // schema overrides binaryAsString
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message region { required binary r_name; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/region.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("r_name", Binary.fromString("AFRICA")))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    def resolved(): String =
      Tables.region(spark, dir).schema("r_name").dataType.simpleString
    try {
      spark.conf.set(key, "false")
      assert(resolved() == "binary")
      spark.conf.set(key, "true")
      assert(resolved() == "string",
        s"Tables kept the schema resolved before $key changed")
      spark.conf.set(key, "false")
      assert(resolved() == "binary")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events.ts normalizes to TimestampType under both raw layouts") {
    // Post-adapter type must be the TZ-aware TimestampType so
    // date_trunc/window/unix_micros all behave identically across
    // testdata generations (session TZ is UTC ⇒ values identical too).
    val dt = Tables.events(spark, sfDir).schema("ts").dataType
    assert(dt == TimestampType,
      s"Tables.events must yield TimestampType ts, got ${dt.simpleString}")
  }

  test("events.ts values match a direct microsecond read") {
    // Guard the VALUE side of the adapter, not just the dtype: the
    // min/max epoch-micros must equal what the raw file stores
    // (DuckDB's native read — the oracle — sees these same values).
    import org.apache.spark.sql.functions._
    val viaLoader = Tables.events(spark, sfDir)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head()
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val rawTs = raw.schema("ts").dataType match {
      case LongType => // nanos-as-long layout: floor-div to micros
        raw.agg(min(expr("ts div 1000")), max(expr("ts div 1000"))).head()
      case TimestampNTZType | TimestampType =>
        raw.agg(min(unix_micros(col("ts").cast("timestamp"))),
                max(unix_micros(col("ts").cast("timestamp")))).head()
      case other => fail(s"unexpected raw events.ts type $other")
    }
    assert(viaLoader.getLong(0) == rawTs.getLong(0) &&
           viaLoader.getLong(1) == rawTs.getLong(1),
      "Tables.events changed ts values relative to the raw file")
  }
}
