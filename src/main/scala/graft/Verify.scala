package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes two):
    // comma-separated query names to dump instead of the full set
    val only = args.lift(2).map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.filter(n => only.forall(_.contains(n))).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, args(0), args(1), names, SparkEntry.oracleSql)
    spark.stop()
  }

  /** Write each named query's result to `outDir/<name>` as parquet,
    * the `oracles` entries for those names to `oracle_sql.json`, and
    * every query failure to `errors.json`. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String], oracles: Map[String, String]): Unit = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      finally GraftSession.scrub(spark) // per-query cache/checkpoint isolation
    }
    val json = oracles
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-describing failures (r7 ADVICE): a query that errors is
    // recorded here with its message, not silently absent from the
    // dump — the correctness artifact alone then tells the whole
    // round's story (empty object when everything ran).
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
