package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev mains stay few and documented: every main the docs tell a
  * reader to run exists, the oracle dump has one writer, JIT timing
  * lives only in the bench child and the one profiler, no kernel
  * boxes a primitive array result, there is one tokenizer, one
  * place each pins (ops/Materialize) and scopes session confs
  * (GraftSession.withConfs), one binding of Spark's private entry
  * points (expressions/ColumnBridge), extensions enter only
  * through the session (GraftExtensions), and one blocked self-join
  * (ops/Blocking), one vector banding (ops/Similarity) and one JVM
  * hash60 (expressions/HashFeaturize) serve every near-dup query. */
class ToolsSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root)).filter(_.getName.endsWith(".scala"))
  }

  private def sources: Seq[java.io.File] = {
    val files = scalaFiles("src/main/scala")
    assert(files.exists(_.getName == "Verify.scala"), "src/main sources not found")
    files
  }

  private def read(f: java.io.File): String = java.nio.file.Files.readString(f.toPath)

  /** Source files containing `token`, by path below src/main/scala/graft. */
  private def holders(token: String): Set[String] =
    sources.filter(f => read(f).contains(token))
      .map(_.getPath.stripPrefix("src/main/scala/graft/")).toSet

  test("every documented graft main resolves to an object with a main") {
    val docs = Seq(new java.io.File("README.md"),
      new java.io.File(".claude/skills/verify/SKILL.md")) ++ sources
    val named = """(?:runMain|run_graft\.sh) (graft(?:\.\w+)+)""".r
    val mains = docs.flatMap(f => named.findAllMatchIn(read(f)).map(_.group(1))).distinct
    assert(mains.contains("graft.Verify"), s"no documented mains found: $mains")
    val missing = mains.filterNot { m =>
      scala.util.Try(Class.forName(m, false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(missing.isEmpty, s"documented but not runnable: ${missing.mkString(", ")}")
  }

  test("only Verify.scala writes oracle_sql.json") {
    assert(holders("oracle_sql.json") === Set("Verify.scala"),
      "dump through Verify.dump instead of another copy")
  }

  test("only expressions/CodepointCounts.scala holds GenericArrayData") {
    // its string keys need an object array; every primitive result is
    // UnsafeArrayData.fromPrimitiveArray, which boxes nothing
    assert(holders("GenericArrayData") === Set("expressions/CodepointCounts.scala"),
      "return primitive arrays with UnsafeArrayData.fromPrimitiveArray")
  }

  test("no Scala code re-implements the tokenizer with a regex split") {
    // tokens come from expressions.Tokenizer; the DuckDB oracle strings
    // (string_split_regex in single quotes) are the other engine's copy
    val split = """\bsplit\([^\n]*"\[\^a-z0-9_\]\+"""".r
    val copies = sources.filter(f => split.findFirstIn(read(f)).isDefined)
      .map(_.getPath.stripPrefix("src/main/scala/graft/"))
    assert(copies.isEmpty,
      s"tokenize with expressions.Tokenizer instead: ${copies.mkString(", ")}")
  }

  test("only ops/Materialize.scala pins or observes") {
    // every pin goes through Materialize.pin/pinCounted/using, so the
    // materialize mode reaches every call site
    assert(holders(".localCheckpoint(") === Set("ops/Materialize.scala"),
      "pin with .pin() or Materialize.using instead of localCheckpoint")
    assert(holders("Observation(") === Set("ops/Materialize.scala"),
      "count a pin with Materialize.pinCounted instead of an Observation")
  }

  test("only ops/Materialize.scala sizes and pins a loop's rounds") {
    // loops advance with Materialize.advance or a Materialize.Sizing,
    // so the small-round rule and its constant live in one place
    assert(holders("def pin(") === Set("ops/Materialize.scala", "ops/package.scala"),
      "pin a loop's rounds with Materialize.advance or Materialize.Sizing")
    assert(holders("SmallPairs").isEmpty && holders("SmallGraphNodes").isEmpty,
      "size a loop's rounds with Materialize.SmallRows")
  }

  test("only ops/Blocking.scala self-joins on a.id < b.id") {
    val ordered = """col\(s?"a\.[^"]*"\) < col\(s?"b\.""".r
    val copies = sources.filter(f => ordered.findFirstIn(read(f)).isDefined)
      .map(_.getPath.stripPrefix("src/main/scala/graft/")).toSet
    assert(copies === Set("ops/Blocking.scala"),
      "take blocked candidate pairs from Blocking.pairs")
  }

  test("only ops/Similarity.scala bands a vector") {
    assert(holders("HyperplaneBands.bands(") === Set("ops/Similarity.scala"),
      "band vectors with Similarity.bandRows or Similarity.buckets")
  }

  test("only expressions/HashFeaturize.scala assembles hash60 on the JVM") {
    assert(holders("0xffL) >> 4") === Set("expressions/HashFeaturize.scala"),
      "hash on the JVM with HashFeaturize.hash60")
  }

  test("only GraftSession.scala unsets a session conf") {
    assert(holders("conf.unset(") === Set("GraftSession.scala"),
      "scope session confs with GraftSession.withConfs")
  }

  test("only Bench.scala and tools/Profile.scala read the JIT compile clock") {
    assert(holders("getCompilationMXBean") === Set("Bench.scala", "tools/Profile.scala"),
      "time queries with graft.tools.Profile instead of another probe")
  }

  test("extensions enter through GraftExtensions, not at call time") {
    assert(holders("extraStrategies").isEmpty,
      "inject planner strategies with GraftExtensions")
    assert(holders("Class.forName(") === Set("expressions/ColumnBridge.scala"),
      "bind Spark's private entry points in expressions/ColumnBridge")
    // split so that this file does not hold the name it looks for
    val installer = "install" + "GraftFunctions"
    val tests = scalaFiles("src/test/scala")
    assert(tests.exists(_.getName == "SparkSpec.scala"), "src/test sources not found")
    val hacks = (sources ++ tests).filter(f => read(f).contains(installer))
    assert(hacks.isEmpty, "the session from GraftSession.builder has the " +
      s"functions already: ${hacks.mkString(", ")}")
  }
}
