package graft

import graft.ops.{AqeDemote, Bucketing, Partitioning, RuntimeFilter}
import org.apache.spark.sql.SparkSession

/** Session-conf hygiene: `GraftSession.withConfs` puts every key back
  * as it was, and the operators that scope confs through it leave
  * `spark.conf.getAll` unchanged. `Tables.derived` keys its memo on
  * that map, so a key left set to its default value makes the next
  * `Corpus.webPages` in the session analyze afresh. Each check runs
  * in a fresh session, where no earlier suite has left such a key set
  * already. */
class ConfScopeSpec extends SparkSpec {

  // both registered, with defaults: getOption reads a default for an
  // absent key, which is how a restore can set what was never set
  private val WasSet = "spark.sql.autoBroadcastJoinThreshold"
  private val Absent = "spark.sql.parquet.aggregatePushdown"

  test("withConfs restores a set key and unsets an absent one, on return and on throw") {
    val s = spark.newSession()
    s.conf.set(WasSet, "1234")
    assert(!s.conf.getAll.contains(Absent), "the absent key is set already")
    def scoped(body: => Unit): Unit =
      GraftSession.withConfs(s, Seq(WasSet -> "-1", Absent -> "true")) {
        assert(s.conf.get(WasSet) === "-1")
        assert(s.conf.get(Absent) === "true")
        body
      }
    def assertRestored(how: String): Unit = {
      assert(s.conf.getAll.get(WasSet) === Some("1234"), how)
      assert(!s.conf.getAll.contains(Absent), s"$how: absent key left set")
    }
    scoped(())
    assertRestored("normal return")
    intercept[IllegalStateException](scoped(throw new IllegalStateException("body")))
    assertRestored("thrown body")
  }

  test("conf-scoped queries leave spark.conf.getAll unchanged") {
    def unchanged(q: String)(run: SparkSession => Unit): Unit = {
      val s = spark.newSession()
      val before = s.conf.getAll
      run(s)
      assert(s.conf.getAll === before, s"$q leaked session confs")
    }
    unchanged("q153")(s => Bucketing.bucketedRollup(s, sfDir).collect())
    unchanged("q168")(s => Partitioning.footerRollup(s, sfDir).collect())
    unchanged("q176")(s => RuntimeFilter.bloomPrunedJoin(s, sfDir).collect())
    unchanged("q192")(s => AqeDemote.demotedJoinRollup(s, sfDir).collect())
  }
}
