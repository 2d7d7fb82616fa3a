package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM-wide session —
  * sbt forks a single test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Registers [[GraftExtensions]]' SQL functions in the shared
    * session. Builder extensions only apply to newly built sessions,
    * so this routes them into the existing registry the way session
    * init does (`SparkSessionExtensions.registerFunctions`). */
  def installGraftFunctions(): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val sessionState = spark.getClass.getMethod("sessionState").invoke(spark)
    val registry = sessionState.getClass.getMethod("functionRegistry")
      .invoke(sessionState)
      .asInstanceOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry]
    ext.getClass.getMethod("registerFunctions",
        classOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry])
      .invoke(ext, registry)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
