package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide `Sessions.local(4)`, so
  * every suite runs under the engine's own session setup. The temp
  * warehouse dir reaches the builder as a `spark.*` system property,
  * which `SparkConf` reads. */
object TestSession {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      graft.engine.Artifacts.scratchDir("graft_wh").toString)
    engine.Sessions.local(4)
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
