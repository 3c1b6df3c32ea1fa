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

  /** Feeds `on` the listener events of every job `body` runs. A marker
    * job posted after `body` ends the wait, since the listener bus
    * delivers in order; the marker's own events are not passed on. */
  protected def observe(body: => Any)(on: org.apache.spark.scheduler.SparkListenerEvent => Unit): Unit = {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val markerJob = new AtomicLong(-1L)
    val done = new AtomicBoolean
    val listener = new org.apache.spark.SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart
            if Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == "scan-gate") =>
          markerJob.set(j.jobId)
        case j: SparkListenerJobEnd if j.jobId == markerJob.get => done.set(true)
        case _ if markerJob.get < 0 => on(e)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      engine.Sessions.inGroup(spark, "scan-gate")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!done.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(done.get, "marker job never ended")
    } finally sc.removeSparkListener(listener)
  }

  protected def jobCount(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    observe(body) { case _: org.apache.spark.scheduler.SparkListenerJobStart => n.incrementAndGet(); case _ => () }
    n.get
  }
}
