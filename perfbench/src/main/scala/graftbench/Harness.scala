package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One executed op: its latency, time to its first partial result (None
  * for an op that has none), outcome, and result rows (checked against
  * the DuckDB oracle after the run). */
final case class OpRec(id: String, phase: String, kind: String, key: String,
    params: Map[String, Any], startUs: Long, endUs: Long, ms: Double,
    firstMs: Option[Double], gcMs: Long, ok: Boolean, error: String, rows: Seq[Seq[Any]])

/** The closed-loop client: runs one op at a time, times it, tags its
  * Spark jobs with the op id, and records the outcome. A throw is
  * recorded as a failed op, never as a timed result. */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  val records = ArrayBuffer.empty[OpRec]
  var phase = "warmup"
  private var opStartNs = 0L
  private var firstMs = -1.0

  def run(kind: String, key: String, params: Map[String, Any] = Map.empty)(
      body: => Seq[Seq[Any]]): OpRec = {
    val id = s"op${records.size}"
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkEvents.OpProperty, id)
    firstMs = -1.0
    val startUs = Clock.us()
    val gc0 = Jvm.gcMs()
    opStartNs = System.nanoTime()
    val outcome =
      try Right(tracer.span("op", Map("op" -> id, "kind" -> kind))(body))
      catch { case e: Throwable => Left(e.toString.take(500)) }
    val ms = (System.nanoTime() - opStartNs) / 1e6
    val gcMs = Jvm.gcMs() - gc0
    sc.setLocalProperty(SparkEvents.OpProperty, null)
    val rec = OpRec(id, phase, kind, key, params, startUs, Clock.us(), ms,
      Some(firstMs).filter(_ >= 0), gcMs, outcome.isRight,
      outcome.left.getOrElse(""), outcome.getOrElse(Nil))
    records += rec
    rec
  }

  /** Called by an op body when its first partial result arrives. */
  def firstPartial(): Unit =
    if (firstMs < 0) firstMs = (System.nanoTime() - opStartNs) / 1e6

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

object Harness {
  /** Result values in a form the DuckDB-side check can compare. */
  def canon(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue
    case n: java.lang.Number => n
    case t: java.sql.Timestamp => t.toInstant.toString
    case s: String => s
    case b: Boolean => b
    case s: scala.collection.Seq[_] => s.map(canon).toSeq
    case a: Array[_] => a.toSeq.map(canon)
    case r: Row => r.toSeq.map(canon)
    case other => other.toString
  }
  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map(canon))
}
