package graftbench

import graft.engine.TargetRegistry
import graft.operators.{DistinctAndFrequency, Histograms, NextK, Stats}
import graft.operators.NextK.Order
import graft.streaming.{Memo, Progressive}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr}
import scala.collection.mutable.ArrayBuffer

/** A closed-loop workload: `setup` leaves everything warm (tables,
  * artifacts, one untimed round of every op kind); `round(i)` issues one
  * round of ops whose parameters derive from the seed and `i` only. */
trait Workload {
  /** Timed rounds of a run of `seconds`: a fixed count for given seconds,
    * so every run of a workload times the same ops. */
  def rounds(seconds: Double): Int
  def setup(): Unit
  def round(i: Int): Unit
  /** Facts the result checks and layer metrics need (oracle SQL, …). */
  def meta: Map[String, Any] = Map.empty
}

object Workload {
  val NumCols = Seq("l_extendedprice", "l_quantity", "l_discount", "l_tax")
  val HeavyCols = Seq(Seq("l_linenumber"), Seq("l_returnflag", "l_linestatus"),
    Seq("l_quantity"), Seq("l_tax"))
  val Epsilons = Seq(0.01, 0.02, 0.05)

  def rng(seed: Long, round: Int) = new scala.util.Random(seed * 1000003L + round)
  /** Columns rotate with the round, not the seed: op cost depends on the
    * column, so every run of a workload times the same column mix. */
  def rotate[T](xs: Seq[T], round: Int, shift: Int = 0): T = xs(Math.floorMod(round + shift, xs.size))
  def round2(x: Double): Double = math.rint(x * 100) / 100
  def fmt2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)
}

/** Hillview gestures through [[TargetRegistry]] over one loaded table.
  * A sketch gesture makes the calls `TargetRegistry.sketch` makes (build
  * the sketch frame, collect it through `Memo`), each in its own span;
  * traced and untraced rounds run the same code. */
final class GestureSession(h: Harness, dataDir: String, seed: Long) extends Workload {
  import Workload._
  private val reg = new TargetRegistry(h.spark)
  private var root: TargetRegistry#Target = _
  /** Earlier sketch gestures, replayable: (kind, key, params, target, sketch). */
  private val history =
    ArrayBuffer.empty[(String, String, Map[String, Any], String, DataFrame => DataFrame)]
  var memoLookups = 0L
  /** One round per 2 s, the round time on a 4-core host. */
  def rounds(seconds: Double): Int = math.max(1, math.round(seconds / 2.0).toInt)

  /** Untimed rounds: round times keep falling for about five rounds
    * while the JIT compiles the gesture paths. */
  private val WarmupRounds = 5
  /** Distinct window starts (days after the first ship date, keeping the
    * three-year window inside the data), one per round. */
  private val starts = new scala.util.Random(seed).shuffle((0 until 1400).toVector)

  def setup(): Unit = {
    root = reg.loadTable(dataDir, "lineitem")
    (1 to WarmupRounds).foreach(i => round(-i))
  }

  /** The body of a sketch op: `TargetRegistry.sketch(id)(agg)`, span by span. */
  private def collect(id: String, agg: DataFrame => DataFrame): Seq[Seq[Any]] = {
    memoLookups += 1
    val df = h.span("build")(agg(reg.get(id).df))
    Harness.rows(h.span("collect")(Memo.collectMemoized(df)))
  }

  /** `Memo.fingerprint` of an identically built frame, after the op and
    * outside its timed interval. (`collectMemoized` fingerprints inside
    * the op as well, within its "collect" span.) */
  private def fingerprint(id: String, agg: DataFrame => DataFrame): Unit = {
    val df = agg(reg.get(id).df)
    h.span("memo.fingerprint")(Memo.fingerprint(df))
  }

  private def gesture(kind: String, key: String, params: Map[String, Any], id: String)(
      agg: DataFrame => DataFrame): Seq[Seq[Any]] = {
    val rec = h.run(kind, key, params)(collect(id, agg))
    fingerprint(id, agg)
    history += ((kind, key, params, id, agg))
    rec.rows
  }

  /** A progressive histogram over a target: partials stream in as
    * partitions finish, and the first one sets the op's first-partial time. */
  private def progressive(key: String, params: Map[String, Any], id: => String,
      bucket: Column): Unit =
    h.run("progressive", key, params) {
      val framed = h.span("build")(reg.get(id).df.select(bucket.as("bucket")))
      var last = Clock.us()
      val fin = h.span("progressive.run")(Progressive.groupedCount(framed, "bucket", 4) { _ =>
        h.firstPartial()
        val now = Clock.us()
        h.tracer.record("progressive.chunk", last, now)
        last = now
      })
      fin.toSeq.map { case (k, v) => Seq(Harness.canon(k), v) }.sortBy(_.head.toString.toInt)
    }

  def round(i: Int): Unit = {
    val r = rng(seed, i)
    val c = rotate(NumCols, i)
    // a three-year window and a quantity cap: about 30% of the rows, so
    // the seed moves the selected rows but not the work. Each round has
    // its own window start, so only the replay gesture hits the memo.
    val from = java.time.LocalDate.of(1995, 1, 2).plusDays(starts(i + WarmupRounds))
    val pred = s"l_shipdate >= TIMESTAMP '$from 00:00:00' AND " +
      s"l_shipdate < TIMESTAMP '${from.plusYears(3)} 00:00:00' AND " +
      s"l_quantity <= ${33 + r.nextInt(5)}"
    val base = Map[String, Any]("pred" -> pred, "col" -> c)
    var f: TargetRegistry#Target = null
    h.run("filter", s"filter|$pred", base)(h.span("targets.map") {
      f = reg.filter(root.id, expr(pred)); Nil
    })
    val range = gesture("data_range", s"range|$pred|$c", base, f.id)(Stats.dataRange(_, c))
    val (lo, hi) = (range.head(0).asInstanceOf[Double], range.head(1).asInstanceOf[Double])
    val n = 10 + r.nextInt(31)
    def bucket(a: Double, b: Double, k: Int) = Histograms.numericBucket(col(c), a, b, k)
    val hp = base ++ Map("lo" -> lo, "hi" -> hi, "n" -> n)
    gesture("histogram_cdf", s"hist|$pred|$c|$lo|$hi|$n", hp, f.id)(
      Histograms.histogramWithCdf(_, bucket(lo, hi, n)))
    val pivot = round2(lo + (hi - lo) * (0.45 + 0.1 * r.nextDouble()))
    val order = Seq(Order(c), Order("l_orderkey"))
    gesture("next_k", s"nextk|$pred|$c|$pivot", base ++ Map("pivot" -> pivot, "k" -> 20), f.id)(
      NextK.nextK(_, order, 20, Some(Seq[Any](pivot, 0L))))
    val hcols = rotate(HeavyCols, i, 1)
    val eps = rotate(Epsilons, i)
    gesture("heavy_hitters", s"heavy|$pred|${hcols.mkString(",")}|$eps",
        base ++ Map("cols" -> hcols, "eps" -> eps), f.id)(
      DistinctAndFrequency.heavyHittersMG(_, hcols, eps))
    gesture("summary", s"summary|$pred", base, f.id)(Stats.rowCount)
    // zoom: a sub-range of the histogram, on 2-decimal bounds
    val zlo = round2(lo + (hi - lo) * (0.2 + 0.1 * r.nextDouble()))
    val zhi = math.max(zlo + 0.02, round2(zlo + (hi - lo) * (0.4 + 0.1 * r.nextDouble())))
    val zpred = s"$c >= ${fmt2(zlo)} AND $c <= ${fmt2(zhi)}"
    val n2 = 10 + r.nextInt(31)
    val zp = base ++ Map("zpred" -> zpred, "lo" -> zlo, "hi" -> zhi, "n" -> n2)
    val zoomAgg = (df: DataFrame) => Histograms.histogramWithCdf(df, bucket(zlo, zhi, n2))
    var z: TargetRegistry#Target = null
    h.run("zoom_histogram", s"zoom|$pred|$zpred|$n2", zp) {
      z = h.span("targets.map")(reg.filter(f.id, expr(zpred)))
      collect(z.id, zoomAgg)
    }
    if (z != null) fingerprint(z.id, zoomAgg)
    // replay of an earlier sketch gesture, served from the memo: the kind
    // rotates with the round, the seed picks which gesture of that kind
    val kind = rotate(history.map(_._1).distinct.toSeq, i)
    val same = history.filter(_._1 == kind)
    val (pk, pkey, pparams, pid, pagg) = same(r.nextInt(same.size))
    h.run("replay", pkey, pparams ++ Map("of" -> pk))(collect(pid, pagg))
    fingerprint(pid, pagg)
    // progressive histograms of the filtered rows and of the zoomed ones
    progressive(s"prog|$pred|$c|$lo|$hi|$n", hp, f.id, bucket(lo, hi, n))
    progressive(s"prog|$pred|$zpred|$n2", zp, z.id, bucket(zlo, zhi, n2))
  }
}

/** Heavy named queries of the engine, each built and counted the way
  * graft.Bench does it, with the Bench's quiesce between queries. The
  * warm-up pass collects each query instead, so its rows can be checked
  * value by value against DuckDB outside the timed passes. */
final class PipelineTail(h: Harness, dataDir: String) extends Workload {
  import PipelineTail.Queries
  /** One pass per 5 s: two passes, two samples of every query, in the
    * standard 10 s run (a pass takes 8-17 s on a 4-core host). */
  def rounds(seconds: Double): Int = math.max(1, math.round(seconds / 5.0).toInt)

  def setup(): Unit = Queries.foreach { name =>
    quiesce()
    h.run(name, s"$name|collect") {
      val df = graft.SparkEntry.queries(name)(h.spark, dataDir)
      Seq(df.columns.toSeq) ++ Harness.rows(df.collect())
    }
  }

  def round(i: Int): Unit = Queries.foreach { name =>
    quiesce()
    h.run(name, name) {
      val df = h.span("build")(graft.SparkEntry.queries(name)(h.spark, dataDir))
      Seq(Seq(h.span("count")(df.count())))
    }
  }

  private def quiesce(): Unit = {
    h.spark.catalog.clearCache()
    h.spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = true) catch { case _: Throwable => () })
    System.gc()
  }

  override def meta: Map[String, Any] = Map("served" -> PipelineTail.Served,
    "oracle_sql" -> Queries.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, null)).toMap)
}

object PipelineTail {
  /** dedup, text, ann and TPC-H join families; `text_lm_backoff` serves
    * its model from the artifact store and `text_lm_backoff_mine` always
    * trains it. */
  val Queries = Seq(
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_semantic",
    "text_lm_backoff", "text_lm_backoff_mine", "text_dup_spans",
    "ann_hard_negatives", "q9_profit_by_nation")
  /** Queries whose model is served from a published artifact. */
  val Served = Set("text_lm_backoff")
}
