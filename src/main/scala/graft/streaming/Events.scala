package graft.streaming

import graft.engine.Num
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Event-stream analytics. The reference's "streaming" is progressive
  * refinement, not unbounded ingestion (SURVEY.md §2.10) — here we go
  * parity-plus: the same aggregations declared once, runnable as batch
  * (oracle-checkable) or as a Structured Streaming job (watermark +
  * windows + stateful sessionization).
  */
object Events {

  /** Tumbling-window counts/sums per event type — batch form.
    * groupBy(hour, type): one partial+final aggregate, output bounded by
    * #windows × #types.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Num.sumExact(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"), col("event_type"))

  /** Session statistics per user: sessions split at >gap-minute silences.
    * Window functions partition by user — parallelism = #users, no
    * single-partition window anywhere.
    */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        Num.sumExact(col("value")).as("total_value"))
      .orderBy(col("user_id"))
  }

  /** Native `session_window` twin of [[sessionStats]]: Spark's built-in
    * session windows (one groupBy, no lag window), aggregated up to the
    * same per-user shape. Boundary semantics differ from the lag form by
    * design: windows are half-open, so a gap of EXACTLY `gapMinutes`
    * starts a new session (lag form: `>` keeps it). Value sums stay
    * DECIMAL through both aggregation levels, widened once.
    */
  def sessionStatsNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("__n"), sum(Num.dec2(col("value"))).as("__v"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("__n")).as("n_events"),
        sum(col("__v")).cast("double").as("total_value"))
      .orderBy(col("user_id"))

  /** Trailing moving average per user (analytic window — parity-plus;
    * the reference has no window functions, SURVEY.md §2.9). Partitioned
    * by user: parallelism = #users, no global sort.
    */
  def movingAvg(events: DataFrame, trailing: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-trailing, Window.currentRow)
    events.select(
      col("event_id"), col("user_id"),
      round(avg(col("value")).over(w), 4).as("mavg"))
  }

  /** Per-user conversion funnel over an ordered stage sequence (e.g.
    * view → click → purchase): stage k counts users whose earliest
    * stage-k event STRICTLY follows their stage-(k-1) time. Everything is
    * per-user windows + one final tiny aggregate — no joins, no global
    * window; parallelism = #users at every step, so the plan is the same
    * shape at 100 TB.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val wu = Window.partitionBy(col("user_id"))
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val t = s"__t$i"
      val hit = col("event_type") === stage &&
        (if (i == 0) lit(true) else col(s"__t${i - 1}").isNotNull &&
          col("ts") > col(s"__t${i - 1}"))
      df.withColumn(t, min(when(hit, col("ts"))).over(wu))
    }
    // one row per user (all window columns are per-user constants), then
    // a single global count per stage — O(#stages) output
    val aggCols = stages.indices.map(i => max(col(s"__t$i")).as(s"__t$i"))
    val perUser = staged
      .groupBy(col("user_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    perUser.select(
      stages.indices.map(i =>
        count(col(s"__t$i")).as(s"u_${stages(i)}")): _*)
  }

  /** Weekly retention cohorts — the classic product-analytics curve:
    * users are grouped by the week of their FIRST event (the cohort)
    * and each later week counts the cohort members still active;
    * retention = active/cohort-size on the exact 1e-4 grid. Weeks are
    * integer day-diffs from a fixed epoch / 7, so bucketing is
    * timezone-stable and engine-portable. Two per-user aggregations +
    * one cohort-sized grid — output is O(weeks²), never event-sized.
    */
  def retentionCohorts(events: DataFrame,
      epoch: String = "2024-01-01"): DataFrame = {
    val week = (datediff(to_date(col("ts")), to_date(lit(epoch))) / 7)
      .cast("long")
    val uw = events.select(col("user_id"), week.as("w")).distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("w")).as("c0"))
    val sizes = cohort.groupBy(col("c0")).agg(count(lit(1)).as("cohort_users"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("c0").as("cohort_week"),
        (col("w") - col("c0")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes.withColumnRenamed("c0", "cohort_week"), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_users"),
        graft.text.TextAnalysis.frac4(col("n_active"), col("cohort_users"))
          .as("retention"))
  }

  /** Top-k common event-type trigrams over per-user journeys — the
    * sequence-pattern signal behind funnel DISCOVERY (which 3-step
    * paths actually happen, before you pick stages to measure): each
    * user's events order by (ts, event_id), adjacent type triples
    * count globally, top-k by (count desc, sequence asc). Per-user
    * windows (parallelism = #users) + one pattern-sized agg + a
    * bounded TakeOrdered — never a global sort.
    */
  def eventSequences(events: DataFrame, k: Int = 20): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tri = events.select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(wu).as("__e2"),
        lead(col("event_type"), 2).over(wu).as("__e3"))
      .filter(col("__e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("__e2"), col("__e3"))
        .as("sequence"))
    val counted = tri.groupBy(col("sequence")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("sequence")).limit(k)
    counted.select(
      row_number().over(Window.orderBy(col("n").desc, col("sequence")))
        .cast("long").as("rank"),
      col("sequence"), col("n"))
  }

  /** Funnel time-to-convert — per-stage latency for users completing
    * the whole chain (earliest strictly-ordered stage times, the
    * [[funnel]] semantics): per transition, converter count and
    * exact-integer second latencies (min / max / mean on the 1e-4
    * grid). Same per-user windows as the funnel (no joins, no global
    * window), one O(#stages) aggregate at the end.
    */
  def funnelLatency(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2)
    val wu = Window.partitionBy(col("user_id"))
    val staged = stages.zipWithIndex.foldLeft(events) { case (df, (stage, i)) =>
      val hit = col("event_type") === stage &&
        (if (i == 0) lit(true) else col(s"__t${i - 1}").isNotNull &&
          col("ts") > col(s"__t${i - 1}"))
      df.withColumn(s"__t$i", min(when(hit, col("ts"))).over(wu))
    }
    val aggCols = stages.indices.map(i => max(col(s"__t$i")).as(s"__t$i"))
    val perUser = staged.groupBy(col("user_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val spark = events.sparkSession
    import spark.implicits._
    stages.indices.tail.map { i =>
      val d = (unix_timestamp(col(s"__t$i")) -
        unix_timestamp(col(s"__t${i - 1}"))).as("__d")
      perUser.filter(col(s"__t$i").isNotNull)
        .select(d)
        .agg(count(lit(1)).as("n_converted"),
          min(col("__d")).as("min_seconds"),
          max(col("__d")).as("max_seconds"),
          sum(col("__d")).as("__sum"))
        .select(
          lit(s"${stages(i - 1)}>${stages(i)}").as("transition"),
          col("n_converted"), col("min_seconds"), col("max_seconds"),
          graft.text.TextAnalysis.frac4(col("__sum"), col("n_converted"))
            .as("mean_seconds"))
    }.reduce(_ unionByName _)
  }

  /** Last-touch attribution — the marketing-analytics conversion
    * crediting model: every conversion event is credited to the user's
    * most recent PRECEDING touch event (ties at the same timestamp
    * break by event_id: a touch logged in the same instant attributes
    * iff its event_id is lower). One per-user ordered window pass
    * (last ignoreNulls over a touch struct — no self-join, no asof
    * materialization); conversions with no prior touch emit a null
    * touch (the organic bucket). At scale this is one shuffle keyed by
    * user_id — the partitioning every per-user events query shares. */
  def lastTouchAttribution(events: DataFrame,
      touches: Seq[String] = Seq("click", "view"),
      conversion: String = "purchase"): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val touch = when(col("event_type").isin(touches.map(x => x: Any): _*),
      struct(col("ts").as("tts"), col("event_id").as("tid"),
        col("event_type").as("ttype")))
    events
      .withColumn("__t", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === conversion)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("__t.ttype").as("touch_type"),
        col("__t.tid").as("touch_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("__t.tts")))
          .as("latency_seconds"))
  }

  /** Burst-duplicate suppression — the telemetry double-fire cleanup
    * (retry storms, double-clicks, at-least-once sinks): an event is a
    * burst duplicate when the SAME (user, type) fired within
    * `windowSeconds` before it (lag over the per-user-type ordered
    * window; chains collapse to their first event because suppression
    * compares to the previous RAW event, the standard debounce). One
    * per-(user, type) window pass; report kept/suppressed per type. */
  def burstDedup(events: DataFrame, windowSeconds: Long = 5L): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(unix_timestamp(col("ts")), 1).over(w))
      .withColumn("__dup", col("__prev").isNotNull &&
        unix_timestamp(col("ts")) - col("__prev") <= windowSeconds)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("__dup"), 1)).as("n_suppressed"),
        count(when(!col("__dup"), 1)).as("n_kept"))
  }

  final case class BurstEv(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String)
  final case class BurstVerdict(event_id: Long, user_id: Long,
    event_type: String, suppressed: Boolean)

  /** Streaming twin of [[burstDedup]] via flatMapGroupsWithState: the
    * per-(user, type) state is the last RAW event's epoch second (O(1)
    * per key — the debounce compares to the previous raw event, not
    * the previous kept one), and every event emits its verdict the
    * moment it arrives. Per-batch sort on (ts, event_id) reproduces
    * the batch window's order; under in-order arrival the verdict set
    * is bit-equal to the batch operator's per-event flags (gated in
    * StreamingSpec, incl. a cross-batch suppression). */
  def burstDedupStream(events: Dataset[BurstEv],
      windowSeconds: Long = 5L): Dataset[BurstVerdict] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, BurstVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, evs, state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .map { e =>
              val sec = e.ts.getTime / 1000L
              val dup = last != Long.MinValue && sec - last <= windowSeconds
              last = sec
              BurstVerdict(e.event_id, key._1, key._2, dup)
            }
          state.update(last)
          out.iterator
      }
  }

  /** Event-lateness profile — the watermark-tuning tool: how late does
    * each event arrive relative to the maximum event-time already seen
    * at its arrival position (arrival order = event_id, the ingest
    * log's sequence)? The histogram of lateness (power-of-2 second
    * buckets; bucket 0 = in-order) is exactly what
    * `withWatermark(delay)` is calibrated against — pick the delay
    * covering the tail you can afford to wait for.
    *
    * The running max over ALL preceding arrivals is a global prefix
    * scan — decomposed the distributed way (the deterministicShuffle
    * posture): bucket by event_id range, per-bucket window for the
    * in-bucket running max, one O(#buckets) collect for cross-bucket
    * prefix maxima broadcast back. No single-partition exchange at any
    * size. */
  def latenessProfile(events: DataFrame, bucketWidth: Long = 4096L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // FLOOR bucketing (the binOf discipline): truncating division
    // would fold negative ids into bucket 0 and break the every-event-
    // in-bucket-(b-1)-precedes-bucket-b invariant the prefix relies on
    val withB = events
      .select(col("event_id"), unix_timestamp(col("ts")).as("__sec"))
      .withColumn("__b", graft.text.TextAnalysis.intDiv(
        col("event_id") - pmod(col("event_id"), lit(bucketWidth)),
        lit(bucketWidth)))
      .localCheckpoint(false) // read by the bucket-max collect AND the window
    val bucketMax = withB.groupBy(col("__b"))
      .agg(max(col("__sec")).as("__m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // prefix max of all EARLIER buckets (-1 = none: epoch seconds are
    // positive, so the subtraction can never overflow under ANSI)
    val prefix = bucketMax.scanLeft((0L, -1L)) {
      case ((_, acc), (b, m)) => (b, math.max(acc, m))
    }.init.zip(bucketMax).map { case ((_, pm), (b, _)) => (b, pm) }
    val prefDf = broadcast(prefix.toSeq.toDF("__b", "__pm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .join(prefDf, Seq("__b"))
      .withColumn("__prevmax",
        greatest(coalesce(max(col("__sec")).over(w), lit(-1L)),
          col("__pm")))
      .withColumn("__late",
        greatest(col("__prevmax") - col("__sec"), lit(0L)))
      .withColumn("late_bits",
        when(col("__late") === 0L, 0L)
          .otherwise(length(bin(col("__late"))).cast("long")))
      .groupBy(col("late_bits"))
      .agg(count(lit(1)).as("n_events"), max(col("__late")).as("max_late_s"))
  }

  /** Hourly volume anomaly flags — the ingest-ops monitor: each hour's
    * event count against the TRAILING 24-hour mean (current hour
    * excluded), ratio on the exact 1e-4 grid, flagged at `thetaE4`
    * (3× by default). The hourly rollup is event-sized work the
    * pipeline already pays ([[hourlyAgg]]); the trailing window runs
    * over HOURS (O(span), never events). First hours with no history
    * emit a null ratio and never flag.
    */
  def hourlyAnomaly(events: DataFrame, thetaE4: Long = 30000L): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("hour")).rowsBetween(-24, -1)
    val trail = sum(col("n")).over(w)
    val cnt = count(col("n")).over(w)
    hourly
      .withColumn("trailing_mean_e4",
        when(cnt > 0L, graft.text.TextAnalysis.intDiv(
          trail * lit(10000L), cnt)))
      .withColumn("ratio_e4",
        when(col("trailing_mean_e4") > 0L, graft.text.TextAnalysis.intDiv(
          col("n") * lit(100000000L), col("trailing_mean_e4"))))
      .select(col("hour"), col("n"),
        (col("trailing_mean_e4") / lit(10000.0)).as("trailing_mean"),
        (col("ratio_e4") / lit(10000.0)).as("ratio"),
        coalesce(col("ratio_e4") >= thetaE4, lit(false)).as("is_spike"))
  }

  /** Hourly resample with GAP FILLING — the observability query the
    * raw hourly rollup can't answer ("which hours had NO data?"): the
    * dense hour grid spans [min, max] observed hours (sequence explode
    * — bounded by the time RANGE, ~10⁵ rows per decade, never by
    * events), each gap hour carries zero counts + an is_gap flag, and
    * last_observed_n forward-fills the most recent real reading (the
    * dashboards' step-line). The unpartitioned window orders the
    * bounded grid, never data. */
  def hourlyGapfill(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("__n"),
        sum(col("value").cast("decimal(18,2)")).as("__v"))
    val bounds = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
    val grid = bounds.select(explode(sequence(col("lo"), col("hi"),
      expr("INTERVAL 1 HOUR"))).as("hour"))
    val w = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("hour"), "left")
      .withColumn("is_gap", col("__n").isNull)
      .select(col("hour"),
        coalesce(col("__n"), lit(0L)).as("n_events"),
        col("is_gap"),
        last(col("__n"), ignoreNulls = true).over(w).as("last_observed_n"),
        coalesce(col("__v").cast("double"), lit(0.0)).as("total_value"))
  }

  /** Running (cumulative) per-user value total — partitioned prefix-sum
    * window, ties broken by event_id. The sum is exact decimal (value
    * has 2 decimals): engines are free to associate window sums any way
    * they like (DuckDB uses segment trees), so only an exact
    * representation is portable.
    */
  def cumulativeValue(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"), col("user_id"),
      sum(col("value").cast("decimal(18,2)")).over(w)
        .cast("double").as("cum_value"))
  }

  /** Streaming form of hourlyAgg: watermarked tumbling windows. The
    * caller supplies a readStream DataFrame with the events schema.
    */
  def hourlyAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Stream-stream windowed join (the canonical Structured Streaming
    * attribution shape): every click joined to the SAME user's view
    * within the preceding `windowMinutes`. Both sides carry watermarks,
    * so the state store provably evicts rows older than the window —
    * bounded state per key, the property that lets this run forever.
    */
  def viewClickJoinStream(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int = 60): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", s"$windowMinutes minutes")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", s"$windowMinutes minutes")
    c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Long, n_events: Long, duration_ms: Long)

  /** Stateful sessionization with flatMapGroupsWithState: emits a session
    * row when the gap timeout closes it. State per user is O(1).
    */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    // NoTimeout: sessions close when a later-than-gap event arrives.
    // (A timeout-based close would need ProcessingTimeTimeout, which
    // keeps an AvailableNow run alive indefinitely re-checking timers.)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state: GroupState[SessionState]) =>
          var out = List.empty[SessionOut]
          var st = state.getOption
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            st match {
              case Some(s) if t - s.last <= gapMs =>
                st = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                out ::= SessionOut(uid, s.start, s.n, s.last - s.start)
                st = Some(SessionState(t, t, 1))
              case None =>
                st = Some(SessionState(t, t, 1))
            }
          }
          st.foreach(state.update)
          out.reverseIterator
      }
  }

  final case class AttEv(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String)
  final case class TouchState(tts: Long, tid: Long, ttype: String)
  final case class CreditOut(purchase_id: Long, user_id: Long,
    touch_type: Option[String], touch_id: Option[Long],
    latency_seconds: Option[Long])

  /** Streaming last-touch attribution — the stateful twin of
    * [[lastTouchAttribution]] via flatMapGroupsWithState: per-user
    * state is O(1) (the single latest touch), each conversion emits
    * its credit the moment it arrives, and the per-batch sort on
    * (ts, event_id) reproduces the batch window's tie rule. Given
    * in-order arrival (the event-log contract) the emitted credit set
    * is bit-equal to the batch operator over the union — gated in
    * StreamingSpec. */
  def attributionStream(events: Dataset[AttEv],
      touches: Set[String] = Set("click", "view"),
      conversion: String = "purchase"): Dataset[CreditOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, CreditOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, evs, state: GroupState[TouchState]) =>
          var st = state.getOption
          var out = List.empty[CreditOut]
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (touches.contains(e.event_type))
              st = Some(TouchState(e.ts.getTime, e.event_id, e.event_type))
            else if (e.event_type == conversion)
              out ::= CreditOut(e.event_id, uid, st.map(_.ttype),
                st.map(_.tid),
                st.map(s => e.ts.getTime / 1000L - s.tts / 1000L))
          }
          st.foreach(state.update)
          out.reverseIterator
      }
  }

  /** Run the streaming hourly aggregation over a parquet directory with a
    * memory sink — used by tests to validate the streaming plumbing
    * against the batch oracle form.
    */
  /** Run `body` with spark.sql.legacy.parquet.nanosAsLong set, restoring
    * the previous value afterwards — the flag must not leak into later
    * queries sharing the session (bench/verify run everything in one
    * JVM). Safe here because the wrapped streaming queries are eager
    * (awaitTermination inside).
    */
  private def withNanosAsLong[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def runHourlyStreamOnce(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      // events.parquet carries ns timestamps: read as long, convert
      // (same handling as graft.engine.Tables.events).
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      // the streaming file source requires a directory: stage the single
      // parquet file into a temp dir
      val streamDir = graft.engine.Artifacts.scratchDir("graft_stream")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve("events.parquet"))
      val raw = spark.readStream.schema(schema).parquet(streamDir.toString)
      val stream =
        if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      val q = hourlyAggStream(stream).writeStream
        .outputMode("complete").format("memory").queryName("graft_hourly")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("graft_hourly")
    }

  /** Full readStream → watermarked agg → writeStream(parquet) loop with
    * a checkpoint — the durable-sink shape (append mode emits a window
    * once its end passes the watermark; exactly-once via checkpoint +
    * file-sink manifest). Returns the re-read sink directory.
    */
  def runHourlyStreamToFiles(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val streamDir = graft.engine.Artifacts.scratchDir("graft_stream")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve("events.parquet"))
      val raw = spark.readStream.schema(schema).parquet(streamDir.toString)
      val stream =
        if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      val out = graft.engine.Artifacts.scratchDir("graft_stream_out")
      val q = hourlyAggStream(stream).writeStream
        .outputMode("append").format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the sink parquet holds µs timestamps — decodes identically with
      // the flag restored
      spark.read.parquet(s"$out/data")
    }

  final case class MGRow(shard: Int, user_id: Long)
  final case class MGState(counters: Map[Long, Long], seen: Long)
  final case class MGOut(shard: Int, user_id: Long, lower_bound: Long, version: Long)

  /** Streaming Misra-Gries heavy hitters — the streaming twin of the
    * batch MGFreqKSketch (`heavy_mg`). State per shard is the O(k)
    * counter map, merged across micro-batches exactly like the batch
    * Aggregator merges partitions; all occurrences of a key hash to one
    * shard, so any key with global frequency > shardN/k survives in its
    * shard's counters (the MG guarantee, preserved across batches).
    * Each batch emits the shard's current candidates stamped with a
    * monotone version; the latest version per shard is the final sketch.
    */
  def heavyHittersStream(events: Dataset[MGRow], k: Int): Dataset[MGOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.shard)
      .flatMapGroupsWithState[MGState, MGOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, rows, state: GroupState[MGState]) =>
          val st = state.getOption.getOrElse(MGState(Map.empty, 0L))
          val counters = scala.collection.mutable.HashMap.from(st.counters)
          var seen = st.seen
          rows.foreach { r =>
            seen += 1
            graft.functions.MgSketch.add(counters, r.user_id, k)(identity)
          }
          val version = seen // cumulative row count: monotone per shard
          state.update(MGState(counters.toMap, version))
          counters.iterator.map { case (id, c) => MGOut(shard, id, c, version) }
      }
  }

  /** The driver every streaming sketch twin shares: stage the events
    * parquet as 4 files so AvailableNow + maxFilesPerTrigger=1 yields 4
    * micro-batches carrying state across triggers (real multi-batch
    * state, not a single-batch degenerate run), stream (shard, `value`)
    * rows through `stream` into the memory sink `sink`, and return each
    * shard's latest-version output rows.
    */
  private def runShardedStream(spark: SparkSession, dir: String, shards: Int,
      value: Column, sink: String)(stream: DataFrame => DataFrame): DataFrame =
    withNanosAsLong(spark) {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val streamDir = graft.engine.Artifacts.scratchDir(s"${sink}_stream")
      spark.read.parquet(s"$dir/events.parquet")
        .repartition(4).write.mode("overwrite").parquet(streamDir.toString)
      val raw = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      val q = stream(raw.select(
          pmod(hash(col("user_id")), lit(shards)).cast("int").as("shard"), value))
        .writeStream.outputMode("update").format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val all = spark.table(sink)
      val latest = all.groupBy(col("shard").as("s"))
        .agg(max(col("version")).as("v"))
      all.join(latest, col("shard") === col("s") && col("version") === col("v"))
    }

  /** Drive heavyHittersStream through [[runShardedStream]]. Returns the
    * final (latest-version) candidate set per shard.
    */
  def runHeavyHittersStream(
      spark: SparkSession, dir: String, k: Int, shards: Int): DataFrame = {
    import spark.implicits._
    runShardedStream(spark, dir, shards, col("user_id"), "graft_mg")(
      rows => heavyHittersStream(rows.as[MGRow], k).toDF())
      .select(col("shard"), col("user_id"), col("lower_bound"))
  }

  /** The streaming twin of a storable [[graft.functions.Sketch]], driven
    * through [[runShardedStream]]. Per-shard state is the serialized
    * buffer; each micro-batch folds its non-null `value`s in with the
    * same `add` the batch `*_build` runs, and the shards' latest buffers
    * are combined with the sketch's `merge`. Where the family's merge is
    * order-insensitive (HLL registers, theta's k smallest hashes) the
    * result equals the batch sketch of the same rows BIT FOR BIT; where
    * it is not (KLL compaction coins), only the error bound carries over.
    * Both contracts are gated in StreamingSpec.
    */
  private def sketchStream[B](spark: SparkSession, dir: String, shards: Int,
      value: Column, sink: String, sketch: graft.functions.Sketch[B]): B = {
    import spark.implicits._
    runShardedStream(spark, dir, shards, value.as("v"), sink) { rows =>
      val dt = rows.schema("v").dataType
      rows.groupByKey(_.getInt(0))
        .flatMapGroupsWithState[(Array[Byte], Long), (Int, Array[Byte], Long)](
          OutputMode.Update, GroupStateTimeout.NoTimeout) { (shard, rs, state) =>
          var (buf, seen) = state.getOption
            .map { case (blob, n) => (sketch.deserialize(blob), n) }
            .getOrElse((sketch.zero, 0L))
          rs.foreach { r =>
            seen += 1 // cumulative row count: a monotone version per shard
            if (!r.isNullAt(1)) buf = sketch.add(buf,
              org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(r.get(1)), dt)
          }
          val blob = sketch.serialize(buf)
          state.update((blob, seen))
          Iterator.single((shard, blob, seen))
        }
        .toDF("shard", "blob", "version")
    }.select(col("blob")).collect().toSeq
      .map(r => sketch.deserialize(r.getAs[Array[Byte]](0)))
      .reduce(sketch.merge(_, _))
  }

  /** Streaming distinct count: the HLL twin of `hll_build`. Returns the
    * merged registers, equal to the batch sketch of the same rows. */
  def runDistinctStream(
      spark: SparkSession, dir: String, p: Int, shards: Int): Array[Byte] = {
    val hll = graft.functions.Hll(p)
    hll.result(sketchStream(spark, dir, shards, col("user_id"), "graft_hll", hll))
  }

  /** Streaming theta sketch: the set-algebra twin of `theta_build`.
    * Returns the canonical merged blob, equal to the batch sketch. */
  def runThetaStream(
      spark: SparkSession, dir: String, k: Int, shards: Int): Array[Byte] = {
    val theta = graft.functions.Theta(k)
    theta.result(sketchStream(spark, dir, shards, col("user_id"), "graft_theta", theta))
  }

  /** Streaming quantile sketch: the KLL twin of `kll_build` over the
    * events' `value` as double. Returns the shard-merged buffer. */
  def runQuantileStream(
      spark: SparkSession, dir: String, k: Int, shards: Int): graft.functions.KllSketch.Buf =
    sketchStream(spark, dir, shards, col("value").cast("double"), "graft_kll",
      graft.functions.Kll(k))

  /** Streaming exact dedup: first occurrence of each content hash passes
    * through, later duplicates are dropped — `dropDuplicates` keeps
    * O(distinct) keyed state (bound it with `withWatermark` + an
    * event-time column on unbounded streams). Stages the documents
    * parquet as a file stream and counts survivors.
    */
  def runDedupStreamOnce(spark: SparkSession, dir: String): Long = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = graft.engine.Artifacts.scratchDir("graft_dedup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val deduped = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("h", md5(col("text").cast("binary")))
      .dropDuplicates("h")
    val q = deduped.writeStream
      .outputMode("append").format("memory").queryName("graft_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table("graft_dedup").count()
  }

  /** Streaming ingestion gate: each micro-batch of NEW documents
    * near-dup-checked against the static training corpus, via
    * foreachBatch reusing [[graft.dedup.Dedup.minhashLshAgainst]]
    * verbatim — the canonical Spark pattern for complex batch logic on
    * a stream (no operator re-derivation, no cross-batch state; the
    * corpus side is a static relation re-planned per batch). Returns
    * the accumulated (new_id, corpus_id, jaccard) verdicts.
    */
  def nearDupIngestGate(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.5)(
      onVerdicts: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch operator caches its candidate frame for its own
        // multi-consumer plan; on a long-running stream those caches
        // would accrete across micro-batches. Unpersist exactly THIS
        // batch's cache via its handle — a catalog.clearCache() here
        // would also evict caches other workloads in the shared session
        // rely on (the static corpus, an interactive user's tables) and
        // trigger a recompute storm.
        val (verdicts, cacheHandle) = graft.dedup.Dedup
          .minhashLshAgainstWithHandle(batch.toDF(), corpus, 3, 64, 32, threshold)
        try onVerdicts(verdicts)
        finally cacheHandle.unpersist(blocking = false)
    }

  /** Test/driver runner for [[nearDupIngestGate]]: streams the docs whose
    * doc_id % 10 == 0 (one file per micro-batch) against the rest as the
    * static corpus, collecting verdicts into an in-memory table.
    */
  def runNearDupIngest(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = all.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val streamDir = graft.engine.Artifacts.scratchDir("graft_ingest")
    // two delta files -> two micro-batches under maxFilesPerTrigger=1
    all.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      .filter(col("doc_id") < 250L).coalesce(1)
      .write.mode("overwrite").parquet(streamDir.resolve("b0").toString)
    all.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      .filter(col("doc_id") >= 250L).coalesce(1)
      .write.mode("append").parquet(streamDir.resolve("b0").toString)
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.resolve("b0").toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = nearDupIngestGate(stream, corpus, threshold)(
        verdicts => verdicts.collect().foreach(sink.add))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val rows = sink.asScala.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    import spark.implicits._
    rows.toDF("new_id", "corpus_id", "jaccard")
  }

  /** Blocklist ingestion gate: each micro-batch of NEW documents runs
    * the same ONE-pass Aho-Corasick lexicon scan the batch queries use
    * ([[graft.functions.AhoCorasick]]) and emits a per-doc verdict
    * (distinct terms hit, total occurrences, flagged). Stateless per
    * batch — the lexicon is static and the automaton is built once per
    * JVM, so admission control costs one byte walk per arriving doc
    * regardless of lexicon size. Bit parity with the batch scan is
    * gated in StreamingSpec.
    */
  def blocklistIngestGate(newDocs: DataFrame, terms: Seq[String])(
      onVerdicts: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val verdicts = batch
          .select(col("doc_id"),
            graft.functions.AhoCorasick.ac_matches(
              lower(col("text")),
              graft.text.TextAnalysis.normalizeLexicon(terms)).as("m"))
          .select(col("doc_id"),
            size(col("m")).cast("long").as("n_terms"),
            coalesce(aggregate(col("m"), lit(0L),
              (acc, x) => acc + x.getField("cnt")), lit(0L)).as("n_hits"),
            (size(col("m")) > 0).as("flagged"))
        onVerdicts(verdicts)
    }

  /** Boilerplate-strip ingest gate: each micro-batch of NEW documents
    * has its lines stripped against a FROZEN boilerplate list
    * (detected once in batch — [[graft.text.TextAnalysis
    * .boilerplateLines]], model-sized, cached by the caller) — the
    * CCNet/RefinedWeb line cleanup applied at ingest time. Same
    * operator as the batch serve half
    * ([[graft.text.TextAnalysis.stripKnownBoilerplate]]), so per-doc
    * outputs are bit-equal by construction (gated in StreamingSpec).
    */
  /** Streaming MAINTENANCE of a stored folded model — the bridge
    * between the ingest stream and the artifact layer (every other
    * gate scores under a FROZEN model; this one keeps the published
    * model fresh): each micro-batch lands as an immutable shard dir
    * under `shardRoot` (the append-only shard-list contract), then the
    * folded bigram-LM state artifact
    * ([[graft.text.TextAnalysis.bigramStateArtifactFolded]]) is
    * re-served over the grown list — the stored artifact folds in
    * JUST the new shard (delta-sized work per batch, never a re-scan
    * of published data; the lineage's provenance receipt proves it), and
    * `onState` sees the SERVED state after each batch, bit-equal to
    * batch counting over everything ingested so far (the fold
    * contract, gated in StreamingSpec).
    *
    * Restart contract: run the query WITH a checkpointLocation. Under
    * checkpointed restart a replayed batch id carries the same data,
    * and an already-written shard dir is LEFT INTACT — re-writing it
    * would churn its file mtimes, invalidate its published fingerprint
    * in the marker, and silently degrade every later batch to a full
    * corpus re-mine (the exact cost contract this gate exists to
    * keep). Without a checkpoint a restarted query re-ingests from
    * batch 0 with a fresh file-to-batch mapping — use a fresh
    * `shardRoot`/`name` pair then.
    */
  def lmFoldIngestGate(newDocs: DataFrame, shardRoot: String, name: String)(
      onState: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val shardDir = new java.io.File(s"$shardRoot/shard_$id")
        if (!shardDir.exists)
          batch.toDF().write
            .parquet(s"$shardRoot/shard_$id/documents.parquet")
        val shards = Option(new java.io.File(shardRoot).listFiles)
          .toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("shard_"))
          .map(_.toString).sorted
        onState(graft.text.TextAnalysis
          .bigramStateArtifactFolded(spark, name, shards))
    }

  def boilerplateIngestGate(newDocs: DataFrame, boiler: DataFrame)(
      onVerdicts: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        onVerdicts(graft.text.TextAnalysis.stripKnownBoilerplate(
          batch.toDF(), boiler))
    }

  /** LM-quality scoring gate: each micro-batch of NEW documents is
    * scored under a FROZEN bigram model (trained once in batch —
    * [[graft.text.TextAnalysis.bigramModel]], vocab-sized, cached by
    * the caller) — the ingest-time perplexity filter: admit/route on
    * mean surprisal as docs arrive, never retraining per batch. Same
    * scorer as the batch query, so verdicts are bit-equal by
    * construction (gated in StreamingSpec).
    */
  def lmScoreIngestGate(newDocs: DataFrame, model: DataFrame)(
      onScores: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        onScores(graft.text.TextAnalysis.scoreBigramSurprisal(
          batch.toDF(), model))
    }

  /** Language-ID ingest gate: each micro-batch of NEW documents is
    * classified under the FROZEN Naive-Bayes char-bigram model
    * (trained once on the curated seed —
    * [[graft.text.TextAnalysis.langidNbModel]], vocab-sized, cached by
    * the caller) and its claimed lang label audited at ingest time —
    * the routing/quarantine step a multilingual intake runs per shard.
    * Same scorer as the batch query, so verdicts are bit-equal by
    * construction (gated in StreamingSpec).
    */
  def langidIngestGate(newDocs: DataFrame, model: DataFrame,
      den: DataFrame)(
      onScores: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        onScores(graft.text.TextAnalysis.scoreLangidNb(
          batch.toDF(), model, den))
    }

  /** CDC upsert ingest gate: each micro-batch of the change feed is
    * MERGE-INTO-applied onto the maintained snapshot
    * ([[graft.pipeline.Cdc.mergeApply]]) and the post-batch snapshot
    * handed to `onSnapshot` — streaming upsert maintenance of a serving
    * table. Contract: batches arrive in CDC-log order (within a key,
    * later batches carry later sequence numbers — binlog/Debezium
    * delivery order); under it every sequential snapshot equals the
    * one-shot merge of the log so far (spec-gated in StreamingSpec).
    * The snapshot is localCheckpoint'd per batch: merge-in-a-loop would
    * otherwise grow the logical plan per batch (the
    * connectedComponents plan-doubling lesson).
    */
  def cdcMergeIngestGate(feed: DataFrame, base: DataFrame,
      keys: Seq[String])(
      onSnapshot: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val state = new java.util.concurrent.atomic.AtomicReference(base)
    feed.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val next = graft.pipeline.Cdc
          .mergeApply(state.get(), batch.toDF(), keys)
          .localCheckpoint()
        state.set(next)
        onSnapshot(next)
    }
  }

  /** Self-Instruct instruction-pool admission gate — the GROWING-POOL
    * form of [[graft.text.TextAnalysis.rougeDedup]], which is how the
    * published pipeline actually runs: each micro-batch of candidate
    * instructions is ROUGE-L-scored against the CURRENT pool; verdicts
    * are emitted, and the admitted candidates (F1 < θ) JOIN the pool
    * in doc_id order before the next batch — so a candidate arriving
    * after a near-twin was admitted is rejected even though the seed
    * pool never contained either. Pool state is driver-side and
    * pool-sized (the trainer-state posture); scoring per batch is the
    * same broadcast-pool kernel as the batch query, so per-batch
    * verdicts are bit-equal to rougeDedup against the pool as of that
    * batch (gated in StreamingSpec). Deterministic given arrival
    * order (the contract of any admission log).
    */
  def rougePoolIngestGate(newDocs: DataFrame, seedPool: Seq[(Int, String)],
      capTokens: Int = 24, thetaGrid: Long = 7000L)(
      onVerdicts: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val pool = new java.util.concurrent.atomic.AtomicReference(seedPool)
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions.col
        val cur = pool.get()
        val verdicts = graft.text.TextAnalysis
          .rougeDedup(batch.toDF(), cur, capTokens, thetaGrid)
          .localCheckpoint(false)
        val texts = batch.toDF().select(col("doc_id"), col("text"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val admitted = verdicts.filter(!col("is_dup"))
          .select(col("doc_id")).collect().map(_.getLong(0)).sorted
        var nextId = cur.map(_._1).max
        pool.set(cur ++ admitted.map { id =>
          nextId += 1; (nextId, texts(id).toLowerCase)
        })
        onVerdicts(verdicts)
    }
  }

  /** DPO preference-pair ingest gate — the GROWING-ELECTION form of
    * [[graft.pipeline.Pipeline.dpoPairs]]: candidate completions
    * stream in per micro-batch, each batch is scored by the SAME
    * candidate extractor as the batch query
    * ([[graft.pipeline.Pipeline.dpoCandidates]]), and a driver-side
    * per-prompt election state (prompt-sized — the trainer-state
    * posture) folds in the new candidates with the batch query's exact
    * tie rules (chosen: score desc, id asc; rejected: score asc, id
    * desc). After every batch the CURRENT pair set is emitted, so the
    * final emission is bit-equal to the batch election over the union
    * of all arrived candidates (gated in StreamingSpec) — and a pair
    * can flip chosen/rejected mid-stream as better/worse completions
    * arrive, which a per-batch stateless gate could never show. */
  def dpoPairIngestGate(newDocs: DataFrame)(
      onPairs: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // prompt -> (nCand, chosenScore, chosenId, rejectedScore, rejectedId)
    val state = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Long, Long)]()
    // foreachBatch is at-least-once: a retried batch re-delivers the
    // same batchId, and re-merging it would inflate n_candidates and
    // break the bit-equal-to-batch contract — fold each id once
    val lastFolded = new java.util.concurrent.atomic.AtomicLong(-1L)
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val fresh = lastFolded.get() < batchId
        val cands = if (fresh)
          graft.pipeline.Pipeline.dpoCandidates(batch.toDF())
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        else Array.empty[(Long, String, Long)]
        cands.foreach { case (id, p, sc) =>
          state.merge(p, (1L, sc, id, sc, id),
            (a: (Long, Long, Long, Long, Long),
             b: (Long, Long, Long, Long, Long)) => {
              val (n, cs, ci, rs, ri) = a
              val (ch, chi) =
                if (b._2 > cs || (b._2 == cs && b._3 < ci)) (b._2, b._3)
                else (cs, ci)
              val (rj, rji) =
                if (b._4 < rs || (b._4 == rs && b._5 > ri)) (b._4, b._5)
                else (rs, ri)
              (n + 1L, ch, chi, rj, rji)
            })
        }
        // mark the batch folded only AFTER the merge loop completes —
        // marking before it would skip a re-delivered batch whose
        // first delivery failed mid-fold, silently dropping candidates.
        // The guard is in-memory only: the bit-equal-to-batch contract
        // holds within a single uninterrupted run (a checkpoint restart
        // rebuilds state from replayed batches).
        if (fresh) lastFolded.set(batchId)
        val spark = batch.sparkSession
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        val pairs = state.asScala.toSeq.collect {
          case (p, (n, cs, ci, rs, ri)) if n >= 2L && cs > rs =>
            (p, n, ci, cs, ri, rs, cs - rs)
        }
        onPairs(pairs.toDF("prompt", "n_candidates", "chosen_id",
          "chosen_score", "rejected_id", "rejected_score", "margin"))
    }
  }

  /** Stupid-backoff trigram scoring gate: each micro-batch of NEW
    * documents is scored under the FROZEN three-level model (trained
    * once in batch — [[graft.text.TextAnalysis.trigramBackoffModel]],
    * model-sized, cached by the caller) — the OOV-aware ingest router:
    * arriving docs full of unseen words surface immediately through
    * the n_oov / backoff-level counts, which a self-trained batch
    * score can never show. Same scorer as the batch query
    * ([[graft.text.TextAnalysis.scoreTrigramBackoff]]), so verdicts
    * are bit-equal by construction (gated in StreamingSpec).
    */
  def backoffScoreIngestGate(newDocs: DataFrame, s3: DataFrame,
      s2: DataFrame, s1: DataFrame, oovSurp: Long)(
      onScores: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        onScores(graft.text.TextAnalysis.scoreTrigramBackoff(
          batch.toDF(), s3, s2, s1, oovSurp))
    }

  /** Streaming DoReMi gate — the mixture-design member of the
    * incremental-model family: each micro-batch's per-(source, bigram)
    * counts fold by exact sum into accumulated state (driver map,
    * model-sized × sources — the lm_model_incremental posture; shard
    * it at corpus scale), and after every batch the CURRENT mixture
    * weights re-derive from state alone, bit-equal to batch
    * [[graft.pipeline.Pipeline.doremiWeights]] on the union of all
    * arrived docs (gated in StreamingSpec). The fold is idempotent per
    * batch id only through ordering: the folded-marker is set AFTER
    * the merge completes (the dpoPairIngestGate rule). */
  def doremiIngestGate(newDocs: DataFrame, iters: Int = 3,
      eta4: Long = 10000L)(
      onWeights: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val state = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String), Long]()
    val lastFolded = new java.util.concurrent.atomic.AtomicLong(-1L)
    newDocs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val fresh = lastFolded.get() < batchId
        if (fresh) {
          graft.text.TextAnalysis.sourceBigramCountState(batch.toDF())
            .collect()
            .foreach { r =>
              state.merge((r.getString(0), r.getString(1), r.getString(2)),
                r.getLong(3), (a: Long, b: Long) => a + b)
            }
          lastFolded.set(batchId)
        }
        val spark = batch.sparkSession
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        val st = state.asScala.toSeq
          .map { case ((src, w1, w2), n) => (src, w1, w2, n) }
          .toDF("source", "w1", "w2", "n2")
        onWeights(graft.pipeline.Pipeline.doremiWeightsFromState(
          st, iters, eta4))
    }
  }

  /** Multimodal ingestion gate: each micro-batch of NEW images is
    * perceptual-hashed (decode → aHash) and checked against the static
    * corpus's hash table at Hamming ≤ `maxHamming` — the image twin of
    * [[nearDupIngestGate]] (foreachBatch over the batch operator, no
    * cross-batch state; the corpus hashes are computed ONCE and cached
    * by the caller, kilobytes per million images). The delta side is
    * tiny per batch, so the hash join broadcasts it; verdicts are
    * (new_id, corpus_id, hamming).
    */
  def imageIngestGate(newMedia: DataFrame,
      corpusHashes: DataFrame, maxHamming: Int = 3)(
      onVerdicts: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    newMedia.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions.broadcast
        val spark = batch.sparkSession
        import spark.implicits._
        val newHashes = graft.multimodal.Multimodal.imageHashes(
          batch.select(col("id"), col("kind"), col("media"),
            col("width"), col("height"))
            .as[graft.multimodal.Multimodal.MediaRow]).toDF()
          .select(col("id").as("new_id"), col("ahash").as("new_ahash"))
        val verdicts = broadcast(newHashes)
          .join(corpusHashes.select(col("id").as("corpus_id"),
            col("ahash").as("corpus_ahash")),
            bit_count(col("new_ahash").bitwiseXOR(col("corpus_ahash")))
              <= maxHamming)
          .select(col("new_id"), col("corpus_id"),
            bit_count(col("new_ahash").bitwiseXOR(col("corpus_ahash")))
              .cast("long").as("hamming"))
        onVerdicts(verdicts)
    }

  final case class DedupRow(key: Long, docId: Long)
  final case class DedupOut(key: Long, survivor: Long)

  /** Streaming EXACT dedup — the survivor-election member of the
    * streaming-twin family: per content-hash state is the MIN doc_id
    * seen so far (a one-long monoid, order-insensitive), so the final
    * survivor set equals the batch `groupBy(content).min(doc_id)` BIT
    * FOR BIT regardless of arrival order — strictly stronger than
    * Spark's built-in `dropDuplicates`, whose keep-first-arrival winner
    * depends on micro-batch order. State is one long per distinct
    * content key (the intrinsic floor for EXACT streaming dedup —
    * built-in dropDuplicates holds the same; the bounded-state
    * alternatives are the theta/Bloom twins).
    */
  def dedupStream(docs: Dataset[DedupRow]): Dataset[DedupOut] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, DedupOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[Long]) =>
          val cur = state.getOption.getOrElse(Long.MaxValue)
          val mn = math.min(cur, rows.map(_.docId).min)
          state.update(mn)
          Iterator.single(DedupOut(key, mn))
      }
  }

  /** Drive dedupStream over the documents parquet staged as 4 files
    * (AvailableNow + maxFilesPerTrigger=1 → real multi-batch state);
    * returns the final (content-hash, survivor) pairs. */
  def runDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val streamDir = graft.engine.Artifacts.scratchDir("graft_dedup_stream")
    all.repartition(4).write.mode("overwrite").parquet(streamDir.toString)
    val raw = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val typed = raw
      .select(xxhash64(col("text")).as("key"), col("doc_id").as("docId"))
      .as[DedupRow]
    val q = dedupStream(typed).writeStream
      .outputMode("update").format("memory").queryName("graft_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // final answer per key = the minimum over every emitted update
    spark.table("graft_dedup")
      .groupBy(col("key")).agg(min(col("survivor")).as("survivor"))
  }

  // ── streaming token-budget monitor (the ingest-time corpusMix) ──────

  final case class TokRow(source: String, nToks: Long)
  final case class TokState(total: Long, docs: Long)
  final case class TokOut(source: String, total_tokens: Long, n_docs: Long,
      exhausted: Boolean)

  /** Running per-source SUBWORD-token totals with a budget verdict —
    * the admission-control twin of the batch `corpusMix`: a corpus
    * ingest watches each source's cumulative token count (the BPE
    * encode runs per arriving doc — a codegen expression works
    * unchanged inside Structured Streaming) and flips `exhausted` the
    * moment a source crosses its budget. Long-lived O(1) state per
    * source; totals are an order-insensitive sum, so the final state is
    * bit-equal to the batch aggregate however the stream micro-batches.
    */
  def tokenBudgetStream(docs: Dataset[TokRow], budgets: Map[String, Long],
      defaultBudget: Long): Dataset[TokOut] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[TokState, TokOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src, rows, state: GroupState[TokState]) =>
          val st = state.getOption.getOrElse(TokState(0L, 0L))
          var tot = st.total
          var nd = st.docs
          rows.foreach { r => tot += r.nToks; nd += 1 }
          state.update(TokState(tot, nd))
          Iterator.single(
            TokOut(src, tot, nd, tot > budgets.getOrElse(src, defaultBudget)))
      }
  }

  /** Drive tokenBudgetStream over the documents parquet staged as 4
    * files (AvailableNow + maxFilesPerTrigger=1 → real multi-batch
    * state); returns every emitted update (the monitor's event log). */
  def runTokenBudgetStream(spark: SparkSession, dir: String,
      budgets: Map[String, Long], defaultBudget: Long): DataFrame = {
    import spark.implicits._
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val streamDir = graft.engine.Artifacts.scratchDir("graft_tok_stream")
    all.repartition(4).write.mode("overwrite").parquet(streamDir.toString)
    val raw = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val typed = raw.select(col("source"),
        graft.text.TextAnalysis.bpeTokenCount(col("text")).as("nToks"))
      .as[TokRow]
    val q = tokenBudgetStream(typed, budgets, defaultBudget).writeStream
      .outputMode("update").format("memory").queryName("graft_tok_budget")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table("graft_tok_budget")
  }
}
