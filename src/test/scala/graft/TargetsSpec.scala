package graft

import graft.engine.{Sessions, Tables, TargetRegistry}
import graft.operators.{DistinctAndFrequency, Histograms, NextK, Stats}
import graft.operators.NextK.{AggSpec, Order, SumAgg}
import graft.streaming.Memo
import org.apache.spark.sql.functions._

/** Interactive target/session layer: the SURVEY §3 entry-point gesture
  * chains replayed through the registry (RpcTarget/TableTarget shape),
  * with memoization hits on gesture replay (MemoizedResults semantics)
  * and the runtime-UDF surface driving a gesture.
  */
class TargetsSpec extends SparkSpec {

  test("concurrent sessions in separate FAIR pools both complete correctly") {
    // two "users" issue queries concurrently from different threads/pools;
    // correctness must be thread-independent (results identical to serial)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val li = graft.engine.Tables.lineitem(spark, sf)
    val serial = li.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val futures = (1 to 4).map { u =>
      Future {
        graft.engine.Sessions.inPool(spark, s"user$u") {
          li.groupBy(col("l_returnflag")).count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
      .foreach(m => assert(m == serial))
  }

  test("unsubscribe: a cancelled sketch aborts mid-flight, the session " +
      "stays healthy, and the memo cache is not poisoned") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val reg = new TargetRegistry(spark)
    val docsId = reg.load("docs", Tables.documents(spark, sf)).id
    // a deliberately slow gesture: a per-row ~2 ms UDF over the corpus
    // (minutes if left alone) — the abort must land mid-flight
    val slow = udf { (s: String) => Thread.sleep(2); if (s == null) 0 else s.length }
    def slowAgg(df: org.apache.spark.sql.DataFrame) =
      df.select(sum(slow(col("text"))).as("n"))
    Memo.clear()
    val group = "spec-unsubscribe"
    val running = Future(Sessions.inGroup(spark, group)(reg.sketch(docsId)(slowAgg)))
    // wait until the gesture's jobs are actually active, then unsubscribe
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 60000
    while (tracker.getJobIdsForGroup(group).isEmpty && !running.isCompleted &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(!running.isCompleted,
      s"slow sketch finished/failed before the abort: ${running.value}")
    assert(tracker.getJobIdsForGroup(group).nonEmpty, "sketch never started")
    Sessions.cancelGroup(spark, group)
    val aborted = intercept[Exception] { Await.result(running, 120.seconds) }
    assert(aborted.getMessage != null)
    // memo not poisoned: the aborted gesture recorded NOTHING
    assert(Memo.size == 0, s"cancelled sketch left ${Memo.size} memo entries")
    // session healthy + replay correct: the IDENTICAL gesture (cheap
    // twin of the same shape) computes fresh, then memo-hits
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.select(sum(length(col("text"))).as("n"))
    val expected = agg(Tables.documents(spark, sf)).collect()(0).getLong(0)
    val h0 = Memo.hits
    val first = reg.sketch(docsId)(agg)
    assert(first(0).getLong(0) == expected)
    val second = reg.sketch(docsId)(agg)
    assert(second(0).getLong(0) == expected && Memo.hits == h0 + 1,
      "identical gesture after an abort must memo-hit")
    // and the original slow gesture's fingerprint is still absent until
    // a COMPLETED run records it — no ghost entry from the abort
    assert(Memo.size == 1)
  }

  test("interactive() fails fast instead of silently reusing a FIFO context") {
    // this suite's shared session is FIFO; scheduler mode is frozen at
    // context creation, so interactive() must refuse rather than hand
    // back a session whose pools are silent no-ops. Touch the fixture
    // first so the FIFO context definitely exists even when this test
    // is run in isolation, and assert the pre-check left the shared
    // session's modifiable confs untouched.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val e = intercept[IllegalArgumentException] {
      graft.engine.Sessions.interactive()
    }
    assert(e.getMessage.contains("FAIR"), e.getMessage)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "interactive() must not mutate the existing session's confs")
  }

  test("nested inPool restores the outer pool on exit") {
    val sc = spark.sparkContext
    graft.engine.Sessions.inPool(spark, "userA") {
      graft.engine.Sessions.inPool(spark, "etl") {
        assert(sc.getLocalProperty("spark.scheduler.pool") == "etl")
      }
      // the outer per-user pool must survive a nested helper's exit —
      // nulling it would silently move the rest of userA's request to
      // the default pool
      assert(sc.getLocalProperty("spark.scheduler.pool") == "userA")
    }
    assert(sc.getLocalProperty("spark.scheduler.pool") == null)
  }

  test("nested inGroup restores the outer group on exit; a cancelled inner " +
      "group leaves the outer one running") {
    val sc = spark.sparkContext
    val props = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    def current = props.map(sc.getLocalProperty)
    val before = current
    Sessions.inGroup(spark, "spec-outer") {
      val outer = current
      assert(outer.head == "spec-outer")
      Sessions.inGroup(spark, "spec-inner") {
        assert(sc.getLocalProperty("spark.jobGroup.id") == "spec-inner")
        Sessions.cancelGroup(spark, "spec-inner")
      }
      // clearing instead of restoring would drop the outer group, its
      // description and its interrupt flag for the rest of the thread
      assert(current == outer)
      assert(spark.range(0, 10, 1, 2).count() == 10)
      assert(sc.statusTracker.getJobIdsForGroup("spec-outer").nonEmpty,
        "the later job did not run in the outer group")
    }
    assert(current == before)
  }

  test("Entry-B chain: load → filter → getNextK, replay hits the memo") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    val filtered = reg.filter(root.id,
      col("l_extendedprice").between(1000.0, 50000.0))
    val order = Seq(Order("l_returnflag"), Order("l_linestatus"))
    val aggs = Seq(AggSpec(SumAgg, "l_quantity", "sum_qty"))
    val got = reg.nextK(filtered.id, order, 5, aggs = aggs)
    // equals the direct declaration over the same frame
    val direct = NextK.nextK(
      Tables.lineitem(spark, sf).filter(col("l_extendedprice").between(1000.0, 50000.0)),
      order, 5, aggs = aggs).collect()
    assert(got.toSeq == direct.toSeq && got.nonEmpty)
    // replaying the same gesture is a cache hit, not a cluster job
    val hitsBefore = Memo.hits
    val replay = reg.nextK(filtered.id, order, 5, aggs = aggs)
    assert(Memo.hits == hitsBefore + 1)
    assert(replay.toSeq == got.toSeq)
    // lineage reconstructs the gesture chain
    assert(reg.lineage(filtered.id).head.startsWith("load:lineitem"))
    assert(reg.lineage(filtered.id).last.startsWith("filter:"))
  }

  test("Entry-C chain: quantiles pass → histogram+CDF, replay hits the memo") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    // phase 1: getDataQuantiles → bucket boundaries
    val range = reg.dataRange(root.id, "l_extendedprice").head
    val (lo, hi) = (900.0, math.ceil(range.getDouble(1)))
    // phase 2: histogramAndCDF with buckets from phase 1
    val inRange = reg.filter(root.id, col("l_extendedprice").between(lo, hi))
    val bucket = Histograms.numericBucket(col("l_extendedprice"), lo, hi, 20)
    val got = reg.histogramCdf(inRange.id, bucket)
    val direct = Histograms.histogramWithCdf(
      Tables.lineitem(spark, sf).filter(col("l_extendedprice").between(lo, hi)),
      bucket).collect()
    assert(got.toSet == direct.toSet && got.nonEmpty)
    val hitsBefore = Memo.hits
    reg.histogramCdf(inRange.id, bucket)
    reg.dataRange(root.id, "l_extendedprice")
    assert(Memo.hits == hitsBefore + 2)
  }

  test("an identical heavy-hitters replay starts no Spark job, exact or saturated") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    // three (returnflag, linestatus) keys under cap 40: the summary is
    // the answer; far more orderkeys than cap 200: a verify scan follows
    for ((cols, eps) <- Seq((Seq("l_returnflag", "l_linestatus"), 0.05), (Seq("l_orderkey"), 0.01))) {
      def gesture() = reg.sketch(root.id)(DistinctAndFrequency.heavyHittersMG(_, cols, eps))
      var first, replay = Array.empty[org.apache.spark.sql.Row]
      assert(jobCount { first = gesture() } >= 1, cols)
      assert(jobCount { replay = gesture() } == 0, cols)
      assert(replay.toSeq == first.toSeq, cols)
    }
  }

  test("a repeated gesture shape with new literals compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    // one round of the gesture session's shapes: a timestamp window and
    // a quantity cap filter a target; data range, histogram+CDF (double
    // bounds, int bucket count) and a nextK seek (double and long pivot)
    // run over it. Every round has new literals, so the memo misses.
    def round(day: Int, cap: Int, buckets: Int, pivot: Double, key: Long): Unit = {
      val from = java.time.LocalDate.of(1995, 1, 2).plusDays(day)
      val f = reg.filter(root.id, expr(s"l_shipdate >= TIMESTAMP '$from 00:00:00' AND " +
        s"l_shipdate < TIMESTAMP '${from.plusYears(3)} 00:00:00' AND l_quantity <= $cap"))
      val range = reg.dataRange(f.id, "l_extendedprice").head
      val (lo, hi) = (range.getDouble(0), range.getDouble(1))
      assert(reg.histogramCdf(f.id,
        Histograms.numericBucket(col("l_extendedprice"), lo, hi, buckets)).nonEmpty)
      assert(reg.nextK(f.id, Seq(Order("l_extendedprice"), Order("l_orderkey")), 10,
        Some(Seq[Any](pivot, key))).nonEmpty)
    }
    round(0, 30, 20, 20000.5, 0L)
    round(90, 33, 24, 25000.25, 7L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round(400, 37, 31, 31234.75, 11L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
  }

  test("redo log: save → replay in a fresh registry → same ids, memo-served sketch") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    val filtered = reg.filter(root.id,
      col("l_extendedprice").between(1000.0, 50000.0))
    val proj = reg.project(filtered.id, Seq("l_returnflag", "l_quantity"))
    val derived = reg.withColumn(proj.id, "qty2", col("l_quantity") * 2.0)
    val order = Seq(Order("l_returnflag"))
    val aggs = Seq(AggSpec(SumAgg, "qty2", "sum_qty2"))
    val before = reg.nextK(derived.id, order, 3, aggs = aggs)
    assert(before.nonEmpty)
    // persist, replay into a FRESH registry (fresh-session stand-in: the
    // replayed frames rebuild from the table dir, sharing nothing with
    // the original targets' DataFrames), and resolve the SAME id
    val log = graft.engine.Artifacts.scratchDir("graft_redo")
      .resolve("hillview.redo").toString
    reg.saveRedoLog(log)
    val restored = TargetRegistry.replay(spark, log)
    assert(restored.size == 4)
    assert(restored.lineage(derived.id).map(_.takeWhile(_ != ':')) ==
      Seq("load", "filter", "project", "col"))
    // the replayed sketch is IDENTICAL and served from the memo (the
    // replayed plan canonicalizes to the collected one — a cache hit,
    // not a recompute), like the reference's MemoizedResults across a
    // restart
    val hitsBefore = Memo.hits
    val after = restored.nextK(derived.id, order, 3, aggs = aggs)
    assert(after.toSeq == before.toSeq)
    assert(Memo.hits == hitsBefore + 1)
    // post-replay registration continues past the restored ids
    val fresh = restored.loadTable(sf, "orders")
    assert(fresh.id == "t4")
    // rename + convert gestures replay too
    val renamed = reg.rename(derived.id, "qty2", "double_qty")
    val converted = reg.convert(renamed.id, "double_qty", "long")
    reg.saveRedoLog(log)
    val again = TargetRegistry.replay(spark, log)
    assert(again.get(converted.id).df.schema("double_qty").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(again.get(converted.id).df.count() ==
      reg.get(converted.id).df.count())
    // bookmark: one view's chain only, replayable on its own
    val bm = graft.engine.Artifacts.scratchDir("graft_bm")
      .resolve("view.bookmark").toString
    reg.saveBookmark(filtered.id, bm)
    val view = TargetRegistry.replay(spark, bm)
    assert(view.size == 2)
    assert(view.get(filtered.id).df.count() ==
      Tables.lineitem(spark, sf)
        .filter(col("l_extendedprice").between(1000.0, 50000.0)).count())
    // volatile roots are excluded from the log and refuse bookmarks
    import spark.implicits._
    val vol = reg.load("session_frame", Seq((1, "a")).toDF("k", "v"))
    val volChild = reg.filter(vol.id, col("k") > 0)
    reg.saveRedoLog(log)
    // 4 original + rename + convert are replayable; the volatile chain
    // is excluded
    assert(TargetRegistry.replay(spark, log).size == 6)
    intercept[IllegalArgumentException](reg.saveBookmark(volChild.id, bm))
  }

  test("widened gesture surface: set-op, merge, interval, JS gestures replay with memo hits") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "orders")
    // two filtered VIEWS of the same base (the SetOperationMap shape)
    val urgent = reg.filter(root.id, col("o_orderpriority") === "1-URGENT")
    val pricey = reg.filter(root.id, col("o_totalprice") > 200000.0)
    val both = reg.setOp(urgent.id, pricey.id, "intersect")
    val either = reg.setOp(urgent.id, pricey.id, "union")
    val only = reg.setOp(urgent.id, pricey.id, "minus")
    // set algebra sanity on the live frames
    val (nb, ne, no) =
      (both.df.count(), either.df.count(), only.df.count())
    assert(nb + no == urgent.df.count())
    assert(ne == urgent.df.count() + pricey.df.count() - nb)
    // mergeWith: bag concat keeps duplicates
    val merged = reg.merge(Seq(urgent.id, urgent.id, pricey.id))
    assert(merged.df.count() == 2 * urgent.df.count() + pricey.df.count())
    // interval column + a JS filter and JS column on top of a set-op
    // view — the full widened chain
    val iv = reg.createInterval(both.id, "price_iv", "o_totalprice", "o_totalprice")
    val jsF = reg.jsFilter(iv.id,
      "function filter(row) { return row.o_totalprice >= 300000; }")
    val jsC = reg.jsColumn(jsF.id, "band",
      "function map(row) { if (row.o_totalprice >= 400000) return 'high'; return 'mid'; }")
    val before = reg.sketch(jsC.id)(df =>
      df.groupBy(col("band")).agg(count(lit(1)).as("n")))
    assert(before.nonEmpty)
    // redo log round-trip: every widened op replays with ORIGINAL ids
    val log = graft.engine.Artifacts.scratchDir("graft_redo2")
      .resolve("hillview.redo").toString
    reg.saveRedoLog(log)
    val restored = TargetRegistry.replay(spark, log)
    assert(restored.size == reg.size)
    assert(restored.get(jsC.id).df.schema.fieldNames.contains("band"))
    assert(restored.get(merged.id).df.count() == merged.df.count())
    assert(restored.get(both.id).df.count() == nb)
    assert(restored.get(either.id).df.count() == ne)
    assert(restored.get(only.id).df.count() == no)
    // the replayed sketch over the set-op + JS chain memo-hits
    val hitsBefore = Memo.hits
    val after = restored.sketch(jsC.id)(df =>
      df.groupBy(col("band")).agg(count(lit(1)).as("n")))
    assert(after.toSeq == before.toSeq)
    assert(Memo.hits == hitsBefore + 1)
    // a bookmark of a set-op view carries BOTH parents' chains
    val bm = graft.engine.Artifacts.scratchDir("graft_bm2")
      .resolve("setop.bookmark").toString
    reg.saveBookmark(both.id, bm)
    val view = TargetRegistry.replay(spark, bm)
    assert(view.size == 4) // load + two filters + the set op
    assert(view.get(both.id).df.count() == nb)
    // a volatile root anywhere under EITHER parent poisons bookmarks
    import spark.implicits._
    val vol = reg.load("session_frame", Seq((1, "x")).toDF("o_orderkey", "s"))
    val mixed = reg.setOp(urgent.id, vol.id, "replace")
    intercept[IllegalArgumentException](reg.saveBookmark(mixed.id, bm))
    // ... and keeps the volatile chain out of the redo log
    reg.saveRedoLog(log)
    assert(TargetRegistry.replay(spark, log).size == reg.size - 2)
  }

  test("row-identity set ops preserve duplicate-valued rows (SetOperationMap membership semantics)") {
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "orders")
    val keep = Seq("o_custkey", "o_orderstatus")
    val p1 = col("o_totalprice") > 200000.0
    val p2 = col("o_orderpriority") === "1-URGENT"
    val a = reg.project(reg.filter(root.id, p1).id, keep)
    val b = reg.project(reg.filter(root.id, p2).id, keep)
    val base = Tables.orders(spark, sf)
    // membership algebra over PHYSICAL rows == predicate algebra over the base
    val union = reg.setOp(a.id, b.id, "union")
    val inter = reg.setOp(a.id, b.id, "intersect")
    val minus = reg.setOp(a.id, b.id, "minus")
    assert(union.df.count() == base.filter(p1 || p2).count())
    assert(inter.df.count() == base.filter(p1 && p2).count())
    assert(minus.df.count() == base.filter(p1 && !p2).count())
    // the fixture actually carries duplicate-VALUED rows through the
    // projection — the case where value-based distinct would collapse
    assert(union.df.count() > union.df.distinct().count(),
      "fixture must produce duplicate-valued projected rows")
    // the hidden rid never leaks into the visible frame
    Seq(union, inter, minus).foreach(t =>
      assert(!t.df.columns.contains(TargetRegistry.RowIdCol)))
    // replay through the redo log keeps row-identity semantics
    val log = graft.engine.Artifacts.scratchDir("graft_redo_rid")
      .resolve("hillview.redo").toString
    reg.saveRedoLog(log)
    val restored = TargetRegistry.replay(spark, log)
    assert(restored.get(union.id).df.count() == union.df.count())
    assert(restored.get(union.id).df.count() >
      restored.get(union.id).df.distinct().count())
  }

  test("dynamic expression registration drives a gesture and folds into the plan") {
    import graft.functions.DynamicUdf
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "lineitem")
    DynamicUdf.registerExpr(spark, "spec_cheap", "p < 1500.0", Seq("p"))
    val cheap = reg.filter(root.id, DynamicUdf.call(spark, "spec_cheap", col("l_extendedprice")))
    val n = reg.summary(cheap.id).head.getLong(0)
    val expect = Tables.lineitem(spark, sf).filter(col("l_extendedprice") < 1500.0).count()
    assert(n == expect && n > 0)
    // the parsed expression is a real Catalyst predicate: pushed to scan
    val p = cheap.df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_extendedprice,1500.0"), p)
  }

  test("dynamic expression surface: validation, arity, closures") {
    import graft.functions.DynamicUdf
    intercept[Exception] {
      DynamicUdf.registerExpr(spark, "bad", "CASE WHEN x THEN", Seq("x"))
    }
    DynamicUdf.registerExpr(spark, "spec_add", "a + b", Seq("a", "b"))
    intercept[IllegalArgumentException] {
      DynamicUdf.call(spark, "spec_add", lit(1))
    }
    intercept[IllegalArgumentException] {
      DynamicUdf.call(spark, "spec_missing", lit(1))
    }
    import spark.implicits._
    val two = Seq((1, 2)).toDF("x", "y")
      .select(DynamicUdf.call(spark, "spec_add", col("x"), col("y")).as("s"))
      .head.getInt(0)
    assert(two == 3)
    DynamicUdf.registerClosure[Int, Int](spark, "spec_sq", x => x * x)
    val sq = Seq(7).toDF("x").selectExpr("spec_sq(x) AS s").head.getInt(0)
    assert(sq == 49)
  }

  test("cluster management: ping, memory rows, memoization toggle/purge") {
    import graft.engine.Cluster
    import graft.streaming.Memo
    // ping actually round-trips tasks: every slot reports an executor id
    val hosts = Cluster.ping(spark)
    assert(hosts.nonEmpty && hosts.forall(_.contains("@")))
    // health = >=1 executor row + the driver row; metrics are sane and
    // every row declares its kind (the mem columns mean storage-pool
    // memory for executors but JVM heap for the driver)
    val h = Cluster.health(spark).collect()
    assert(h.length >= 2)
    assert(h.exists(_.getString(0) == "driver"))
    assert(h.forall(r => r.getLong(1) >= 0L && r.getLong(2) >= 0L))
    assert(h.map(_.getAs[String]("kind")).toSet.subsetOf(Set("executor", "driver")))
    assert(h.count(_.getAs[String]("kind") == "driver") == 1)
    // memoization toggle: disabled collects must not record entries;
    // re-enabled ones must; purge drops everything
    Cluster.purgeMemoization()
    val df = Tables.lineitem(spark, sf).groupBy(col("l_returnflag")).count()
    Cluster.setMemoization(false)
    try {
      Memo.collectMemoized(df)
      assert(Memo.size == 0, "disabled memo recorded an entry")
    } finally Cluster.setMemoization(true)
    Memo.collectMemoized(df)
    assert(Memo.size == 1)
    Memo.collectMemoized(df)
    assert(Memo.hits == 1)
    Cluster.purgeMemoization()
    assert(Memo.size == 0 && Memo.hits == 0)
    // purgeCachedData drops cached relations; lineage recomputes
    val cached = Tables.part(spark, sf).cache()
    cached.count()
    assert(cached.storageLevel.useMemory)
    Cluster.purgeCachedData(spark)
    assert(cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(cached.count() > 0)
  }

  test("memo byte budget: LRU eviction, retained entries still hit") {
    import graft.streaming.Memo
    val li = Tables.lineitem(spark, sf)
    val old = Memo.budgetBytes
    Memo.clear()
    try {
      // same shape (3 rows of (string, long)) ⇒ equal entry estimates,
      // so the byte arithmetic below is exact
      val q1 = li.filter(col("l_quantity") > 0).groupBy(col("l_returnflag")).count()
      val q2 = li.filter(col("l_quantity") > 1).groupBy(col("l_returnflag")).count()
      val q3 = li.filter(col("l_quantity") > 2).groupBy(col("l_returnflag")).count()
      Memo.collectMemoized(q1)
      val oneEntry = Memo.usedBytes
      assert(oneEntry > 0L)
      // budget fits exactly two entries of this size: inserting a third
      // must evict the LRU (q1 — untouched since insert)
      Memo.setBudget(oneEntry * 5 / 2)
      Memo.collectMemoized(q2)
      assert(Memo.size == 2)
      Memo.collectMemoized(q3)
      assert(Memo.size == 2, s"expected LRU eviction, size=${Memo.size}")
      val h0 = Memo.hits
      Memo.collectMemoized(q2) // retained → hit
      Memo.collectMemoized(q3) // retained → hit
      assert(Memo.hits == h0 + 2)
      Memo.collectMemoized(q1) // evicted → recompute, re-insert, evict q2
      assert(Memo.hits == h0 + 2)
      assert(Memo.size == 2)
      // LRU is ACCESS order, not insertion order: q3 was touched after
      // q2, so q2 is the victim and q3 must still hit
      Memo.collectMemoized(q3)
      assert(Memo.hits == h0 + 3)
      // an entry bigger than the whole budget is never cached
      Memo.setBudget(oneEntry / 2)
      assert(Memo.size <= 1 && Memo.usedBytes <= oneEntry / 2)
      Memo.collectMemoized(q1)
      assert(Memo.usedBytes <= oneEntry / 2)
    } finally { Memo.setBudget(old); Memo.clear() }
  }

  test("memo keys name their files: same-schema parquet dirs do not share an entry") {
    import spark.implicits._
    Memo.clear()
    val dirs = Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L, 4L, 5L)).map { xs =>
      val d = graft.engine.Artifacts.scratchDir("graft_memo").resolve("t").toString
      xs.toDF("x").write.parquet(d)
      d
    }
    def gesture(d: String) =
      spark.read.parquet(d).filter(col("x") > 1L).agg(count(lit(1)))
    val got = dirs.map(d => Memo.collectMemoized(gesture(d)).head.getLong(0))
    assert(got == dirs.map(d => gesture(d).collect().head.getLong(0)))
    assert(got == Seq(2L, 4L) && Memo.size == 2)
    // a fresh read of unchanged files is the same key
    Memo.collectMemoized(gesture(dirs.head))
    assert(Memo.hits == 1)
  }

  test("memo keys name their rows: same-shape local frames do not share an entry") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    Memo.clear()
    val frames = Seq(Seq((1, "a")), Seq((2, "b")), Seq((1, "a"))).map(_.toDF("k", "v"))
    val got = frames.map(f => Memo.collectMemoized(f.filter(col("k") > 0)).toSeq)
    assert(got == Seq(Seq(Row(1, "a")), Seq(Row(2, "b")), Seq(Row(1, "a"))))
    // the third frame holds the first one's rows: a hit
    assert(Memo.size == 2 && Memo.hits == 1)
    // a cached frame reads the cache, which the key cannot name
    val cached = frames(1).cache()
    try assert(Memo.collectMemoized(cached).toSeq == Seq(Row(2, "b")) && Memo.size == 2)
    finally cached.unpersist()
  }

  test("full-program JS gestures (loops/functions) replay through the redo log") {
    Memo.clear()
    val reg = new TargetRegistry(spark)
    val root = reg.loadTable(sf, "orders")
    // tier-2 programs: a while-loop filter and a recursive-helper column
    val jsF = reg.jsFilter(root.id,
      """function filter(row) {
        var n = row.o_orderkey;
        var s = 0;
        while (n > 0) { s = s + n % 10; n = Math.floor(n / 10); }
        return s % 3 == 0;
      }""")
    val jsC = reg.jsColumn(jsF.id, "digits",
      """function digits(n) {
        if (n < 10) return 1;
        return 1 + digits(Math.floor(n / 10));
      }
      function map(row) { return digits(row.o_orderkey); }""")
    val before = reg.sketch(jsC.id)(df =>
      df.groupBy(col("digits")).agg(count(lit(1)).as("n")))
    // casting out threes: the loop filter must equal o_orderkey % 3 == 0
    assert(jsF.df.count() ==
      Tables.orders(spark, sf).filter(col("o_orderkey") % 3 === 0).count())
    val log = graft.engine.Artifacts.scratchDir("graft_redo3")
      .resolve("hillview.redo").toString
    reg.saveRedoLog(log)
    val restored = TargetRegistry.replay(spark, log)
    assert(restored.size == reg.size)
    val after = restored.sketch(jsC.id)(df =>
      df.groupBy(col("digits")).agg(count(lit(1)).as("n")))
    assert(after.toSeq == before.toSeq)
  }

  test("set ops on volatile roots / bag merges take the value-semantics fallback PATH") {
    // not just value-correct results: assert which branch ran, via the
    // rid twin (row-identity algebra always produces Some, the fallback
    // always produces None for union/intersect/minus)
    import spark.implicits._
    val reg = new TargetRegistry(spark)
    val fileA = reg.filter(reg.loadTable(sf, "orders").id,
      col("o_totalprice") > 200000.0)
    assert(fileA.rid.isDefined, "file-backed chain must carry a rid twin")
    // (1) volatile root: no rid from birth, so any set op against it
    // must drop to value semantics on BOTH output frames
    val vol = reg.load("session_frame",
      Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"))
    assert(vol.rid.isEmpty)
    Seq("union", "intersect", "minus").foreach { k =>
      val t = reg.setOp(fileA.id, vol.id, k)
      assert(t.rid.isEmpty, s"setop:$k on a volatile side must fall back")
      val expected = k match {
        case "union" => fileA.df.union(vol.df).distinct().count()
        case "intersect" => fileA.df.intersect(vol.df).count()
        case "minus" => fileA.df.except(vol.df).count()
      }
      assert(t.df.count() == expected, s"setop:$k fallback values")
    }
    // (2) bag merge: duplicates are legitimate, so the merge target has
    // no rid and poisons downstream set ops into the fallback too
    val merged = reg.merge(Seq(fileA.id, fileA.id))
    assert(merged.rid.isEmpty, "bag merge must drop row identity")
    val afterMerge = reg.setOp(merged.id, fileA.id, "intersect")
    assert(afterMerge.rid.isEmpty)
    assert(afterMerge.df.count() == merged.df.intersect(fileA.df).count())
    // (3) the rid path really is the one taken when both sides carry a
    // twin (the complement assertion, so this spec pins the dispatch)
    val fileB = reg.filter(reg.loadTable(sf, "orders").id,
      col("o_orderpriority") === "1-URGENT")
    val ridOp = reg.setOp(fileA.id, fileB.id, "union")
    assert(ridOp.rid.isDefined, "two rid-bearing sides must use row identity")
    // "replace" forwards side B's twin verbatim, both directions
    assert(reg.setOp(fileA.id, vol.id, "replace").rid.isEmpty)
    assert(reg.setOp(vol.id, fileB.id, "replace").rid.isDefined)
  }

  test("rid lineage survives every row-preserving gesture kind (twin == frame + identity)") {
    // a chain through EVERY map gesture — filter, col, rename, convert,
    // interval, jscol, jsfilter, project — must keep the hidden twin in
    // lockstep: same rows, per-row-unique identity, and no rid leakage
    // into the visible frame at any step
    val reg = new TargetRegistry(spark)
    val F = org.apache.spark.sql.functions
    def check(t: reg.Target): Unit = {
      assert(t.rid.isDefined, s"${t.gesture}: twin lost")
      val rid = t.rid.get
      assert(!t.df.columns.contains(TargetRegistry.RowIdCol),
        s"${t.gesture}: rid leaked into the visible frame")
      assert(rid.columns.contains(TargetRegistry.RowIdCol),
        s"${t.gesture}: twin missing the rid column")
      val n = t.df.count()
      assert(rid.count() == n, s"${t.gesture}: twin row count diverged")
      assert(rid.select(TargetRegistry.RowIdCol).distinct().count() == n,
        s"${t.gesture}: rid not unique per row")
      // twin minus the rid is VALUE-identical to the visible frame
      val vis = t.df.columns
      assert(rid.select(vis.map(F.col).toIndexedSeq: _*)
        .exceptAll(t.df).isEmpty && t.df
        .exceptAll(rid.select(vis.map(F.col).toIndexedSeq: _*)).isEmpty,
        s"${t.gesture}: twin values diverged from the visible frame")
    }
    val root = reg.loadTable(sf, "orders")
    check(root)
    val steps = Seq[reg.Target => reg.Target](
      t => reg.filter(t.id, col("o_totalprice") > 100000.0),
      t => reg.withColumn(t.id, "price_band",
        (col("o_totalprice") / 100000.0).cast("int")),
      t => reg.rename(t.id, "o_orderpriority", "prio"),
      t => reg.convert(t.id, "o_custkey", "long"),
      t => reg.createInterval(t.id, "iv", "o_totalprice", "o_totalprice"),
      t => reg.jsColumn(t.id, "dbl",
        "function map(row) { return row.o_totalprice * 2; }"),
      t => reg.jsFilter(t.id,
        "function filter(row) { return row.o_orderkey % 2 == 0; }"),
      t => reg.project(t.id, Seq("o_orderkey", "prio", "price_band", "dbl")))
    val tip = steps.foldLeft(root) { (t, step) =>
      val next = step(t); check(next); next
    }
    // and the preserved identity is STILL the base table's: a set op at
    // the tip against an overlapping sibling view runs membership algebra
    val sibling = reg.project(reg.filter(reg.filter(root.id,
      col("o_totalprice") > 100000.0).id,
      col("o_orderkey") % 2 === 0).id, Seq("o_orderkey"))
    val inter = reg.setOp(tip.id, sibling.id, "intersect")
    assert(inter.rid.isDefined)
    // tip ⊆ sibling as row sets (tip's predicates imply sibling's), so
    // the intersection is exactly the tip
    assert(inter.df.count() == tip.df.count())
  }
}
