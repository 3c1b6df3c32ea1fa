package graft

import graft.engine.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** Smoke + semantics for the relational core. */
class OperatorSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and most return rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    // near-dup pair queries may legitimately be empty at tiny sf
    // near-dup pairs and anti-join/except can be legitimately empty at tiny sf
    // jdbc_federated_topfreq thresholds at count>=150; sf0.001 customer
    // has exactly 150 rows split over 5 segments, so no group qualifies
    // q5's ASIA + same-nation customer-supplier constraint finds no
    // qualifying lineitem at sf0.001's 6k rows
    // link_components: sf0.001's short docs carry no in-text URLs, so
    // the edge set (and thus the component table) is legitimately empty
    val allowedEmpty = Set("dedup_jaccard_3gram", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_embedding", "f_regex",
      "setop_except", "join_anti_customers", "jdbc_federated_topfreq",
      "q5_local_supplier", "link_components")
    assert(empty.toSet.subsetOf(allowedEmpty), s"unexpected empty: $empty")
  }

  test("relational fuzz: random filter+aggregate plans match a Scala reference") {
    // differential testing beyond the fixed query set: random predicate
    // trees and aggregation shapes evaluated by Catalyst AND by a
    // plain-Scala fold over the collected rows — any divergence in
    // comparison/null/grouping semantics or aggregate math surfaces here
    import org.apache.spark.sql.Row
    val li = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_returnflag"), col("l_linestatus"))
    val rows = li.collect()
    val rnd = new scala.util.Random(2026)
    val numCols = Seq(("l_quantity", 1), ("l_extendedprice", 2), ("l_discount", 3))
    val strCols = Seq(("l_returnflag", 4), ("l_linestatus", 5))
    def numConst(i: Int): Double = {
      val vs = rows.map(_.getDouble(i))
      vs(rnd.nextInt(vs.length))
    }
    def onePred(): (org.apache.spark.sql.Column, Row => Boolean) =
      if (rnd.nextBoolean()) {
        val (n, i) = numCols(rnd.nextInt(numCols.length))
        val c = numConst(i)
        rnd.nextInt(5) match {
          case 0 => (col(n) < c, r => r.getDouble(i) < c)
          case 1 => (col(n) <= c, r => r.getDouble(i) <= c)
          case 2 => (col(n) > c, r => r.getDouble(i) > c)
          case 3 => (col(n) >= c, r => r.getDouble(i) >= c)
          case _ => (col(n) === c, r => r.getDouble(i) == c)
        }
      } else {
        val (n, i) = strCols(rnd.nextInt(strCols.length))
        val v = rows(rnd.nextInt(rows.length)).getString(i)
        if (rnd.nextBoolean()) (col(n) === v, r => r.getString(i) == v)
        else (col(n) =!= v, r => r.getString(i) != v)
      }
    for (trial <- 0 until 30) {
      // predicate: 1-3 conjuncts/disjuncts
      val preds = Seq.fill(1 + rnd.nextInt(3))(onePred())
      val (sparkPred, scalaPred) = preds.reduce[
        (org.apache.spark.sql.Column, Row => Boolean)] {
        case ((ca, fa), (cb, fb)) =>
          if (rnd.nextBoolean()) (ca && cb, r => fa(r) && fb(r))
          else (ca || cb, r => fa(r) || fb(r))
      }
      // grouping: 0-2 string keys
      val keys = rnd.shuffle(strCols).take(rnd.nextInt(3))
      val got = li.filter(sparkPred)
        .groupBy(keys.map(k => col(k._1)): _*)
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("s"),
          min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        .collect()
        // a keyless aggregate over zero rows yields one row with
        // count 0 and NULL sum/min/max — the reference's empty map
        .filter(_.getLong(keys.length) > 0L)
        .map { r =>
          keys.indices.map(r.getString).mkString("|") ->
            (r.getLong(keys.length), r.getDouble(keys.length + 1),
              r.getDouble(keys.length + 2), r.getDouble(keys.length + 3))
        }.toMap
      val expect = rows.filter(scalaPred)
        .groupBy(r => keys.map(k => r.getString(k._2)).mkString("|"))
        .map { case (k, rs) =>
          k -> (rs.length.toLong, rs.map(_.getDouble(1)).sum,
            rs.map(_.getDouble(2)).min, rs.map(_.getDouble(2)).max)
        }
      assert(got.keySet == expect.keySet, s"trial $trial keys differ")
      got.foreach { case (k, (cnt, s, mn, mx)) =>
        val (ecnt, es, emn, emx) = expect(k)
        assert(cnt == ecnt && mn == emn && mx == emx, s"trial $trial key $k")
        // double sums are order-dependent: relative tolerance
        assert(math.abs(s - es) <= 1e-9 * math.max(1.0, math.abs(es)),
          s"trial $trial key $k sum $s vs $es")
      }
    }
  }

  test("join fuzz: random equi-joins with null keys match a Scala reference") {
    // differential testing of join semantics: random null-bearing
    // frames through all six join types, against a plain-Scala
    // nested-loop reference implementing SQL matching (a NULL key never
    // matches anything, including another NULL) — divergence in
    // null-key handling, outer-padding, or semi/anti existence
    // semantics surfaces here
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val types = Seq("inner", "left_outer", "right_outer", "full_outer",
      "left_semi", "left_anti")
    for (trial <- 0 until 24) {
      def side(n: Int): Seq[(Option[Long], Long)] =
        Seq.fill(n)((if (rnd.nextInt(5) == 0) None
          else Some(rnd.nextInt(7).toLong), rnd.nextInt(100).toLong))
      val as = side(1 + rnd.nextInt(25))
      val bs = side(rnd.nextInt(25))
      val jt = types(trial % types.length)
      val aDF = as.toDF("ak", "va")
      val bDF = bs.toDF("bk", "vb")
      val joined = aDF.join(bDF, col("ak") === col("bk"), jt)
      def cell(r: org.apache.spark.sql.Row, i: Int): Any =
        Option(r.get(i)).orNull
      val got: Seq[String] = (jt match {
        case "left_semi" | "left_anti" =>
          joined.collect().map(r => s"${cell(r, 0)}|${cell(r, 1)}")
        case _ =>
          joined.collect().map(r =>
            s"${cell(r, 0)}|${cell(r, 1)}|${cell(r, 2)}|${cell(r, 3)}")
      }).toSeq.sorted
      def m(a: (Option[Long], Long), b: (Option[Long], Long)): Boolean =
        a._1.isDefined && b._1.isDefined && a._1 == b._1
      val expect: Seq[String] = (jt match {
        case "inner" =>
          for (a <- as; b <- bs if m(a, b))
            yield s"${a._1.orNull}|${a._2}|${b._1.orNull}|${b._2}"
        case "left_outer" =>
          as.flatMap { a =>
            val ms = bs.filter(b => m(a, b))
            if (ms.isEmpty) Seq(s"${a._1.orNull}|${a._2}|null|null")
            else ms.map(b => s"${a._1.orNull}|${a._2}|${b._1.orNull}|${b._2}")
          }
        case "right_outer" =>
          bs.flatMap { b =>
            val ms = as.filter(a => m(a, b))
            if (ms.isEmpty) Seq(s"null|null|${b._1.orNull}|${b._2}")
            else ms.map(a => s"${a._1.orNull}|${a._2}|${b._1.orNull}|${b._2}")
          }
        case "full_outer" =>
          as.flatMap { a =>
            val ms = bs.filter(b => m(a, b))
            if (ms.isEmpty) Seq(s"${a._1.orNull}|${a._2}|null|null")
            else ms.map(b => s"${a._1.orNull}|${a._2}|${b._1.orNull}|${b._2}")
          } ++ bs.collect {
            case b if !as.exists(a => m(a, b)) =>
              s"null|null|${b._1.orNull}|${b._2}"
          }
        case "left_semi" =>
          as.collect { case a if bs.exists(b => m(a, b)) =>
            s"${a._1.orNull}|${a._2}" }
        case "left_anti" =>
          as.collect { case a if !bs.exists(b => m(a, b)) =>
            s"${a._1.orNull}|${a._2}" }
      }).sorted
      assert(got == expect, s"trial $trial type $jt:\n got=$got\n exp=$expect")
    }
  }

  test("nextk fuzz: random sorts with nulls match missing-sorts-larger reference") {
    // the reference's null rule (docs/userManual.md:181-185): a missing
    // value sorts LARGER than any value in either direction. Random
    // null-bearing frames, random 1-2-column sort specs, checked
    // against a plain-Scala sort implementing the same rule.
    import spark.implicits._
    import NextK.Order
    val rnd = new scala.util.Random(777)
    val data = Seq.fill(400)((
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(20)),
      if (rnd.nextInt(5) == 0) None else Some(s"s${rnd.nextInt(8)}"),
      rnd.nextInt(1000)))
    val df = data.toDF("a", "b", "pay")
    // reference comparator: None (missing) > any value
    // missing is LARGER than any value, and descending reverses the
    // WHOLE order (so desc puts missing first, like desc_nulls_first)
    def cmpI(x: Option[Int], y: Option[Int], asc: Boolean): Int = {
      val base = (x, y) match {
        case (None, None) => 0
        case (None, _) => 1; case (_, None) => -1
        case (Some(p), Some(q)) => p.compare(q)
      }
      if (asc) base else -base
    }
    def cmpS(x: Option[String], y: Option[String], asc: Boolean): Int = {
      val base = (x, y) match {
        case (None, None) => 0
        case (None, _) => 1; case (_, None) => -1
        case (Some(p), Some(q)) => p.compare(q)
      }
      if (asc) base else -base
    }
    for (trial <- 0 until 20) {
      val ascA = rnd.nextBoolean(); val ascB = rnd.nextBoolean()
      val order =
        if (rnd.nextBoolean()) Seq(Order("a", ascA), Order("b", ascB))
        else if (rnd.nextBoolean()) Seq(Order("a", ascA))
        else Seq(Order("b", ascB))
      val k = 1 + rnd.nextInt(12)
      val got = NextK.nextK(df, order, k).collect().map { r =>
        order.map(o => Option(r.get(order.indexOf(o))).map(_.toString)) ->
          r.getLong(order.length)
      }
      // reference: distinct key tuples sorted by the rule, multiplicity
      val keyed = data.groupBy(t => order.map {
        case Order("a", _) => t._1.map(_.toString)
        case Order("b", _) => t._2
        case o => sys.error(s"unexpected $o")
      }).map { case (key, ts) => key -> ts.length.toLong }.toSeq
      val sorted = keyed.sortWith { case ((ka, _), (kb, _)) =>
        val deltas = order.zipWithIndex.map { case (o, i) =>
          o.column match {
            case "a" => cmpI(ka(i).map(_.toInt), kb(i).map(_.toInt), o.ascending)
            case _   => cmpS(ka(i), kb(i), o.ascending)
          }
        }
        deltas.find(_ != 0).exists(_ < 0)
      }.take(k)
      // NextK keys arrive in the same order with the same counts; the
      // kth boundary may tie arbitrarily between equal-rank keys, so
      // compare as ordered multisets of (key, count) up to rank ties
      assert(got.length == sorted.length, s"trial $trial size")
      got.zip(sorted).foreach { case ((gk, gc), (ek, ec)) =>
        assert(gk == ek && gc == ec,
          s"trial $trial order=$order got=($gk,$gc) expect=($ek,$ec)")
      }
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every declared query is oracled or carries a named gate; never both") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val gated = SparkEntry.rowsOnlyGates.keySet
    val orphanGates = gated -- qs
    assert(orphanGates.isEmpty, s"gate without query: $orphanGates")
    val both = gated & oracled
    assert(both.isEmpty, s"oracled query also listed rows-only: $both")
    val uncovered = qs -- oracled -- gated
    assert(uncovered.isEmpty,
      s"rows-only query with no named gating spec: $uncovered")
  }

  test("repartition invariance: aggregations are partition-independent") {
    val li = Tables.lineitem(spark, sf)
    for (parts <- Seq(1, 7)) {
      val a = Histograms.histogram1D(li,
        Histograms.numericBucket(col("l_extendedprice"), 0.0, 110000.0, 22))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      val b = Histograms.histogram1D(li.repartition(parts),
        Histograms.numericBucket(col("l_extendedprice"), 0.0, 110000.0, 22))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(a == b, s"histogram changed under repartition($parts)")
    }
  }

  test("NextK seek: pivot row filtering is lexicographic") {
    val li = Tables.lineitem(spark, sf)
    val res = NextK.nextK(li, Seq(NextK.Order("l_returnflag"), NextK.Order("l_linestatus")),
      100, pivot = Some(Seq("N", "F")))
    val keys = res.collect().map(r => (r.getString(0), r.getString(1)))
    assert(keys.forall { case (rf, ls) => rf > "N" || (rf == "N" && ls >= "F") })
    assert(keys.sameElements(keys.sorted))
  }

  test("NextK counts sum to seeked row count") {
    val li = Tables.lineitem(spark, sf)
    val order = Seq(NextK.Order("l_returnflag"), NextK.Order("l_linestatus"))
    val res = NextK.nextK(li, order, 1000)
    val total = res.agg(sum("cnt")).head().getLong(0)
    assert(total == li.count())
  }

  test("startPosition + seeked = total") {
    val li = Tables.lineitem(spark, sf)
    val order = Seq(NextK.Order("l_returnflag"), NextK.Order("l_linestatus"))
    val pivot = Seq("N", "F")
    val before = NextK.startPosition(li, order, pivot)
    val after = li.filter(Filters.rowSeek(order.map(o => col(o.column)), pivot)).count()
    assert(before + after == li.count())
  }

  test("histogram CDF last value equals filtered row count") {
    val li = Tables.lineitem(spark, sf)
    val inRange = li.filter(col("l_extendedprice").between(0.0, 110000.0))
    val cdf = Histograms.histogramWithCdf(inRange,
      Histograms.numericBucket(col("l_extendedprice"), 0.0, 110000.0, 22))
    val last = cdf.orderBy(col("bucket").desc).head().getLong(2)
    assert(last == inRange.count())
  }

  test("heavy hitters MG equals exact heavy hitters") {
    val li = Tables.lineitem(spark, sf)
    val cols = Seq("l_returnflag", "l_linestatus")
    val exact = DistinctAndFrequency.heavyHittersExact(li, cols, 0.05)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val mg = DistinctAndFrequency.heavyHittersMG(li, cols, 0.05)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(mg == exact)
  }

  test("heavy hitters MG reads its input once when the summary is exact, twice when saturated") {
    // an earlier identical summary would be served by the memo
    graft.streaming.Memo.clear()
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    // input records over every task `body` runs
    def inputRecords(body: => Any): Long = {
      val read = new java.util.concurrent.atomic.AtomicLong
      observe(body) {
        case e: org.apache.spark.scheduler.SparkListenerTaskEnd if e.taskMetrics != null =>
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        case _ => ()
      }
      read.get
    }
    // 3 distinct (returnflag, linestatus) keys, cap 40: exact summary
    assert(inputRecords(DistinctAndFrequency.heavyHittersMG(
      li, Seq("l_returnflag", "l_linestatus"), 0.05).collect()) == n)
    // far more orderkeys than cap 200: the verify scan runs
    assert(inputRecords(DistinctAndFrequency.heavyHittersMG(
      li, Seq("l_orderkey"), 0.01).collect()) == 2 * n)
  }

  test("a sketch gesture and a window over it run as one Spark job; a limit falls back") {
    import graft.engine.SketchExec
    import graft.streaming.Progressive
    // a memo hit from an earlier identical frame would start no job
    graft.streaming.Memo.clear()
    val li = Tables.lineitem(spark, sf)
    val c = "l_extendedprice"
    assert(jobCount(SketchExec.collect(Stats.dataRange(li, c))) == 1)
    assert(jobCount(SketchExec.collect(Stats.rowCount(li))) == 1)
    // the exact summary's build is the one job; its result is a local relation
    assert(jobCount(SketchExec.collect(DistinctAndFrequency.heavyHittersMG(
      li, Seq("l_returnflag", "l_linestatus"), 0.05))) == 1)
    // eight partitions in four steps: four partials, one job
    val buckets = spark.range(0, 4000, 1, 8).select((col("id") % 10).as("b"))
    var fracs = Vector.empty[Double]
    assert(jobCount(Progressive.groupedCount(buckets, "b", 4)(p => fracs :+= p.fractionDone)) == 1)
    assert(fracs == Vector(0.25, 0.5, 0.75, 1.0), fracs)
    // histogramWithCdf puts a window over the aggregate: the driver
    // evaluates it over the folded rows, in the same one job
    val hist = Histograms.histogramWithCdf(li, Histograms.numericBucket(col(c), 0.0, 110000.0, 22))
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobCount { rows = SketchExec.collect(hist) } == 1)
    assert(rows.toSet == hist.collect().toSet && rows.nonEmpty)
    // nextK puts a limit ordered by the grouping keys over the aggregate:
    // each task returns its K first keys' buffers, in one job that
    // shuffles nothing, and the driver takes the K first
    val order = Seq(NextK.Order("l_returnflag"), NextK.Order("l_linestatus"))
    for (pivot <- Seq(None, Some(Seq[Any]("N", "F")))) {
      val next = NextK.nextK(li, order, 3, pivot)
      val jobs, shuffled = new java.util.concurrent.atomic.AtomicLong
      observe { rows = SketchExec.collect(next) } {
        case _: org.apache.spark.scheduler.SparkListenerJobStart => jobs.incrementAndGet()
        case e: org.apache.spark.scheduler.SparkListenerTaskEnd if e.taskMetrics != null =>
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        case _ => ()
      }
      assert(jobs.get == 1 && shuffled.get == 0, s"pivot=$pivot")
      assert(rows.toSeq == next.collect().toSeq && rows.nonEmpty, s"pivot=$pivot")
    }
    // a limit ordered by an aggregate value is collected as it is
    // (adaptive execution, more than one job), with the same rows
    val top = li.groupBy("l_returnflag").count()
      .orderBy(desc("count"), col("l_returnflag")).limit(2)
    assert(jobCount { rows = SketchExec.collect(top) } > 1)
    assert(rows.toSeq == top.collect().toSeq && rows.nonEmpty)
  }

  test("set ops view algebra consistent with except/intersect") {
    val o = Tables.orders(spark, sf)
    val p1 = col("o_orderpriority") === "1-URGENT"
    val p2 = col("o_totalprice") > 200000.0
    val union = SetOps.viewUnion(o, p1, p2).count()
    val inter = SetOps.viewIntersect(o, p1, p2).count()
    val only1 = SetOps.viewMinus(o, p1, p2).count()
    val only2 = SetOps.viewMinus(o, p2, p1).count()
    assert(union == inter + only1 + only2)
  }

  test("find: before + at + after counts equal total matches") {
    val p = Tables.part(spark, sf)
    val res = Find.find(p, Filters.stringMatch(col("p_name"), "widget"),
      Seq(NextK.Order("p_name"), NextK.Order("p_partkey")), Seq("m", 0L),
      Seq("p_name", "p_partkey")).collect()
    val total = p.filter(col("p_name").contains("widget")).count()
    if (res.nonEmpty)
      assert(res.head.getLong(0) + res.head.getLong(1) + res.head.getLong(2) == total)
  }

  test("rowAtPosition returns the (k+1)-th smallest") {
    val li = Tables.lineitem(spark, sf)
    val k = 50
    val got = Find.rowAtPosition(
      li.select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      Seq(NextK.Order("l_extendedprice"), NextK.Order("l_orderkey"), NextK.Order("l_linenumber")), k)
      .head().getDouble(0)
    val expect = li.select(col("l_extendedprice")).orderBy(col("l_extendedprice"))
      .limit(k + 1).collect().last.getDouble(0)
    assert(got == expect)
  }

  test("containsRow gate") {
    val li = Tables.lineitem(spark, sf)
    assert(Find.containsRow(li, col("l_orderkey") === 1L).head().getBoolean(0))
    assert(!Find.containsRow(li, col("l_orderkey") === -99L).head().getBoolean(0))
  }

  test("integer-cents sums are bit-identical to the decimal formulation") {
    import graft.engine.Num
    val li = Tables.lineitem(spark, sf)
    // global and per-group: the cents path must reproduce the decimal
    // path's double EXACTLY (same nearest-double of the same exact
    // rational) — this is the invariant that lets the DuckDB oracles
    // keep their decimal form
    val decRev = sum(Num.dec2(col("l_extendedprice")) *
      (lit(1) - Num.dec2(col("l_discount")))).cast("double")
    val a = li.agg(Num.sumRevenue(col("l_extendedprice"), col("l_discount")))
      .head.getDouble(0)
    val b = li.agg(decRev).head.getDouble(0)
    assert(a == b, s"global: cents=$a decimal=$b")
    val perGroup = li.groupBy(col("l_returnflag"))
      .agg(Num.sumRevenue(col("l_extendedprice"), col("l_discount")).as("c"),
        decRev.as("d"))
      .collect()
    perGroup.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"${r.getString(0)}: cents=${r.getDouble(1)} decimal=${r.getDouble(2)}")
    }
    val decProd = sum(Num.dec2(col("l_extendedprice")) *
      Num.dec2(col("l_discount"))).cast("double")
    val p1 = li.agg(Num.sumProductExact(col("l_extendedprice"), col("l_discount")))
      .head.getDouble(0)
    val p2 = li.agg(decProd).head.getDouble(0)
    assert(p1 == p2, s"product: cents=$p1 decimal=$p2")
  }

  test("correlationMatrix pair matches single-pair correlation") {
    val li = Tables.lineitem(spark, sf)
    val m = Stats.correlationMatrix(li, Seq("l_extendedprice", "l_quantity"))
      .collect().head.getDouble(2)
    val single = Stats.correlation(li, "l_quantity", "l_extendedprice")
      .head().getDouble(0)
    assert(math.abs(m - single) <= 1e-4)
  }

  test("interval semantics: normalization, range, comparison, multi-bucket") {
    import spark.implicits._
    val df = Seq((5.0, 1.0), (2.0, 3.0)).toDF("a", "b")
      .select(Intervals.make(col("a"), col("b")).as("iv"))
    val rows = df.select(Intervals.lo(col("iv")), Intervals.hi(col("iv"))).collect()
    assert(rows(0).getDouble(0) == 1.0 && rows(0).getDouble(1) == 5.0)
    // both-endpoint range rule: [2,3] fits [0,4]; [1,5] does not
    assert(df.filter(Intervals.inRange(col("iv"), 0.0, 4.0)).count() == 1)
    // == means "contains the point"
    assert(df.filter(Intervals.comparedTo(col("iv"), "==", 2.5)).count() == 2)
    // interval [1,5] over [0,10] in 10 buckets covers buckets 1..5
    val buckets = df.select(Intervals.overlappedBuckets(col("iv"), 0.0, 10.0, 10))
      .collect()(0).getSeq[Int](0)
    assert(buckets == Seq(1, 2, 3, 4, 5))
    // total interval-histogram mass >= row count (multi-contribution)
    val li = Tables.lineitem(spark, sf)
    val mass = Intervals.histogram(li,
      Intervals.make(col("l_discount"), col("l_tax")), 0.0, 0.25, 10)
      .agg(sum("cnt")).head().getLong(0)
    assert(mass >= li.count())
  }

  test("quantize snaps to grid") {
    val li = Tables.lineitem(spark, sf)
    val bad = li.select(graft.functions.Quantization.quantize(col("l_extendedprice"), 1000.0).as("q"))
      .filter(pmod(col("q"), lit(1000.0)) =!= 0.0).count()
    assert(bad == 0)
  }

  test("PCA projection produces k components with max variance first") {
    val li = Tables.lineitem(spark, sf)
    val comps = Projections.principalComponents(li,
      Seq("l_quantity", "l_extendedprice", "l_discount"), 2)
    assert(comps.length == 2 && comps.head.length == 3)
    // component vectors are unit-norm
    comps.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-6)
    }
    val projected = Projections.pcaProject(li,
      Seq("l_quantity", "l_extendedprice", "l_discount"), 2)
    assert(projected.columns.contains("pc0") && projected.count() == li.count())
  }

  test("LAMP maps control points near their own targets") {
    val controls = Array(
      (Array(0.0, 0.0), (0.0, 0.0)),
      (Array(10.0, 0.0), (1.0, 0.0)),
      (Array(0.0, 10.0), (0.0, 1.0)),
      (Array(10.0, 10.0), (1.0, 1.0)))
    import spark.implicits._
    val df = Seq((0.0, 0.0), (10.0, 10.0), (5.0, 5.0)).toDF("x", "y")
    val out = Projections.lampProject(df, Seq("x", "y"), controls)
      .select("lamp_x", "lamp_y").collect()
    // a control point projects very near its target; midpoint lands between
    assert(math.abs(out(0).getDouble(0) - 0.0) < 0.1 && math.abs(out(1).getDouble(0) - 1.0) < 0.1)
    assert(out(2).getDouble(0) > 0.2 && out(2).getDouble(0) < 0.8)
  }

  test("min-K-hash boundaries are sorted distinct sample values") {
    val c = Tables.customer(spark, sf)
    val bounds = Quantiles.stringBoundaries(c, "c_name", 8, sampleK = 256)
      .orderBy("tile").collect().map(_.getString(1)).toSeq
    assert(bounds.nonEmpty && bounds.size <= 8)
    assert(bounds == bounds.sorted)
  }

  test("topk returns k rows in order") {
    val li = Tables.lineitem(spark, sf)
    val res = TopK.topK(li.select(col("l_extendedprice")),
      Seq(NextK.Order("l_extendedprice", ascending = false)), 10).collect()
    assert(res.length == 10)
    val vs = res.map(_.getDouble(0))
    assert(vs.zip(vs.tail).forall { case (a, b) => a >= b })
  }

  test("asof join matches per-row brute force and is repartition-invariant") {
    import spark.implicits._
    // (key, ts, id) rights; lefts probe at/between/before right times
    val right = Seq((1, 10L, 100), (1, 20L, 101), (1, 20L, 102), (2, 5L, 200))
      .toDF("k", "t", "rid")
    val left = Seq((1, 9L, 1), (1, 10L, 2), (1, 25L, 3), (2, 4L, 4), (3, 7L, 5))
      .toDF("k", "t", "lid")
    def run(l: org.apache.spark.sql.DataFrame) =
      AsOfJoin.asofJoin(l, right, Seq("k"), "t", Seq("rid"), tiebreak = Some("rid"))
        .select("lid", "rid").as[(Int, Option[Int])].collect().toMap
    val expected = Map(1 -> None, 2 -> Some(100), 3 -> Some(102), 4 -> None, 5 -> None)
    assert(run(left) == expected)
    assert(run(left.repartition(5)) == expected)
  }

  test("pca2 components are orthonormal and pc0 captures more variance") {
    val p = Tables.part(spark, sf)
    val out = Projections.pca2Project(p, "p_size", "p_retailprice", Seq("p_partkey"))
    val stats = out.agg(
      var_pop(col("pc0")), var_pop(col("pc1")),
      corr(col("pc0"), col("pc1"))).head()
    assert(stats.getDouble(0) >= stats.getDouble(1))
    assert(math.abs(stats.getDouble(2)) < 0.05) // decorrelated after rotation
  }

  test("csv round-trip through a schema file preserves values and kinds") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .limit(50)
    val back = graft.sources.Sources.csvRoundTrip(li)
    assert(back.schema("l_quantity").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(back.agg(sum("l_quantity")).head().getDouble(0) ==
      li.agg(sum("l_quantity")).head().getDouble(0))
    assert(back.count() == 50)
  }

  test("schema inference lattice promotes correctly") {
    import spark.implicits._
    val raw = Seq(("1", "1.5", "abc", ""), ("22", "2", "7", ""))
      .toDF("i", "d", "s", "e")
    val kinds = graft.sources.Sources.inferredKinds(raw)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds == Map("i" -> "Integer", "d" -> "Double", "s" -> "String", "e" -> "None"))
  }

  test("grok compile: captures, anonymous refs, quoted literals, unknowns") {
    import graft.sources.Grok
    val (re, fields) = Grok.compile("%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL} evt=%{INT:id}")
    assert(fields == Seq("ts", "id"))
    val m = java.util.regex.Pattern.compile(re)
      .matcher("2024-01-05 10:20:30 WARN evt=42")
    assert(m.matches() && m.group(1) == "2024-01-05 10:20:30" && m.group(2) == "42")
    // literal text with regex metacharacters must be quoted
    val (re2, _) = Grok.compile("a.b[%{INT:n}]")
    assert(java.util.regex.Pattern.matches(re2, "a.b[7]"))
    assert(!java.util.regex.Pattern.matches(re2, "axb[7]"))
    intercept[IllegalArgumentException] { Grok.compile("%{NOPE:x}") }
  }

  test("grok log read: typed fields and timestamp bounds") {
    import spark.implicits._
    val dir = graft.sources.Sources.rtDir("spec_grok")
    Seq(
      "2024-01-01 00:00:01 INFO evt=1 user=10 type=click",
      "2024-01-02 00:00:02 ERROR evt=2 user=20 type=view",
      "2024-01-03 00:00:03 INFO evt=3 user=30 type=click",
      "not a log line").toDF("value").coalesce(1)
      .write.mode("overwrite").text(dir)
    val out = graft.sources.Grok.readLog(spark, dir,
      "%{TIMESTAMP_ISO8601:lts} %{LOGLEVEL:level} evt=%{INT:eid} user=%{INT:uid} type=%{WORD:etype}",
      types = Map("eid" -> "long", "uid" -> "long", "lts" -> "timestamp"),
      tsBounds = Some(("lts", "2024-01-01 12:00:00", "2024-01-03 00:00:00")))
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("eid") == 2L)
    assert(out.schema("lts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }
}
