package graft

import graft.operators.DistinctAndFrequency
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks on randomized inputs — the reference's test
  * style (synthetic tables with known ground truth + partition
  * invariance, platform/.../utils/TestTables.java, HistSketchTest
  * partition-split assertions). Generators are driven by fixed seeds so
  * runs are reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("remove dup spans equals the plain-Scala reference on random corpora") {
    val w = 5
    val docGen = Gen.listOfN(12, Gen.oneOf("ax", "bx", "cx"))
    samples(Gen.zip(Gen.listOfN(4, docGen), Gen.chooseNum(0, 11)), 5).foreach {
      case (base, mutPos) =>
      // plant an exact copy and a one-token mutation: keeper, full-cut,
      // and partial-cut paths all exercised every sample
      val corpus = base ++ Seq(base(0),
        base(1).updated(mutPos, "zz"))
      val texts = corpus.map(_.mkString(" "))
      // reference: windows → dup set w/ min-doc keeper → covered positions
      val wins = texts.zipWithIndex.map { case (t, i) =>
        val ts = t.split(" ")
        (i.toLong, ts, ts.sliding(w).zipWithIndex.map { case (g, p) => (g.mkString(" "), p + 1) }.toSeq)
      }
      val byGram = wins.flatMap { case (id, _, gs) => gs.map { case (g, _) => (g, id) } }
        .groupBy(_._1).map { case (g, occ) => (g, occ.map(_._2).distinct) }
      val keeper = byGram.collect { case (g, ids) if ids.size >= 2 => (g, ids.min) }
      val expected = wins.map { case (id, ts, gs) =>
        val cut = gs.collect { case (g, p) if keeper.get(g).exists(_ != id) => p }
        val kept = ts.zipWithIndex.collect {
          case (t, j0) if !cut.exists(p => j0 + 1 >= p && j0 + 1 <= p + w - 1) => t
        }
        (id, ts.length.toLong, kept.length.toLong, kept.mkString(" "))
      }.toSet
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.text.TextAnalysis.removeDupSpans(df, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == expected)
    }
  }

  test("edit-distance dedup equals shared-window candidates + DP levenshtein") {
    val w = 5
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val docGen = Gen.listOfN(12, Gen.oneOf("ax", "bx", "cx"))
    samples(Gen.zip(Gen.listOfN(4, docGen), Gen.chooseNum(0, 11)), 5).foreach {
      case (base, mutPos) =>
      val corpus = base ++ Seq(base(0), base(1).updated(mutPos, "zz"))
      val texts = corpus.map(_.mkString(" "))
      val winSets = texts.map(_.split(" ").sliding(w).map(_.mkString(" ")).toSet)
      val maxDist = 8
      val expected = (for {
        a <- texts.indices; b <- texts.indices
        if a < b && winSets(a).intersect(winSets(b)).nonEmpty
        d = lev(texts(a), texts(b)) if d <= maxDist
      } yield (a.toLong, b.toLong, d.toLong)).toSet
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.dedup.Dedup.editDistancePairs(df, w, maxDist).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
    }
  }

  test("bloom decontamination flags a superset of the exact join, FPs bounded") {
    import graft.text.TextAnalysis
    val all = graft.engine.Tables.documents(spark, sf)
    val train = all.filter(pmod(col("doc_id"), lit(50L)) =!= 7L)
    val ev = all.filter(pmod(col("doc_id"), lit(50L)) === 7L)
    val exact = TextAnalysis.contamination(train, ev, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextAnalysis.contaminationBloom(train, ev, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a Bloom probe can only over-flag: every exactly-contaminated doc is
    // present with at least its exact shared-ngram count
    assert(exact.keySet.subsetOf(bloom.keySet),
      s"missed: ${exact.keySet -- bloom.keySet}")
    exact.foreach { case (id, n) => assert(bloom(id) >= n, s"doc $id") }
    // FP inflation stays near the configured rate (loose 5% ceiling)
    val extra = (bloom.keySet -- exact.keySet).size.toDouble
    assert(extra <= math.max(5.0, 0.05 * train.count()), s"extra=$extra")
  }

  test("grouped HLL distinct within 5% of exact per group") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = DistinctAndFrequency
      .approxDistinctByGroup(li, "l_returnflag", "l_partkey")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (g, d) =>
      assert(math.abs(approx(g) - d) <= math.max(2.0, 0.05 * d), s"group $g")
    }
  }

  test("MG + exact verify equals exact heavy hitters on random data") {
    samples(Gen.listOfN(300, Gen.chooseNum(0, 20)), 5).foreach { keys =>
      val df = keys.map(_.toString).toDF("k")
      val exact = DistinctAndFrequency.heavyHittersExact(df, Seq("k"), 0.1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val mg = DistinctAndFrequency.heavyHittersMG(df, Seq("k"), 0.1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(mg == exact, s"keys=${keys.take(20)}…")
    }
  }

  test("tuple MG heavy hitters equal exact heavy hitters row for row, exact and saturated") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType), StructField("i", IntegerType),
      StructField("d", DoubleType)))
    val rowGen = for {
      s <- Gen.frequency(6 -> Gen.const("a"), 3 -> Gen.oneOf("b", "c"), 1 -> Gen.const(null))
      i <- Gen.frequency(6 -> Gen.const(1), 3 -> Gen.oneOf(2, 3, 4), 1 -> Gen.const(null))
      d <- Gen.frequency(3 -> Gen.const(0.0), 2 -> Gen.const(-0.0), 2 -> Gen.const(Double.NaN),
        2 -> Gen.oneOf(1.5, -2.25), 1 -> Gen.const(null))
    } yield Row(s, i, d)
    // the exact path answers on the driver as a local relation; the
    // saturated one verifies against the data
    val exactPaths = scala.collection.mutable.Set.empty[Boolean]
    samples(Gen.listOfN(400, rowGen), 5).foreach { rows =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      for (cols <- Seq(Seq("s", "i", "d"), Seq("d", "s")); eps <- Seq(0.01, 0.05, 0.3)) {
        val exact = DistinctAndFrequency.heavyHittersExact(df, cols, eps)
        val mg = DistinctAndFrequency.heavyHittersMG(df, cols, eps)
        exactPaths += mg.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
        assert(mg.schema == exact.schema)
        assert(mg.collect().toSeq == exact.collect().toSeq, s"cols=$cols eps=$eps")
      }
    }
    assert(exactPaths == Set(true, false))
  }

  test("histogram counts are repartition-invariant on random data") {
    samples(Gen.listOfN(200, Gen.chooseNum(0.0, 100.0)), 5).foreach { vs =>
      val df = vs.toDF("v")
      def hist(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Histograms.histogram1D(d,
          graft.operators.Histograms.numericBucket(col("v"), 0.0, 100.0, 10))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(hist(df) == hist(df.repartition(7)))
    }
  }

  test("GroupTopK equals sort-take per key on random data") {
    samples(Gen.listOfN(150, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0.0, 1.0))), 3)
      .foreach { rows =>
        val data = rows.zipWithIndex.map { case ((k, s), i) => (k, s, i.toLong) }
        val df = data.toDF("key", "score", "id")
        val got = graft.plans.GroupTopK.groupTopK(df, Seq("key"),
            Seq(("score", false), ("id", true)), 3)
          .select("key", "rank", "id")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val expect = data.groupBy(_._1).flatMap { case (k, grp) =>
          grp.sortBy(t => (-t._2, t._3)).take(3).zipWithIndex
            .map { case (t, idx) => (k, idx + 1, t._3) }
        }.toSet
        assert(got == expect)
      }
  }

  test("parameterized literals: filter, projection and grouping equal a Scala " +
      "evaluation on random and edge values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Spark's double/float order: NaN equals NaN and sorts last, -0.0 == 0.0
    def cmpD(x: Double, y: Double) = if (x == y) 0 else java.lang.Double.compare(x, y)
    def cmpF(x: Float, y: Float) = if (x == y) 0 else java.lang.Float.compare(x, y)
    val edgeI = Seq(Int.MinValue, Int.MaxValue, 0, -1)
    val edgeL = Seq(Long.MinValue, Long.MaxValue, 0L, 1L)
    val edgeD = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MaxValue, Double.MinPositiveValue)
    val edgeF = Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity)
    // (i, l, d, f, b, ts micros, date days)
    type P = (Int, Long, Double, Float, Boolean, Long, Int)
    val gen: Gen[P] = for {
      i <- Gen.frequency(3 -> Gen.chooseNum(-50, 50), 1 -> Gen.oneOf(edgeI))
      l <- Gen.frequency(3 -> Gen.chooseNum(-50L, 50L), 1 -> Gen.oneOf(edgeL))
      d <- Gen.frequency(3 -> Gen.chooseNum(-5.0, 5.0), 1 -> Gen.oneOf(edgeD))
      f <- Gen.frequency(3 -> Gen.chooseNum(-5.0f, 5.0f), 1 -> Gen.oneOf(edgeF))
      b <- Gen.oneOf(true, false)
      ts <- Gen.chooseNum(-2000000000000000L, 4000000000000000L)
      dt <- Gen.chooseNum(-20000, 40000)
    } yield (i, l, d, f, b, ts, dt)
    val data = samples(gen, 300)
    val schema = StructType(Seq("i" -> IntegerType, "l" -> LongType, "d" -> DoubleType,
      "f" -> FloatType, "b" -> BooleanType, "tsm" -> LongType, "days" -> IntegerType)
      .map { case (n, t) => StructField(n, t, nullable = false) })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
        data.map(p => Row(p.productIterator.toSeq: _*)), 3), schema)
      .withColumn("ts", timestamp_micros(col("tsm")))
      .withColumn("dt", date_from_unix_date(col("days")))
    val paramCount = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def params(q: org.apache.spark.sql.DataFrame): Int =
      paramCount.collect(q.queryExecution.executedPlan) { case n =>
        n.expressions.map(_.collect { case x: graft.plans.ParamLiteral => x }.size).sum
      }.sum
    // edge parameters first, then random ones; some equal a row value
    val edgeParams: Seq[P] = Seq(
      (Int.MinValue, Long.MaxValue, Double.NaN, Float.NaN, true, data(0)._6, data(0)._7),
      (Int.MaxValue, Long.MinValue, -0.0, -0.0f, false, data(1)._6, data(1)._7),
      (0, 0L, 0.0, 0.0f, true, 0L, 0),
      (-1, 1L, Double.PositiveInfinity, Float.NegativeInfinity, false, Long.MaxValue / 4, 1),
      (data(2)._1, data(2)._2, Double.NegativeInfinity, Float.PositiveInfinity, true,
        -1L, -1),
      (data(3)._1, data(3)._2, Double.MinPositiveValue, data(3)._4, false, data(3)._6, 0))
    // a seeded expression reads its parameterized seed through eval
    val seeded = df.select(col("i"), rand(7) + lit(1.5))
    assert(seeded.collect().toSeq == seeded.collect().toSeq)
    (edgeParams ++ samples(gen, 6)).foreach { case (pi, pl, pd, pf, pb, pts, pdt) =>
      val ctx = s"params ($pi, $pl, $pd, $pf, $pb, $pts, $pdt)"
      val tsLit = timestamp_micros(lit(pts))
      val dtLit = date_from_unix_date(lit(pdt))
      def keep(r: P): Boolean = r._1 <= pi && r._2 >= pl &&
        (cmpD(r._3, pd) >= 0 || cmpF(r._4, pf) < 0) &&
        (r._5 == pb || r._6 < pts || r._7 >= pdt)
      val filtered = df.filter(col("i") <= lit(pi) && col("l") >= lit(pl) &&
        (col("d") >= lit(pd) || col("f") < lit(pf)) &&
        (col("b") === lit(pb) || col("ts") < tsLit || col("dt") >= dtLit))
      val got = filtered.select("i", "l", "d", "f", "b", "tsm", "days").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getFloat(3), r.getBoolean(4),
          r.getLong(5), r.getInt(6)))
      // compared as text: tuple == is numeric (NaN != NaN, 0.0 == -0.0)
      assert(got.map(_.toString).sorted.toSeq == data.filter(keep).map(_.toString).sorted, ctx)
      assert(params(filtered) > 0, ctx)

      val projected = df.select(col("i") === lit(pi), col("l") < lit(pl), col("d") * lit(pd),
        col("f") + lit(pf), col("ts") >= tsLit, col("dt") < dtLit, col("b") =!= lit(pb),
        lit(pd), lit(pl), lit(pf))
      val proj = projected.collect().map(_.toSeq).toSeq
      val expect = data.map(r => Seq[Any](r._1 == pi, r._2 < pl, r._3 * pd, r._4 + pf,
        r._6 >= pts, r._7 < pdt, r._5 != pb, pd, pl, pf))
      // boxed equals: value-exact (NaN equals NaN, 0.0 differs from -0.0)
      assert(proj.size == expect.size && proj.zip(expect).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) => java.util.Objects.equals(x, y) } }, ctx)
      assert(params(projected) > 0, ctx)

      val grouped = df.groupBy((col("d") < lit(pd)).as("k"))
        .agg(count(lit(1)), sum(when(col("l") > lit(pl), 1).otherwise(0)),
          max(greatest(col("i"), lit(pi))), max(col("d")) + lit(pd))
      val groups = grouped.collect()
        .map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
        .toMap
      val expectGroups = data.groupBy(r => cmpD(r._3, pd) < 0).map { case (k, rs) =>
        k -> (rs.size.toLong, rs.count(_._2 > pl).toLong, rs.map(r => math.max(r._1, pi)).max,
          rs.map(_._3).reduce((x, y) => if (cmpD(x, y) >= 0) x else y) + pd)
      }
      assert(groups.keySet == expectGroups.keySet, ctx)
      groups.foreach { case (k, (n, c, m, s)) =>
        val (en, ec, em, es) = expectGroups(k)
        assert(n == en && c == ec && m == em && java.lang.Double.compare(s, es) == 0, s"$ctx, $k")
      }
      assert(params(grouped) > 0, ctx)
    }
  }

  test("laplace noise: zero scale is exact; nonzero is deterministic") {
    val df = (1 to 10).toDF("k")
    val zero = df.select(graft.functions.Quantization.laplaceNoise(col("k"), 0.0).as("n"))
      .collect().map(_.getDouble(0))
    assert(zero.forall(_ == 0.0))
    val a = df.select(graft.functions.Quantization.laplaceNoise(col("k"), 1.0).as("n"))
      .collect().map(_.getDouble(0))
    val b = df.select(graft.functions.Quantization.laplaceNoise(col("k"), 1.0).as("n"))
      .collect().map(_.getDouble(0))
    assert(a.sameElements(b) && a.exists(_ != 0.0))
  }

  test("secure laplace PRF: keyed reproducibility, cross-key independence, distribution") {
    import graft.security.{PersistedKeyLoader, SecurePrf, TestKeyLoader}
    val k1 = TestKeyLoader(index = 1).key
    val k1b = TestKeyLoader(index = 1).key
    val k2 = TestKeyLoader(index = 2).key
    // per-key reproducibility: same key + same interval tag → identical
    // noise (the binary-mechanism consistency requirement)
    val tags = (0 until 2000).map(i => s"iv:$i")
    val n1 = tags.map(SecurePrf.laplace(k1, 2.0, _))
    assert(n1 == tags.map(SecurePrf.laplace(k1b, 2.0, _)))
    // cross-key unpredictability: an independent key's noise shares no
    // values and is uncorrelated (|r| small over 2000 samples)
    val n2 = tags.map(SecurePrf.laplace(k2, 2.0, _))
    assert(!n1.zip(n2).exists(p => p._1 == p._2))
    val (m1, m2) = (n1.sum / n1.size, n2.sum / n2.size)
    val cov = n1.zip(n2).map(p => (p._1 - m1) * (p._2 - m2)).sum / n1.size
    val sd1 = math.sqrt(n1.map(x => (x - m1) * (x - m1)).sum / n1.size)
    val sd2 = math.sqrt(n2.map(x => (x - m2) * (x - m2)).sum / n2.size)
    assert(math.abs(cov / (sd1 * sd2)) < 0.08, s"corr=${cov / (sd1 * sd2)}")
    // distribution: Laplace(0, b) has mean 0, sd b√2, and P(|X|>b·ln2)
    // = 1/2 (the median of |X|); 2000 samples pin all three loosely
    assert(math.abs(m1) < 0.25, s"mean=$m1")
    assert(math.abs(sd1 - 2.0 * math.sqrt(2.0)) < 0.35, s"sd=$sd1")
    val overMedian = n1.count(x => math.abs(x) > 2.0 * math.log(2.0))
    assert(math.abs(overMedian - 1000) < 100, s"median split $overMedian/2000")
    // persisted key: generated once, then every loader sees the SAME
    // key — noise survives a session restart (reference KeyLoader)
    val kf = graft.engine.Artifacts.scratchDir("graft_dpkey").resolve("key")
    val p1 = new PersistedKeyLoader(kf).key
    val p2 = new PersistedKeyLoader(kf).key
    assert(p1.sameElements(p2) && p1.length == 32)
    assert(SecurePrf.laplace(p1, 1.0, "iv:7") == SecurePrf.laplace(p2, 1.0, "iv:7"))
    // the Column surface agrees with the driver-side PRF bit for bit
    val viaCol = (0 until 50).toDF("i")
      .select(graft.security.SecureLaplaceExpr.noise(
        concat(lit("iv:"), col("i")), 2.0, TestKeyLoader(index = 1)).as("n"))
      .collect().map(_.getDouble(0)).toSeq
    assert(viaCol == n1.take(50))
  }

  test("dyadic decomposition: aligned power-of-two cover, O(log T) size") {
    import graft.functions.Quantization.{dyadicDecomposition, kadicDecomposition}
    // worked example: [3,11) = [3,4) ∪ [4,8) ∪ [8,10) ∪ [10,11)
    assert(dyadicDecomposition(3, 11) == Seq((3, 1), (4, 4), (8, 2), (10, 1)))
    assert(dyadicDecomposition(0, 8) == Seq((0, 8)))
    assert(dyadicDecomposition(5, 5).isEmpty)
    // degree-k tree with exactly k leaves: unit leaves, no root node
    assert(kadicDecomposition(0, 20, 20) == (0 until 20).map(i => (i, 1)))
    val T = 1024
    samples(Gen.zip(Gen.chooseNum(0, T), Gen.chooseNum(0, T)), 50).foreach {
      case (a, b) =>
        val (l, r) = (math.min(a, b), math.max(a, b))
        val d = dyadicDecomposition(l, r)
        // contiguous exact cover of [l, r)
        assert(d.scanLeft(l)(_ + _._2).init.zip(d.map(_._1)).forall(p => p._1 == p._2))
        assert(d.map(_._2).sum == r - l)
        // every node is an ALIGNED power of two (a real tree node)
        assert(d.forall { case (lo, sz) => (sz & (sz - 1)) == 0 && lo % sz == 0 })
        // the binary-mechanism bound: ≤ 2·log₂T intervals — the reason
        // a dyadic CDF beats per-bucket flat noise (O(r) variables)
        assert(d.size <= 2 * 10)
    }
  }

  test("dyadic noisy CDF: deterministic, monotone, O(log T) noise variables") {
    import graft.functions.Quantization.noisyHistogramDyadic
    val li = graft.engine.Tables.lineitem(spark, sf)
    val starts = Seq(0, 16, 32, 48, 64, 80, 96, 112)
    def run() = noisyHistogramDyadic(li, "l_extendedprice", 0.0, 1000.0, 128,
      starts, epsilon = 0.5, branching = 2, cdf = true)
    val a = run().collect()
    assert(a.sameElements(run().collect())) // seeded noise: reproducible
    // exact cumulative counts underneath the noise
    val exact = li.filter(col("l_extendedprice") < 128000.0)
      .groupBy(floor(col("l_extendedprice") / 16000.0).cast("int").as("b"))
      .agg(count(lit(1)).as("c")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (0 until 8).scanLeft(0L)((acc, i) => acc + exact.getOrElse(i, 0L)).tail
    assert(a.map(_.getLong(1)).sameElements(cum))
    // each CDF prefix [0, r) decomposes into ≤ log₂(128) = 7 variables,
    // never the r-leaf flat-noise count
    assert(a.forall(r => r.getLong(3) <= 7))
    // noisy CDF is clamped monotone non-decreasing (reference postProcess)
    val noisy = a.map(_.getDouble(2))
    assert(noisy.zip(noisy.tail).forall(p => p._1 <= p._2))
    // noise is actually present and within a few CI radii of the truth
    assert(a.exists(r => r.getDouble(2) != r.getLong(1).toDouble))
    assert(a.forall(r => math.abs(r.getDouble(2) - r.getLong(1)) <= 5 * r.getDouble(4)))
  }

  test("dyadic noisy heatmap: deterministic, exact counts, O(logTx*logTy) vars") {
    import graft.functions.Quantization.noisyHeatmapDyadic
    val li = graft.engine.Tables.lineitem(spark, sf)
    def run() = noisyHeatmapDyadic(li, "l_extendedprice", "l_quantity",
      0.0, 1000.0, 128, Seq(0, 16, 32, 48, 64, 80, 96, 112),
      0.0, 1.0, 64, Seq(0, 8, 16, 24, 32, 40, 48, 56),
      epsilon = 0.5, branching = 2)
    val a = run().collect()
    assert(a.length == 64) // full 8×8 grid, zero cells included
    assert(a.sameElements(run().collect())) // seeded noise: reproducible
    // exact 2-D counts underneath the noise
    val exact = li.filter(col("l_extendedprice") >= 0.0 &&
        col("l_extendedprice") < 128000.0 &&
        col("l_quantity") >= 0.0 && col("l_quantity") < 64.0)
      .groupBy(floor(col("l_extendedprice") / 16000.0).cast("int").as("bx"),
        floor(col("l_quantity") / 8.0).cast("int").as("by"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    a.foreach { r =>
      assert(r.getLong(2) == exact.getOrElse((r.getInt(0), r.getInt(1)), 0L))
    }
    // each aligned 16-leaf x-bucket is ONE dyadic node, each 8-leaf
    // y-bucket one node → exactly 1 rectangle per cell here; the bound
    // for arbitrary ranges is 2log₂Tx · 2log₂Ty, never O(area)
    assert(a.forall(_.getLong(4) == 1L))
    // noise present, and every cell within a few CI radii of the truth
    assert(a.exists(r => r.getDouble(3) != r.getLong(2).toDouble))
    assert(a.forall(r => math.abs(r.getDouble(3) - r.getLong(2)) <= 5 * r.getDouble(5)))
  }

  test("ray-cast containment equals classic even-odd on a full grid") {
    // reference even-odd implementation (with inclusive boundary) in
    // plain Scala, checked over every grid point against the expression
    def inside(vs: Seq[(Double, Double)], px: Double, py: Double): Boolean = {
      val es = vs.zip(vs.tail :+ vs.head)
      val on = es.exists { case ((ax, ay), (bx, by)) =>
        (bx - ax) * (py - ay) - (by - ay) * (px - ax) == 0 &&
          px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
          py >= math.min(ay, by) && py <= math.max(ay, by)
      }
      val n = es.count { case ((ax, ay), (bx, by)) =>
        ((ay > py) != (by > py)) &&
          (((bx - ax) * (py - ay) - (px - ax) * (by - ay) > 0) == (by > ay))
      }
      on || n % 2 == 1
    }
    // concave L, a chevron (CW winding!), and a convex triangle
    val shapes = Seq(
      Seq((0.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0), (4.0, 8.0), (0.0, 8.0)),
      Seq((0.0, 0.0), (4.0, 8.0), (8.0, 0.0), (4.0, 3.0)),
      Seq((1.0, 1.0), (7.0, 2.0), (3.0, 7.0)))
    val grid = for (x <- 0 to 8; y <- 0 to 8) yield (x.toDouble, y.toDouble)
    val pts = grid.toDF("px", "py")
    shapes.foreach { vs =>
      val polys = graft.geo.Geo.polygonSet(spark, Seq(("s", vs)))
      val got = graft.geo.Geo
        .tagPoints(pts, polys, col("px"), col("py"), convex = false)
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val expect = grid.filter(p => inside(vs, p._1, p._2)).toSet
      assert(got == expect, s"shape $vs")
    }
    // convex path and ray-cast agree on the CCW triangle
    val tri = Seq(("t", shapes(2)))
    val convexGot = graft.geo.Geo
      .tagPoints(pts, graft.geo.Geo.polygonSet(spark, tri), col("px"), col("py"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(convexGot == grid.filter(p => inside(shapes(2), p._1, p._2)).toSet)
  }

  test("shapefile: write→parse round-trips features; tagging matches inline polygons") {
    import graft.geo.Shapefile
    val feats = Seq(
      ("lshape", Seq((0.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0), (4.0, 8.0), (0.0, 8.0))),
      ("tri", Seq((1.0, 1.0), (7.0, 2.0), (3.0, 7.0))))
    val base = graft.engine.Artifacts.scratchDir("shp_spec")
      .resolve("f").toString
    Shapefile.writePolygons(base, feats)
    // byte-level round-trip: names from the .dbf, rings reopened (the
    // spec's closing duplicate vertex dropped), order preserved
    assert(Shapefile.parsePolygons(base) == feats)
    // a shapefile-loaded frame tags identically to the inline frame
    val grid = for (x <- 0 to 8; y <- 0 to 8) yield (x.toDouble, y.toDouble)
    val pts = grid.toDF("px", "py")
    def tags(polys: org.apache.spark.sql.DataFrame) =
      graft.geo.Geo.tagPoints(pts, polys, col("px"), col("py"), convex = false)
        .collect().map(r => (r.getString(2), r.getDouble(0), r.getDouble(1))).toSet
    assert(tags(Shapefile.readPolygons(spark, base)) ==
      tags(graft.geo.Geo.polygonSet(spark, feats)))
    // malformed inputs are refused loudly, not half-loaded
    val junk = graft.engine.Artifacts.scratchDir("shp_junk").resolve("j")
    java.nio.file.Files.write(junk.resolveSibling("j.shp"),
      "not a shapefile at all........".getBytes)
    intercept[IllegalArgumentException] { Shapefile.parsePolygons(junk.toString) }
  }

  test("multi-ring even-odd containment: holes, nesting, full-grid parity") {
    // plain-Scala even-odd reference ACROSS rings (inclusive boundary)
    def inside(rings: Seq[Seq[(Double, Double)]], px: Double, py: Double): Boolean = {
      val es = rings.flatMap(vs => vs.zip(vs.tail :+ vs.head))
      val on = es.exists { case ((ax, ay), (bx, by)) =>
        (bx - ax) * (py - ay) - (by - ay) * (px - ax) == 0 &&
          px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
          py >= math.min(ay, by) && py <= math.max(ay, by)
      }
      val n = es.count { case ((ax, ay), (bx, by)) =>
        ((ay > py) != (by > py)) &&
          (((bx - ax) * (py - ay) - (px - ax) * (by - ay) > 0) == (by > ay))
      }
      on || n % 2 == 1
    }
    // donut, donut-with-island (3-deep nesting), and a concave outer
    // with a square hole
    val feats = Seq(
      ("donut", Seq(
        Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0)),
        Seq((2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0)))),
      ("island", Seq(
        Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0)),
        Seq((1.0, 1.0), (7.0, 1.0), (7.0, 7.0), (1.0, 7.0)),
        Seq((3.0, 3.0), (5.0, 3.0), (5.0, 5.0), (3.0, 5.0)))),
      ("lhole", Seq(
        Seq((0.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0), (4.0, 8.0), (0.0, 8.0)),
        Seq((1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)))))
    val grid = for (x <- 0 to 8; y <- 0 to 8) yield (x.toDouble, y.toDouble)
    val pts = grid.toDF("px", "py")
    feats.foreach { case (name, rings) =>
      val frame = graft.geo.Geo.ringSet(spark, Seq((name, rings)))
      val got = graft.geo.Geo.tagPointsRings(pts, frame, col("px"), col("py"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val expect = grid.filter(p => inside(rings, p._1, p._2)).toSet
      assert(got == expect, name)
      // spot semantics: hole interior out, hole boundary in, island in
      assert(!got.contains((4.0, 4.0)) || name != "donut")
      if (name == "donut") assert(got.contains((2.0, 2.0)) && got.contains((0.0, 0.0)))
      if (name == "island") assert(got.contains((4.0, 4.0)) && !got.contains((2.0, 2.0)))
    }
    // multi-part shapefile record round-trips rings grouped, and the
    // shapefile-loaded frame tags identically to the inline frame
    import graft.geo.Shapefile
    val base = graft.engine.Artifacts.scratchDir("shp_rings")
      .resolve("f").toString
    Shapefile.writeFeatures(base, feats)
    assert(Shapefile.parseFeatures(base) == feats)
    val viaShp = graft.geo.Geo.tagPointsRings(pts,
      Shapefile.readFeatures(spark, base), col("px"), col("py"))
      .collect().map(r => (r.getString(2), r.getDouble(0), r.getDouble(1))).toSet
    val inline = graft.geo.Geo.tagPointsRings(pts,
      graft.geo.Geo.ringSet(spark, feats), col("px"), col("py"))
      .collect().map(r => (r.getString(2), r.getDouble(0), r.getDouble(1))).toSet
    assert(viaShp == inline)
  }

  test("noisy distinct: zero noise equals the bare sketch; radius composes") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val raw = li.agg(approx_count_distinct(col("l_partkey"), 0.05)).head.getLong(0)
    val zero = graft.functions.Quantization.noisyDistinct(li, "l_partkey", 0.05, 0.0).head
    assert(zero.getDouble(0) == raw.toDouble)
    assert(math.abs(zero.getDouble(1) - 1.96 * 0.05 * raw) < 1e-6)
    // nonzero noise: deterministic, shifts the count, widens the radius
    // by the Laplace 95% quantile b*ln(20)
    val noisy = graft.functions.Quantization.noisyDistinct(li, "l_partkey", 0.05, 5.0).head
    val noisy2 = graft.functions.Quantization.noisyDistinct(li, "l_partkey", 0.05, 5.0).head
    assert(noisy == noisy2)
    assert(math.abs(noisy.getDouble(1) - (1.96 * 0.05 * raw + 5.0 * math.log(20.0))) < 1e-4)
  }

  test("zorder16 equals direct bit interleave on random 16-bit pairs") {
    def interleave(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1).toLong << (2 * i)) |
          (((b >> i) & 1).toLong << (2 * i + 1))
      }
    val pairs = samples(Gen.zip(Gen.chooseNum(0, 65535), Gen.chooseNum(0, 65535)), 200) ++
      Seq((0, 0), (65535, 65535), (0, 65535), (1, 32768))
    val df = pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
    val got = df.select(col("a"), col("b"),
        graft.engine.Layout.zorder16(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a.toLong, b.toLong)) == interleave(a, b), s"($a, $b)")
    }
  }

  test("integer-grid truncation equals BigInt math on random ratios") {
    // test the ACTUAL shared helper (not a re-derivation that could
    // drift), including num·10⁴ past 2^53 — where a double division of
    // longs truncates one ulp low. 9.2e14·10⁴ stays inside Long.
    val small = samples(Gen.zip(Gen.chooseNum(0L, 1000000L), Gen.chooseNum(1L, 1000000L)), 300)
      .map { case (num, den) => (math.min(num, den), den) } // num <= den: a ratio
    val big = samples(
      Gen.zip(Gen.chooseNum(900000000000000L, 920000000000000L),
        Gen.chooseNum(900000000000000L, 999999999999999L)), 100)
      .map { case (num, den) => (math.min(num, den), den) }
    val cases = small ++ big
    val df = cases.toDF("num", "den")
    val got = df.select(col("num"), col("den"),
        graft.text.TextAnalysis.frac4(col("num"), col("den")).as("f")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    cases.foreach { case (num, den) =>
      val expect = ((BigInt(num) * 10000) / BigInt(den)).toLong / 10000.0
      assert(got((num, den)) == expect, s"$num/$den")
    }
  }

  test("string quantization equals linear boundary search on random strings") {
    val bounds = Seq("b", "f", "m", "r", "w")
    val gMax = "yy"
    def expected(s: String): Option[String] =
      // roundDown parity: == globalMax snaps to globalMax itself; only
      // strictly-above is out of range (Quantization.quantizeString)
      if (s > gMax) None
      else if (s == gMax) Some(gMax)
      else bounds.reverse.find(b => s >= b)
    val strs = samples(Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString), 200) ++
      Seq("a", "b", "yy", "yz", "z", "w", "vzz")
    val df = strs.toDF("s")
    val got = df.select(col("s"), graft.functions.Quantization
        .quantizeString(col("s"), bounds, gMax).as("q"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    strs.foreach { s => assert(got(s) == expected(s), s"'$s'") }
  }

  test("count-min estimates are one-sided: exact <= est <= exact + eps*N") {
    val ord = graft.engine.Tables.orders(spark, sf)
    val items = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val exact = ord.groupBy(col("o_orderpriority")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ord.count()
    val est = DistinctAndFrequency.countMinFreq(ord, "o_orderpriority", items,
        eps = 0.001).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    items.foreach { v =>
      val e = exact.getOrElse(v, 0L)
      assert(est(v) >= e, s"$v under-estimated: ${est(v)} < $e")
      assert(est(v) <= e + math.ceil(0.001 * n).toLong * 3, s"$v over: ${est(v)} vs $e")
    }
    // EXACT regime at the declared geometry (eps=0.001 ⇒ width 2000,
    // depth 5, 5 distinct keys total): an estimate inflates only if some
    // OTHER key collides in ALL 5 depth rows — this pin is what lets the
    // declared cms_freq query carry a value oracle (exact counts); a
    // Spark hashing change would fail here before it fails the oracle
    items.foreach(v => assert(est(v) == exact(v),
      s"$v: cms est ${est(v)} != exact ${exact(v)} — exact regime broken"))
  }

  test("privacy schema: sorted-key lookup, default fallback, zero rejected") {
    val ps = graft.functions.PrivacySchema(
      Map(Seq("a") -> 0.5, Seq("b", "a") -> 0.25), defaultEpsilon = 0.1)
    assert(ps.epsilon("a") == 0.5)
    // order-insensitive on BOTH sides (stored unsorted above)
    assert(ps.epsilon("a", "b") == 0.25 && ps.epsilon("b", "a") == 0.25)
    assert(ps.epsilon("c") == 0.1)       // default
    assert(ps.noiseScale("a", "b") == 4.0)
    val zero = graft.functions.PrivacySchema(Map.empty, defaultEpsilon = 0.0)
    intercept[IllegalArgumentException](zero.epsilon("x"))
  }

  test("string quantization snaps to the largest boundary <= value") {
    val df = Seq("apple", "dog", "iris", "unicorn", "zz", "zzzzzzz", "Zebra")
      .toDF("s")
    val got = df.select(col("s"), graft.functions.Quantization
        .quantizeString(col("s"), Seq("a", "e", "i", "o", "u"), "zzzzzz").as("q"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("apple") == Some("a"))
    assert(got("dog") == Some("a"))   // between 'a' and 'e'... 'd' >= 'a'
    assert(got("iris") == Some("i"))
    assert(got("unicorn") == Some("u"))
    assert(got("zz") == Some("u"))
    assert(got("zzzzzzz") == None)    // past globalMax -> out of range
    assert(got("Zebra") == None)      // below first boundary (binary order)
  }

  test("schema file round-trip") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val tmp = graft.engine.Artifacts.scratchDir("graft_schema").resolve("lineitem.schema")
    graft.sources.Sources.writeSchemaFile(li.schema, tmp.toString)
    val back = graft.sources.Sources.readSchemaFile(tmp.toString)
    assert(back.fields.map(_.name).sameElements(li.schema.fields.map(_.name)))
  }

  // tolerance gates for the intrinsically-approximate paths (the oracle
  // gate lists them rows-only; these bound their error like the
  // reference's statistical assertions, e.g. SampleQuantileSketchTest)
  test("approx distinct count within HLL error of exact") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val exact = li.agg(countDistinct(col("l_partkey"))).head().getLong(0).toDouble
    val approx = DistinctAndFrequency.approxDistinctCount(li, "l_partkey")
      .head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.1, s"approx=$approx exact=$exact")
  }

  test("approx quantiles within relative error of exact") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val n = li.count()
    val sorted = li.select(col("l_extendedprice")).orderBy(col("l_extendedprice"))
      .collect().map(_.getDouble(0))
    val approx = graft.operators.Quantiles.approxQuantiles(
      li, "l_extendedprice", Seq(0.25, 0.5, 0.75), 0.01)
    Seq(0.25, 0.5, 0.75).zip(approx).foreach { case (q, a) =>
      // GK guarantee is on RANK error: the returned value's rank must be
      // within ±1% of the target rank
      val lo = sorted(math.max(0, ((q - 0.02) * n).toInt))
      val hi = sorted(math.min(n.toInt - 1, ((q + 0.02) * n).toInt))
      assert(a >= lo && a <= hi, s"q=$q a=$a not in [$lo,$hi]")
    }
  }

  test("laplace noise distribution: mean ~0, mean|x| ~scale over buckets") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val scale = 10.0
    // fine granularity → ~1000 distinct buckets for stable statistics
    val noises = li
      .groupBy(graft.functions.Quantization.quantize(col("l_extendedprice"), 100.0).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(graft.functions.Quantization.laplaceNoise(col("b"), scale).as("n"))
      .collect().map(_.getDouble(0))
    val nb = noises.length
    assert(nb > 200, s"need many buckets, got $nb")
    val mean = noises.sum / nb
    val meanAbs = noises.map(math.abs).sum / nb
    // Laplace(b): E[X]=0 (sd of mean = b*sqrt(2)/sqrt(nb)), E|X| = b
    assert(math.abs(mean) <= 4 * scale * math.sqrt(2.0 / nb), s"mean=$mean nb=$nb")
    assert(meanAbs > 0.6 * scale && meanAbs < 1.4 * scale, s"meanAbs=$meanAbs")
  }

  test("approx bucket quantiles within tolerance of exact, bounded-state plan") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val exact = graft.operators.Histograms.bucketQuantiles(
      li, col("l_returnflag"), col("l_extendedprice"), Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approxDf = graft.operators.Histograms.bucketQuantilesApprox(
      li, col("l_returnflag"), col("l_extendedprice"), Seq(0.25, 0.5, 0.75))
    approxDf.collect().foreach { r =>
      val e = exact(r.getString(0))
      Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)).zip(e).foreach {
        case (a, ex) => assert(math.abs(a - ex) / ex < 0.05, s"approx=$a exact=$ex")
      }
    }
    // the scale property: a mergeable bounded sketch per group, never a
    // buffer-every-value percentile
    val p = approxDf.queryExecution.executedPlan.toString
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"), p)
    assert(!p.contains("percentile(__qv"), p)
  }

  test("approx 2-D bucket quantiles within tolerance, bounded-state plan") {
    val li = graft.engine.Tables.lineitem(spark, sf)
      .withColumn("__qv", col("l_extendedprice"))
    val exact = li
      .groupBy(col("l_returnflag").as("b1"), col("l_linestatus").as("b2"))
      .agg(expr("percentile(__qv, 0.5)").as("m"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val approxDf = graft.operators.Histograms.bucketQuantilesApprox2D(
      graft.engine.Tables.lineitem(spark, sf),
      col("l_returnflag"), col("l_linestatus"),
      col("l_extendedprice"), Seq(0.25, 0.5, 0.75))
    approxDf.collect().foreach { r =>
      val ex = exact((r.getString(0), r.getString(1)))
      val a = r.getDouble(3) // q1 = median
      assert(math.abs(a - ex) / ex < 0.05, s"approx=$a exact=$ex")
    }
    val p = approxDf.queryExecution.executedPlan.toString
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"), p)
    assert(!p.contains("percentile(__qv"), p)
  }

  test("exact kmeans matches a pure-driver integer Lloyd reference") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val (k, iters) = (4, 2)
    // pure-Scala reference on the same 2^16 grid: seeds = k smallest
    // vec_ids, exact integer d², truncating integer means
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 65536.0).toLong)))
      .sortBy(_._1)
    var cents: Array[Array[Long]] = vecs.take(k).map(_._2.map(identity))
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.indices.map(i => (x(i) - c(i)) * (x(i) - c(i))).sum
    def assign(x: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, i) => (d2(x, c), i) }.min._2
    (1 to iters).foreach { _ =>
      val groups = vecs.groupBy(v => assign(v._2))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        groups.get(ci) match {
          case Some(g) =>
            old.indices.map(d => g.map(_._2(d)).sum / g.length).toArray
          case None => old
        }
      }
    }
    val expect = vecs.map { case (id, x) =>
      val cl = assign(x); id -> ((cl, d2(x, cents(cl))))
    }.toMap
    val got = graft.ann.Similarity.kmeansExact(emb, k, iters)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got == expect,
      s"diff: ${(got.toSet -- expect.toSet).take(3)} vs ${(expect.toSet -- got.toSet).take(3)}")
  }

  test("exact silhouette matches a pure-driver reference per cluster") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val (k, iters) = (4, 2)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 65536.0).toLong)))
      .sortBy(_._1)
    var cents: Array[Array[Long]] = vecs.take(k).map(_._2.map(identity))
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.indices.map(i => (x(i) - c(i)) * (x(i) - c(i))).sum
    def assign(x: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, i) => (d2(x, c), i) }.min._2
    (1 to iters).foreach { _ =>
      val groups = vecs.groupBy(v => assign(v._2))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        groups.get(ci) match {
          case Some(g) =>
            old.indices.map(d => g.map(_._2(d)).sum / g.length).toArray
          case None => old
        }
      }
    }
    val per = vecs.map { case (_, x) =>
      val ds = cents.zipWithIndex.map { case (c, i) => (d2(x, c), i) }.sorted
      val (a, cl) = ds(0)
      val b = ds(1)._1
      (cl, (b - a) * 10000L / math.max(b, 1L))
    }
    val expect = per.groupBy(_._1).map { case (cl, ss) =>
      cl -> ((ss.length.toLong, ss.map(_._2).sum / ss.length)) }
    val got = graft.ann.Similarity.silhouetteExact(emb, k, iters)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("exact semdedup verdict equals the rational cosine threshold (BigInt check)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val pairs = graft.ann.Similarity.semanticDedupExact(emb, 2, 5, 4, 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(pairs.nonEmpty, "no pairs — fixture degenerate")
    // every emitted pair satisfies 25·dot² ≥ 4·qq·cc exactly
    val q16 = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 65536.0).toLong)).toMap
    pairs.foreach { case ((a, b), dotGot) =>
      val (xa, xb) = (q16(a), q16(b))
      val dot = xa.indices.map(i => xa(i) * xb(i)).sum
      assert(dot == dotGot, s"dot mismatch on ($a,$b)")
      val qq = BigInt(xa.map(v => v * v).sum)
      val cc = BigInt(xb.map(v => v * v).sum)
      assert(dot > 0 && BigInt(25) * BigInt(dot) * BigInt(dot) >= BigInt(4) * qq * cc,
        s"pair ($a,$b) fails the exact threshold")
    }
  }

  test("embedding LSH near-dup recall >= 0.95 vs exact all-pairs") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val exact = graft.ann.Similarity.nearDupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // carryVectors = the declared stress shape (verify fused into the
    // band self-join — the dense-candidate plan at low θ)
    val lsh = graft.ann.Similarity
      .nearDupPairsLsh(emb, 0.4, carryVectors = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (cosine verify); recall is the
    // banding guarantee: 1-(1-(1-θ/π)^4)^32 ≥ 0.996 at cos = 0.4
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = (lsh & exact).size.toDouble / exact.size
      assert(recall >= 0.95, s"recall=$recall exact=${exact.size} lsh=${lsh.size}")
    }
    // the two physical shapes are the same OPERATOR: identical pair set
    // (same planes/bands/hot-cut/verify — only the plan differs)
    val lshDefault = graft.ann.Similarity.nearDupPairsLsh(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == lshDefault,
      s"carryVectors changed the pair set: only-carry=${(lsh -- lshDefault).take(3)} only-default=${(lshDefault -- lsh).take(3)}")
  }

  test("embedding LSH headline θ=0.7: planted near-dups found, recall >= 0.95") {
    // the production-threshold headline fixture: planted copies sit at
    // cos≈0.87, so exact pairs at θ=0.7 are exactly the planted ones
    // (natural pairs top out at cos≈0.60 in this corpus)
    val emb = Fixtures.plantedEmb(spark, sf)
    val exact = graft.ann.Similarity.nearDupPairs(emb, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted fixture produced no θ=0.7 pairs")
    // every planted (original, copy) pair is found by the exact form
    val planted = graft.engine.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(25L)) === 3L)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 10000000L)).toSet
    assert(planted.subsetOf(exact),
      s"missing planted pairs: ${(planted -- exact).take(5)}")
    val lsh = graft.ann.Similarity.nearDupPairsLsh(emb, 0.7,
        targetBucket = 16L, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"false positives: ${(lsh -- exact).take(5)}")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall exact=${exact.size} lsh=${lsh.size}")
  }

  test("PQ ANN: recall vs brute force, determinism, 32x compression") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = graft.ann.Similarity.bruteForceTopK(emb, qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = graft.ann.Similarity.pqTopK(emb, qs, 10).collect()
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    // ADC shortlist (refine·k) + exact re-rank: recall@10 gate
    val recall = (pqSet & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"pq recall@10 = $recall")
    // re-ranked scores are TRUE cosines: every reported (pair, cos)
    // matches brute force exactly where the pair overlaps
    val exactCos = graft.ann.Similarity.bruteForceTopK(emb, qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    pq.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(r.getDouble(3) - c) <= 1e-4, s"cos mismatch at $r")
      }
    }
    // deterministic end to end (hash seeds, lexicographic ties)
    val again = graft.ann.Similarity.pqTopK(emb, qs, 10).collect()
    assert(pq.map(_.toString).sameElements(again.map(_.toString)))
    // the compression claim: m codes of ksub<=256 fit one byte each
    val m = 8
    val dim = 64
    assert(m * 1 * 32 <= dim * 4, "codes must be at least 32x smaller")
  }

  test("IVF-PQ ANN: recall with cell probing, scans only probed cells") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = graft.ann.Similarity.bruteForceTopK(emb, qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = graft.ann.Similarity.ivfPqTopK(emb, qs, 10).collect()
    val gotSet = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    // probing 6/16 cells + PQ distortion: recall@10 gate (looser than
    // full-scan PQ by design — that's the cost of touching 3/8 of the
    // corpus instead of all of it)
    val recall = (gotSet & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivfpq recall@10 = $recall")
    // reported scores are TRUE cosines where pairs overlap brute force
    val exactCos = graft.ann.Similarity.bruteForceTopK(emb, qs, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    got.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(r.getDouble(3) - c) <= 1e-4, s"cos mismatch at $r")
      }
    }
    // deterministic
    val again = graft.ann.Similarity.ivfPqTopK(emb, qs, 10).collect()
    assert(got.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("persisted PQ index: serve == in-memory path, empty-batch guard") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val dir = graft.engine.Artifacts.scratchDir("graft_pq_spec").toString
    graft.ann.PqIndex.build(emb, dir).collect()
    // training is deterministic (hash-strided seeds), so the persisted
    // index must reproduce the in-memory results EXACTLY: flat serve ==
    // pqTopK, probed serve == ivfPqTopK
    val flatServe = graft.ann.PqIndex.serve(emb, dir, qs, 10)
      .collect().map(_.toString)
    val flatMem = graft.ann.Similarity.pqTopK(emb, qs, 10)
      .collect().map(_.toString)
    assert(flatServe.sameElements(flatMem))
    val probedServe = graft.ann.PqIndex.serve(emb, dir, qs, 10, nprobe = 6)
      .collect().map(_.toString)
    val probedMem = graft.ann.Similarity.ivfPqTopK(emb, qs, 10)
      .collect().map(_.toString)
    assert(probedServe.sameElements(probedMem))
    // unknown query ids: empty result with the topK schema, not a crash
    val none = graft.ann.PqIndex.serve(emb, dir, Seq(-1L), 10)
    assert(none.columns.toSeq ==
      Seq("query_id", "rank", "neighbor_id", "cos"))
    assert(none.count() == 0)
    // the IVF contract made physical: codes persist PARTITIONED BY
    // cell, and a probed serve's scan carries PartitionFilters on the
    // batch's union of probe cells — unprobed cells' files never open
    val probedPlan = graft.ann.PqIndex.serve(emb, dir, qs, 10, nprobe = 6)
      .queryExecution.executedPlan.toString
    assert(probedPlan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(probedPlan).isDefined,
      probedPlan)
    // incremental append: build on HALF the corpus, append the rest —
    // the quantizer stays the half-trained one, the delta encodes with
    // it (no retrain), and serving over the appended index equals
    // serving over a one-shot index of the SAME quantizer fed the full
    // corpus (delete-and-rewrite vs append must be indistinguishable)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val dirInc = graft.engine.Artifacts.scratchDir("graft_pq_inc").toString
    graft.ann.PqIndex.build(half, dirInc).collect()
    graft.ann.PqIndex.append(rest, dirInc)
    val served = graft.ann.PqIndex.serve(emb, dirInc, qs, 10, nprobe = 6)
      .collect().map(_.toString)
    // expected: encode the FULL corpus with the half-trained artifacts
    val dirFull = graft.engine.Artifacts.scratchDir("graft_pq_inc2").toString
    graft.ann.PqIndex.build(half, dirFull).collect()
    graft.ann.PqIndex.append(emb.filter(col("vec_id") % 2 =!= 0), dirFull)
    val served2 = graft.ann.PqIndex.serve(emb, dirFull, qs, 10, nprobe = 6)
      .collect().map(_.toString)
    assert(served.sameElements(served2)) // deterministic end to end
    // appended vectors are actually SERVED: odd ids appear as neighbors
    val neighborIds = graft.ann.PqIndex.serve(emb, dirInc, qs, 10, nprobe = 6)
      .collect().map(_.getLong(2)).toSet
    assert(neighborIds.exists(_ % 2 != 0), neighborIds.toString)
  }

  test("hll sketch: <=5% error, partition-merge == whole-corpus sketch, deterministic") {
    import graft.functions.HllSketch._
    val dd = graft.engine.Tables.documents(spark, sf)
    // the rollup query's own exact twin bounds every row (per-source and
    // the merged __all__ row); p=12 -> rsd 1.6%, gate at 5%
    val rows = graft.SparkEntry.queries("sketch_distinct_rollup")(spark, sf).collect()
    assert(rows.length >= 2)
    rows.foreach { r =>
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      // 5% relative with a small absolute floor: at tiny per-source
      // cardinalities (tens) a single register collision moves the
      // linear-counting estimate by 1-2 — that's resolution, not error
      assert(math.abs(est - exact) <= math.max(0.05 * exact, 3.0),
        s"${r.getString(0)}: est=$est exact=$exact")
    }
    // monoid law that makes the sketch STORABLE: max-merging arbitrary
    // partition sketches reproduces the whole-corpus registers bit for bit
    val whole = dd.agg(hll_build(col("text")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val merged = dd.groupBy(pmod(col("doc_id"), lit(7L)).as("part"))
      .agg(hll_build(col("text")).as("sk"))
      .agg(hll_merge(col("sk")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(merged.sameElements(whole), "partition merge diverged from whole")
    // determinism: rebuilding yields identical bytes (fixed seed hash)
    val again = dd.agg(hll_build(col("text")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(again.sameElements(whole))
  }

  test("sketch trio edge cases: nulls, constants, empties") {
    import graft.functions.{HllSketch, KllSketch, MgSketch}
    import graft.functions.HllSketch._
    import graft.functions.KllSketch._
    import graft.functions.MgSketch._
    // all-null column: HLL estimate 0 (all registers zero -> linear
    // counting of m/m), MG summary empty, KLL quantile NaN
    val nulls = Seq.fill(100)(Option.empty[String]).toDF("v")
    val hn = nulls.agg(hll_build(col("v")).as("sk"))
      .select(hll_estimate(col("sk"))).head.getDouble(0)
    assert(hn == 0.0, s"null HLL est $hn")
    val mn = nulls.agg(mg_build(col("v"), 4).as("sk")).head.getAs[Array[Byte]](0)
    assert(MgSketch.deserialize(mn).isEmpty)
    val kn = Seq.fill(10)(Option.empty[java.lang.Double]).toDF("v")
      .agg(kll_build(col("v")).as("sk"))
      .select(kll_quantile(col("sk"), 0.5)).head.getDouble(0)
    assert(kn.isNaN)
    // constant column: every quantile IS the constant, distinct est 1,
    // the single MG key carries the full exact count
    val const = Seq.fill(5000)(42.0).toDF("v")
    for (q <- Seq(0.0, 0.25, 0.5, 1.0))
      assert(const.agg(kll_build(col("v")).as("sk"))
        .select(kll_quantile(col("sk"), q)).head.getDouble(0) == 42.0)
    val h1 = Seq.fill(1000)("same").toDF("v")
      .agg(hll_build(col("v")).as("sk"))
      .select(hll_estimate(col("sk"))).head.getDouble(0)
    assert(math.abs(h1 - 1.0) < 0.5, s"constant HLL est $h1")
    val m1 = MgSketch.deserialize(Seq.fill(1000)("same").toDF("v")
      .agg(mg_build(col("v"), 4).as("sk")).head.getAs[Array[Byte]](0))
    assert(m1 == scala.collection.mutable.HashMap("same" -> 1000L))
    // heavy ties: KLL median of 90% zeros is zero
    val ties = (Seq.fill(900)(0.0) ++ Seq.fill(100)(9.0)).toDF("v")
    assert(ties.agg(kll_build(col("v")).as("sk"))
      .select(kll_quantile(col("sk"), 0.5)).head.getDouble(0) == 0.0)
  }

  test("bloom sketch: no false negatives, FP bound, split bit-parity") {
    import graft.functions.BloomSketch._
    // one-sided membership: every inserted value is found
    val vals = (0 until 2000).map(i => s"member_$i")
    val df = vals.toDF("v")
    val blob = df.agg(bloom_build(col("v")).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val probeHits = (c: Seq[String]) => {
      val p = c.toDF("p")
      p.crossJoin(df.agg(bloom_build(col("v")).as("bf")))
        .select(bloom_might_contain(col("bf"), col("p")).as("hit"))
        .filter(col("hit")).count()
    }
    assert(probeHits(vals) == vals.size, "false negative")
    // false positives bounded: observed FP rate on 10k non-members stays
    // within 3x of (1 - e^(-kn/m))^k at n=2000, m=2^16, k=6
    val nonMembers = (0 until 10000).map(i => s"absent_$i")
    val fp = probeHits(nonMembers).toDouble / nonMembers.size
    val theory = math.pow(1 - math.exp(-6.0 * 2000 / (1 << 16)), 6)
    assert(fp <= 3 * theory + 1e-6, s"fp=$fp theory=$theory")
    // OR-merge monoid: partition-merge equals the whole build bit for bit
    for (parts <- Seq(2, 7)) {
      val merged = df
        .groupBy(pmod(xxhash64(col("v")), lit(parts.toLong)).as("part"))
        .agg(bloom_build(col("v")).as("bf"))
        .agg(bloom_merge(col("bf")).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      assert(merged.sameElements(blob), s"$parts-way split diverged")
    }
    // geometry mismatch is an error, never a silent wrong merge
    val other = df.agg(bloom_build(col("v"), 1 << 10, 4).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val ex = intercept[Exception] {
      Seq(blob, other).toDF("bf").agg(bloom_merge(col("bf"))).head
    }
    assert(ex.getMessage.contains("geometry") ||
      Option(ex.getCause).exists(_.getMessage.contains("geometry")))
    // storability: blobs survive parquet cold and the SQL surface agrees
    val tmp = graft.engine.Artifacts.scratchDir("bloom_store").toString
    df.agg(bloom_build(col("v")).as("bf")).write.mode("overwrite").parquet(tmp)
    val cold = spark.read.parquet(tmp).head.getAs[Array[Byte]]("bf")
    assert(cold.sameElements(blob))
    // SQL surface: the session already exists, so register what
    // GraftExtensions injects into it (LayoutSpec pattern)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions()(ext)
    org.apache.spark.sql.graftshim.registerFunctions(ext, spark)
    df.createOrReplaceTempView("bloom_src")
    val viaSql = spark.sql(
      "SELECT bloom_might_contain(bloom_build(v), 'member_7') FROM bloom_src")
      .head.getBoolean(0)
    assert(viaSql)
    // the declared rollup: bloom answers dominate their exact twins
    // (one-sided), and at this fill they are EQUAL (no observed FP)
    val roll = graft.SparkEntry.queries("sketch_bloom_rollup")(spark, sf)
      .collect()
    assert(roll.nonEmpty)
    roll.foreach { r =>
      (0 until 6).foreach { i =>
        val b = r.getLong(2 + 2 * i); val e = r.getLong(3 + 2 * i)
        assert(b >= e, s"false negative in rollup: $r")
        assert(b == e, s"observed FP at tiny fill: $r")
      }
    }
  }

  test("theta sketch: exact regime, split bit-parity, sampled error bounds") {
    import graft.functions.ThetaSketch._
    // storable monoid law: merging arbitrary partition sketches equals
    // the whole-corpus sketch bit for bit, even in the SAMPLED regime
    // (k=64 < 500 docs), and rebuilding is deterministic
    val dd = graft.engine.Tables.documents(spark, sf)
    val whole = dd.agg(theta_build(col("text"), 64).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    for (parts <- Seq(1L, 7L, 32L)) {
      val merged = dd.groupBy(pmod(col("doc_id"), lit(parts)).as("part"))
        .agg(theta_build(col("text"), 64).as("sk"))
        .agg(theta_merge(col("sk")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
      assert(merged.sameElements(whole), s"$parts-way split diverged")
    }
    assert(dd.agg(theta_build(col("text"), 64).as("sk"))
      .head.getAs[Array[Byte]]("sk").sameElements(whole))
    // k ABOVE the merge buffer's DefaultK (the r7 ADVICE defect: update
    // folded into a k=1024 buffer, silently truncating k=8192 sketches
    // 8×): split-merge must stay bit-parity with the whole-corpus build
    val bigK = spark.range(0, 5000).select(col("id").as("v"))
    val wholeBigK = bigK.agg(theta_build(col("v"), 8192).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val mergedBigK = bigK.groupBy(pmod(col("v"), lit(7)).as("part"))
      .agg(theta_build(col("v"), 8192).as("sk"))
      .agg(theta_merge(col("sk")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(mergedBigK.sameElements(wholeBigK), "k=8192 merge truncated")
    // 5000 < 8192 ⇒ still the exact regime: the estimate is exact,
    // which a 1024-entry truncation could not produce
    assert(Seq(Tuple1(mergedBigK)).toDF("a")
      .select(theta_estimate(col("a"))).head.getDouble(0) == 5000.0)
    // exact regime (k ≥ set sizes): every set-algebra answer is exact.
    // A = {0..299}, B = {200..499}: |A∩B|=100, |A∖B|=200, |A∪B|=500
    val ab = ((0 until 300).map(i => ("a", i.toLong)) ++
              (200 until 500).map(i => ("b", i.toLong))).toDF("s", "v")
      .groupBy("s").agg(theta_build(col("v")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val exactRow = Seq((ab("a"), ab("b"))).toDF("a", "b")
      .select(theta_intersect(col("a"), col("b")),
        theta_anotb(col("a"), col("b")),
        theta_jaccard(col("a"), col("b")),
        theta_estimate(theta_union(col("a"), col("b"))),
        theta_estimate(col("a"))).head
    assert(exactRow.getDouble(0) == 100.0 && exactRow.getDouble(1) == 200.0)
    assert(exactRow.getDouble(2) == 100.0 / 500.0)
    assert(exactRow.getDouble(3) == 500.0 && exactRow.getDouble(4) == 300.0)
    // sampled regime (60k/90k values ≫ k=1024, rsd ≈ 3%): A = [0,60k),
    // B = [30k,90k) — estimates inside 5σ-ish gates
    val big = (spark.range(0, 60000).select(lit("x").as("s"), col("id").as("v"))
        union spark.range(30000, 90000).select(lit("y").as("s"), col("id").as("v")))
      .groupBy("s").agg(theta_build(col("v")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val bigRow = Seq((big("x"), big("y"))).toDF("a", "b")
      .select(theta_estimate(col("a")),
        theta_intersect(col("a"), col("b")),
        theta_anotb(col("a"), col("b")),
        theta_jaccard(col("a"), col("b")),
        theta_estimate(theta_union(col("a"), col("b")))).head
    assert(math.abs(bigRow.getDouble(0) - 60000) <= 0.10 * 60000, s"A est ${bigRow.getDouble(0)}")
    assert(math.abs(bigRow.getDouble(1) - 30000) <= 0.20 * 30000, s"A∩B est ${bigRow.getDouble(1)}")
    assert(math.abs(bigRow.getDouble(2) - 30000) <= 0.20 * 30000, s"A∖B est ${bigRow.getDouble(2)}")
    assert(math.abs(bigRow.getDouble(3) - 1.0 / 3) <= 0.06, s"jaccard ${bigRow.getDouble(3)}")
    assert(math.abs(bigRow.getDouble(4) - 90000) <= 0.10 * 90000, s"A∪B est ${bigRow.getDouble(4)}")
    // edges: all-null builds an empty (exact zero) sketch; empty sets
    // intersect/estimate to exactly zero
    val nullSk = Seq.fill(50)(Option.empty[String]).toDF("v")
      .agg(theta_build(col("v")).as("sk")).head.getAs[Array[Byte]]("sk")
    val nullRow = Seq((nullSk, ab("a"))).toDF("a", "b")
      .select(theta_estimate(col("a")), theta_intersect(col("a"), col("b")),
        theta_jaccard(col("a"), col("a"))).head
    assert(nullRow.getDouble(0) == 0.0 && nullRow.getDouble(1) == 0.0)
    assert(nullRow.getDouble(2) == 0.0) // empty/empty Jaccard defined as 0
    // the storable contract end-to-end: per-source blobs through parquet
    // cold, re-read, pairwise ops unchanged vs in-memory
    val tmp = graft.engine.Artifacts.scratchDir("theta_store").toString
    val toks = dd.select(col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    toks.groupBy("source").agg(theta_build(col("tok")).as("sk"))
      .write.mode("overwrite").parquet(tmp)
    val cold = spark.read.parquet(tmp)
    val inMem = toks.groupBy("source").agg(theta_build(col("tok")).as("sk"))
    def pairSum(df: org.apache.spark.sql.DataFrame): Double = {
      val a = df.select(col("source").as("sa"), col("sk").as("ka"))
      val b = df.select(col("source").as("sb"), col("sk").as("kb"))
      a.crossJoin(b).filter(col("sa") < col("sb"))
        .select(theta_intersect(col("ka"), col("kb")).as("i"))
        .agg(sum(col("i"))).head.getDouble(0)
    }
    assert(pairSum(cold) == pairSum(inMem))
  }

  test("theta sketch matches a brute-force KMV reference on random data") {
    import graft.functions.ThetaSketch
    import graft.functions.ThetaSketch._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    // reference model: the canonical blob is fully determined by the
    // sorted distinct masked hashes of the input — θ = k-th smallest
    // (or 2⁶³−1 if fewer), live = the entries strictly below θ
    def reference(vals: Seq[Long], k: Int): (Long, Seq[Long]) = {
      val hs = vals.map(v => XxHash64Function.hash(v, LongType, 42L) & Long.MaxValue)
        .distinct.sorted
      if (hs.length < k) (Long.MaxValue, hs)
      else (hs(k - 1), hs.take(k - 1))
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 6) {
      val n = 50 + rnd.nextInt(3000)
      val k = Seq(16, 64, 256)(trial % 3)
      // duplicates on purpose: values drawn from a range smaller than n
      val vals = Seq.fill(n)(rnd.nextInt(n / 2 + 10).toLong)
      val parts = 1 + rnd.nextInt(8)
      val blob = vals.zipWithIndex.toDF("v", "i")
        .groupBy(pmod(col("i"), lit(parts)))
        .agg(ThetaSketch.theta_build(col("v"), k).as("sk"))
        .agg(ThetaSketch.theta_merge(col("sk")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
      val got = ThetaSketch.deser(blob)
      val (theta, live) = reference(vals, k)
      assert(got.theta == theta && got.vs.toSeq == live,
        s"trial $trial n=$n k=$k parts=$parts diverged")
    }
    // mixed-k merges take the MIN k (the only sound semantic: a wider
    // sketch can always be narrowed, never the reverse) — via both the
    // aggregate and the row-wise union
    val wide = spark.range(0, 2000)
      .agg(ThetaSketch.theta_build(col("id"), 256).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val narrow = spark.range(1000, 3000)
      .agg(ThetaSketch.theta_build(col("id"), 64).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    val refUnion = reference((0L until 3000L), 64)
    val viaAgg = ThetaSketch.deser(
      Seq(wide, narrow).map(Tuple1(_)).toDF("sk")
        .agg(ThetaSketch.theta_merge(col("sk")).as("sk"))
        .head.getAs[Array[Byte]]("sk"))
    val viaPair = ThetaSketch.deser(
      Seq((wide, narrow)).toDF("a", "b")
        .select(ThetaSketch.theta_union(col("a"), col("b")).as("sk"))
        .head.getAs[Array[Byte]]("sk"))
    for ((got, how) <- Seq((viaAgg, "merge agg"), (viaPair, "pair union"))) {
      assert(got.k == 64, how)
      assert(got.theta == refUnion._1 && got.vs.toSeq == refUnion._2, how)
    }
  }

  test("corpus sketch report: every estimate bounded by its exact twin") {
    val rows = graft.SparkEntry.queries("corpus_sketch_report")(spark, sf).collect()
    assert(rows.nonEmpty)
    // exact modes per source, computed independently (ties -> min key,
    // matching the report's argmax tie-break)
    val docs = graft.engine.Tables.documents(spark, sf)
    val modes = docs.groupBy(col("source"), col("lang")).count().collect()
      .groupBy(_.getString(0)).map { case (src, rs) =>
        src -> rs.map(r => (r.getString(1), r.getLong(2)))
          .sortBy { case (k, c) => (-c, k) }.head._1
      }
    rows.foreach { r =>
      val src = r.getString(0)
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(est - exact) <= math.max(0.05 * exact, 3.0),
        s"$src distinct: est=$est exact=$exact")
      assert(r.getString(3) == modes(src),
        s"$src top_lang=${r.getString(3)} expected ${modes(src)}")
      // median estimate within the rank gate is covered by the kll spec;
      // here just bound it within the source's min/max
      val stats = docs.filter(col("source") === src)
        .agg(min(col("n_chars")), max(col("n_chars"))).head
      assert(r.getDouble(4) >= stats.getLong(0).toDouble &&
        r.getDouble(4) <= stats.getLong(1).toDouble)
      // theta member: exhaustive at per-source cardinality ⇒ EXACT
      assert(r.getLong(6) == r.getLong(2),
        s"$src theta_distinct=${r.getLong(6)} exact=${r.getLong(2)}")
    }
  }

  test("kll sketch: rank error <= 3% at the quartiles, under any split") {
    import graft.functions.KllSketch._
    val dd = graft.engine.Tables.documents(spark, sf)
      .select(col("n_chars").cast("double").as("v"))
    val vals = dd.collect().map(_.getDouble(0)).sorted
    val n = vals.length.toDouble
    // two-sided rank check (tie-safe): the estimated quantile's strict
    // rank must sit below q+eps and its inclusive rank above q-eps.
    // k=200 -> theoretical eps well under 1%; gate at 3%
    def rankCheck(est: Double, q: Double, ctx: String): Unit = {
      val lo = vals.count(_ < est) / n
      val hi = vals.count(_ <= est) / n
      assert(lo <= q + 0.03 && hi >= q - 0.03,
        s"$ctx q=$q est=$est lo=$lo hi=$hi")
    }
    for (parts <- Seq(1, 7, 32)) {
      val sk = dd.repartition(parts)
        .agg(kll_build(col("v")).as("sk")).head.getAs[Array[Byte]]("sk")
      val buf = graft.functions.KllSketch.deserialize(sk)
      assert(buf.n == vals.length.toLong)
      for (q <- Seq(0.25, 0.5, 0.75))
        rankCheck(graft.functions.KllSketch.quantile(buf, q), q, s"parts=$parts")
      // storable path: per-split blobs re-merged keep the bound
      val remerged = dd.repartition(parts)
        .withColumn("part", pmod(crc32(col("v").cast("string")), lit(5)))
        .groupBy(col("part")).agg(kll_build(col("v")).as("sk"))
        .agg(kll_merge(col("sk")).as("sk"))
        .head.getAs[Array[Byte]]("sk")
      val m = graft.functions.KllSketch.deserialize(remerged)
      assert(m.n == vals.length.toLong)
      for (q <- Seq(0.25, 0.5, 0.75))
        rankCheck(graft.functions.KllSketch.quantile(m, q), q, s"remerged parts=$parts")
    }
  }

  test("mg sketch: no heavy key missed, counts are lower bounds, under any split") {
    import graft.functions.MgSketch._
    // vocab (500) >> cap (20): the streaming decrement AND the merge's
    // (cap+1)-th-largest subtraction both actually fire — unlike the
    // rollup query's corpus, whose 31-token vocab fits any cap
    val heavy = (0 until 4).flatMap(h => Seq.fill(400)(s"heavy_$h"))
    val tail = (0 until 496).flatMap(t => Seq.fill(3)(s"tail_$t"))
    val data = new scala.util.Random(7).shuffle(heavy ++ tail)
    val n = data.size.toLong
    val cap = 20
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    for (parts <- Seq(1, 7, 32)) {
      val df = data.toDF("tok").repartition(parts)
      val sk = df.agg(mg_build(col("tok"), cap).as("sk"))
        .head.getAs[Array[Byte]]("sk")
      val entries = graft.functions.MgSketch.deserialize(sk)
      assert(entries.size <= cap)
      // MG guarantee over the merged partials: every key with true count
      // > n/(cap+1) survives, and every reported count is a lower bound
      // with deficit <= n/(cap+1)
      val bound = n.toDouble / (cap + 1)
      exact.foreach { case (k, c) =>
        if (c > bound) assert(entries.contains(k), s"missed heavy $k ($c > $bound) at parts=$parts")
      }
      entries.foreach { case (k, c) =>
        val t = exact(k)
        assert(c <= t, s"$k: sketch count $c above true $t")
        assert(t - c <= bound + 1, s"$k: deficit ${t - c} beyond $bound")
      }
      // storable path: per-split blobs re-merged with mg_merge keep the
      // same guarantee
      val remerged = df.withColumn("part", pmod(crc32(col("tok")), lit(5)))
        .groupBy(col("part")).agg(mg_build(col("tok"), cap).as("sk"))
        .agg(mg_merge(col("sk"), cap).as("sk"))
        .head.getAs[Array[Byte]]("sk")
      val m2 = graft.functions.MgSketch.deserialize(remerged)
      exact.foreach { case (k, c) =>
        if (c > bound) assert(m2.contains(k), s"merge missed heavy $k at parts=$parts")
      }
    }
  }

  test("embedding LSH hot-bucket cut drops only the degenerate cell's pairs") {
    // A mass-duplicate cluster (every copy identical → same bucket in
    // EVERY band) is exactly the skew the maxBucket df-cut exists for:
    // its cell would contribute m² candidates per band while
    // discriminating nothing. Build 300 identical vectors (plus a near
    // neighbor and an orthogonal outlier) and check that a small cap
    // cuts every pair riding through the mega-cell, while the default
    // cap recovers the full clique.
    val dim = 8
    val base = Array.fill(dim)(0.5f)
    val near = base.clone(); near(0) = 0.55f
    val other = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows =
      (0L until 300L).map(i => (i, base)) ++
        Seq((1000L, near), (2000L, other))
    val emb = rows.toDF("vec_id", "embedding")
    def pairs(cap: Int): Set[(Long, Long)] =
      graft.ann.Similarity.nearDupPairsLsh(
        emb, 0.9, dim = dim, planes = 4, bands = 16, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cut = pairs(100)
    // base×base and base×near pairs ride through the 300-member cell and
    // are dropped by the cap; nothing else shares a full-band bucket at
    // these sizes reliably, so only cluster-free survivors remain
    assert(!cut.exists { case (a, b) => a < 300L && b < 300L },
      s"mega-cluster pair survived the cut: $cut")
    val uncut = pairs(10000)
    assert(uncut.exists { case (a, b) => a < 300L && b < 300L },
      s"default cap should keep the cluster pairs, got ${uncut.size}")
    // the identical-vector clique is fully recovered when uncut
    assert(uncut.size >= 300 * 299 / 2,
      s"expected the full 300-clique, got ${uncut.size}")
  }

  test("sampled row-at-position lands within N/res of the target rank") {
    import graft.operators.{Find, NextK}
    val li = graft.engine.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val n = li.count()
    val order = Seq(NextK.Order("l_extendedprice"), NextK.Order("l_orderkey"),
      NextK.Order("l_linenumber"))
    val res = 30 // small enough that the sample is a real subset at sf0.001
    val position = n / 2
    val row = Find.rowAtPositionSampled(li, order, position, resolution = res).head()
    val (price, okey, lnum) = (row.getDouble(2), row.getLong(0), row.getInt(1))
    // true rank of the returned row = #rows strictly before it
    val rank = li.filter(
      col("l_extendedprice") < price ||
        (col("l_extendedprice") === price && col("l_orderkey") < okey) ||
        (col("l_extendedprice") === price && col("l_orderkey") === okey &&
          col("l_linenumber") < lnum)).count()
    val tol = 4.0 * n / res
    assert(math.abs(rank - position) <= tol, s"rank=$rank pos=$position tol=$tol")
  }

  test("dp_noisy_nextk: page equals zero-noise twin, noise keyed + deterministic") {
    // the quantized page itself must be IDENTICAL to the oracled
    // zero-noise twin (noise touches only rowsScanned —
    // NextKSketchNoisy.java:27 adds it to rowsScanned alone)
    val exact = SparkEntry.queries("dp_quantized_nextk")(spark, sf).collect()
    val noisy = SparkEntry.queries("dp_noisy_nextk")(spark, sf).collect()
    assert(exact.length == noisy.length && exact.nonEmpty)
    exact.zip(noisy).foreach { case (e, n) =>
      assert(e.getDouble(0) == n.getDouble(0) && e.getLong(1) == n.getLong(1))
    }
    // one shared TotalCount noise variable across the whole page
    val noises = exact.zip(noisy).map { case (e, n) =>
      n.getDouble(2) - e.getLong(2) }.distinct
    assert(noises.length == 1, s"expected one shared noise, got $noises")
    assert(noises.head != 0.0) // scale 5.0 ⇒ nonzero with prob 1
    // HMAC-keyed noise is deterministic: same key, same value
    val again = SparkEntry.queries("dp_noisy_nextk")(spark, sf).collect()
    assert(noisy.map(_.getDouble(2)).toSeq == again.map(_.getDouble(2)).toSeq)
  }

  test("dp_sample_quantile lands within N/res of the exact quantized twin") {
    import graft.operators.{Find, NextK}
    val li = graft.engine.Tables.lineitem(spark, sf).select(
      graft.functions.Quantization
        .quantize(col("l_extendedprice"), 10000.0).as("qvalue"),
      col("l_orderkey"), col("l_linenumber"))
    val n = li.count()
    val order = Seq(NextK.Order("qvalue"), NextK.Order("l_orderkey"),
      NextK.Order("l_linenumber"))
    val res = 30
    val position = n / 2
    val row = Find.rowAtPositionSampled(li, order, position, resolution = res).head()
    val (qv, okey, lnum) = (row.getDouble(0), row.getLong(1), row.getInt(2))
    val rank = li.filter(
      col("qvalue") < qv ||
        (col("qvalue") === qv && col("l_orderkey") < okey) ||
        (col("qvalue") === qv && col("l_orderkey") === okey &&
          col("l_linenumber") < lnum)).count()
    val tol = 4.0 * n / res
    assert(math.abs(rank - position) <= tol, s"rank=$rank pos=$position tol=$tol")
  }

  test("seeded sample size concentrates around rate and is deterministic") {
    val li = graft.engine.Tables.lineitem(spark, sf)
    val n = li.count().toDouble
    val s1 = li.sample(withReplacement = false, 0.1, 42L).count()
    val s2 = li.sample(withReplacement = false, 0.1, 42L).count()
    assert(s1 == s2) // same seed, same partitioning → same sample
    assert(math.abs(s1 - 0.1 * n) < 5 * math.sqrt(0.1 * 0.9 * n), s"s1=$s1 n=$n")
  }

  test("stratified sample: per-stratum proportions near fractions, deterministic") {
    val orders = graft.engine.Tables.orders(spark, sf)
    val fr = Map("1-URGENT" -> 0.8, "2-HIGH" -> 0.2, "3-MEDIUM" -> 0.5)
    val take1 = graft.pipeline.Pipeline.stratifiedSample(orders, "o_orderpriority", fr)
    val take2 = graft.pipeline.Pipeline.stratifiedSample(orders, "o_orderpriority", fr)
    assert(take1.count() == take2.count()) // seeded → reproducible
    val totals = orders.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = take1.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == fr.keySet) // unlisted strata drop entirely
    fr.foreach { case (k, f) =>
      val n = totals(k).toDouble
      val tol = 5 * math.sqrt(f * (1 - f) * n)
      assert(math.abs(kept(k) - f * n) <= tol,
        s"stratum $k kept=${kept(k)} expected=${f * n} ± $tol")
    }
  }

  test("BPE training: merges == independent reference, train→encode loop shrinks tokens") {
    import graft.text.BpeTrainer
    val docs = graft.engine.Tables.documents(spark, sf)
    // independent plain-Scala reference trainer over the collected
    // word-count map (argmax by count desc then lexicographic pair)
    val wc = docs.select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    def refTrain(n: Int): Seq[(String, String)] = {
      var words: Map[String, List[String]] =
        wc.keys.map(w => w -> w.toList.map(_.toString)).toMap
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var continue = true
      while (out.size < n && continue) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (w, syms) =>
          syms.zip(syms.tail).foreach { p =>
            pc(p) = pc.getOrElse(p, 0L) + wc(w)
          }
        }
        if (pc.isEmpty) continue = false
        else {
          val best = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += best
          val (a, b) = best
          words = words.view.mapValues { syms =>
            val r = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                r += a + b; i += 2
              } else { r += syms(i); i += 1 }
            }
            r.toList
          }.toMap
        }
      }
      out.toSeq
    }
    val learned = BpeTrainer.trainMerges(docs, 10)
    assert(learned == refTrain(10),
      s"engine=$learned reference=${refTrain(10)}")
    // partition invariance: the pair counts are a commutative aggregate
    assert(BpeTrainer.trainMerges(docs.repartition(17), 10) == learned)
    // continuation is a pure suffix: resuming from the first 5 shipped
    // merges learns exactly the last 5 (the incremental-update path)
    assert(BpeTrainer.continueMerges(docs, learned.take(5), 5) == learned)
    // train→encode loop: the learned vocab drives the encoder and
    // strictly shrinks the corpus token count vs char-level fallback
    val vocab = BpeTrainer.vocabFromMerges(learned)
    assert(vocab.nonEmpty && learned.forall { case (a, b) => vocab.contains(a + b) })
    val withVocab = docs.agg(sum(
      graft.functions.BpeTokenizer.bpe_count(lower(col("text")), vocab))).head.getLong(0)
    val charLevel = docs.agg(sum(
      graft.functions.BpeTokenizer.bpe_count(lower(col("text")),
        Seq("\u0001")))).head.getLong(0) // never-matching vocab entry ⇒ 1 token/char
    assert(withVocab < charLevel,
      s"learned vocab did not compress: $withVocab vs $charLevel")
  }

  test("packed batches: doc_offsets slice input_ids into exact per-doc encodes") {
    import graft.text.TextAnalysis
    val docs = graft.engine.Tables.documents(spark, sf)
    val packed = TextAnalysis.packedSequenceIds(docs, 2048L)
      .collect()
    val encodes = docs.select(
        TextAnalysis.bpeEncodeIds(col("text")).as("ids"))
      .collect().map(_.getSeq[Int](0).toSeq)
    val encodeSet = encodes.toSet
    var slices = 0
    packed.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val total = r.getAs[Long]("total_tokens")
      val ids = r.getSeq[Int](r.fieldIndex("input_ids"))
      val offs = r.getSeq[Int](r.fieldIndex("doc_offsets"))
      assert(offs.length == nDocs + 1 && offs.head == 0 &&
        offs.last.toLong == total && ids.length.toLong == total,
        s"offset frame broken: nDocs=$nDocs total=$total offs=$offs")
      assert(offs.zip(offs.tail).forall { case (a, b) => a < b },
        s"offsets not strictly increasing: $offs")
      offs.zip(offs.tail).foreach { case (a, b) =>
        val slice = ids.slice(a, b).toSeq
        assert(encodeSet.contains(slice),
          s"slice [$a,$b) is not any document's encode")
        slices += 1
      }
    }
    // every document appears exactly once across all bins
    assert(slices == encodes.length && slices > 0)
  }

  test("BPE tokenizer: differential fuzz vs independent reference, invariants") {
    import graft.functions.BpeTokenizer
    val vocab = BpeTokenizer.defaultVocab
    // independent reference: per-word linear scan over the vocab list
    // (no trie, no shared code with the expression)
    def refBpe(text: String): Long =
      text.split(" ", -1).filter(_.nonEmpty).map { w =>
        var pos = 0; var n = 0L
        while (pos < w.length) {
          var best = 0
          vocab.foreach { v =>
            if (v.length > best && w.startsWith(v, pos)) best = v.length }
          // fallback consumes a whole codepoint (astral = ONE token)
          pos += (if (best > 0) best else Character.charCount(w.codePointAt(pos)))
          n += 1
        }
        n
      }.sum
    // hand anchors (greedy longest-match, fallback chars): "join" is a
    // whole-vocab word; "batch" = ba+tch; "merge" = mer+g+e... no — mer,
    // then 'g' fallback, then 'e'? 'er' can't start at 'g'. = 3; "spark"
    // has no vocab prefix at any position = 5 single chars
    assert(refBpe("join") == 1L && refBpe("batch") == 2L &&
      refBpe("merge") == 3L && refBpe("spark") == 5L)
    val rnd = new scala.util.Random(8080L)
    // non-ASCII frags exercise the UTF-8 byte walk's fallback at every
    // width: é (2-byte), 日 (3-byte), 𝄞/📊 (4-byte, astral — one token
    // per CODEPOINT, where a UTF-16 walk would emit two surrogate ids)
    val frags = vocab ++ Seq("z", "x", "9", "%", "qq", "é", " ", "  ", "zz",
      "日", "𝄞", "📊", "über", "θ日𝄞")
    def genText(): String =
      (0 until (1 + rnd.nextInt(12))).map { _ =>
        (0 until (1 + rnd.nextInt(4)))
          .map(_ => frags(rnd.nextInt(frags.size))).mkString
      }.mkString(" ")
    val texts = Seq("", " ", "   ", "a", "the the", "zzz") ++
      (0 until 200).map(_ => genText())
    // independent IDS reference: per-word linear ARGMAX scan (first
    // index of the longest match — unique, since equal-length matches
    // at one position are the same string)
    def refIds(text: String): Seq[Int] =
      text.split(" ", -1).filter(_.nonEmpty).toSeq.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var pos = 0
        while (pos < w.length) {
          var best = 0; var bi = -1
          // matches at one position form a prefix chain, so "longest"
          // agrees across UTF-16/byte/codepoint metrics
          vocab.zipWithIndex.foreach { case (v, i) =>
            if (v.length > best && w.startsWith(v, pos)) {
              best = v.length; bi = i
            }
          }
          if (best > 0) { out += bi; pos += best }
          else {
            val cp = w.codePointAt(pos) // fallback id is per CODEPOINT
            out += vocab.size + cp
            pos += Character.charCount(cp)
          }
        }
        out.toSeq
      }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = df.select(col("id"), BpeTokenizer.bpe_count(col("t")).as("n"),
        BpeTokenizer.bpe_encode(col("t")).as("ids"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2).toSeq))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (n, ids) = got(i.toLong)
      val expect = refBpe(t)
      assert(n == expect, s"text '$t': compiled=$n reference=$expect")
      assert(ids == refIds(t),
        s"text '$t': ids=$ids reference=${refIds(t)}")
      assert(ids.length.toLong == n, s"count/encode disagree for '$t'")
      // invariants: one token per word at least, one per non-space
      // char at most (the 'é' fragment is 1 char, matched by fallback)
      val words = t.split(" ", -1).count(_.nonEmpty)
      val chars = t.count(_ != ' ')
      assert(n >= words && n <= chars, s"bounds violated for '$t'")
    }
    // decode∘encode == input minus spaces, on every fuzz text
    val rt = df.select(col("id"),
        BpeTokenizer.bpe_decode(BpeTokenizer.bpe_encode(col("t"))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rt(i.toLong) == t.replace(" ", ""),
        s"round trip broke for '$t': '${rt(i.toLong)}'")
    }
    // corrupted id sequences decode to null, not silence
    val bad = Seq((1L, Array(-1))).toDF("id", "ids")
      .select(BpeTokenizer.bpe_decode(col("ids"))).collect()
    assert(bad.head.isNullAt(0))
    // null propagates
    val nulls = Seq((1L, null: String)).toDF("id", "t")
      .select(BpeTokenizer.bpe_count(col("t"))).collect()
    assert(nulls.head.isNullAt(0))
    // pathological inputs: a long single word stays linear (the trie
    // walk restarts per token, bounded by max vocab entry length, so
    // cost is O(len · maxEntry) worst case — not O(len²)). Gate on the
    // RATIO between two sizes, not a wall-clock bound: a loaded host
    // slows both sides equally, while a quadratic walk shows up as
    // ~100× for the 10× input (linear ≈ 10×; threshold 35× allows
    // constant-term and cache noise).
    val trie = new graft.functions.BpeTrie(vocab.toArray)
    val small = "customer" * 2500  // 20k chars
    val big = "customer" * 25000   // 200k chars, 10× the input
    def minNanos(s: String, reps: Int): Long =
      (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        trie.count(s)
        System.nanoTime() - t0
      }.min
    minNanos(big, 2) // JIT warmup on the large input
    val tSmall = minNanos(small, 5).max(1L)
    val tBig = minNanos(big, 5)
    assert(trie.count(small) == 2500L && trie.count(big) == 25000L)
    val ratio = tBig.toDouble / tSmall
    assert(ratio < 35.0,
      s"10x input took ${ratio}x the time — superlinear walk? " +
        s"(small=${tSmall}ns big=${tBig}ns)")
    val overlapping = new graft.functions.BpeTrie(
      Array("a", "ab", "abc", "abcd", "abcde", "b", "bc", "c"))
    assert(overlapping.count("abcde") == 1L)   // deepest entry wins
    assert(overlapping.count("abcdx") == 2L)   // abcd + fallback x
    assert(overlapping.encode("abcde").toSeq == Seq(4))
    assert(overlapping.encode("abcdx").toSeq == Seq(3, 8 + 'x'.toInt))
  }

  test("byte-level BPE: GPT-2 alphabet bijection, leading-space merges, ASCII agreement") {
    import graft.functions.BpeTokenizer
    // the bytes-to-unicode table is a bijection onto printable stand-ins
    val tbl = BpeTokenizer.bytesToUnicode
    assert(tbl.distinct.length == 256)
    assert(tbl('a'.toInt) == 'a'.toInt && tbl('!'.toInt) == '!'.toInt &&
      tbl(0xff) == 0xff)
    assert(tbl(' '.toInt) == 0x120 && tbl('\n'.toInt) == 0x10a) // Ġ, Ċ
    // a 2-byte codepoint expands to one stand-in unit PER BYTE
    assert(BpeTokenizer.byteEncodeString("é").length == 2)
    val byteTrie = new graft.functions.BpeTrie(BpeTokenizer.byteVocab.toArray)
    def bcount(s: String): Long =
      byteTrie.count(BpeTokenizer.byteEncodeString(s))
    // the leading-space merge: " the" is ONE token (Ġthe), the GPT-2
    // vocab shape the word-level path could not express
    assert(bcount(" the") == 1L)
    // whitespace/control runs tokenize authentically — never 0 tokens
    assert(bcount("   ") == 3L && bcount("\n") == 1L && bcount("\t\t") == 2L)
    // ASCII-agreement fuzz (the r13 done-criterion): on space-free
    // printable ASCII the byte alphabet is the identity and the Ġ-forms
    // can never match, so the byte path must equal the word path exactly
    val wordTrie = new graft.functions.BpeTrie(BpeTokenizer.defaultVocab.toArray)
    val rnd = new scala.util.Random(414L)
    (1 to 300).foreach { _ =>
      val w = (1 to 1 + rnd.nextInt(12))
        .map(_ => (33 + rnd.nextInt(94)).toChar).mkString
      assert(bcount(w) == wordTrie.count(w), s"byte/word disagree on '$w'")
    }
    (1 to 100).foreach { _ =>
      val w = (1 to 1 + rnd.nextInt(4)).map(_ =>
        BpeTokenizer.defaultVocab(
          rnd.nextInt(BpeTokenizer.defaultVocab.size))).mkString
      assert(bcount(w) == wordTrie.count(w), s"byte/word disagree on '$w'")
    }
  }

  test("byte-level BPE round trip is the identity on arbitrary byte content") {
    import graft.functions.BpeTokenizer
    import org.apache.spark.sql.types.StringType
    import spark.implicits._
    def roundTrip(df: org.apache.spark.sql.DataFrame) = df.select(
      col("t"),
      BpeTokenizer.byte_unicode_decode(
        BpeTokenizer.bpe_decode(
          BpeTokenizer.bpe_encode(
            BpeTokenizer.byte_unicode(col("t")), BpeTokenizer.byteVocab),
          BpeTokenizer.byteVocab)).as("rt"))
    val rnd = new scala.util.Random(909L)
    val frags = Seq(" the", "  ", "\t", "\n", "Mixed CASE", "é", "日本",
      "𝄞", "a'b", "the data", "", " x", "~!@#")
    val texts = (0 until 200).map { _ =>
      (0 until 1 + rnd.nextInt(6)).map(_ => frags(rnd.nextInt(frags.size)))
        .mkString
    } ++ frags
    val out = roundTrip(texts.toDF("t")).collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"round trip broke: '${r.getString(0)}' -> '${r.getString(1)}'")
    }
    // the decode side REJECTS codepoints outside the 324-char alphabet
    // instead of silently skipping them
    val e = intercept[Exception] {
      Seq("ZZ").toDF("t")
        .select(BpeTokenizer.byte_unicode_decode(lit("日")).as("x")).collect()
    }
    assert(e.getMessage != null)
  }

  test("BPE tokenizer: UTF-8 vocab differential fuzz (multilingual entries, astral fallback)") {
    import graft.functions.BpeTokenizer
    // non-ASCII VOCAB entries at every UTF-8 width, plus overlap chains
    // (θ vs θe, 日 vs 日本) so byte-level longest-match is exercised on
    // multi-byte boundaries; 𝄞x pairs an astral entry with ASCII
    val vocab = BpeTokenizer.defaultVocab ++
      Seq("θ", "θe", "ü", "über", "日", "日本", "qüry", "𝄞x")
    def refIds(text: String): Seq[Int] =
      text.split(" ", -1).filter(_.nonEmpty).toSeq.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var pos = 0
        while (pos < w.length) {
          var best = 0; var bi = -1
          vocab.zipWithIndex.foreach { case (v, i) =>
            if (v.length > best && w.startsWith(v, pos)) {
              best = v.length; bi = i
            }
          }
          if (best > 0) { out += bi; pos += best }
          else {
            val cp = w.codePointAt(pos)
            out += vocab.size + cp
            pos += Character.charCount(cp)
          }
        }
        out.toSeq
      }
    // hand anchors: θe beats θ (longest match crosses into ASCII);
    // 日本 beats 日; a lone 𝄞 is ONE fallback token with a codepoint id
    val vθe = vocab.indexOf("θe"); val v日本 = vocab.indexOf("日本")
    assert(refIds("θe") == Seq(vθe) && refIds("日本") == Seq(v日本))
    assert(refIds("𝄞") == Seq(vocab.size + 0x1D11E))
    val rnd = new scala.util.Random(4242L)
    val frags = vocab ++ Seq("z", "é", "θ", "本", "𝄞", "📊", " ", "ß", "و")
    def genText(): String =
      (0 until (1 + rnd.nextInt(10))).map { _ =>
        (0 until (1 + rnd.nextInt(4)))
          .map(_ => frags(rnd.nextInt(frags.size))).mkString
      }.mkString(" ")
    val texts = Seq("θe 日本 𝄞x", "über qüry", "𝄞📊𝄞", "日本本日") ++
      (0 until 200).map(_ => genText())
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = df.select(col("id"),
        BpeTokenizer.bpe_count(col("t"), vocab).as("n"),
        BpeTokenizer.bpe_encode(col("t"), vocab).as("ids"),
        BpeTokenizer.bpe_decode(
          BpeTokenizer.bpe_encode(col("t"), vocab), vocab).as("rt"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Int](2).toSeq, r.getString(3)))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (n, ids, rt) = got(i.toLong)
      val expect = refIds(t)
      assert(ids == expect, s"text '$t': ids=$ids reference=$expect")
      assert(n == expect.length.toLong, s"count/encode disagree for '$t'")
      // decode∘encode == input minus spaces, on UTF-8 incl astral input
      assert(rt == t.replace(" ", ""), s"round trip broke for '$t': '$rt'")
    }
  }

  test("AC automaton: CSR parity + heap gate at a 20k-term lexicon") {
    import graft.functions.{AcAutomaton, BpeTrie}
    import org.apache.spark.unsafe.types.UTF8String
    // production-blocklist-sized multilingual lexicon with shared
    // prefixes (fail-link structure), phrases, and multi-byte scripts
    val rnd = new scala.util.Random(424242L)
    val roots = Array("con", "pre", "über", "inter", "日本", "θεο",
      "trans", "sub", "slow ", "bad ", "𝄞mu", "re")
    val lexicon = (0 until 20000).map { i =>
      val sb = new StringBuilder(roots(i % roots.length))
      (0 until (1 + rnd.nextInt(5))).foreach { _ =>
        sb.append(('a' + rnd.nextInt(26)).toChar)
      }
      sb.append(i.toString)
      sb.toString
    }.distinct.toArray
    assert(lexicon.length > 19000)
    val csr = new AcAutomaton(lexicon, BpeTrie.LayoutCompact)
    assert(!csr.isFlat)
    // heap gate: CSR must stay O(edges + nodes) — at ~17 bytes/node
    // (key byte + child + offset + term/dict/fail ints amortized) a
    // 20k-term lexicon is a few MB; a forced-flat DFA would be
    // nodes × 1 KiB ≈ 150+ MB, which is exactly what CSR avoids
    val totalBytes = lexicon.map(_.getBytes("UTF-8").length.toLong).sum
    assert(csr.storageBytes < 24L * totalBytes,
      s"CSR automaton not O(edges): ${csr.storageBytes}B for " +
        s"$totalBytes lexicon bytes")
    val auto = new AcAutomaton(lexicon)
    assert(!auto.isFlat, "auto layout must pick CSR above the node threshold")
    // parity on a flat-sized slice: same counts from both walkers
    val slice = lexicon.take(150)
    val flat = new AcAutomaton(slice, BpeTrie.LayoutFlat)
    val csrSlice = new AcAutomaton(slice, BpeTrie.LayoutCompact)
    assert(flat.isFlat && !csrSlice.isFlat)
    def counts(ac: AcAutomaton, text: String): Map[Int, Long] = {
      val ad = ac.matchCounts(UTF8String.fromString(text))
      (0 until ad.numElements()).map { i =>
        val r = ad.getStruct(i, 2); r.getInt(0) -> r.getLong(1)
      }.toMap
    }
    (0 until 300).foreach { _ =>
      val text = (0 until (1 + rnd.nextInt(6))).map(_ =>
        slice(rnd.nextInt(slice.length))).mkString(
          if (rnd.nextBoolean()) " " else "")
      assert(counts(flat, text) == counts(csrSlice, text), s"'$text'")
    }
    // every lexicon term is found exactly once in itself on the 20k CSR
    lexicon.take(2000).zipWithIndex.foreach { case (t, i) =>
      val got = counts(csr, t)
      assert(got.getOrElse(i, 0L) >= 1L, s"term $i '$t' not found in itself")
    }
  }

  test("BPE trie: compact layout parity + heap gate at a 50k-entry vocab") {
    import graft.functions.BpeTrie
    // synthetic 50k-entry vocab with realistic shared prefixes (BPE
    // merges nest), mixing ASCII and multi-byte scripts
    val rnd = new scala.util.Random(515151L)
    val roots = Array("con", "pre", "über", "inter", "日本", "θεο", "trans",
      "sub", "meta", "anti", "𝄞mu", "re", "de", "un", "out", "over")
    val vocab = (0 until 50000).map { i =>
      val sb = new StringBuilder(roots(i % roots.length))
      (0 until (1 + rnd.nextInt(6))).foreach { _ =>
        sb.append(('a' + rnd.nextInt(26)).toChar)
      }
      sb.append(i.toString) // uniqueness
      sb.toString
    }.distinct.toArray
    assert(vocab.length > 49000)
    val compact = new BpeTrie(vocab, BpeTrie.LayoutCompact)
    // heap gate: the compact layout must stay O(edges). Edges ≤ total
    // entry bytes; at 12 bytes/edge (key + child + offset amortized)
    // the frozen arrays are a few MB where the flat 256-way dispatch
    // would be ~nodes*1KiB (hundreds of MB at this vocab size).
    val totalBytes = vocab.map(_.getBytes("UTF-8").length.toLong).sum
    assert(compact.storageBytes < 16L * totalBytes,
      s"compact trie not O(edges): ${compact.storageBytes}B for " +
        s"$totalBytes vocab bytes")
    val auto = new BpeTrie(vocab) // auto must pick compact at this size
    assert(auto.storageBytes == compact.storageBytes,
      "auto layout did not pick compact above the node threshold")
    // parity: flat layout on a 2k-entry slice (flat at 50k would be the
    // exact heap blowup the compact layout exists to avoid)
    val slice = vocab.take(2000)
    val flat = new BpeTrie(slice, BpeTrie.LayoutFlat)
    val compactSlice = new BpeTrie(slice, BpeTrie.LayoutCompact)
    val probes = Seq("conabc123", "über日本", "θεοxyz", "𝄞muq7",
      "presub contra", "日本本", "transqq50 overx1") ++
      (0 until 500).map(_ => vocab(rnd.nextInt(vocab.length))) ++
      (0 until 500).map(_ => slice(rnd.nextInt(slice.length)) + " zz" +
        vocab(rnd.nextInt(vocab.length)))
    probes.foreach { p =>
      assert(compactSlice.count(p) == flat.count(p), s"count parity: '$p'")
      assert(compactSlice.encode(p).toSeq == flat.encode(p).toSeq,
        s"encode parity: '$p'")
    }
    // every vocab entry round-trips to its own single id on BOTH the
    // 50k compact trie and (for the slice) the flat twin
    vocab.zipWithIndex.foreach { case (v, i) =>
      assert(compact.encode(v).toSeq == Seq(i), s"entry '$v' id")
      assert(auto.encode(v).toSeq == Seq(i), s"auto entry '$v' id")
    }
    slice.zipWithIndex.foreach { case (v, i) =>
      assert(flat.encode(v).toSeq == Seq(i))
    }
    // the auto threshold really was crossed: every entry terminates at
    // a distinct node, so nodes >= entries > the 2048-node cutoff
    assert(vocab.length > 2048)
  }

  test("planted multilingual fixture reaches the ORACLED BPE queries (non-ASCII end-to-end)") {
    // the driver corpus is 100% ASCII; the planted rows are the only
    // non-ASCII coverage on the oracled path — gate their presence and
    // their script spread (CJK, combining marks, astral) so a fixture
    // regression can't silently re-ASCII-fy the UTF-8 trie's oracle
    val texts = Fixtures.ml.rows.map(_._2)
    assert(texts.count(_.exists(_ > 127)) >= 5, "non-ASCII rows planted")
    assert(texts.exists(_.codePoints().toArray.exists(_ > 0xFFFF)), "astral")
    assert(texts.exists(_.contains('\u0301')), "combining marks")
    assert(texts.exists(_.exists(c => c >= 0x4E00 && c <= 0x9FFF)), "CJK")
    // ...and they flow through the oracled queries: every planted doc
    // tokenizes to a nonempty id sequence
    val ids = SparkEntry.queries("text_tokens_ids")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 9000001L)
      .collect()
    assert(ids.length == Fixtures.ml.rows.size)
    assert(ids.forall(_.getLong(1) > 0L), "planted docs tokenized")
    // detokenize round-trips the multilingual text (space-stripped)
    val detok = SparkEntry.queries("text_detokenize")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 9000001L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Fixtures.ml.rows.foreach { case (id, t, _, _) =>
      assert(detok(id) == t.toLowerCase.replace(" ", ""), s"roundtrip $id")
    }
  }

  test("planted multilingual near-dup pairs surface in every similarity family") {
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = pairs("dedup_jaccard_3gram_ml")
    val mh = pairs("dedup_minhash_lsh_ml")
    val ed = pairs("dedup_edit_distance_ml")
    val win = pairs("text_winnow_pairs_ml")
    // zh pair (5/6 words): jaccard 0.75, 1 shared 5-token window —
    // below winnowing's 8-word floor, so not expected there
    Seq("jaccard" -> jac, "minhash" -> mh, "edit" -> ed).foreach {
      case (n, p) => assert(p((9000001L, 9000002L)), s"zh pair missing from $n")
    }
    // long mixed-script pair (12 words, one final-word substitution):
    // must surface in ALL four families, including winnowing
    Seq("jaccard" -> jac, "minhash" -> mh, "edit" -> ed, "winnow" -> win)
      .foreach { case (n, p) =>
        assert(p((9000008L, 9000009L)), s"long ml pair missing from $n")
      }
    // the precomposed/decomposed fr twins share NO identical word
    // (every word differs at the codepoint level): byte-exact families
    // must NOT false-pair them
    Seq("jaccard" -> jac, "minhash" -> mh, "edit" -> ed, "winnow" -> win)
      .foreach { case (n, p) =>
        assert(!p((9000003L, 9000004L)), s"fr twins false-paired in $n")
      }
    // the edit-distance UNIT is codepoints, not bytes: ' 再次' appended
    // is 3 edits (7 bytes), the final-word hangul substitution is 1
    val edv = SparkEntry.queries("dedup_edit_distance_ml")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edv((9000001L, 9000002L)) == 3L, edv.get((9000001L, 9000002L)))
    assert(edv((9000008L, 9000009L)) == 1L, edv.get((9000008L, 9000009L)))
  }

  test("planted multilingual runs surface as exact-offset spans in text_dup_spans_ml") {
    // span boundaries count WORDS, so mixed-script runs must come out
    // with exact token coordinates: the ru near-dup pair shares its
    // 11-word prefix, the zh pair its full 5-word prefix (the CJK
    // phrase is ONE space-delimited word), and 9000006 donates its
    // interior 5-word run to both long ru docs
    val spans = SparkEntry.queries("text_dup_spans_ml")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 9000001L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
      .toSet
    assert(spans == Set(
      (9000001L, 1L, 5L, "spark 加速向量计算引擎 merge join 去重"),
      (9000002L, 1L, 5L, "spark 加速向量计算引擎 merge join 去重"),
      (9000006L, 2L, 6L, "поиск дубликатов в корпусе данных"),
      (9000008L, 1L, 11L,
        "спарк движок поиск дубликатов в корпусе данных merge join 去重 테스트"),
      (9000009L, 1L, 11L,
        "спарк движок поиск дубликатов в корпусе данных merge join 去重 테스트")),
      s"planted span set diverged: $spans")
  }

  test("LcsTokens equals the plain-Scala LCS on random token sequences") {
    // differential fuzz of the codegen DP kernel (rolling-row) against
    // the textbook 2-D reference, including multibyte tokens, empties,
    // and repeated tokens (where greedy matching would diverge)
    def refLcs(a: Seq[String], b: Seq[String]): Long = {
      val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
      for (i <- 1 to a.size; j <- 1 to b.size)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.size)(b.size).toLong
    }
    val vocab = Gen.oneOf("a", "bb", "ccc", "去重", "테스트", "é", "🚀")
    val gen = Gen.zip(
      Gen.chooseNum(0, 14).flatMap(Gen.listOfN(_, vocab)),
      Gen.chooseNum(0, 9).flatMap(Gen.listOfN(_, vocab)))
    val cases = samples(gen, 60)
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("id", "a", "b")
      .select(col("id"), org.apache.spark.sql.graftshim.exprToColumn(
        graft.functions.LcsTokens(
          org.apache.spark.sql.graftshim.columnToExpr(col("a")),
          org.apache.spark.sql.graftshim.columnToExpr(col("b")))).as("lcs"))
    val got = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i) == refLcs(a, b), s"case $i: a=$a b=$b")
    }
  }

  test("chunkTokens: stride-16/window-32 chunks overlap and cover exactly") {
    val out = SparkEntry.queries("chunk_sliding")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2).toSeq
      // indices are 0,1,2,…; starts are 1, 17, 33, …
      sorted.zipWithIndex.foreach { case ((_, idx, st, _, _), i) =>
        assert(idx == i.toLong && st == 1L + 16L * i)
      }
      // consecutive full windows overlap by exactly 16 tokens
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        if (a._4 == 32L) {
          val aT = a._5.split(" ").drop(16).mkString(" ")
          val bT = b._5.split(" ").take(math.min(16, b._4.toInt)).mkString(" ")
          assert(aT == bT, s"overlap broken at doc ${a._1} chunk ${a._2}")
        }
      }
    }
  }

  test("dsirSelect + sourceDiversity: rank order and ratio sanity") {
    val sel = SparkEntry.queries("dsir_select")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(5))).sortBy(_._1)
    assert(sel.map(_._1).toSeq == (1L to sel.length.toLong))
    sel.zip(sel.tail).foreach { case (a, b) => assert(a._2 >= b._2) }
    val div = SparkEntry.queries("source_diversity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(div.nonEmpty)
    div.foreach { case (src, nd, nt, ratio) =>
      assert(nd <= nt && ratio > 0.0 && ratio <= 1.0, s"$src: $nd/$nt=$ratio")
    }
  }

  test("interval overlap join equals the direct quadratic join, no duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // spans exercise multi-bin intervals (width 5), touching endpoints
    // (half-open: no overlap), containment, and an inverted interval
    val as = Seq((1L, 0L, 12L), (2L, 10L, 11L), (3L, 20L, 25L),
      (4L, 30L, 30L), (5L, 7L, 9L))
      .toDF("a_key", "a_lo", "a_hi")
    val bs = Seq((10L, 3L, 4L), (11L, 11L, 14L), (12L, 24L, 40L),
      (13L, 12L, 20L), (14L, 9L, 10L))
      .toDF("b_key", "b_lo", "b_hi")
    val got = graft.operators.RangeJoin.intervalOverlap(
        as, col("a_lo"), col("a_hi"), bs, col("b_lo"), col("b_hi"), 5L)
      .select(col("a_key"), col("b_key"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val expect = for {
      (ak, alo, ahi) <- List((1L, 0L, 12L), (2L, 10L, 11L), (3L, 20L, 25L),
        (4L, 30L, 30L), (5L, 7L, 9L)) if ahi > alo
      (bk, blo, bhi) <- List((10L, 3L, 4L), (11L, 11L, 14L), (12L, 24L, 40L),
        (13L, 12L, 20L), (14L, 9L, 10L)) if bhi > blo
      if alo < bhi && blo < ahi
    } yield (ak, bk)
    assert(got.sorted == expect.sorted, s"got $got expect $expect")
    // canonical-bin emission: the multi-bin pair (1, 11) appears ONCE
    assert(got.count(_ == ((1L, 11L))) == 1, got)
  }

  test("k-anonymity audit: class sizes and risk summary arithmetic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("en", "a"), ("en", "a"), ("en", "a"),
      ("en", "b"), ("fr", "a")).toDF("lang", "source")
    val cls = graft.security.KAnonymity.classes(
        df, Seq(col("lang"), col("source")), 2L)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getBoolean(3))).toSet
    assert(cls == Set(("en", "a", 3L, true), ("en", "b", 1L, false),
      ("fr", "a", 1L, false)), cls)
    val risk = graft.security.KAnonymity.riskSummary(
      df, Seq(col("lang"), col("source")), 2L).collect()(0)
    assert((risk.getLong(0), risk.getLong(1), risk.getLong(2),
      risk.getLong(3), risk.getDouble(4)) == ((3L, 2L, 5L, 2L, 0.4)), risk)
  }

  test("rle layout audit: prefix distinct counts equal actual sorted runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(("en", "a", 1L), ("en", "a", 2L), ("en", "b", 1L),
      ("fr", "a", 1L), ("fr", "b", 2L), ("en", "a", 1L), ("de", "c", 3L))
    val df = rows.toDF("lang", "source", "len_bits")
    val out = graft.engine.Layout.rleLayoutAudit(df, Seq(
        "lang" -> col("lang"), "source" -> col("source"),
        "len_bits" -> col("len_bits")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(out.size == 6 && out.values.count(_._5) == 1)
    // ground truth: sort rows by each permutation and count runs
    def runs[T](xs: Seq[T]): Long =
      if (xs.isEmpty) 0L
      else 1L + xs.sliding(2).count(p => p.size == 2 && p(0) != p(1))
    val byName = Map[String, ((String, String, Long)) => Any](
      "lang" -> (_._1), "source" -> (_._2), "len_bits" -> (_._3))
    out.foreach { case (key, (r1, r2, r3, tot, _)) =>
      val ks = key.split(",")
      val sorted = rows.sortBy(t =>
        (byName(ks(0))(t).toString, byName(ks(1))(t).toString,
          byName(ks(2))(t).toString))
      val a1 = runs(sorted.map(t => byName(ks(0))(t)))
      val a2 = runs(sorted.map(t => (byName(ks(0))(t), byName(ks(1))(t))))
      val a3 = runs(sorted.map(t => ks.map(k => byName(k)(t)).toList))
      assert((r1, r2, r3, tot) == ((a1, a2, a3, a1 + a2 + a3)),
        s"$key: got ($r1,$r2,$r3) want ($a1,$a2,$a3)")
    }
    // the documented upper-bound edge: adjacent prefix groups ending
    // and starting with the SAME second-key value — the audit counts a
    // break at the group boundary (2 runs) though the raw column is
    // one run; the metric is an upper bound there, by design
    val edge = Seq(("a", "x"), ("b", "x")).toDF("k1", "k2")
    val e = graft.engine.Layout.rleLayoutAudit(
        edge.withColumn("k3", col("k1")), Seq("k1" -> col("k1"),
          "k2" -> col("k2"), "k3" -> col("k3")))
      .filter(col("sort_key") === "k1,k2,k3").collect()(0)
    assert(e.getLong(2) == 2L, e.toString)
  }

  test("fd discovery: keys determine everything, region does not") {
    val got = SparkEntry.queries("fd_discovery")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(4)).toMap
    assert(got(("n_nationkey", "n_name")), got)
    assert(got(("n_nationkey", "n_regionkey")), got)
    assert(got(("n_name", "n_nationkey")), got)
    assert(!got(("n_regionkey", "n_name")), got)   // 5 regions, 25 names
    assert(!got(("n_regionkey", "n_nationkey")), got)
  }

  test("benford audit: shares sum to ~1, expectations are the fixed grid") {
    val out = SparkEntry.queries("benford_audit")(spark, sf).collect()
    assert(out.length == 9)
    val shareSum = out.map(_.getDouble(2)).sum
    assert(shareSum > 0.999 && shareSum <= 1.0001, shareSum)
    val exp = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(exp(1L) == 0.3010 && exp(9L) == 0.0457, exp)
    out.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) - r.getDouble(4)
        < 1e-9, r.toString)
    }
  }

  test("hybrid rrf: fused scores recompute from ranks; ordering total") {
    val out = SparkEntry.queries("hybrid_rrf")(spark, sf).collect()
    assert(out.length == 10)
    var prev = (Long.MaxValue, Long.MinValue)
    out.sortBy(_.getLong(0)).foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val den = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val want = lex.map(l => 1000000L / (60L + l)).getOrElse(0L) +
        den.map(d => 1000000L / (60L + d)).getOrElse(0L)
      assert(r.getLong(4) == want, r.toString)
      assert(lex.forall(l => l >= 1 && l <= 50))
      assert(den.forall(d => d >= 1 && d <= 50))
      // ranks strictly ordered by (rrf desc, doc_id asc)
      val cur = (r.getLong(4), r.getLong(1))
      assert(cur._1 < prev._1 || (cur._1 == prev._1 && cur._2 > prev._2),
        s"order violated at $cur after $prev")
      prev = cur
    }
    // at least one fused doc must come from BOTH pools at this SF
    assert(out.exists(r => !r.isNullAt(2) && !r.isNullAt(3)), out.toSeq)
  }

  test("lateness profile: bucketed prefix max equals the naive global scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // arrival order = event_id; plant out-of-order arrivals crossing
    // bucket boundaries (width 4) and a severely late one
    val secs = Seq(100L, 90L, 110L, 105L, 120L, 50L, 121L, 119L, 130L)
    val ev = secs.zipWithIndex.map { case (s, i) => (i.toLong, ts(s)) }
      .toDF("event_id", "ts")
    val got = graft.streaming.Events.latenessProfile(ev, bucketWidth = 4L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // naive replay
    var mx = -1L
    val lates = secs.map { s =>
      val l = math.max(mx - s, 0L); mx = math.max(mx, s); l
    }
    val expect = lates.groupBy(l =>
        if (l == 0L) 0L else 64L - java.lang.Long.numberOfLeadingZeros(l))
      .map { case (b, ls) => b -> ((ls.size.toLong, ls.max)) }
    assert(got == expect, s"got $got expect $expect")
    // the plan has no single-partition exchange on the event side
    val plan = graft.streaming.Events.latenessProfile(ev, 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // review fix: FLOOR bucketing keeps the bucket order invariant for
    // negative ids too (truncating div folded -3..3 into one bucket)
    val evNeg = secs.zipWithIndex.map { case (s, i) => (i.toLong - 4L, ts(s)) }
      .toDF("event_id", "ts")
    val gotNeg = graft.streaming.Events.latenessProfile(evNeg, 4L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(gotNeg == expect, s"neg ids: $gotNeg expect $expect")
  }

  test("last-touch attribution: election, same-instant tie, organic bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, ts(10), 7L, "view"), (2L, ts(20), 7L, "click"),
      (3L, ts(30), 7L, "purchase"),              // credits click@20
      (4L, ts(40), 7L, "purchase"),              // still click@20
      (5L, ts(50), 8L, "purchase"),              // organic: no touch
      (6L, ts(60), 9L, "click"), (7L, ts(60), 9L, "purchase"),
      // same instant: touch event_id 6 < purchase 7 -> attributes
      (9L, ts(70), 10L, "purchase"), (8L, ts(70), 10L, "click")
      // same instant but touch id 8 < purchase 9 -> attributes too
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.streaming.Events.lastTouchAttribution(ev)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) null else r.getString(2)),
          (if (r.isNullAt(3)) -1L else r.getLong(3)),
          (if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(3L) == (("click", 2L, 10L)), got)
    assert(got(4L) == (("click", 2L, 20L)), got)
    assert(got(5L) == ((null, -1L, -1L)), got)
    assert(got(7L) == (("click", 6L, 0L)), got)
    assert(got(9L) == (("click", 8L, 0L)), got)
  }

  test("hourlyAnomaly / typeTokenRatio / tokenZipf invariants") {
    val an = SparkEntry.queries("events_anomaly")(spark, sf).collect()
    // hour counts conserve; history-less first hour never flags
    assert(an.map(_.getLong(1)).sum ==
      graft.engine.Tables.events(spark, sf).count())
    val first = an.minBy(_.getTimestamp(0).getTime)
    assert(first.isNullAt(2) && !first.getBoolean(4))
    an.foreach { r =>
      if (!r.isNullAt(3))
        assert(r.getBoolean(4) == (r.getDouble(3) >= 3.0), r)
    }
    val ttr = SparkEntry.queries("text_ttr")(spark, sf).collect()
    ttr.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) &&
        r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    val zipf = SparkEntry.queries("token_zipf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // word mass conserves: Σ bucket counts = vocabulary size
    val vocab = graft.engine.Tables.documents(spark, sf).collect()
      .flatMap(_.getAs[String]("text").toLowerCase.split(" "))
      .filter(_.nonEmpty).distinct.length
    assert(zipf.map(_._2).sum == vocab.toLong)
  }

  test("funnelLatency: converter counts equal the funnel stages; latencies positive") {
    val lat = SparkEntry.queries("events_conversion_time")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val f = SparkEntry.queries("events_funnel")(spark, sf).collect().head
    assert(lat("view>click")._1 == f.getLong(1))
    assert(lat("click>purchase")._1 == f.getLong(2))
    lat.values.foreach { case (n, mn, mx, mean) =>
      assert(n > 0 && mn > 0 && mn <= mx &&
        mean >= mn.toDouble && mean <= mx.toDouble)
    }
  }

  test("retentionCohorts + eventSequences invariants") {
    val ret = SparkEntry.queries("events_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // offset 0 is the cohort itself: full retention by construction
    ret.filter(_._2 == 0L).foreach { r =>
      assert(r._3 == r._4 && r._5 == 1.0, r)
    }
    ret.foreach { r =>
      assert(r._2 >= 0L && r._3 <= r._4 && r._5 <= 1.0, r)
    }
    // total cohort mass equals the distinct-user count
    val users = graft.engine.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(ret.filter(_._2 == 0L).map(_._4).sum == users)
    val seqs = SparkEntry.queries("events_sequences")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(seqs.nonEmpty && seqs.map(_._1).toSeq == (1L to seqs.length))
    seqs.zip(seqs.tail).foreach { case (a, b) => assert(a._3 >= b._3) }
    assert(seqs.forall(_._2.split(">").length == 3))
  }

  test("containmentPairs: the planted excerpt flags where Jaccard stays silent") {
    val out = SparkEntry.queries("dedup_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (shared, ca, cb) = out((9850001L, 9850002L))
    // excerpt fully contained: all 5 of its shingles, containment 1.0
    assert(shared == 5L && cb == 1.0)
    // ...while symmetric Jaccard (5 / (18 + 5 − 5)) ≈ 0.28 sits under
    // every near-dup threshold — the case this operator exists for
    assert(ca < 0.3)
    out.values.foreach { case (_, a, b) => assert(math.max(a, b) >= 0.9) }
  }

  test("survivorsByQuality: the elected copy has the cluster's best score") {
    import spark.implicits._
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 10L), (7L, 70L), (8L, 70L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5000L), (2L, 8000L), (3L, 8000L),
      (7L, 1000L), (8L, 900L)).toDF("doc_id", "q_e4")
    val out = graft.dedup.Dedup.survivorsByQuality(clusters, quality)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // best quality wins; the 8000-tie breaks to the LOWER doc_id
    assert(out(10L) == ((3L, 2L, 0.8)))
    assert(out(70L) == ((2L, 7L, 0.1)))
  }

  test("tokenizerCompare: one row per family over identical bytes") {
    val out = SparkEntry.queries("tokenizer_compare")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet == Set("bpe", "unigram", "wordpiece"))
    // identical corpus on every row: same docs, same bytes
    assert(out.values.map(v => (v._1, v._3)).toSet.size == 1)
    out.foreach { case (t, (_, pieces, bytes, bpp)) =>
      assert(pieces > 0 && bpp > 0.0 && bpp <= bytes.toDouble, t)
    }
  }

  test("corpusDiff / shardBalance / qualityPercentile invariants") {
    // diff: planted edits/removals/adds classify exactly
    val diff = SparkEntry.queries("corpus_diff")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nDocs = graft.engine.Tables.documents(spark, sf).count()
    diff.foreach { case (id, st) =>
      val want =
        if (id >= 9990001L) "added"
        else if (id % 37 == 11) "removed"
        else if (id % 37 == 5) "changed" else "unchanged"
      assert(st == want, s"doc $id: $st != $want")
    }
    assert(diff.size == nDocs + 3)
    // shards: counts conserve, shares sum to ~1 on the grid
    val sh = SparkEntry.queries("shard_balance")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(sh.map(_._2).sum == nDocs)
    assert(sh.forall(s => s._1 >= 0 && s._1 < 16))
    val shareSum = sh.map(_._3).sum
    assert(shareSum > 0.99 && shareSum <= 1.0001, s"share sum $shareSum")
    // percentile: within each source, pct is monotone in score and the
    // worst doc sits at 0.0
    val qp = SparkEntry.queries("quality_percentile")(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    qp.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2).toSeq
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._3 <= b._3, s"$src: pct not monotone")
      }
      assert(sorted.head._3 == 0.0, s"$src: min-score doc must be pct 0")
    }
  }

  test("decontamCut equals a plain-Scala reference cut on the real corpus") {
    val docs = graft.engine.Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split(" ").filter(_.nonEmpty).toSeq)
    val (train, eval) = docs.partition(_._1 % 50 != 7)
    val evalGrams = eval.flatMap(_._2.sliding(3).filter(_.size == 3)
      .map(_.mkString(" "))).toSet
    val expect = train.map { case (id, ws) =>
      val starts = ws.sliding(3).zipWithIndex
        .collect { case (g, i) if g.size == 3 &&
          evalGrams(g.mkString(" ")) => i + 1 }.toSeq
      val covered = starts.flatMap(p => math.max(1, p - 2) to (p + 4)).toSet
      val kept = ws.zipWithIndex.collect {
        case (t, j) if !covered(j + 1) => t }
      // spans = runs of covered positions within 1..len
      val runs = (1 to ws.size).count(j =>
        covered(j) && !covered(j - 1))
      id -> (ws.size.toLong, (ws.size - kept.size).toLong, runs.toLong,
        kept.mkString(" "))
    }.toMap
    val got = SparkEntry.queries("decontam_cut")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got == expect && got.nonEmpty)
    assert(got.values.exists(_._2 > 0L), "fixture lost its collisions")
  }

  test("vocabGrowth: cumulative curve is monotone and ends at the full vocabulary") {
    val out = SparkEntry.queries("vocab_growth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    out.zip(out.tail).foreach { case (a, b) =>
      assert(b._3 == a._3 + b._2, "cumulative must sum the new words")
    }
    val vocab = graft.engine.Tables.documents(spark, sf).collect()
      .flatMap(_.getAs[String]("text").toLowerCase.split(" "))
      .filter(_.nonEmpty).distinct.length
    assert(out.last._3 == vocab.toLong)
  }

  test("sftLossMask: planted pair/edge masks pinned; base docs all-zero") {
    val out = SparkEntry.queries("sft_loss_mask")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    assert(out(9450001L) == ((true, 6L, 4L, "0000001111")))
    // empty-prompt edge: the separator IS token 1
    assert(out(9450003L) == ((true, 1L, 4L, "01111")))
    // trailing-separator edge: zero completion tokens
    assert(out(9450004L) == ((true, 4L, 0L, "0000")))
    val base = out.filter(_._1 < 9000000L).values
    assert(base.nonEmpty && base.forall { case (hp, _, nc, m) =>
      !hp && nc == 0L && m.forall(_ == '0')
    })
  }

  test("kcenter: selection radius non-increasing and covers every remaining vector") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val out = SparkEntry.queries("kcenter_coreset")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(out.length == 6 && out.head.isNullAt(2))
    val dists = out.tail.map(_.getLong(2))
    dists.zip(dists.tail).foreach { case (a, b) => assert(a >= b) }
    // reference check in plain Scala on the quantized grid: after the
    // greedy, no remaining vector is farther from its nearest center
    // than the last pick was when selected (the covering radius)
    val vecs = emb.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(f => math.floor(f * 65536.0).toLong).toArray
    }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val centers = out.map(r => vecs(r.getLong(1)))
    val picked = out.map(_.getLong(1)).toSet
    val radius = dists.last
    vecs.foreach { case (id, v) =>
      if (!picked.contains(id))
        assert(centers.map(c => d2(v, c)).min <= radius, s"vec $id outside radius")
    }
  }

  test("icp order: greedy hop matches a plain-Scala replay on the grid") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val out = SparkEntry.queries("icp_order")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(out.length == 8 && out.head.isNullAt(2))
    val vecs = emb.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(f => math.floor(f * 65536.0).toLong).toArray
    }.toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    // replay the greedy in plain Scala: start at min id, hop to the
    // unvisited argmax dot (tie: lowest id)
    var cur = vecs.keys.min
    var visited = Set(cur)
    val expect = scala.collection.mutable.ArrayBuffer((cur, Option.empty[Long]))
    for (_ <- 2 to 8) {
      val (nid, nd) = vecs.filterNot { case (id, _) => visited(id) }
        .map { case (id, v) => (id, dot(vecs(cur), v)) }
        .toSeq.sortBy { case (id, d) => (-d, id) }.head
      expect += ((nid, Some(nd)))
      visited += nid
      cur = nid
    }
    val got = out.map(r => (r.getLong(1),
      if (r.isNullAt(2)) Option.empty[Long] else Some(r.getLong(2))))
    assert(got.toSeq == expect.toSeq, got.toSeq)
  }

  test("bitext mine: pairs are exactly the reciprocal-best set") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val rows = emb.collect().map { r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getSeq[Float](1).map(f => math.floor(f * 65536.0).toLong).toArray)
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val as = rows.filter(_._2 == 0)
    val bs = rows.filter(_._2 == 1)
    def best(from: Array[(Long, Int, Array[Long])],
        to: Array[(Long, Int, Array[Long])]) =
      from.map { case (id, _, v) =>
        id -> to.map { case (jd, _, w) => (jd, dot(v, w)) }
          .sortBy { case (jd, d) => (-d, jd) }.head
      }.toMap
    val bA = best(as, bs)
    val bB = best(bs, as)
    val expect = bA.flatMap { case (ia, (ib, d)) =>
      if (bB(ib)._1 == ia) Some((ia, ib, d)) else None
    }.toSet
    val got = SparkEntry.queries("bitext_mine")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"got ${got.size} expect ${expect.size}")
    assert(got.nonEmpty)
  }

  test("triplets: positive shares the anchor label, negative does not, margin exact") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SparkEntry.queries("ann_triplets")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L, 4L))
    out.foreach { r =>
      val (a, p, n) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(labels(p) == labels(a) && p != a, s"anchor $a: bad positive $p")
      assert(labels(n) != labels(a), s"anchor $a: bad negative $n")
      assert(math.abs(r.getDouble(2) - r.getDouble(4) - r.getDouble(5)) < 2e-4)
    }
  }

  test("fimTransform: FIM rows reassemble to the original, pass-through rows intact") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val orig = docs.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("text").toLowerCase.split(" ").filter(_.nonEmpty)
        .mkString(" ")).toMap
    val out = SparkEntry.queries("fim_transform")(spark, sf).collect()
    assert(out.length == orig.size)
    var nFim = 0
    out.foreach { r =>
      val (id, isFim, text) = (r.getLong(0), r.getBoolean(2), r.getString(5))
      if (isFim) {
        nFim += 1
        // P + M + S in source order must equal the original
        val pfx = text.substring("<fim_prefix> ".length,
          text.indexOf(" <fim_suffix> "))
        val sfx = text.substring(
          text.indexOf(" <fim_suffix> ") + " <fim_suffix> ".length,
          text.indexOf(" <fim_middle> "))
        val mid = text.substring(
          text.indexOf(" <fim_middle> ") + " <fim_middle> ".length)
        val joined = Seq(pfx, mid, sfx).filter(_.nonEmpty).mkString(" ")
        assert(joined == orig(id), s"doc $id FIM round-trip failed")
        assert(!r.isNullAt(3) && !r.isNullAt(4) &&
          r.getLong(3) <= r.getLong(4))
      } else {
        assert(text == orig(id))
        assert(r.isNullAt(3) && r.isNullAt(4))
      }
    }
    // the hash gate fires on roughly half the corpus
    assert(nFim > out.length / 4 && nFim < out.length * 3 / 4, s"$nFim FIM rows")
  }

  test("spanCorruption: splicing targets back into inputs reconstructs every doc") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val orig = docs.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("text").toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    val out = SparkEntry.queries("span_corruption")(spark, sf).collect()
    assert(out.length == orig.size)
    var totTok, totMask = 0L
    out.foreach { r =>
      val (id, nTok, nMask, nSpans) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      totTok += nTok; totMask += nMask
      // parse targets: sentinel k -> span tokens
      val tgt = r.getString(5).split(" ").toSeq
      val spans = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      tgt.foreach { t =>
        if (t.startsWith("<extra_id_")) {
          cur = t.stripPrefix("<extra_id_").stripSuffix(">").toInt
          spans(cur) = Vector()
        } else spans(cur) = spans(cur) :+ t
      }
      assert(spans.keySet == (0 to nSpans.toInt).toSet)
      assert(spans(nSpans.toInt).isEmpty, "final sentinel must be empty (EOS)")
      // splice: every input sentinel expands to its span
      val rebuilt = r.getString(4).split(" ").filter(_.nonEmpty).toSeq.flatMap { t =>
        if (t.startsWith("<extra_id_"))
          spans(t.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        else Seq(t)
      }
      assert(rebuilt == orig(id), s"doc $id failed round-trip")
      assert(spans.values.map(_.size).sum == nMask)
    }
    // the deterministic hash masks ~num/denom = 15% of all tokens
    val rate = totMask.toDouble / totTok
    assert(rate > 0.10 && rate < 0.20, s"mask rate $rate")
  }

  test("codeQualityRules: each planted code doc fails exactly its rule") {
    val out = SparkEntry.queries("code_quality_rules")(spark, sf)
      .filter(col("doc_id") >= 9700001L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(9700001L).getBoolean(7), "clean snippet must pass")
    // minified line: max-line bound is the ONLY failing rule
    assert(out(9700002L).getLong(2) == 143L && !out(9700002L).getBoolean(7))
    assert(out(9700003L).getBoolean(6) && !out(9700003L).getBoolean(7),
      "autogen marker must flag")
    assert(out(9700004L).getDouble(4) == 0.0 && !out(9700004L).getBoolean(7),
      "symbol soup fails alnum fraction")
    assert(out(9700005L).getDouble(5) == 1.0 && !out(9700005L).getBoolean(7),
      "all-comments file fails comment share")
  }

  test("hardNegatives: label exclusion, k per query, scores descend") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SparkEntry.queries("ann_hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q: ${rows.length} rows")
      // every mined negative carries a DIFFERENT label than its query
      rows.foreach { case (_, _, n, _) =>
        assert(labels(n) != labels(q), s"query $q mined same-label $n")
      }
      // scores descend with rank
      val sorted = rows.sortBy(_._2).toSeq
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._4 >= b._4, s"query $q: rank ${a._2} < rank ${b._2}")
      }
    }
  }

  test("CharBigrams kernel equals the substr HOF form on random multibyte text") {
    // the kernel walks UTF-8 byte boundaries; the reference is the
    // declarative codepoint form transform(sequence, i -> substr(t,i,2))
    // — ASCII, 2/3/4-byte codepoints, combining marks, empties
    val piece = Gen.oneOf("a", "b ", "é", "去", "한", "🚀", "é", " ")
    val gen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, piece).map(_.mkString))
    val cases = samples(gen, 80).distinct
    val df = cases.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
      .select(col("id"),
        org.apache.spark.sql.graftshim.exprToColumn(
          graft.text.CharBigrams(
            org.apache.spark.sql.graftshim.columnToExpr(col("t")))).as("k"),
        when(char_length(lower(col("t"))) >= 2,
          transform(sequence(lit(1), char_length(lower(col("t"))) - 1),
            i => lower(col("t")).substr(i, lit(2))))
          .otherwise(array()).as("r"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"case ${r.getInt(0)}: '${cases(r.getInt(0))}'")
    }
  }

  test("langid count states fold any-order to the batch model; derived scorer bit-equal") {
    val docs = graft.engine.Tables.documents(spark, sf)
    val seed = col("lang") === "en"
    val batch = graft.text.TextAnalysis.langidCountState(docs, seed)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val shards = (0 to 2).map(i => graft.text.TextAnalysis
      .langidCountState(docs.filter(pmod(col("doc_id"), lit(3)) === i), seed))
    Seq(Seq(0, 1, 2), Seq(2, 0, 1)).foreach { order =>
      val folded = graft.text.TextAnalysis
        .langidModelFromStates(order.map(shards))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(folded == batch, s"fold order $order diverged")
    }
    // derived scorer under the folded model == scorer under batch model
    val m = graft.text.TextAnalysis.langidModelFromStates(
      Seq(shards(1), shards(2), shards(0))).localCheckpoint(false)
    val got = graft.text.TextAnalysis.scoreLangidNb(docs, m,
        graft.text.TextAnalysis.langidDenFromModel(m))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    val (bm, bd) = graft.text.TextAnalysis.langidNbModel(docs, seed)
    val want = graft.text.TextAnalysis.scoreLangidNb(docs, bm, bd)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("langidNb: seed-trained audit recovers planted langs and flags mislabels") {
    val out = SparkEntry.queries("text_langid_nb")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getBoolean(4)))
      .toMap
    // every planted multilingual row self-classifies — including the
    // DECOMPOSED fr twin (its own grams are in the seed model)
    Seq(9000001L -> "zh", 9000002L -> "zh", 9000003L -> "fr",
      9000004L -> "fr", 9000006L -> "ru", 9000007L -> "ko",
      9000008L -> "ru", 9000009L -> "ru").foreach { case (id, l) =>
      assert(out(id) == ((l, l, true)), s"$id: ${out(id)}")
    }
    // the emoji/math-alphanumeric row is OOV for every model — it must
    // be FLAGGED (the audit's job), whatever deterministic lang wins
    assert(!out(9000005L)._3)
    // base docs are ASCII word salad under synthetic labels: predictions
    // are en across the board, so the mislabeled ones all flag
    val base = out.filter(_._1 < 9000000L).values
    assert(base.forall(_._2 == "en"))
    assert(base.filter(_._1 == "en").forall(_._3))
    assert(base.filter(_._1 != "en").forall(!_._3))
    assert(base.exists(_._1 != "en"), "fixture lost its mislabeled docs")
  }

  test("rougeDedup: planted instruction verdicts pin F1 grid + order sensitivity") {
    val out = SparkEntry.queries("text_rouge_dedup")(spark, sf)
      .filter(col("doc_id") >= 9400001L).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // exact pool copy → F1 = 1.0 against pool #3
    assert(out(9400001L) == ((3L, 6L, 10000L, true)))
    // one-word substitution: lcs 5 of 6/6 → 2·5/12 = 8333 ≥ θ
    assert(out(9400002L) == ((5L, 5L, 8333L, true)))
    // word-REORDERED twin (identical bag): LCS halves → 5000 < θ —
    // the order sensitivity that separates ROUGE-L from Jaccard
    assert(out(9400003L) == ((1L, 4L, 5000L, false)))
    // one-word insertion: lcs 7, n+m = 15 → 9333 ≥ θ
    assert(out(9400004L) == ((2L, 7L, 9333L, true)))
    // novel instruction stays far under θ
    assert(!out(9400005L)._4 && out(9400005L)._3 < 3000L)
  }

  test("SketchExec equals collect() over partition counts, special floats and empty input") {
    import graft.engine.SketchExec
    import graft.functions.{HllSketch, MgTupleAgg}
    import org.apache.spark.sql.{DataFrame, Row, graftshim}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("s", StringType),
      StructField("v", DoubleType), StructField("d", DecimalType(12, 2))))
    val floats = Seq[Any](null, Double.NaN, 0.0, -0.0, 1.5, -1.5)
    val data = (0 until 300).map(i => Row(floats(i % 6), if (i % 7 == 0) null else s"s${i % 5}",
      floats((i / 6) % 6), if (i % 11 == 0) null else BigDecimal(i * 37 - 4000, 2).bigDecimal))
    // a row as comparable text: binary by content, MG summaries as their
    // entry sets (their byte order follows merge order, not content)
    def canon(r: Row): String = r.toSeq.map {
      case b: Array[Byte] if r.schema.fieldNames.contains("mg") =>
        MgTupleAgg.decode(b, 2).map { case (k, c) => k.getBytes.mkString(",") + s"=$c" }.sorted.mkString(";")
      case b: Array[Byte] => b.mkString(",")
      case x => String.valueOf(x)
    }.mkString("|")
    def sketches(df: DataFrame): Seq[DataFrame] = {
      val keys = df.select("s", "k")
      val mg = MgTupleAgg(graftshim.analyzedPlan(keys).output, 64).toAggregateExpression()
      Seq(
        df.agg(min("v"), max("v"), count("v"), count(lit(1)), sum("d")),
        df.groupBy("k").agg(min("v"), max("v"), count(lit(1)), sum("d")),
        df.groupBy("s", "k").count(),
        df.groupBy("k").agg(sum("d").as("t")).select(col("k"), (col("t") * 2).as("t2")),
        df.select("s", "k").distinct(),
        df.agg(HllSketch.hll_build(col("s"), 12).as("hll")),
        keys.agg(graftshim.exprToColumn(mg).as("mg")))
    }
    for (parts <- Seq(1, 4, 200); rows <- Seq(data, Seq.empty[Row])) {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      sketches(df).foreach { q =>
        val want = q.collect()
        val got = SketchExec.collect(q)
        val ctx = s"parts=$parts rows=${rows.size} plan=${q.queryExecution.optimizedPlan.simpleString(5)}"
        assert(got.map(canon).sorted.toSeq == want.map(canon).sorted.toSeq, ctx)
        assert(got.map(_.schema).distinct.toSeq == want.map(_.schema).distinct.toSeq, ctx)
        var fracs = Vector.empty[Double]
        val fin = SketchExec.progressive(q, 4)((f, _) => fracs :+= f)
        assert(fin.map(canon).sorted.toSeq == want.map(canon).sorted.toSeq, ctx)
        assert(fracs == fracs.sorted && fracs.last == 1.0 && fracs.size <= 4, s"$ctx $fracs")
      }
      // with no input a no-group aggregate has its one row, a grouped one none
      if (rows.isEmpty) {
        assert(SketchExec.collect(df.agg(count(lit(1)))).toSeq == Seq(Row(0L)))
        assert(SketchExec.collect(df.groupBy("k").count()).isEmpty)
      }
    }
  }

  test("SketchExec's driver-side window tail equals collect(), in one job, and leaves no task context") {
    import graft.engine.SketchExec
    import graft.operators.Histograms
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val sc = spark.sparkContext
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("v", DoubleType)))
    val floats = Seq[Any](null, Double.NaN, 0.0, -0.0, 1.5, -1.5, 7.25)
    val data = (0 until 300).map(i => Row(floats(i % 7), floats((i / 7) % 7)))
    def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    // the Spark jobs `body` runs, counted by a fresh job group
    def jobs(body: => Any): Int = {
      val g = "window-tail-" + System.nanoTime()
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(g).length
    }
    def cdf(df: DataFrame) = Histograms.histogramWithCdf(df, Histograms.numericBucket(col("v"), -1.5, 7.25, 5))
    def frames(df: DataFrame): Seq[DataFrame] = {
      // k is a group key, so every window order below is total
      val byK = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      val w = Window.partitionBy(col("n") % 2).orderBy(col("k"))
      Seq(
        cdf(df), // null v lands in bucket -1
        byK.withColumn("run", sum("n").over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
        byK.select(col("k"), col("n"), rank().over(w).as("r"), lag(col("s"), 1).over(w).as("prev")),
        df.agg(count(lit(1)).as("n")).withColumn("c", sum("n").over(Window.orderBy("n"))))
    }
    for (parts <- Seq(1, 4, 200); rows <- Seq(data, Seq.empty[Row])) {
      val df = spark.createDataFrame(sc.parallelize(rows, parts), schema)
      frames(df).foreach { q =>
        val want = q.collect()
        var got = Array.empty[Row]
        val ctx = s"parts=$parts rows=${rows.size} plan=${q.queryExecution.optimizedPlan.simpleString(5)}"
        assert(jobs { got = SketchExec.collect(q) } == 1, ctx)
        assert(canon(got) == canon(want), ctx)
        assert(got.map(_.schema).distinct.toSeq == want.map(_.schema).distinct.toSeq, ctx)
        assert(TaskContext.get() == null, ctx)
      }
      var fracs = Vector.empty[Double]
      val fin = SketchExec.progressive(cdf(df), 4)((f, _) => fracs :+= f)
      assert(canon(fin) == canon(cdf(df).collect()) && fracs == fracs.sorted && fracs.last == 1.0,
        s"parts=$parts rows=${rows.size} $fracs")
    }
    // a tail that throws (a long sum that overflows) leaves no context
    val overflow = spark.range(0, 8, 1, 2)
      .select((col("id") % 4).as("k"), (lit(Long.MaxValue) - col("id")).as("x"))
      .groupBy("k").agg(max("x").as("m"))
      .withColumn("t", sum("m").over(Window.orderBy("k")))
    assert(jobs(intercept[ArithmeticException](SketchExec.collect(overflow))) == 1)
    assert(TaskContext.get() == null)
    // nor does a collect cancelled mid-job
    val slow = udf { (x: Long) => Thread.sleep(5); x % 3 }
    val slowCdf = Histograms.histogramWithCdf(spark.range(0, 4000, 1, 4).toDF(), slow(col("id")))
    val g = "window-tail-cancel"
    val canceller = new Thread(() => {
      val deadline = System.currentTimeMillis() + 60000
      while (sc.statusTracker.getJobIdsForGroup(g).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      sc.cancelJobGroup(g)
    })
    sc.setJobGroup(g, g, interruptOnCancel = true)
    canceller.start()
    try intercept[Exception](SketchExec.collect(slowCdf)) finally sc.clearJobGroup()
    canceller.join()
    assert(TaskContext.get() == null)
  }

  test("SketchExec's top-K tail equals collect()") {
    import graft.engine.SketchExec
    import graft.operators.NextK
    import graft.operators.NextK.{AggSpec, AvgAgg, MaxAgg, MinAgg, Order, SumAgg}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
      InterpretedOrdering, NullsFirst, NullsLast, SortOrder}
    import org.apache.spark.sql.types._
    val sc = spark.sparkContext
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("s", StringType),
      StructField("v", DoubleType), StructField("m", DoubleType)))
    val floats = Gen.oneOf[Any](null, Double.NaN, 0.0, -0.0, 1.5, -1.5, 7.25)
    // about as many (k, s) pairs as rows, so a partition holds few of
    // them: its first values of one key alone are not its first groups
    val rowGen = for {
      k <- floats
      s <- Gen.oneOf[Any](null +: ('a' to 'x').map(_.toString))
      v <- Gen.frequency(1 -> Gen.const[Any](null), 5 -> Gen.chooseNum(-50000, 50000).map(_ / 100.0))
      m <- floats
    } yield Row(k, s, v, m)
    val aggs = Seq(AggSpec(SumAgg, "v", "sum_v"), AggSpec(AvgAgg, "v", "avg_v"),
      AggSpec(MinAgg, "m", "min_m"), AggSpec(MaxAgg, "m", "max_m"))
    val orders = for (ak <- Seq(true, false); as <- Seq(true, false); kFirst <- Seq(true, false))
      yield if (kFirst) Seq(Order("k", ak), Order("s", as)) else Seq(Order("s", as), Order("k", ak))
    val data = samples(Gen.listOfN(240, rowGen), 1).head
    for (parts <- Seq(1, 3, 8)) {
      val df = spark.createDataFrame(sc.parallelize(data, parts), schema)
      val groups = df.select("k", "s").distinct().count().toInt
      for (order <- orders; k <- Seq(1, 3, groups, groups + 5)) {
        val q = NextK.nextK(df, order, k, aggs = aggs)
        val want = q.collect()
        var got = Array.empty[Row]
        val ctx = s"parts=$parts order=$order k=$k"
        assert(jobCount { got = SketchExec.collect(q) } == 1, ctx)
        assert(got.toSeq == want.toSeq, ctx)
        assert(got.map(_.schema).distinct.toSeq == want.map(_.schema).distinct.toSeq, ctx)
        var last = Array.empty[Row]
        var fracs = Vector.empty[Double]
        SketchExec.progressive(q, 3) { (f, rows) => fracs :+= f; last = rows }
        assert(last.toSeq == want.toSeq && fracs.last == 1.0, s"$ctx $fracs")
      }
      // an order led by an aggregate value, or one that leaves a key out,
      // is no key order: collected as it is (adaptive, more than one job)
      val counts = df.groupBy("k", "s").count()
      val byCount = counts.orderBy(col("count").desc, col("k").asc_nulls_last,
        col("s").asc_nulls_last).limit(3)
      var got = Array.empty[Row]
      assert(jobCount { got = SketchExec.collect(byCount) } > 1, s"parts=$parts")
      assert(got.toSeq == byCount.collect().toSeq, s"parts=$parts")
      assert(jobCount(SketchExec.collect(counts.orderBy(col("k").asc_nulls_last).limit(3))) > 1,
        s"parts=$parts")
    }
    // Spark's partial aggregates here emit each key once per partition,
    // but one that spills or skips partial aggregation need not: the
    // per-partition cut keeps every row of its k smallest keys, on rows
    // that repeat keys
    samples(Gen.listOfN(60, Gen.zip(Gen.option(Gen.chooseNum(0, 9)), Gen.chooseNum(0L, 99L))), 20)
      .zipWithIndex.foreach { case (pairs, i) =>
        val rows = pairs.map { case (key, x) => InternalRow(key.map(Int.box).orNull, x) }
        val asc = i % 2 == 0
        val order = new InterpretedOrdering(Seq(SortOrder(BoundReference(0, IntegerType, nullable = true),
          if (asc) Ascending else Descending, if (asc) NullsLast else NullsFirst, Nil)))
        for (k <- Seq(0, 1, 3, 11)) {
          val firstKeys = rows.sorted(order).map(_.get(0, IntegerType)).distinct.take(k).toSet
          val got = SketchExec.smallest(rows.iterator, k, order)
          def pairsOf(rs: Seq[InternalRow]) =
            rs.map(r => (Option(r.get(0, IntegerType)), r.getLong(1))).sortBy(_.toString)
          assert(pairsOf(got.toSeq) == pairsOf(rows.filter(r => firstKeys(r.get(0, IntegerType)))),
            s"sample=$i k=$k")
          assert(got.toSeq == got.toSeq.sorted(order), s"sample=$i k=$k")
        }
      }
  }
}
