package graft

import graft.engine.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the properties that make these queries
  * scale — filter pushdown to the parquet scan, column pruning,
  * broadcast joins for dims, TakeOrderedAndProject for top-K — checked
  * the way a human would read .explain output.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("runtime bloom filter prunes the fact side of a selective join") {
    // at cluster scale a selective dim-side predicate should prune fact
    // rows BEFORE the shuffle even when the dim is too big to broadcast;
    // Spark's InjectRuntimeFilter does this with a bloom filter — prove
    // the engine's join shapes qualify (equi-join + selective creation
    // side), with thresholds scaled down to the test data size
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      val p = j.queryExecution.optimizedPlan.toString
      // fact side gains might_contain(bloom of the filtered dim keys)
      // BELOW the join — pruned before the shuffle
      assert(p.contains("might_contain"), p.take(4000))
      assert(p.contains("bloom_filter_agg"), p.take(4000))
      // and the result is unchanged by the runtime filter
      val withBloom = j.collect()
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = j.collect()
      assert(withBloom.map(_.toString).sorted
        .sameElements(without.map(_.toString).sorted))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("zone-map skipping prunes partitions on a non-partition predicate") {
    import graft.engine.Skipping
    val dd = Tables.documents(spark, sf)
      .withColumn("batch", floor(col("doc_id") / 50).cast("long"))
    val dir = graft.engine.Artifacts.scratchDir("zm_test").toString
    dd.write.mode("overwrite").partitionBy("batch").parquet(dir)
    val zm = Skipping.buildZoneMap(dd, "batch", Seq("doc_id"))
    // only batches 2..5 can hold doc_id in [100,299]
    val cands = Skipping.candidatePartitions(
      zm, "batch", "doc_id", lit(100L), lit(299L))
    assert(cands.map(_.asInstanceOf[Long]).sorted == Seq(2L, 3L, 4L, 5L), cands)
    val df = Skipping.readWithSkipping(
      spark, dir, zm, "batch", "doc_id", lit(100L), lit(299L))
    // the candidate set reaches the scan as a PARTITION filter (file-
    // index pruning), not just a row predicate
    val p = df.queryExecution.executedPlan.toString
    // rendered as e.g. `PartitionFilters: [batch#36 IN (2,4,5,3)]` —
    // set membership, values unordered
    val pf = "PartitionFilters: \\[batch#\\d+ IN \\(([0-9,]+)\\)\\]".r
    val inSet = pf.findFirstMatchIn(p).map(_.group(1).split(",").map(_.toLong).toSet)
    assert(inSet.contains(Set(2L, 3L, 4L, 5L)), p.take(2000))
    // conservative skip ⇒ result equality with the unskipped scan
    val full = Tables.documents(spark, sf)
      .filter(col("doc_id").between(100L, 299L))
    assert(df.count() == full.count() && df.count() > 0)
    // negative control: a range beyond every zone provably reads nothing
    val none = Skipping.readWithSkipping(spark, dir, zm, "batch", "doc_id",
      lit(10000000L), lit(20000000L))
    assert(none.count() == 0)
    // string stat columns skip on lexicographic ranges the same way:
    // partition by lang, zone on source ("src0".."src19"); a probe range
    // of "src1".."src19z" excludes nothing (every lang has spread
    // sources) while "zz".."zzz" excludes everything
    val dd2 = Tables.documents(spark, sf)
    val dir2 = graft.engine.Artifacts.scratchDir("zm_str").toString
    dd2.write.mode("overwrite").partitionBy("lang").parquet(dir2)
    val zm2 = Skipping.buildZoneMap(dd2, "lang", Seq("source"))
    val some = Skipping.readWithSkipping(spark, dir2, zm2, "lang", "source",
      lit("src1"), lit("src19z"))
    val expect = dd2.filter(col("source") >= "src1" && col("source") <= "src19z")
    assert(some.count() == expect.count() && some.count() > 0)
    assert(Skipping.candidatePartitions(zm2, "lang", "source",
      lit("zz"), lit("zzz")).isEmpty)
    // incremental maintenance: manifest(history) merged with
    // manifest(delta) equals manifest(all) built in one pass — byte-
    // equal INCLUDING the per-partition theta blobs (order-insensitive
    // merge), so ingest never rescans history to refresh stats
    val half1 = dd2.filter(col("doc_id") % 2 === 0)
    val half2 = dd2.filter(col("doc_id") % 2 =!= 0)
    def zmS(df: org.apache.spark.sql.DataFrame) =
      Skipping.buildZoneMap(df, "lang", Seq("doc_id"), Seq("source"))
    val merged = Skipping.mergeZoneMaps(Seq(zmS(half1), zmS(half2)), "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Array[Byte]](4).toSeq)).toMap
    val whole = zmS(dd2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Array[Byte]](4).toSeq)).toMap
    assert(merged == whole, "incremental manifest diverged from full build")
  }

  test("row-identity set ops: filters push through the rid twin, joins stay hash") {
    // the hidden __graft_rid struct must not block predicate pushdown
    // into the parquet scans, and the membership algebra must plan as
    // broadcast/shuffle HASH joins on the rid — never nested-loop
    val reg = new graft.engine.TargetRegistry(spark)
    val root = reg.loadTable(sf, "orders")
    val keep = Seq("o_custkey", "o_orderstatus")
    val a = reg.project(reg.filter(root.id, col("o_totalprice") > 200000.0).id, keep)
    val b = reg.project(reg.filter(root.id, col("o_orderpriority") === "1-URGENT").id, keep)
    Seq("union", "intersect", "minus").foreach { kind =>
      val p = reg.setOp(a.id, b.id, kind).df
        .queryExecution.executedPlan.toString
      assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
        s"$kind: price filter not pushed\n" + p.take(3000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$kind: non-hash join\n" + p.take(3000))
    }
  }

  test("artifact consumers serve the stored model: no detection subtree " +
      "in the plan") {
    // r15 contract: the decision/strip queries read PUBLISHED artifacts;
    // a regression that re-inlines mining would show up as the mining
    // aggregates reappearing in the physical plan
    val inc = SparkEntry.queries("dedup_clusters_incremental")(spark, sf)
    val pInc = plan(inc)
    assert(pInc.contains("cluster_map_fold_"),
      "incremental cluster query must scan the folded artifact")
    assert(!pInc.contains("xxhash64"),
      "no LSH banding/minhash in the serve plan")
    val strip = SparkEntry.queries("text_strip_boilerplate")(spark, sf)
    val pStrip = plan(strip)
    assert(pStrip.contains("boilerplate_list_"),
      "strip query must scan the published line-list artifact")
    assert(!pStrip.toLowerCase.contains("count(distinct") &&
      !pStrip.contains("count(doc_id"),
      "no line-census detection aggregate in the strip plan")
    val bpf = SparkEntry.queries("text_boilerplate_folded")(spark, sf)
    val pBpf = plan(bpf)
    assert(pBpf.contains("boilerplate_state_fold_"),
      "folded state query must scan the published state")
    // the r15 s2 folded models: the SERVED state frame is a parquet
    // scan of the published artifact — no corpus (documents.parquet)
    // scan anywhere (the model DERIVATION over it is checkpointed, so
    // the query plan shows an ExistingRDD; the contract lives here)
    val shards = graft.dedup.Dedup.ensureDocShards(spark, sf, 3)
    val name = "docs_mod3_" + Integer.toHexString(sf.hashCode)
    val pLm = plan(graft.text.TextAnalysis
      .bigramStateArtifactFolded(spark, name, shards))
    assert(pLm.contains("lm_state_fold_"),
      "LM fold must serve the published state")
    assert(!pLm.contains("documents.parquet"),
      "LM fold serve plan re-scans the corpus")
    val partSql = "CAST(floor(doc_id / 200) AS BIGINT)"
    val pZm = plan(graft.engine.Skipping.zoneMapArtifactFolded(spark, name,
      shards, "batch", partSql, Seq("doc_id")))
    assert(pZm.contains("zonemap_fold_"),
      "zone-map fold must serve the published manifest")
    assert(!pZm.contains("documents.parquet"),
      "zone-map fold serve plan re-scans the corpus")
  }

  test("filters are pushed down to the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(Filters.range(col("l_extendedprice"), 1000.0, 5000.0))
    val p = plan(df)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_extendedprice,1000.0"), p)
  }

  test("parameterized literals stay out of the scan: pushed filters keep their values") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import graft.plans.ParamLiteral
    val df = Tables.lineitem(spark, sf).filter(expr("l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'" +
      " AND l_quantity <= 24 AND l_linenumber <= 3"))
      .select((col("l_extendedprice") * 0.9).as("v"))
    assert(df.collect().nonEmpty)
    // the final adaptive plan: the rule runs as its query stages are built
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val root = df.queryExecution.executedPlan
    val scans = helper.collect(root) { case s: FileSourceScanExec => s }
    val filters = helper.collect(root) { case f: FilterExec => f }
    assert(scans.size == 1 && filters.size == 1, root)
    val pushed = scans.head.metadata("PushedFilters")
    Seq("GreaterThanOrEqual(l_shipdate,1996-03-01", "LessThanOrEqual(l_quantity,24.0)",
      "LessThanOrEqual(l_linenumber,3)").foreach(f => assert(pushed.contains(f), pushed))
    val scanExprs = scans.head.expressions ++ scans.head.dataFilters
    assert(scanExprs.exists(_.exists(_.isInstanceOf[Literal])), scans.head)
    assert(!scanExprs.exists(_.exists(_.isInstanceOf[ParamLiteral])), scans.head)
    // the filter above the scan holds parameters and prints as before
    val cond = filters.head.condition
    assert(cond.collect { case p: ParamLiteral => p }.size == 3, cond)
    assert(cond.toString.contains("(l_quantity#") && cond.toString.contains("<= 24.0)"), cond)
    assert(cond.toString.contains("<= 3)"), cond)
  }

  test("projection prunes the read schema") {
    val df = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("dim joins broadcast, not shuffle") {
    val df = Joins.customersPerRegion(
      Tables.customer(spark, sf), Tables.nation(spark, sf), Tables.region(spark, sf))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("top-K plans TakeOrderedAndProject (no full sort)") {
    val df = TopK.topK(
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_extendedprice")),
      Seq(NextK.Order("l_extendedprice", ascending = false), NextK.Order("l_orderkey")), 15)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("histogram aggregates partially before the shuffle") {
    val df = Histograms.histogram1D(Tables.lineitem(spark, sf),
      Histograms.numericBucket(col("l_extendedprice"), 0.0, 110000.0, 22))
    val p = plan(df)
    // partial + final HashAggregate = the sketch-monoid dataflow
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("GroupTopK custom operator matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val custom = graft.plans.GroupTopK.groupTopK(li,
      Seq("l_returnflag"),
      Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)), 5)
      .select("l_returnflag", "rank", "l_orderkey", "l_linenumber")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val window = li.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("l_returnflag", "rank", "l_orderkey", "l_linenumber")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(custom == window && custom.nonEmpty)
  }

  test("GroupTopK plans partial heap before the exchange") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
    val df = graft.plans.GroupTopK.groupTopK(li,
      Seq("l_returnflag"), Seq(("l_extendedprice", false), ("l_orderkey", true)), 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GroupTopKPartial"), p)
    assert(p.contains("GroupTopKFinal"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
    // the partial heap must run BELOW the exchange (map-side pruning)
    assert(p.indexOf("GroupTopKPartial") > p.indexOf("Exchange"), p)
  }

  test("neighbour rankings run on GroupTopK partial heaps, never a window") {
    Seq("ann_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_hard_negatives",
        "source_cap").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("GroupTopKPartial") && p.contains("Exchange"), s"$name\n$p")
      // the partial heap runs BELOW the exchange (map-side pruning)
      assert(p.indexOf("GroupTopKPartial") > p.indexOf("Exchange"), s"$name\n$p")
      assert(!p.contains("Window"), s"$name\n$p")
    }
  }

  test("interval histogram prunes the scan to the two endpoint columns") {
    val li = Tables.lineitem(spark, sf)
    val df = Intervals.histogram(li,
      Intervals.make(col("l_discount"), col("l_tax")), 0.0, 0.25, 10)
    assert(df.collect().nonEmpty)
    val p = plan(df)
    // only the bucket array is projected before the explode, so the
    // scan reads just the two endpoint columns
    assert(p.contains("ReadSchema: struct<l_discount:double,l_tax:double>"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("exact_freq candidate joins broadcast (no corpus shuffle)") {
    val df = DistinctAndFrequency.exactFrequencies(Tables.orders(spark, sf),
      Seq("o_orderpriority", "o_orderstatus"),
      Seq(Seq("1-URGENT", "F"), Seq("3-MEDIUM", "Z")))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val rows = df.collect()
    assert(rows.length == 2)
    // absent candidate reports 0
    assert(rows.exists(r => r.getString(1) == "Z" && r.getLong(2) == 0L), rows.mkString(","))
  }

  test("multimodal feature extraction is narrow (no exchange)") {
    val df = graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.syntheticPixelMedia(Tables.documents(spark, sf))).toDF()
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
  }

  test("vector dot stays inside whole-stage codegen") {
    val e = Tables.embeddings(spark, sf)
    val df = e.select(graft.ann.Similarity.norm(col("embedding")).as("n"))
    val p = plan(df)
    // "*(n)" prefix = operator compiled into a WholeStageCodegen stage;
    // a codegen-incompatible expression would print a bare Project
    assert(p.contains("*(1) Project"), p)
  }

  test("asof join shuffles exactly once (on the key)") {
    val e = Tables.events(spark, sf)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    val df = AsOfJoin.asofJoin(clicks, views, Seq("user_id"), "ts", Seq("view_id"))
    val p = plan(df)
    // tagged union + one window: a single hash exchange on user_id, no
    // join operator (and so no range cross-join) anywhere in the plan
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("hash split is narrow; packing has no single-partition stage") {
    val docs = Tables.documents(spark, sf)
    val split = graft.pipeline.Pipeline.hashSplit(
      docs.select(col("doc_id")), col("doc_id"), 80)
    assert(!plan(split).contains("Exchange"), plan(split))
    val packed = graft.pipeline.Pipeline.packSequences(
      docs.select(col("doc_id"), col("source"), lit(10L).as("n_tokens")),
      col("source"), col("doc_id"), col("n_tokens"), 2048L)
    val p = plan(packed)
    // two-level packing: the data-sized window is partitioned by
    // (group, sub) — no unpartitioned Window anywhere; the only
    // SinglePartition exchange allowed is the bounded 1-row order-key
    // extent aggregate that rides in as a broadcast (r7: the extent
    // used to be an EAGER .head() job at construction time)
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isEmpty, p)
    // the extent subtree appears under both the offsets aggregate and
    // the main spine in the STATIC plan (2 bounded 1-row aggs); AQE
    // reuses the exchange at runtime. What must never appear is a
    // DATA-sized single-partition stage — every SinglePartition here
    // feeds a min/max extent aggregate.
    val sp = "Exchange SinglePartition".r.findAllIn(p).size
    assert(sp <= 2 && sp <= "partial_min|partial_max|min\\(".r.findAllIn(p).size, p)
    assert(p.contains("Exchange hashpartitioning"), p)
    // construction and planning run ZERO Spark jobs: packSequences is
    // lazily composable (the plan above was already produced — nothing
    // should have hit the cluster)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val again = graft.pipeline.Pipeline.packSequences(
        docs.select(col("doc_id"), col("source"), lit(10L).as("n_tokens")),
        col("source"), col("doc_id"), col("n_tokens"), 2048L)
      again.queryExecution.executedPlan // force planning, no action
      Thread.sleep(300) // let any stray job-start events drain
      assert(jobs.get() == 0, s"construction ran ${jobs.get()} jobs")
      assert(again.count() > 0) // and the frame still evaluates
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("deterministic shuffle ranks without a global window") {
    val docs = Tables.documents(spark, sf)
    val df = graft.pipeline.Pipeline.deterministicShuffle(
      docs.select(col("doc_id")), col("doc_id"))
    val p = plan(df)
    // hash-bucketed rank + broadcast offsets: the corpus never funnels
    // through one partition (the old Window.orderBy form did)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q3/q5 multi-join: filters pushed to scans, top-10 bounded, dims broadcast") {
    // earlier suites may have cached whole tables (the JDBC fixture
    // caches customer); the cache manager would substitute the
    // InMemoryRelation and hide the scan this test asserts on
    spark.catalog.clearCache()
    val q3 = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    val p3 = plan(q3)
    assert(p3.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p3)
    assert(p3.contains("TakeOrderedAndProject"), p3)
    val q5 = SparkEntry.queries("q5_local_supplier")(spark, sf)
    val p5 = plan(q5)
    assert(p5.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"), p5)
    assert(p5.contains("BroadcastHashJoin"), p5)
  }

  test("q6/q4: full predicate pushdown; EXISTS becomes a semi join") {
    spark.catalog.clearCache()
    // FormattedMode: the simple plan truncates long PushedFilters lists
    val p6 = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // all four predicates must reach the scan — the point of the anchor
    assert(p6.contains("GreaterThanOrEqual(l_shipdate,"), p6)
    assert(p6.contains("GreaterThanOrEqual(l_discount,0.05)"), p6)
    assert(p6.contains("LessThanOrEqual(l_discount,0.07)"), p6)
    assert(p6.contains("LessThan(l_quantity,24.0)"), p6)
    val p4 = plan(SparkEntry.queries("q4_order_priority")(spark, sf))
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"), p4)
    // q17: the correlated scalar subquery must decorrelate into a
    // per-key aggregate + equi-join, never a per-row nested loop
    val p17 = plan(SparkEntry.queries("q17_small_qty_revenue")(spark, sf))
    assert("HashAggregate".r.findAllIn(p17).size >= 2, p17)
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoopJoin"), p17)
  }

  test("q18/q21: pre-join aggregate; semi/anti chain stays equi-keyed") {
    spark.catalog.clearCache()
    // q18: the big-order set must be aggregated BEFORE the join (one
    // lineitem shuffle), and the top-100 must be bounded
    val p18 = plan(SparkEntry.queries("q18_large_volume_customer")(spark, sf))
    assert(p18.contains("TakeOrderedAndProject"), p18)
    assert(!p18.contains("CartesianProduct") && !p18.contains("BroadcastNestedLoopJoin"), p18)
    // partial agg on lineitem feeds the join — at least two
    // HashAggregates (partial+final) appear below the join in the plan
    assert("HashAggregate".r.findAllIn(p18).size >= 2, p18)
    // q21: EXISTS / NOT EXISTS folded into ONE per-order min/max
    // aggregate (partial+final HashAggregate pair keyed on l_orderkey)
    // joined back to the candidate rows — no semi/anti probe passes
    // over lineitem, and never a nested loop over it
    val p21 = plan(SparkEntry.queries("q21_waiting_supplier")(spark, sf))
    assert(!p21.contains("LeftSemi") && !p21.contains("LeftAnti"), p21)
    assert(p21.contains("min_late") && p21.contains("max_late"), p21)
    assert("HashAggregate".r.findAllIn(p21).size >= 2, p21)
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoopJoin"), p21)
  }

  test("q9/q11 proxies: part filter pushed + dims broadcast; scalar total broadcast") {
    spark.catalog.clearCache()
    // q9: the LIKE filter reaches the part scan, the part and
    // supplier→nation dims broadcast, and no nested loop touches the
    // fact side — lineitem×orders is the only shuffled join
    val p9 = SparkEntry.queries("q9_profit_by_nation")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p9.contains("StringContains(p_name,red)"), p9)
    assert(p9.contains("BroadcastHashJoin"), p9)
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoopJoin"), p9)
    // q11: the global total is a 1-ROW BROADCAST under the filter (the
    // scalar-subquery HAVING), never a window over the per-key rows and
    // never a driver-side collect; per-key aggregation map-side combines
    val p11 = plan(SparkEntry.queries("q11_important_parts")(spark, sf))
    assert(p11.contains("BroadcastNestedLoopJoin"), p11)
    assert(!p11.contains("Window"), p11)
    assert("HashAggregate".r.findAllIn(p11).size >= 2, p11)
  }

  test("edit-distance dedup: candidates via hash join, bounded verify") {
    spark.catalog.clearCache()
    val p = plan(SparkEntry.queries("dedup_edit_distance")(spark, sf))
    // candidate pairs come from ONE bounded postings aggregation over
    // the window-hash index (the df-cut happens inside this shuffle),
    // never an all-pairs nested loop
    assert(p.contains("bounded_postings"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("plain cross-corpus wrapper pins no session-lifetime cache") {
    val docs = Tables.documents(spark, sf)
    val delta = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    graft.dedup.Dedup.minhashLshAgainst(delta, corpus, 3, 64, 32, 0.5).count()
    // a second identical call must not be answered from a CacheManager
    // entry the first call left pinned (the benchmark/probe accretion
    // this wrapper used to cause); its own materialization is RDD-level
    // and cleaner-managed
    val p = plan(graft.dedup.Dedup.minhashLshAgainst(delta, corpus, 3, 64, 32, 0.5))
    assert(!p.contains("InMemoryTableScan"), p)
  }

  test("incremental dedup bands shuffle on both sides (no exploded broadcast)") {
    val docs = Tables.documents(spark, sf)
    val df = graft.dedup.Dedup.minhashLshAgainst(
      docs.filter(pmod(col("doc_id"), lit(10L)) === 0L),
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L), 3, 64, 32, 0.5)
    val p = plan(df)
    // band join: post-explode sizes are bands x the planner's estimate,
    // so neither side may be broadcast; shuffle on (band, key) only
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus mix cumulates per (source, sub-bucket), offsets broadcast") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val df = graft.pipeline.Pipeline.corpusMix(docs, col("doc_id"),
      col("source"), col("n_toks"), Map("src0" -> 800L, "src1" -> 600L))
    val p = plan(df)
    // the data-sized window must be keyed by (source, sub-bucket) — a
    // source-only partition spec would sort each source's whole corpus
    // share in one task
    assert(!p.contains("Exchange SinglePartition"), p)
    assert("Window \\[[^\\]]*\\], \\[__g[^,]*, __s[^\\]]*\\]".r.findFirstIn(p).nonEmpty, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("string boundaries come from the KMV sampler, not a global ntile") {
    val df = Quantiles.stringBoundaries(Tables.customer(spark, sf), "c_name", 8)
    val p = plan(df)
    // result is a driver-built frame fed by the bounded KMV aggregate —
    // no window, no exchange anywhere in the declared plan
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("row_at_position seeks via buckets (bounded offset funnel)") {
    val df = Find.rowAtPosition(
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")),
      Seq(NextK.Order("l_extendedprice"), NextK.Order("l_orderkey"),
        NextK.Order("l_linenumber")), 1000)
    val p = plan(df)
    // the seek sorts only one value-bucket's rows through a bounded
    // top-(offset+1) heap — never a global Sort of the table
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("geo metadata join broadcasts the metadata side") {
    import spark.implicits._
    val zones = Seq(("AFRICA", "south")).toDF("r_name", "zone")
    val df = Tables.region(spark, sf).join(broadcast(zones), Seq("r_name"), "left")
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("decontamination joins on shingle with no cartesian/nested-loop") {
    val all = Tables.documents(spark, sf)
    val df = graft.text.TextAnalysis.contamination(
      all.filter(pmod(col("doc_id"), lit(50L)) =!= 7L),
      all.filter(pmod(col("doc_id"), lit(50L)) === 7L), 3)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // corpus-side aggregation is partial+final (map-side combine)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("jaccard df-cut: no window over the skewed shingle key, hot list broadcast") {
    val salted = Tables.documents(spark, sf)
      .withColumn("text", concat(col("text"), lit(" zz common tail")))
    val df = graft.dedup.Dedup.jaccardPairs(salted, 3, 0.5, 50L)
    // the cut must be aggregate + anti-join: a window over the shingle
    // key puts every occurrence of a ubiquitous shingle in one task.
    // The broadcast is AQE's runtime decision (a forced broadcast()
    // would be unbounded for tiny thresholds) — materialize and assert
    // the FINAL adaptive plan chose a broadcast anti-join here.
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("headline jaccard query keeps the df-cut on (anti-join in plan, no window)") {
    // r5 verdict: the headline passed Long.MaxValue, disabling the
    // operator's skew guard. The registered query must carry the same
    // aggregate + anti-join cut shape as the salted fixture above.
    val df = SparkEntry.queries("dedup_jaccard_3gram")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("repetition signals: gram mode is aggregate-shaped, no row-local O(len^2)") {
    val df = graft.text.TextAnalysis.repetitionSignals(Tables.documents(spark, sf))
    val p = plan(df)
    assert(p.contains("Generate explode"), p) // distributed 2-gram explode
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pii redaction is a narrow codegen'd map (no exchange)") {
    val df = Tables.documents(spark, sf).select(col("doc_id"),
      graft.text.TextAnalysis.redactPii(col("text")).as("clean"))
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(p.contains("*(1) Project"), p)
  }

  test("connected-components rounds have no single-partition exchange") {
    import spark.implicits._
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .repartition(4)
    val cc = graft.dedup.Dedup.connectedComponents(pairs, maxIters = 12)
    // rounds shuffle on node keys at the session's shuffle parallelism;
    // AQE may coalesce tiny test data, but nothing may DEMAND one
    // partition (that would serialize the corpus-scale label state)
    assert(!plan(cc).contains("Exchange SinglePartition"), plan(cc))
    // labels only move down, toward the component minimum (progress
    // invariant; full convergence is PipelineSpec's chain test)
    assert(cc.collect().forall(r => r.getLong(1) <= r.getLong(0)))
  }

  test("chunking is a narrow explode (no exchange)") {
    val df = graft.text.TextAnalysis.chunk(Tables.documents(spark, sf), 128, 64)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("model score is one narrow codegen'd map (literal vocab, no join)") {
    val df = Tables.documents(spark, sf).select(col("doc_id"),
      graft.text.TextAnalysis.modelScore(col("text"),
        graft.queries.WebIngest.modelVocab, -1.0).as("raw_score"))
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("dup passages shuffle on the window hash, never cross-join") {
    val df = graft.text.TextAnalysis.dupPassages(Tables.documents(spark, sf), 5)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the dup-hash restriction is a semi join, not a full materialization
    assert(p.contains("LeftSemi"), p)
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // the 100 TB join strategy: pre-bucket both fact tables on the join
    // key once at write time; every later join on that key reads
    // co-located buckets and shuffles nothing
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    val l = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    try {
      o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_bucketed_orders")
      l.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_bucketed_lineitem")
      val j = spark.table("graft_bucketed_lineitem")
        .hint("merge")
        .join(spark.table("graft_bucketed_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p) // join AND aggregate reuse buckets
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }

  test("bloom decontamination probes without any corpus-side join") {
    val all = Tables.documents(spark, sf)
    val df = graft.text.TextAnalysis.contaminationBloom(
      all.filter(pmod(col("doc_id"), lit(50L)) =!= 7L),
      all.filter(pmod(col("doc_id"), lit(50L)) === 7L), 3)
    val p = plan(df)
    // the membership probe replaces the join: the only exchange left is
    // the per-doc count aggregation
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("web-ingest narrow maps: gopher/url/html plan with zero exchanges") {
    val d = Tables.documents(spark, sf)
    assert(!plan(graft.text.TextAnalysis.gopherRules(d)).contains("Exchange"))
    assert(!plan(graft.text.TextAnalysis.urlFilter(d, Seq("x.example.com")))
      .contains("Exchange"))
    assert(!plan(graft.text.TextAnalysis.htmlTextStats(d)).contains("Exchange"))
  }

  test("line dedup: hash-keyed dup agg, no cartesian, broadcast-free corpus joins") {
    val d = Tables.documents(spark, sf)
    val p = plan(graft.text.TextAnalysis.removeDupLines(d, 2))
    // the dup table and the cut-position join key on the 128-bit line
    // hash — never a broadcast of a corpus-sized side, never a BNLJ
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("semantic decontamination: eval side broadcasts, no corpus-sized shuffle before the filter") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ann.Similarity.semanticContamination(
      e.filter(col("label") =!= 9), e.filter(col("label") === 9), 0.4))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // the only hash exchange is the per-vector hit aggregation (partial
    // aggregated below it, so at most one tiny row per flagged vector)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("kmeans assignment is a narrow map against literal centroids") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ann.Similarity.kmeansAssign(e, 8, 1))
    assert(!p.contains("Exchange"), p) // Lloyd passes are separate jobs
  }

  test("semantic dedup self-join shuffles on the cluster key (no broadcast of the corpus)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ann.Similarity.semanticDedupPairs(e, 0.9, 8, 1))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("exact kmeans assignment is a narrow map; exact semdedup shuffles on cluster only") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val pa = plan(graft.ann.Similarity.kmeansExact(e, 4, 1))
    assert(!pa.contains("Exchange"), pa) // Lloyd passes are separate jobs
    val pp = plan(graft.ann.Similarity.semanticDedupExact(e, 2, 5, 4, 1))
    assert(pp.contains("SortMergeJoin"), pp)
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoop"), pp)
  }

  test("tfidf top terms rank through GroupTopK partial heaps") {
    val df = graft.text.TextAnalysis.tfidfTopTerms(Tables.documents(spark, sf), 5)
    val p = plan(df)
    assert(p.contains("GroupTopKPartial"), p) // heap below the exchange
    // the only nested-loop join allowed is the broadcast of the 1-row N
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25 top-k: bounded take, broadcast stats, rank window only over k rows") {
    val df = graft.text.TextAnalysis.bm25TopK(Tables.documents(spark, sf),
      Seq("spark", "join"), 10)
    val p = plan(df)
    // top-k rides TakeOrderedAndProject (never a full global sort of
    // the scored corpus); the rank window runs AFTER the limit, over
    // at most k rows (the driver-sized-window precedent of hist_cdf)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // df + corpus stats join as broadcasts, not shuffles of the corpus
    assert(p.contains("BroadcastExchange"), p)
  }

  test("bigram surprisal: one corpus scan, partial-agg counts, no nested loop") {
    val df = graft.text.TextAnalysis.bigramSurprisal(
      Tables.documents(spark, sf))
    val p = plan(df)
    // the train/serve split: the model side is a checkpointed
    // vocab-sized frame, so the SCORING spine is the only visible
    // corpus scan, pruned to (doc_id, text); emission is the one-pass
    // codegen kernel, not an interpreted lambda chain
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("word_bigrams"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // count aggregations are map-side combined (partial HashAggregate
    // below each exchange)
    assert(p.contains("HashAggregate"), p)
  }

  test("backoff serve: three model joins broadcast, no corpus-sized shuffle before the fold") {
    val docs = Tables.documents(spark, sf)
    val (s3, s2, s1, oov) = graft.text.TextAnalysis.trigramBackoffModel(docs)
    val df = graft.text.TextAnalysis.scoreTrigramBackoff(docs, s3, s2, s1, oov)
    val p = plan(df)
    // model frames (checkpointed, vocab-sized) broadcast to the serve
    // spine; the corpus pays only its own per-doc aggregation shuffle
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("backoff artifact serve: the plan scans the PUBLISHED model, " +
      "never re-derives it from the corpus") {
    val (s3, s2, s1, oov) =
      graft.text.TextAnalysis.trigramModelArtifact(spark, sf)
    val df = graft.text.TextAnalysis.scoreTrigramBackoff(
      Tables.documents(spark, sf), s3, s2, s1, oov)
    val p = plan(df)
    // exactly four parquet scans: the scoring corpus plus the three
    // model-frame reads of the stored artifact — if the model were
    // re-derived in-plan there would be extra corpus scans and
    // model-building aggregations above them
    assert(p.split("Scan parquet").length - 1 == 4, p)
    assert(p.contains("map_"), p) // the artifact's fingerprint-addressed file
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the artifact-served results are bit-identical to fresh training
    // (deterministic integer scores) — the equality the bench serve
    // entry and its always-train twin both rest on
    val fresh = graft.text.TextAnalysis.trigramBackoff(
      Tables.documents(spark, sf), Tables.documents(spark, sf))
    val served = df.collect().map(_.toString).sorted
    assert(served.sameElements(fresh.collect().map(_.toString).sorted))
  }

  test("ccnet artifact serve: the bucket plan reads the stored bigram " +
      "model and matches in-query training bit-for-bit") {
    val model = graft.text.TextAnalysis.bigramModelArtifact(spark, sf)
    // the bucket plan truncates at the per-doc score checkpoint, so the
    // stored-model property is asserted on the scoring spine (the part
    // the checkpoint materializes): corpus scan + stored-model scan,
    // no model-building aggregation over corpus bigrams
    val sp = plan(graft.text.TextAnalysis.scoreBigramSurprisal(
      Tables.documents(spark, sf), model))
    assert(sp.contains("map_"), sp) // fingerprint-addressed model file
    assert(sp.split("Scan parquet").length - 1 == 2, sp)
    val df = graft.text.TextAnalysis.ccnetBucketsWith(
      Tables.documents(spark, sf), model)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    val fresh = graft.text.TextAnalysis.ccnetBuckets(
      Tables.documents(spark, sf))
    assert(df.collect().map(_.toString).sorted
      .sameElements(fresh.collect().map(_.toString).sorted))
  }

  test("cdc merge: the base snapshot is never reshuffled — feed-sized " +
      "exchanges only, anti-join broadcasts the winners") {
    import spark.implicits._
    val base = Tables.orders(spark, sf)
    // a deltas-sized feed (the CDC regime): the only hash exchange in
    // the plan must be the feed's latest-wins window; the base scan
    // streams into a broadcast anti-join
    val feed = Seq((1L, 1L, "U1", 1.0,
        new java.sql.Timestamp(0L), "p", "U", 1L))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "op", "seq")
    val p = plan(graft.pipeline.Cdc.mergeApply(base, feed, Seq("o_orderkey")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the winners subtree feeds two branches (anti-join keys + the
    // upsert union) under different column pruning, so the feed's
    // window exchange appears twice — BOTH are feed-sized; the base
    // FileScan streams into the broadcast join with no exchange above
    // it, which is the property that matters at 100 TB
    assert(p.split("Exchange hashpartitioning").length - 1 == 2, p)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1 &&
      !p.linesIterator.takeWhile(!_.contains("Scan parquet"))
        .exists(_.contains("Exchange hashpartitioning")), p)
  }

  test("source cap: heap aggregator, no window and no sort of the corpus") {
    val df = graft.text.TextAnalysis.sourceCap(Tables.documents(spark, sf), 5)
    val p = plan(df)
    // the per-key top-K rides the GroupTopK bounded heaps (partial heap
    // below the exchange), NEVER a row_number window (which would sort
    // every key's full set)
    assert(p.contains("GroupTopKPartial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("url canonicalization: narrow chain, the only exchange is the final agg") {
    val df = graft.text.TextAnalysis.urlDedup(Tables.documents(spark, sf))
    val p = plan(df)
    // one extraction scan, row-local regex chain, one hash-agg exchange
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.split("Exchange").length - 1 <= 2, p) // partial/final agg pair
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("wordpiece serve: distinct-word split broadcasts back to the corpus") {
    val df = graft.text.TextAnalysis.wordpieceStats(
      Tables.documents(spark, sf), queries.WebIngest.wordpieceVocab)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    // the executed-plan string elides the deep Project carrying the
    // expression — assert it on the optimized plan instead
    assert(df.queryExecution.optimizedPlan.toString.contains("wordpiece_segment"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dsir weights: one training pass builds both models, one scoring scan") {
    val df = graft.text.TextAnalysis.dsirWeights(
      Tables.documents(spark, sf), col("lang") === "en")
    val p = plan(df)
    // raw + target counts come from ONE partial agg (FILTER-style
    // conditional sum), never a second corpus pass for the target
    // model; the weight table is checkpointed, so the scoring spine
    // is the only visible scan
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.contains("word_bigrams"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("blocklist scan: one text pass, pruned scan, lexicon join broadcast") {
    val df = graft.text.TextAnalysis.blocklistTermStats(
      Tables.documents(spark, sf), Seq("spark", "slow join", "qqq"))
    val p = plan(df)
    // exactly ONE corpus scan (the whole point of the automaton: one
    // pass for the entire lexicon), pruned to the text column
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.contains("ReadSchema: struct<text:string>"), p)
    // the automaton expression is in the plan (not m contains() scans)
    assert(p.contains("ac_matches"), p)
    assert(!p.toLowerCase.contains("contains("), p)
    // the zero-hit restore join is broadcast-sized, never a shuffle of
    // the hit table against the corpus
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rouge dedup: pool broadcasts, LCS kernel in plan, argmax is an agg not a window") {
    val df = graft.text.TextAnalysis.rougeDedup(
      Tables.documents(spark, sf), Fixtures.instPool, 24)
    val p = plan(df)
    // candidates × pool is a BROADCAST nested-loop of a literal 8-row
    // local relation (the one sanctioned BNLJ shape: broadcast side is
    // driver-literal and O(pool)); the per-doc argmax is a partial agg
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(p.contains("BroadcastExchange") || p.contains("LocalTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(df.queryExecution.optimizedPlan.toString.contains("lcstokens"), p)
  }

  test("langid NB serve: frozen model rides in the kernel — one scan, zero exchanges") {
    val docs = Tables.documents(spark, sf)
    val (model, den) = graft.text.TextAnalysis.langidNbModel(
      docs, col("lang") === "en")
    val df = graft.text.TextAnalysis.scoreLangidNb(docs, model, den)
    val p = plan(df)
    // the vocab-sized model collects into the scorer kernel, so the
    // serve is ONE narrow codegen map: no joins, no shuffle at all
    // (the DataFrame form paid grams × langs rows and two exchanges)
    assert(p.split("Scan parquet").length - 1 == 1, p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(df.queryExecution.optimizedPlan.toString.contains("nb_lang_score"), p)
  }

  test("hard negatives + triplets: anchors broadcast, heap/agg top-1, no corpus window") {
    val emb = Tables.embeddings(spark, sf)
    val hn = plan(graft.ann.Similarity.hardNegatives(emb, Seq(0L, 1L), 5))
    assert(hn.contains("BroadcastExchange"), hn)
    assert(!hn.contains("Window") && !hn.contains("CartesianProduct"), hn)
    val tr = plan(graft.ann.Similarity.triplets(emb, Seq(0L, 1L)))
    assert(tr.contains("BroadcastExchange"), tr)
    assert(!tr.contains("Window") && !tr.contains("CartesianProduct"), tr)
  }

  test("span corruption / fim / chunking: one corpus scan each, fim and chunks shuffle-free") {
    val docs = Tables.documents(spark, sf)
    val fim = plan(graft.text.TextAnalysis.fimTransform(docs))
    assert(fim.split("Scan parquet").length - 1 == 1, fim)
    assert(!fim.contains("Exchange"), fim) // row-local: NO shuffle at all
    val ch = plan(graft.text.TextAnalysis.chunkTokens(docs, 32, 16))
    assert(ch.split("Scan parquet").length - 1 == 1, ch)
    assert(!ch.contains("Exchange"), ch)
    val sc = plan(graft.text.TextAnalysis.spanCorruption(docs))
    assert(sc.split("Scan parquet").length - 1 == 1, sc)
    assert(!sc.contains("CartesianProduct") && !sc.contains("SortMergeJoin"), sc)
  }

  test("events analytics: user-partitioned windows, hour/cohort-sized finals") {
    val ev = Tables.events(spark, sf)
    val seqp = plan(graft.streaming.Events.eventSequences(ev, 20))
    // lead() windows partition by user — never a global event window
    assert(seqp.contains("user_id"), seqp)
    assert(!seqp.contains("CartesianProduct"), seqp)
    assert(seqp.contains("TakeOrdered"), seqp)
    val ret = plan(graft.streaming.Events.retentionCohorts(ev))
    assert(!ret.contains("CartesianProduct") && !ret.contains("Window"), ret)
    val lat = plan(graft.streaming.Events.funnelLatency(ev,
      Seq("view", "click", "purchase")))
    assert(!lat.contains("CartesianProduct"), lat)
    val an = plan(graft.streaming.Events.hourlyAnomaly(ev))
    // the single-partition window here is HOUR-sized by construction
    assert(an.contains("date_trunc"), an)
  }

  test("binned range join plans a hash join, never a nested loop") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("o_until"))
    val li = Tables.lineitem(spark, sf).select(col("l_shipdate"), col("l_quantity"))
    val p = plan(RangeJoin.pointInIntervalTs(
      li, col("l_shipdate"), orders, col("o_orderdate"), col("o_until"), 7 * 86400L))
    // the whole point: the range predicate rides an equi-join on the bin
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("salted join keys on (key, salt) and never broadcasts") {
    val docsDf = Tables.documents(spark, sf)
    val dim = docsDf.groupBy(col("source")).agg(avg(col("n_chars")).as("src_avg"))
    val p = plan(Joins.saltedJoin(docsDf, dim, "source", col("doc_id"), 8))
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__salt"), p) // the salt is part of the join key
  }

  test("weighted sample plans TakeOrderedAndProject (no corpus sort)") {
    val p = plan(graft.pipeline.Pipeline.weightedSample(
      Tables.documents(spark, sf), col("doc_id"), col("n_chars").cast("double"), 100))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("funnel windows are user-partitioned (no global window)") {
    val p = plan(graft.streaming.Events.funnel(
      Tables.events(spark, sf), Seq("view", "click", "purchase")))
    assert(p.contains("Window ["), p)
    // every Window node carries a non-empty partition spec (the final
    // 3-column count is a 1-row aggregate, which is allowed its
    // bounded-input SinglePartition exchange)
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isEmpty, p)
  }

  test("PQ ADC serve plan does not grow with the query batch size") {
    // the r6 shape combined per-query ADC frames with reduce(union) —
    // a 64-query batch meant a 64-way union and 64 corpus-scan
    // branches; the r7 contract is ONE broadcast join of codes against
    // the query batch carrying its ADC tables, so the plan is constant
    // in #queries
    val emb = Tables.embeddings(spark, sf)
    val qs = (0L until 64L).toSeq
    val df = graft.ann.Similarity.pqTopK(emb, qs, 5)
    val p = plan(df)
    assert(!p.contains("Union"), p)
    // exactly one scan of the codes relation feeds the ADC score: the
    // broadcast-nested-loop join against the query batch appears once
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3, p)
  }

  test("gopher repetition and mojibake plans have ZERO exchanges") {
    val d = Tables.documents(spark, sf)
    val pRep = plan(graft.text.TextAnalysis.gopherRepetition(d))
    assert(!pRep.contains("Exchange"), pRep)
    assert(pRep.contains("gopher_rep_signals"), pRep)
    val pMoji = plan(graft.text.TextAnalysis.mojibakeRepair(d))
    assert(!pMoji.contains("Exchange"), pMoji)
    val pChat = plan(graft.text.TextAnalysis.chatLossMask(d))
    assert(!pChat.contains("Exchange"), pChat)
  }

  test("bitext mining: broadcast bipartite score, partial elections, no window") {
    val e = Tables.embeddings(spark, sf)
    val p = plan(graft.ann.Similarity.bitextMine(e))
    // the target side broadcasts into the scored product; elections are
    // struct-max aggregates WITH map-side partials (partial_max) —
    // Spark plans struct max as SortAggregate (partition-local sorts,
    // no extra exchange); the final equality join of two data-sized
    // election frames is allowed to sort-merge
    assert(p.contains("Broadcast"), p)
    assert(p.contains("partial_max"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dynamic runtime filter pushes down to the parquet scan") {
    import graft.functions.DynamicUdf
    DynamicUdf.registerExpr(spark, "plan_spec_dyn",
      "q >= 45.0 AND m IN ('A', 'R')", Seq("q", "m"))
    val df = Tables.lineitem(spark, sf)
      .filter(DynamicUdf.call(spark, "plan_spec_dyn",
        col("l_quantity"), col("l_returnflag")))
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    // the runtime-supplied predicate reaches the scan like a built-in
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p)
  }
}
