package graft

import graft.engine.{Layout, Tables}
import org.apache.spark.sql.functions._

/** Physical-layout utilities: bucketed co-located joins, skew salting,
  * extension-registered SQL functions, CSV type lattice.
  */
class LayoutSpec extends SparkSpec {

  test("compaction plan bins files by cumulative size in name order") {
    // hand-sized fake layout: partition a has files of 3k/3k/3k/5k —
    // with an 8k target, offset binning puts f1(0) f2(3k) f3(6k) in
    // bins 0,0,0 and f4 (cum-before 9k) in bin 1; partition b's single
    // big file is alone in bin 0 (a bin exceeds the target by at most
    // one file — the contract)
    val root = graft.engine.Artifacts.scratchDir("graft_compact")
    def put(part: String, name: String, size: Int): Unit = {
      val pd = new java.io.File(root.toFile, part); pd.mkdirs()
      java.nio.file.Files.write(new java.io.File(pd, name).toPath,
        new Array[Byte](size))
    }
    put("k=a", "part-1.parquet", 3000); put("k=a", "part-2.parquet", 3000)
    put("k=a", "part-3.parquet", 3000); put("k=a", "part-4.parquet", 5000)
    put("k=b", "part-1.parquet", 20000)
    put("k=a", ".hidden.parquet", 999)      // dotfiles never planned
    put("k=a", "_SUCCESS", 0)               // non-parquet never planned
    val plan = Layout.compactionPlan(spark, root.toString, 8192L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(plan == Set(
      ("k=a", "part-1.parquet", 3000L, 0L),
      ("k=a", "part-2.parquet", 3000L, 0L),
      ("k=a", "part-3.parquet", 3000L, 0L),
      ("k=a", "part-4.parquet", 5000L, 1L),
      ("k=b", "part-1.parquet", 20000L, 0L)), plan)
  }

  test("sink_compaction_plan reuses one per-JVM sink outside the artifact root") {
    def run(): String = {
      SparkEntry.queries("sink_compaction_plan")(spark, sf).collect()
      queries.Sources.compactionSinkDir.get
    }
    val first = run()
    assert(run() == first)
    val sink = java.nio.file.Paths.get(first)
    assert(!sink.startsWith(java.nio.file.Paths.get(graft.sources.Sources.rtDir(""))),
      first)
    // the oracle carries the listing, so it outlives the sink
    val oracle = SparkEntry.oracleSql("sink_compaction_plan")
    val files = sink.toFile.listFiles.filter(_.getName.startsWith("lang="))
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(f => oracle.contains(f.getName)))
  }

  test("sink_zorder stages its sink under the per-JVM scratch root") {
    val files = SparkEntry.queries("sink_zorder")(spark, sf).inputFiles
    val root = graft.engine.Artifacts.scratchRoot
    assert(files.nonEmpty && files.forall(f =>
      java.nio.file.Paths.get(new java.net.URI(f)).startsWith(root)),
      s"$root: ${files.mkString(", ")}")
  }

  /** Asserts that no file in `src/main/scala` but `owner` (relative to
    * it) contains any of `names`. */
  private def onlyOwnerNames(owner: String, names: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isRegularFile(root.resolve(owner)), root.toAbsolutePath)
    val files = java.nio.file.Files.walk(root)
    val offenders =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != root.resolve(owner))
        .flatMap { p =>
          val src = java.nio.file.Files.readString(p)
          names.filter(src.contains).map(n => s"$p: $n")
        }.toList
      finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only engine/Artifacts.scala names the artifact files and identity rules") {
    onlyOwnerNames("graft/engine/Artifacts.scala",
      Seq("_FINGERPRINT", "_PROVENANCE", "classStamp", "tableListing", "lineageDir"))
  }

  test("only the graftexec shim installs a task context or a task memory manager") {
    onlyOwnerNames("org/apache/spark/sql/execution/graftexec.scala",
      Seq("TaskContextImpl", "TaskContext.setTaskContext", "TaskMemoryManager"))
  }

  test("only engine/Sessions.scala scopes and cancels job groups") {
    onlyOwnerNames("graft/engine/Sessions.scala",
      Seq("setJobGroup", "clearJobGroup", "cancelJobGroup", "spark.jobGroup.id"))
  }

  test("bucketed tables join without a shuffle") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    spark.sql("DROP TABLE IF EXISTS graft_li_b")
    spark.sql("DROP TABLE IF EXISTS graft_o_b")
    Layout.writeBucketed(li, "graft_li_b", Seq("l_orderkey"), 8)
    Layout.writeBucketed(o, "graft_o_b", Seq("l_orderkey"), 8)
    val joined = spark.table("graft_li_b")
      .join(spark.table("graft_o_b"), Seq("l_orderkey"))
    // disable broadcast so the join strategy is SMJ over bucketed scans
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = Layout.saltedJoin(li, o, "l_orderkey", 4).count()
    assert(salted == plain)
  }

  test("partitionsForBytes sizes to ~128MB") {
    assert(Layout.partitionsForBytes(1L << 40) == 8192)
    assert(Layout.partitionsForBytes(1L) == 1)
  }

  test("GraftExtensions registers SQL functions") {
    // the session already exists, so apply the extensions to a fresh
    // SparkSessionExtensions and register what they inject into it
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    org.apache.spark.sql.graftshim.registerFunctions(ext, spark)
    val r = spark.sql(
      "SELECT vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d, " +
        "simhash60('a b c') AS sh, " +
        "sorted_intersect_size(shingle_set(split('a b c d', ' '), 3), " +
        "shingle_set(split('a b c e', ' '), 3)) AS isz").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 1) // shared shingle: "a b c"
    // wrong-typed input must fail ANALYSIS, not silently read int
    // elements as longs in codegen
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_intersect_size(array(1, 2), array(2, 3))").head()
    }
    assert(err.getMessage.contains("array<bigint>"), err.getMessage)
    // the storable-sketch SQL surface: build + merge + read end-to-end
    val sk = spark.sql(
      """SELECT hll_estimate(hll_merge(sk)) AS est FROM (
        |  SELECT id % 4 AS g, hll_build(id, 10) AS sk FROM range(1000) GROUP BY 1)""".stripMargin)
      .head()
    assert(math.abs(sk.getDouble(0) - 1000.0) <= 100.0, s"hll est ${sk.getDouble(0)}")
    val kq = spark.sql(
      "SELECT kll_quantile(kll_build(cast(id AS double)), 0.5) AS med FROM range(10000)")
      .head()
    assert(math.abs(kq.getDouble(0) - 5000.0) <= 300.0, s"kll median ${kq.getDouble(0)}")
    // theta set algebra from SQL: exhaustive regime -> exact answers
    val th = spark.sql(
      """SELECT theta_intersect(a.sk, b.sk) AS i, theta_jaccard(a.sk, b.sk) AS j
        |FROM (SELECT theta_build(id) AS sk FROM range(0, 300)) a,
        |     (SELECT theta_build(id) AS sk FROM range(200, 500)) b""".stripMargin)
      .head()
    assert(th.getDouble(0) == 100.0, s"theta intersect ${th.getDouble(0)}")
    assert(th.getDouble(1) == 0.2, s"theta jaccard ${th.getDouble(1)}")
    // every family by SQL name: per-group build -> merge -> reader
    def merged(build: String, read: String): org.apache.spark.sql.Row =
      spark.sql(
        s"""SELECT $read FROM (
           |  SELECT id % 4 AS g, $build AS sk FROM range(1000) GROUP BY 1)""".stripMargin)
        .head()
    val km = merged("kll_build(cast(id AS double))", "kll_quantile(kll_merge(sk), 0.5)")
    assert(math.abs(km.getDouble(0) - 500.0) <= 50.0, s"kll merged median ${km.getDouble(0)}")
    val tm = merged("theta_build(id)", "theta_estimate(theta_merge(sk))")
    assert(tm.getDouble(0) == 1000.0, s"theta merged estimate ${tm.getDouble(0)}")
    val bm = merged("bloom_build(id)",
      "bloom_might_contain(bloom_merge(sk), 7L), bloom_might_contain(bloom_merge(sk), 999L), " +
        "bloom_fill(bloom_merge(sk))")
    assert(bm.getBoolean(0) && bm.getBoolean(1), s"bloom merged lost a member: $bm")
    assert(bm.getDouble(2) > 0.0 && bm.getDouble(2) < 0.5, s"bloom merged fill $bm")
    val mm = merged("mg_build(cast(id % 3 AS string), 4)", "mg_entries(mg_merge(sk, 4))")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(mm.map(e => e.getString(0) -> e.getLong(1)) ==
      Seq("0" -> 334L, "1" -> 333L, "2" -> 333L), s"mg merged entries $mm")
  }

  test("type-inference lattice promotes correctly") {
    import spark.implicits._
    val raw = Seq(
      ("1", "1.5", "x", ""),
      ("22", "2", "y", ""),
      ("-3", "3e2", "1", "")).toDF("i", "d", "s", "e")
    val st = graft.sources.Sources.guessSchema(raw)
    assert(st("i").dataType == org.apache.spark.sql.types.IntegerType)
    assert(st("d").dataType == org.apache.spark.sql.types.DoubleType)
    assert(st("s").dataType == org.apache.spark.sql.types.StringType)
    assert(st("e").dataType == org.apache.spark.sql.types.NullType)
  }

  test("z-order layout bounds the second dimension far tighter than a single sort") {
    import org.apache.spark.sql.DataFrame
    val ev = graft.engine.Tables.events(spark, sf)
      .select(col("user_id"), col("value"))
    // 16-bit bucket ids on both dimensions
    val xa = pmod(col("user_id"), lit(65536L))
    val xb = pmod(floor(col("value") * 100).cast("long"), lit(65536L))
    val zDir = graft.engine.Artifacts.scratchDir("zord").toString
    val sDir = graft.engine.Artifacts.scratchDir("sorted").toString
    graft.engine.Layout.writeZOrdered(ev, xa, xb, zDir, 16)
    ev.withColumn("__a", xa).repartitionByRange(16, col("__a"))
      .sortWithinPartitions(col("__a")).drop("__a")
      .write.mode("overwrite").parquet(sDir)
    // mean per-file SECOND-dimension coverage: the share of value-range a
    // scan of that file cannot prune. Sorting by user_id alone leaves it
    // ~1 (no pruning on value); z-order bounds both dimensions.
    def meanValueCoverage(path: String): Double = {
      val df = spark.read.parquet(path)
        .select(col("value"), input_file_name().as("f"))
      val mm = df.agg(min(col("value")), max(col("value"))).head()
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      val per = df.groupBy(col("f"))
        .agg(((max(col("value")) - min(col("value"))) / lit(hi - lo)).as("cov"))
        .agg(avg(col("cov"))).head().getDouble(0)
      per
    }
    val zCov = meanValueCoverage(zDir)
    val sCov = meanValueCoverage(sDir)
    assert(zCov < 0.6 * sCov, s"z-order should bound value: z=$zCov vs sorted=$sCov")
  }

  test("inference lattice: Date rung between Double and String") {
    import spark.implicits._
    val raw = Seq(
      ("2024-01-15", "01/15/2024", "2024-01-15 10:30:00", "2024-01-15"),
      ("1999-12-31", "12/31/1999", "1999-12-31 23:59:59", "12/31/1999"),
      ("2000-02-29", "02/29/2000", "2000-02-29 00:00:00", "2000-02-29")
    ).toDF("iso", "us", "dt", "mixed")
    val st = graft.sources.Sources.guessSchema(raw)
    assert(st("iso").dataType == org.apache.spark.sql.types.DateType)
    assert(st("us").dataType == org.apache.spark.sql.types.DateType)
    assert(st("dt").dataType == org.apache.spark.sql.types.TimestampType)
    // single-format-per-column rule: a half-ISO half-US column is String
    assert(st("mixed").dataType == org.apache.spark.sql.types.StringType)
  }
}
