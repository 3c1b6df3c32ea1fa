package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Cross-query hygiene: `clearCache()` alone does not free
  // localCheckpoint RDD blocks, so the dedup family's checkpointed
  // signature RDDs stayed resident and inflated later measurements by
  // 3-5x (dedup_jaccard_3gram 4.20 s in-suite vs 1.09 s isolated on
  // identical code). Before every timed run: drop ALL persisted RDD
  // blocks (covers caches and local checkpoints), then GC-quiesce so
  // the timed region starts with a quiet heap. Runs outside the timed
  // region, so its own cost never lands in a measurement.
  private[graft] def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(rdd => try rdd.unpersist(blocking = true) catch { case _: Throwable => () })
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = engine.Sessions.local(cpus.toInt)
    // Warm the session (codegen, parquet footer cache, JIT) so the first
    // measured query doesn't absorb fixed startup cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // optional comma-separated query-name filter for profiling runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // Warm-run protocol, matching the reference's published numbers and
    // its own harness (paper §7.1 reports WARM latencies; in-repo
    // DPPerfBenchmarks uses runCount=7): each query runs `runs` times
    // and the minimum is reported. Spark's data cache is cleared between
    // runs — only code paths (codegen, JIT) stay warm, the data is
    // re-read every run.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // The dedup_/ann_ family actually executes max(runs, 3) runs (see
    // perQueryRuns below), so a top-level "runs" alone would misstate
    // the denominator behind min/spread for exactly the noisiest family
    // the spread field exists for. `runs_heavy` is emitted next to it:
    // the two fields plus the name-prefix rule fully determine every
    // query's run count.
    val runsHeavy = math.max(runs, 3)
    // Throwaway execution of one REAL query before any timing: the
    // generic warmup above doesn't touch the aggregate/shuffle codegen
    // paths, so the first timed query absorbed ~1.6 s of residual
    // session warmup (r3: nextk_basic 1.78 s vs the identically-shaped
    // nextk_desc 0.17 s) — distorting cross-round comparisons whenever
    // the driver runs with SPARK_GRAFT_RUNS=1.
    selected.headOption.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      quiesce(spark)
    }
    // A query that throws is never a measurement: it is named in the
    // top-level `failed` array and left out of queries, spread and total.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.flatMap { case (name, fn) =>
      // The dedup/ANN family is the most GC/cache-sensitive (checkpointed
      // signatures, broadcast candidate sets); give it one extra run so a
      // single perturbed execution can't define the reported minimum.
      val heavyFamily = name.startsWith("dedup_") || name.startsWith("ann_")
      val perQueryRuns = if (heavyFamily) math.max(runsHeavy, runs) else runs
      try {
        val times = (1 to perQueryRuns).map { _ =>
          quiesce(spark)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        Some(name -> ((times.min, times.max)))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v._1) }
      .mkString("{", ",", "}")
    // per-query run spread (max/min across this session's runs) next to
    // the min map: every map this round disagreed 1.3-2x on the tail
    // purely from host noise, so the artifact itself now carries the
    // evidence of how (un)stable each number was — a consumer can tell
    // "this 2.1 swung 1.9-3.8 across runs" from the line alone, no
    // second session needed. Separate top-level field so the `queries`
    // name->seconds contract is untouched.
    val spreads = results.map { case (k, v) =>
      "\"" + k + "\":" + fmt(if (v._1 > 0) v._2 / v._1 else 1.0)
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val failedField = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // ann_pq_build phase attribution (train vs encode) from the build's
    // driver-side receipt — a separate top-level field, NOT a queries
    // entry (its two phases are already inside ann_pq_build's total).
    // Attached only when THIS run executed the build: the scratch dir
    // outlives JVMs, and a stale receipt must not pose as this run's.
    val buildSplit = try {
      val p = java.nio.file.Paths.get(
        queries.Hygiene.pqScratch(sfDir), "build_receipt.json")
      if (selected.contains("ann_pq_build") && java.nio.file.Files.exists(p)) {
        // parse before splicing: a truncated/corrupt receipt must not
        // break the whole bench JSON line — splice the re-serialized
        // (validated) object, or omit the field
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(p))
        if (node != null && node.isObject)
          s""","ann_pq_build_split":${node.toString}"""
        else ""
      } else ""
    } catch { case _: Throwable => "" }
    // round-stamped map filename, resolved BEFORE the JSON is built so
    // the line can carry it machine-readably: historically the round-N
    // bench map has landed in bench_out_r{N+1}.json (the CORRECTNESS
    // inference below runs before the driver commits round N's
    // artifact) — the "bench_map" field makes the offset self-describing
    // instead of tribal knowledge. Probe (SPARK_GRAFT_ONLY) runs write
    // no files and carry no field.
    val round = sys.env.get("SPARK_GRAFT_ROUND").orElse {
      // infer: this round = highest committed CORRECTNESS_r{N} + 1
      val re = "CORRECTNESS_r(\\d+)\\.json".r
      val prev = Option(new java.io.File(".").list()).toSeq.flatten
        .collect { case re(n) => n.toInt }
      prev.maxOption.map(n => (n + 1).toString)
    }
    // cpu-suffixed map files (r15 verdict #1): the driver's low-core
    // SCALING run used to clobber the 32-core primary map (r15 lost its
    // 32-core map to the 8-core rerun). Any run at a non-default core
    // count now writes bench_out_c{cpus}.json / bench_out_r{N}_c{cpus}
    // .json instead — the 32-core names are only ever written by 32-core
    // runs, so the primary map survives the scaling pass.
    val cpuSuffix = if (cpus == "32") "" else s"_c$cpus"
    val benchMap = if (only.isEmpty)
      round.map(r => s"bench_out_r$r$cpuSuffix.json") else None
    val mapField = benchMap.map(f => s""","bench_map":"$f"""").getOrElse("")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"runs_heavy":$runsHeavy,"heavy_prefixes":["dedup_","ann_"],"queries":$qs,"spread":$spreads,"failed":$failedField,"sf":"$sfDir"$buildSplit$mapField}"""
    spark.stop()
    // The full per-query line is >2 KB (150+ queries), so a 2000-char
    // stdout tail cannot hold it whole. Survival strategy:
    //   1. full JSON printed first (whole-capture consumers get it even
    //      if something after it fails),
    //   2. durable file artifacts: bench_out.json (driver contract) and
    //      a round-stamped bench_out_r{N}.json, both written ONLY by
    //      full runs — a SPARK_GRAFT_ONLY profiling/probe run must not
    //      clobber the full map (r4 lost bench_out.json to exactly such
    //      a probe) — with the round-stamped copy committed to git,
    //   3. the same full JSON again as the LAST line (the r3/r4 driver
    //      contract: one parseable {"metric",...,"queries"} line at the
    //      end, nothing after it).
    println(json)
    if (only.isEmpty) {
      val files = Seq(java.nio.file.Paths.get(s"bench_out$cpuSuffix.json")) ++
        benchMap.map(java.nio.file.Paths.get(_))
      files.foreach { p =>
        try java.nio.file.Files.writeString(p, json + "\n")
        catch { case _: Throwable => () }
      }
    }
    println(json)
    System.out.flush()
  }
}
