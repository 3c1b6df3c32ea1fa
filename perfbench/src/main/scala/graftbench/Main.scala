package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: sets up one workload, runs it closed-loop
  * with one client for the timed seconds, and writes what happened to
  * `--out` (ops, and for a traced run spans, Spark jobs/stages/phases
  * and the kernel tier). perfbench/run.py checks results and turns
  * these files into metrics.
  *
  *   --workload gesture_session|pipeline_tail
  *   --seed N --seconds S --trace 0|1 --data DIR --out DIR
  *
  * The timed seconds become a fixed round count (see
  * [[Workload.rounds]]). With --trace 1 every other round is traced. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.engine.Sessions.local(cores, "graftbench")
    val sc = spark.sparkContext
    val tracer = new Tracer
    val heap = new LiveHeap
    val h = new Harness(spark, tracer)
    val events = new SparkEvents
    val rowCounter = new RowCounter
    sc.addSparkListener(rowCounter)
    def listen(on: Boolean): Unit = {
      org.apache.spark.GraftBenchBus.drain(sc)
      if (on) { sc.addSparkListener(events); spark.listenerManager.register(events) }
      else { sc.removeSparkListener(events); spark.listenerManager.unregister(events) }
    }

    val w: Workload = opt("workload") match {
      case "gesture_session" => new GestureSession(h, dataDir, seed)
      case "pipeline_tail" => new PipelineTail(h, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()

    val rtRoot = Paths.get(sys.env("SPARK_GRAFT_RT_DIR"))
    val markers0 = markers(rtRoot)
    val setupEndMs = System.currentTimeMillis()
    // A fixed number of whole rounds for the given seconds, so every run
    // of a workload times the same ops. Traced,
    // odd rounds are traced and even ones not: both halves see the same
    // warm-up state, and their latency difference is the tracing overhead.
    val rounds = math.max(if (traced) 2 else 1, w.rounds(seconds))
    val memo = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    (0 until rounds).foreach { i =>
      val tracedRound = traced && i % 2 == 1
      h.phase = if (tracedRound) "traced" else "timed"
      if (tracedRound) { listen(true); tracer.enabled = true }
      val (hits0, lookups0) = (graft.streaming.Memo.hits, lookups(w))
      try w.round(i)
      catch { case e: Throwable => h.run("round_error", s"round$i")(throw e) }
      memo(s"${h.phase}.hits") += graft.streaming.Memo.hits - hits0
      memo(s"${h.phase}.lookups") += lookups(w) - lookups0
      if (tracedRound) { tracer.enabled = false; listen(false) }
      heap.sample()
    }
    val extra = if (!traced) Map.empty[String, Any]
      else Map("tables_probe_ms" -> tablesProbe(spark, dataDir)) ++ Kernels.run(spark)
    val builds = changed(markers0, markers(rtRoot))
    org.apache.spark.GraftBenchBus.drain(sc)

    writeLines(out.resolve("ops.jsonl"), h.records.map(json(_)))
    writeLines(out.resolve("events.jsonl"), snapshot(events))
    writeLines(out.resolve("spans.jsonl"), tracer.spans.asScala.map(json(_)))
    Files.writeString(out.resolve("meta.json"), json(Map(
      "cores" -> cores,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "setup_end_ms" -> setupEndMs,
      "peak_heap_mb" -> heap.peakMb,
      "memo" -> memo.toMap, "input_rows" -> rowCounter.rows.asScala.toMap,
      "artifact_builds_in_timed_run" -> builds) ++ extra ++ w.meta))
    spark.stop()
  }

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  private def json(v: Any): String = mapper.writeValueAsString(v)

  private def lookups(w: Workload): Long = w match {
    case g: GestureSession => g.memoLookups
    case _ => 0L
  }

  private def snapshot(e: SparkEvents): Seq[String] =
    e.jobs.asScala.map(j => json(Map("type" -> "job") ++ fields(j))).toSeq ++
      e.stages.asScala.map(s => json(Map("type" -> "stage") ++ fields(s))) ++
      e.phases.asScala.map(p => json(Map("type" -> "phase") ++ fields(p)))

  private def fields(p: Product): Map[String, Any] =
    p.productElementNames.zip(p.productIterator).toMap

  /** Median wall time of resolving lineitem directly through Tables. */
  private def tablesProbe(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val ts = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      graft.engine.Tables.table(spark, dir, "lineitem")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(2)
  }

  /** Publication markers of the artifact store: path -> (mtime, size). */
  private def markers(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.getFileName.toString == "_FINGERPRINT")
        .map(p => p.toString -> (Files.getLastModifiedTime(p).toMillis, Files.size(p))).toMap
      finally s.close()
    }

  private def changed(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): Int =
    b.count { case (k, v) => !a.get(k).contains(v) }

  private def writeLines(p: Path, lines: Iterable[String]): Unit =
    Files.write(p, lines.asJava)
}
