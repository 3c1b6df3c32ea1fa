package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.ConcurrentLinkedQueue

/** Measurement tooling (guide §1): per-query breakdown of where the
  * bench seconds go — analysis+optimization+physical planning ("plan"),
  * execution ("exec"), per-stage task metrics (task count, executor
  * run/CPU time, shuffle read/write bytes, spill) from a listener, and
  * the number of generated classes Janino compiled (a codegen cache
  * miss each).
  *
  * Usage: runMain graft.Profile <sfDir> q1,q2,... [runs]
  * Prints one line per query:
  *   name plan=S exec=S stages=N tasks=N shufW=MB shufR=MB cpu=S run=S compiles=N
  * and optionally a per-stage table with -Dgraft.profile.stages=true.
  *
  * Pure diagnostics — never part of the driver contract, writes nothing.
  */
object Profile {
  private case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shufReadB: Long, shufWriteB: Long,
      inputB: Long, spillB: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("f_range")
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = engine.Sessions.builder(cpus.toInt)
    // ad-hoc conf overrides for A/B experiments: GRAFT_PROFILE_CONF="k=v;k=v"
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    val stages = new ConcurrentLinkedQueue[StageRow]()
    val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // id, start, end
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.inputMetrics.bytesRead,
          tm.memoryBytesSpilled))
      }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.put(j.jobId, j.time)
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = Option(jobStarts.get(j.jobId)).getOrElse(j.time)
        jobs.add((j.jobId, s, j.time))
      }
    })

    val showStages = sys.props.get("graft.profile.stages").contains("true")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name MISSING")
        case Some(fn) =>
          // warm one throwaway execution so codegen/JIT don't land in run 1
          val warmOk =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              println(s"$name FAILED: ${e.getMessage}"); false }
          if (!warmOk) () else {
          val measured = (1 to runs).map { _ =>
            Bench.quiesce(spark)
            stages.clear(); jobs.clear(); jobStarts.clear()
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val tC = System.nanoTime()
            // force analysis + optimization + physical planning
            val _ = df.queryExecution.executedPlan
            val t1 = System.nanoTime()
            df.count()
            val t2 = System.nanoTime()
            val rows = stages.toArray(Array.empty[StageRow])
            val js = jobs.toArray(Array.empty[(Int, Long, Long)]).sortBy(_._1)
            val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            ((tC - t0) / 1e9, (t1 - tC) / 1e9, (t2 - t1) / 1e9, rows, js, compiles)
          }
          val best = measured.minBy { case (c, p, e, _, _, _) => c + p + e }
          val (ctor, plan, exec, rows, js, compiles) = best
          val tasks = rows.map(_.tasks).sum
          val shufW = rows.map(_.shufWriteB).sum / 1e6
          val shufR = rows.map(_.shufReadB).sum / 1e6
          val cpu = rows.map(_.cpuMs).sum / 1e3
          val run = rows.map(_.runMs).sum / 1e3
          val spill = rows.map(_.spillB).sum / 1e6
          println(f"$name%-34s ctor=$ctor%6.3f plan=$plan%6.3f exec=$exec%6.3f stages=${rows.length}%3d tasks=$tasks%4d shufW=$shufW%8.2fMB shufR=$shufR%8.2fMB cpu=$cpu%7.2fs run=$run%7.2fs spill=$spill%6.1fMB compiles=$compiles%3d")
          if (js.nonEmpty) {
            val inJob = js.map(j => j._3 - j._2).sum / 1e3
            val gaps = js.sliding(2).collect {
              case Array(a, b) => math.max(0L, b._2 - a._3) }.sum / 1e3
            println(f"    jobs=${js.length}%3d inJob=$inJob%6.2fs interJobGaps=$gaps%6.2fs jobWalls=[${js.map(j => f"${(j._3 - j._2) / 1e3}%.2f").mkString(",")}]")
          }
          if (showStages) rows.sortBy(-_.runMs).take(8).foreach { r =>
            println(f"    stage ${r.id}%4d tasks=${r.tasks}%4d run=${r.runMs / 1e3}%6.2fs cpu=${r.cpuMs / 1e3}%6.2fs in=${r.inputB / 1e6}%7.1fMB sw=${r.shufWriteB / 1e6}%7.2fMB sr=${r.shufReadB / 1e6}%7.2fMB ${r.name.take(60)}")
          }
          }
      }
    }
    spark.stop()
  }
}
