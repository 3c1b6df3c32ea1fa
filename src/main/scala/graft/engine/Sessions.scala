package graft.engine

import graft.plans.ParamLiterals
import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local testing runs `local[32]`; on a real cluster the same settings
  * (AQE, skew-join handling, modest shuffle parallelism overridden by the
  * cluster submit) carry over. Reference behavior being reproduced:
  * vmware/hillview's engine never shuffles (sketch monoids merge at the
  * root). Sketch gestures get the same property from [[SketchExec]]: one
  * job runs Catalyst's partial aggregate and its buffers are merged on
  * the driver, without the exchange or AQE's extra job.
  *
  * Both factories register [[ParamLiterals]], so whole-stage code does
  * not depend on literal values and a repeated gesture shape reuses
  * Spark's codegen cache.
  */
object Sessions {

  /** The conf every graft session shares; `local`, `interactive` and
    * `graft.Profile` all start from this builder. */
  def builder(cores: Int = 32, appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ObjectHashAggregate (TypedImperativeAggregate groupBys: bounded
      // postings, Misra-Gries) falls back to SORT-based aggregation after
      // only 128 distinct in-memory keys by default — a per-row serialize
      // + sort penalty on every many-key sketch aggregation. Our object
      // buffers are size-bounded by construction (that is their point),
      // so an 8k-key hash map is ≤ ~megabytes; past that the sort
      // fallback still protects memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      // An interactive session cycles through more generated classes
      // than Spark's 100-entry codegen cache holds (every gesture shape's
      // stages plus SketchExec's driver-side merge projections); past
      // that, warm gestures evict each other's classes and recompile.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      // managed tables (bucketed joins) go to a per-JVM scratch dir
      // unless the JVM names one, never into the working directory
      .config("spark.sql.warehouse.dir", sys.props.getOrElse("spark.sql.warehouse.dir",
        Artifacts.scratchRoot.resolve("spark-warehouse").toString))
      .withExtensions(ParamLiterals.inject)

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Interactive multi-user posture (the reference serves many
    * concurrent dashboard sessions): FAIR scheduling so one user's long
    * scan doesn't head-of-line-block another's sub-second histogram.
    * Queries opt into a pool via `inPool`. On a cluster the same two
    * settings apply — pools are per-SparkContext, independent of the
    * cluster manager's queues.
    */
  def interactive(cores: Int = 32, appName: String = "graft"): SparkSession = {
    // pre-check BEFORE the builder: getOrCreate on an existing session
    // would both ignore the FAIR setting (scheduler mode is frozen at
    // context creation) and apply the modifiable SQL configs below to
    // the existing session — silently changing e.g. shuffle.partitions
    // for every other user of that session. getOrCreate prefers the
    // thread-local ACTIVE session over the default one, so an
    // active-but-not-default session must be checked too or it slips
    // past the guard and still takes the config overwrite
    (SparkSession.getActiveSession.toSeq ++ SparkSession.getDefaultSession)
      .foreach { existing =>
        val mode = existing.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
        require(mode.equalsIgnoreCase("FAIR"),
          s"Sessions.interactive found an existing SparkContext with scheduler mode $mode; " +
            "FAIR scheduling cannot be enabled after context creation — " +
            "create the interactive session before any other session")
      }
    val spark = builder(cores, appName)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    // scheduler mode is frozen at SparkContext creation: if another
    // session already exists, getOrCreate silently reuses it and the
    // FAIR config above is ignored — pools would be no-ops and the
    // isolation this API promises would silently not exist. Fail fast
    // instead: the interactive session must be created first.
    val mode = spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
    require(mode.equalsIgnoreCase("FAIR"),
      s"Sessions.interactive reused an existing SparkContext with scheduler mode $mode; " +
        "FAIR scheduling cannot be enabled after context creation — " +
        "create the interactive session before any other session")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body`'s jobs in the named FAIR pool (per-thread property, the
    * unit of isolation between concurrent interactive users). The
    * PREVIOUS pool assignment is restored on exit — nulling it would
    * silently drop an outer per-user pool after any nested use.
    */
  def inPool[T](spark: SparkSession, pool: String)(body: => T): T =
    withLocal(spark, "spark.scheduler.pool" -> pool)(body)

  /** Run `body`'s jobs in job group `group`, interrupted on cancel: the
    * reference's subscription, which [[cancelGroup]] ends. The caller's
    * previous group id, description and interrupt flag are restored on
    * exit, by the same rule as [[inPool]]. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T =
    withLocal(spark, "spark.jobGroup.id" -> group, "spark.job.description" -> s"graft:$group",
      "spark.job.interruptOnCancel" -> "true")(body)

  /** Unsubscribe (RemoteDataSet.java:285-296): cancel the group's active
    * jobs and bar its future ones, so a gesture of several jobs (nextK's
    * adaptive stages, a saturated heavy-hitters verify scan) cannot run
    * its next job after the cancel. Safe whether or not anything runs. */
  def cancelGroup(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroupAndFutureJobs(group)

  private def withLocal[T](spark: SparkSession, props: (String, String)*)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body
    finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  * Thin wrappers over `spark.read.parquet` — Catalyst column pruning and
  * filter pushdown reach the scan because nothing here materializes.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String) = {
    // The generated tables store timestamps as parquet TIMESTAMP(MICROS)
    // with isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ
    // by default. NTZ breaks streaming watermarks and unix_millis, and
    // the whole engine (+ the DuckDB oracle compare) is pinned to
    // UTC-session TIMESTAMP semantics, so force classic inference. This
    // is a runtime-modifiable conf; setting it here covers sessions we
    // didn't build (same pattern as the nanosAsLong handling below).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def lineitem(spark: SparkSession, dir: String)   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String)     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String)   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String)   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String)       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String)     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String)     = table(spark, dir, "region")
  /** events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    * default; read nanos as long and convert to a microsecond timestamp
    * (floor division — matches DuckDB's ns→µs truncation).
    */
  def events(spark: SparkSession, dir: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String)  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String) = table(spark, dir, "embeddings")
}
