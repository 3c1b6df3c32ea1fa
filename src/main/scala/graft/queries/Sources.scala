package graft
package queries

import graft.operators._
import graft.operators.NextK.Order
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Find and sample, sinks, event streams, source round-trips
  * and federated JDBC. */
object Sources {
  import Shared._

  // Greenplum dump fixture: two aligned column dumps of a 1-in-10
  // lineitem slice, written once per (JVM, corpus dir) — the round-trip
  // query gates dump-file layout, positional identity, and incremental
  // attach; rewriting the dump per bench run was fixture IO inside the
  // timed region
  private val gpDumpDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def gpDumpDir(s: SparkSession, d: String): String =
    gpDumpDirs.computeIfAbsent(d, _ => {
      val dir = graft.sources.Sources.rtDir("gpdump_" +
        java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL))
      val keys = Seq("l_orderkey", "l_linenumber")
      val lif = li(s, d).filter(pmod(col("l_orderkey"), lit(10L)) === 0L)
      graft.sources.Greenplum.writeDump(
        lif.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        s"$dir/b1", keys, 4)
      graft.sources.Greenplum.writeDump(
        lif.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
        s"$dir/b2", keys, 4, lineCols = Seq("l_returnflag"))
      dir
    })

  /** Inference-lattice oracle, generated per column: None → Integer →
    * Double → Date → String. The Date rung mirrors guessSchema's
    * single-format-per-column rule as least() over per-format failure
    * counts (DuckDB try_strptime ↔ Spark try_to_timestamp).
    */
  private val schemaInferOracle: String = {
    val cols = Seq("p_partkey" -> "c1", "p_retailprice" -> "c2",
      "p_name" -> "c3", "p_pseudo_date" -> "c4")
    val fmts = Seq("%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y",
      "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S")
    def block(name: String, c: String): String = {
      val p = s"$c IS NOT NULL AND $c <> ''"
      val nds = fmts.zipWithIndex.map { case (f, i) =>
        s"count(CASE WHEN $p AND try_strptime($c, '$f') IS NULL THEN 1 END) AS nd$i"
      }.mkString(", ")
      s"SELECT '$name' AS col_name, " +
        s"count(CASE WHEN $p THEN 1 END) AS n, " +
        s"count(CASE WHEN $p AND NOT regexp_matches($c, '^-?\\d{1,18}$$') THEN 1 END) AS notint, " +
        s"count(CASE WHEN $p AND NOT regexp_matches($c, '^-?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$$') THEN 1 END) AS notdbl, " +
        s"$nds FROM s"
    }
    val blocks = cols.map { case (n, c) => block(n, c) }.mkString("\n  UNION ALL ")
    s"""WITH s AS (SELECT CAST(p_partkey AS VARCHAR) AS c1,
       |  CAST(p_retailprice AS VARCHAR) AS c2, CAST(p_name AS VARCHAR) AS c3,
       |  strftime(DATE '1992-01-01' + CAST(p_partkey % 2000 AS INT), '%Y-%m-%d') AS c4
       |  FROM part),
       |k AS (
       |  $blocks)
       |SELECT col_name, CASE WHEN n = 0 THEN 'None' WHEN notint = 0 THEN 'Integer'
       |  WHEN notdbl = 0 THEN 'Double'
       |  WHEN least(nd0, nd1, nd2, nd3, nd4) = 0 THEN 'Date'
       |  ELSE 'String' END AS kind FROM k""".stripMargin
  }

  /** The compaction sink dir of this session's `sink_compaction_plan`
    * run. The sink is deleted when the JVM exits, before any DuckDB
    * compare can read it, so the oracle carries the on-disk listing
    * (names and sizes, read off the directory when the oracle is
    * rendered, not taken from the plan) and replays the offset binning
    * over it. */
  @volatile private[graft] var compactionSinkDir: Option[String] = None

  /** Where `sink_compaction_plan` writes: one scratch dir per JVM, outside
    * the artifact root, so runs from another checkout on the host can
    * never rewrite the files between a run and its oracle. Every run
    * overwrites it (repeated runs leak nothing); removed at JVM exit. */
  private lazy val compactionSink: String =
    graft.engine.Artifacts.scratchDir("graft_compaction_").resolve("sink").toString

  private def compactionOracle: Option[String] =
    compactionSinkDir match {
      case None => None
      case Some(dir) =>
        def ls(f: java.io.File) = Option(f.listFiles).toSeq.flatten
        val files = for {
          p <- ls(new java.io.File(dir))
          if p.isDirectory && p.getName.startsWith("lang=")
          f <- ls(p)
          if f.isFile && f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".")
        } yield s"('${p.getName}', '${f.getName}', ${f.length})"
        require(files.nonEmpty, s"compaction sink $dir holds no parquet files")
        Some(
          s"""WITH p AS (SELECT part_dir, file, CAST(bytes AS BIGINT) AS bytes
             |  FROM (VALUES ${files.mkString(", ")}) AS t(part_dir, file, bytes)),
             |c AS (SELECT part_dir, file, bytes,
             |    COALESCE(SUM(bytes) OVER (PARTITION BY part_dir
             |      ORDER BY file ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cumb FROM p)
             |SELECT part_dir, file, bytes,
             |  CAST(cumb // 8192 AS BIGINT) AS bin FROM c""".stripMargin)
    }

  val specs: Seq[QuerySpec] = Seq(
    // ── find / position / contains / sampling / save ───────────────────
    QuerySpec("find_pattern", (s, d) =>
      Find.find(prt(s, d),
        Filters.stringMatch(col("p_name"), "widget"),
        Seq(Order("p_name"), Order("p_partkey")),
        Seq("m", 0L),
        Seq("p_name", "p_partkey")),
      Oracle("""SELECT b.before_cnt, b.at_cnt, b.after_cnt, f.first_p_name, f.first_p_partkey FROM
        |(SELECT count(CASE WHEN NOT ((p_name, p_partkey) >= ('m', 0)) THEN 1 END) AS before_cnt,
        |        count(CASE WHEN p_name = 'm' AND p_partkey = 0 THEN 1 END) AS at_cnt,
        |        count(CASE WHEN (p_name, p_partkey) >= ('m', 0)
        |          AND NOT (p_name = 'm' AND p_partkey = 0) THEN 1 END) AS after_cnt
        | FROM part WHERE contains(p_name, 'widget')) b
        |CROSS JOIN
        |(SELECT p_name AS first_p_name, p_partkey AS first_p_partkey FROM part
        | WHERE contains(p_name, 'widget') AND (p_name, p_partkey) >= ('m', 0)
        | ORDER BY p_name, p_partkey LIMIT 1) f""".stripMargin)),
    QuerySpec("row_at_position", (s, d) =>
      Find.rowAtPosition(
        li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        Seq(Order("l_extendedprice"), Order("l_orderkey"), Order("l_linenumber")), 1000),
      Oracle("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 1 OFFSET 1000""".stripMargin)),
    // the reference's sampled scrollbar scheme (rate res²/N) — rows-only
    // gate; position error is tolerance-tested (PropertySpec)
    QuerySpec("row_at_position_sampled", (s, d) =>
      Find.rowAtPositionSampled(
        li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        Seq(Order("l_extendedprice"), Order("l_orderkey"), Order("l_linenumber")),
        1000L, resolution = 100),
      Gate("PropertySpec 'sampled row-at-position lands within N/res of the target rank'; exact twin row_at_position ORACLED")),
    QuerySpec("contains_row", (s, d) =>
      Find.containsRow(li(s, d), col("l_orderkey") === 1L && col("l_linenumber") === 1),
      Oracle("""SELECT (count(CASE WHEN l_orderkey = 1 AND l_linenumber = 1 THEN 1 END) > 0) AS found
        |FROM lineitem""".stripMargin)),
    QuerySpec("sample_rows", (s, d) =>
      li(s, d).sample(withReplacement = false, 0.01, 42L)
        .select(col("l_orderkey"), col("l_linenumber")),
      Gate("PropertySpec 'seeded sample size concentrates around rate and is deterministic'; hash-membership twin sample_rows_hash ORACLED")),
    // deterministic Bernoulli twin of sample_rows: engine-portable hash
    // membership, so this one IS oracle-checkable
    QuerySpec("sample_rows_hash", (s, d) =>
      graft.pipeline.Pipeline.hashSample(
        li(s, d).select(col("l_orderkey"), col("l_linenumber")),
        concat_ws("-", col("l_orderkey"), col("l_linenumber")), 100),
      Oracle("""SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE CAST(('0x' || substr(md5(
        |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        |  ), 1, 15)) AS BIGINT) % 10000 < 100""".stripMargin)),
    // parquet footer introspection: per-column stats summed/merged
    // across row groups from FOOTERS ONLY (no data pages read) — the
    // oracle recomputes the same stats from the data, proving the
    // footer statistics every row-group-skipping engine relies on
    // actually agree with the content
    QuerySpec("parquet_footer_stats", (s, d) =>
      graft.sources.ParquetStats.footerColumnStats(s,
        s"$d/lineitem.parquet",
        Seq("l_orderkey", "l_quantity", "l_returnflag")),
      // footer-vs-data consistency: value counts include nulls (parquet
      // valueCount semantics), min/max rendered as canonical strings
      Oracle("""SELECT * FROM (
        |SELECT 'l_orderkey' AS col_name, count(*) AS num_values,
        |  count(*) - count(l_orderkey) AS null_count,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_val,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_val FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  min(l_returnflag), max(l_returnflag) FROM lineitem)
        |ORDER BY col_name""".stripMargin)),
    QuerySpec("save_roundtrip", (s, d) =>
      graft.sources.Sources.saveRoundTrip(
        li(s, d).filter(col("l_quantity") > 48.0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
      Oracle("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 48.0")),
    // zone-map data skipping: docs land partitioned by ingest batch
    // (floor(doc_id/50) — the monotone-id arrival layout); a doc_id
    // range query consults the per-batch min/max stats table and only
    // opens partitions that might match — pruning on a NON-partition
    // column, which built-in partition pruning cannot do. The skip is
    // conservative (read unless provably empty), so the result hash-
    // equals the full scan and the query stays fully oracled.
    QuerySpec("zonemap_skip", (s, d) => {
      import graft.engine.Skipping
      // 200-doc ingest batches: partition-dir count stays write-sane at
      // every SF while the [100,299] probe still prunes (finer-grained
      // pruning is plan-gated in PlanSpec with 50-doc batches)
      val dd = docs(s, d)
        .withColumn("batch", floor(col("doc_id") / 200).cast("long"))
      val dir = graft.sources.Sources.rtDir("zonemap_batch")
      dd.write.mode("overwrite").partitionBy("batch").parquet(dir)
      val zm = Skipping.buildZoneMap(dd, "batch", Seq("doc_id"))
      Skipping.readWithSkipping(s, dir, zm, "batch", "doc_id",
          lit(100L), lit(299L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    },
      // zone-map skipping is conservative, so the skipped scan must equal
      // the full scan of the same range predicate
      Oracle("""SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 299
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the zone-map manifest maintained as a FOLDED ARTIFACT (the
    // Delta/Iceberg stats-file posture made incremental): per-shard mini-manifests fold by the exact
    // (min, max, count-sum) merge, never rescanning published shards;
    // the skip decision reads the STORED manifest. Conservative skip ⇒
    // hash-equals the full scan — the zonemap_skip oracle verbatim
    QuerySpec("zonemap_skip_folded", (s, d) => {
      import graft.engine.Skipping
      val shards = graft.dedup.Dedup.ensureDocShards(s, d, 3)
      val name = "docs_mod3_" + Integer.toHexString(d.hashCode)
      val partSql = "CAST(floor(doc_id / 200) AS BIGINT)"
      val zm = seededFold(
          Skipping.zoneMapFoldLineage(name, "batch", partSql, Seq("doc_id")),
          shards)(
        Skipping.zoneMapArtifactFolded(s, name, _, "batch", partSql,
          Seq("doc_id")))
      val parts = Skipping.candidatePartitions(zm, "batch", "doc_id",
        lit(100L), lit(299L))
      val dd = shards.map(sd => graft.engine.Tables.documents(s, sd))
        .reduce(_ unionByName _)
        .withColumn("batch", expr(partSql))
      (if (parts.isEmpty) dd.filter(lit(false))
       else dd.filter(col("batch").isin(parts: _*))
         .filter(col("doc_id") >= 100L && col("doc_id") <= 299L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    },
      // same conservative-skip equality through the STORED folded
      // manifest: any fold error that loses or widens a zone either
      // changes the candidate set into dropping matching rows (hash
      // breaks) or keeps the scan superset (result identical) — the
      // conservative contract
      Oracle("""SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 299
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // small-files compaction PLAN (the OPTIMIZE planner): docs land
    // hive-partitioned by lang in ~8 small files per partition, then
    // each file is assigned a compaction bin of ~8 KiB by cumulative
    // size in name order — metadata-only (no data page read). Fully
    // ORACLED: the dump-time oracle carries the sink's on-disk listing
    // and replays the offset binning in DuckDB
    QuerySpec("sink_compaction_plan", (s, d) => {
      val dir = compactionSink
      docs(s, d).repartition(8, col("doc_id")).write.partitionBy("lang")
        .mode("overwrite").parquet(dir)
      compactionSinkDir = Some(dir)
      graft.engine.Layout.compactionPlan(s, dir, 8192L)
    },
      Rendered(() => compactionOracle,
        "LayoutSpec 'compaction plan bins files by cumulative size in name order' — hand-sized fixture bins + at-most-one-file overshoot")),
    // hive-layout partitioned sink: write docs partitioned by lang,
    // re-read, aggregate — proves the layout preserves every row/value
    // (partition pruning on the re-read is plan-asserted in PlanSpec)
    QuerySpec("sink_partitioned", (s, d) =>
      graft.sources.Sources.partitionedRoundTrip(docs(s, d), Seq("lang"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).cast("long").as("total_chars")),
      Oracle("""SELECT lang, source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2""".stripMargin)),
    // z-ordered sink round-trip: layout must not lose or alter rows; the
    // oracle aggregates the ORIGINAL table, so any loss fails the gate
    QuerySpec("sink_zorder", (s, d) => {
      val out = graft.engine.Artifacts.scratchDir("graft_zsink").toString
      graft.engine.Layout.writeZOrdered(ev(s, d),
        pmod(col("user_id"), lit(65536L)),
        pmod(floor(col("value") * 100).cast("long"), lit(65536L)), out, 8)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          graft.engine.Num.sumExact(col("value")).as("total_value"))
    },
      Oracle("""SELECT event_type, count(*) AS cnt,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin)),
    // ── event streams ──────────────────────────────────────────────────
    QuerySpec("events_hourly", (s, d) => graft.streaming.Events.hourlyAgg(ev(s, d)),
      Oracle("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |count(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // hourly resample with gap filling: dense hour grid (bounded by
    // the time RANGE), zero rows + is_gap for missing hours, forward-
    // filled last observed reading — the step-line dashboards draw
    QuerySpec("events_gapfill", (s, d) => graft.streaming.Events.hourlyGapfill(ev(s, d)),
      Oracle("""WITH h AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM h),
        |g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b)
        |SELECT g.hour, COALESCE(h.n, 0) AS n_events, h.n IS NULL AS is_gap,
        |  last_value(h.n IGNORE NULLS) OVER (ORDER BY g.hour
        |    ROWS UNBOUNDED PRECEDING) AS last_observed_n,
        |  COALESCE(h.v, 0.0) AS total_value
        |FROM g LEFT JOIN h ON g.hour = h.hour""".stripMargin)),
    // trending: per-hour top-3 event types by count, ranked through the
    // GroupTopK custom plan (partial per-partition heaps before the
    // exchange — at event scale the shuffle carries <= 3 rows per
    // (partition, hour), never the hour's full type histogram)
    QuerySpec("events_trending", (s, d) => {
      val hourly = ev(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.plans.GroupTopK.groupTopK(hourly, Seq("hour"),
        Seq(("n", false), ("event_type", true)), 3)
        .select(col("hour"), col("rank"), col("event_type"), col("n"))
    },
      Oracle("""WITH h AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT hour, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type)
        |      AS INT) AS rank FROM h)
        |SELECT hour, rank, event_type, n FROM r WHERE rank <= 3""".stripMargin)),
    QuerySpec("events_sessions", (s, d) => graft.streaming.Events.sessionStats(ev(s, d), 30),
      Oracle("""WITH x AS (SELECT user_id, value, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms FROM events),
        |y AS (SELECT user_id, value,
        |  CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM x)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("events_sessions_native", (s, d) =>
      graft.streaming.Events.sessionStatsNative(ev(s, d), 30),
      // half-open session windows: a gap of exactly 30min starts a new
      // session (>=), unlike the lag form's strict >
      Oracle("""WITH x AS (SELECT user_id, value, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms FROM events),
        |y AS (SELECT user_id, value,
        |  CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END AS new_session FROM x)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM y GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── source/sink layer (round-trips exercise writer + schema file +
    //    reader; the oracle sees the original table, so any loss in the
    //    round-trip fails the gate) ─────────────────────────────────────
    QuerySpec("csv_roundtrip", (s, d) =>
      graft.sources.Sources.csvRoundTrip(
        li(s, d).filter(col("l_quantity") > 47.0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"))),
      Oracle("""SELECT CAST(l_orderkey AS INT) AS l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
        |l_quantity, l_returnflag FROM lineitem WHERE l_quantity > 47.0""".stripMargin)),
    QuerySpec("json_roundtrip", (s, d) =>
      graft.sources.Sources.jsonRoundTrip(
        ord(s, d).filter(col("o_totalprice") > 400000.0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))),
      Oracle("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_totalprice > 400000.0""".stripMargin)),
    // Spark 4's built-in XML source: rowTag write + schema-pinned read
    // (XML carries no types — the CSV schema-file discipline applies)
    QuerySpec("xml_roundtrip", (s, d) =>
      graft.sources.Sources.xmlRoundTrip(
        cust(s, d).filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))),
      Oracle("""SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 9000.0""".stripMargin)),
    // fixed-width text (the mainframe layout CSV tools mis-split): each
    // line rendered with padded byte windows, one doc in 997 carries a
    // deliberately corrupt quantity field — the try-cast lattice turns
    // it into null (PERMISSIVE), everything else parses exactly
    QuerySpec("fixedwidth_parse", (s, d) => {
      // right-justified 2-decimal render via decimal(12,2) cast + lpad
      // (both codegen string ops) instead of format_string("%8.2f"):
      // java.util.Formatter parses its pattern and allocates per ROW —
      // it was ~70% of the render+write job's CPU at sf0.1. Identical
      // bytes: the decimal cast rounds HALF_UP exactly like Formatter,
      // renders both fraction digits, and quantities fit width 8.
      // width-cliff guard (r15 advisor): lpad TRUNCATES a render wider
      // than 8 chars where format_string("%8.2f") — the semantic
      // reference — would widen the field. The split below is
      // CONSERVATIVE and therefore byte-exact everywhere: any
      // non-negative quantity under 99999.0 rounds to at most
      // "99999.00" (8 chars), where lpad and format_string agree
      // byte-for-byte; everything else (negative, huge, or near the
      // rounding boundary) takes the Formatter branch, whose output is
      // correct by definition. TPC-H quantities (1–50) always take the
      // fast path, so the render job's CPU win is unchanged — the
      // guard is one double comparison, not a second decimal cast.
      val qtyStr = when(pmod(col("l_orderkey"), lit(997L)) === 0L,
          lit("XXXXXX.X"))
        .when(col("l_quantity") < 0.0 || col("l_quantity") >= 99999.0,
          format_string("%8.2f", col("l_quantity")))
        .otherwise(lpad(col("l_quantity").cast("decimal(12,2)")
          .cast("string"), 8, " "))
      val line = concat(
        rpad(col("l_orderkey").cast("string"), 12, " "),
        rpad(col("l_linenumber").cast("string"), 4, " "),
        qtyStr,
        col("l_returnflag"))
      graft.sources.Sources.fixedWidthRoundTrip(
        li(s, d).select(line.as("value")),
        Seq(("l_orderkey", 1, 12, "bigint"), ("l_linenumber", 13, 4, "int"),
          ("l_quantity", 17, 8, "double"), ("l_returnflag", 25, 1, "string")))
    },
      Oracle("""SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
        |  CASE WHEN l_orderkey % 997 = 0 THEN NULL
        |    ELSE ROUND(l_quantity, 2) END AS l_quantity,
        |  l_returnflag
        |FROM lineitem""".stripMargin)),
    QuerySpec("orc_roundtrip", (s, d) =>
      graft.sources.Sources.saveRoundTrip(
        prt(s, d).filter(col("p_size") >= 45)
          .select(col("p_partkey"), col("p_name"), col("p_size")), "orc"),
      Oracle("SELECT p_partkey, p_name, p_size FROM part WHERE p_size >= 45")),
    // ParseErrorsSketch end-to-end, ORACLED (upgrades the spec-only
    // gate): render one JSON object per doc — every doc_id % 7 == 3
    // line deliberately truncated mid-object — read back PERMISSIVE,
    // and report corrupt/good counts plus a parsed-field sum the
    // oracle recomputes from the source columns (corrupt rows parse
    // all-null, so the sum proves good rows really parsed)
    QuerySpec("json_parse_errors", (s, d) => {
      val dir = graft.sources.Sources.rtDir("json_err")
      docs(s, d).select(
          when(pmod(col("doc_id"), lit(7L)) === 3L,
            concat(lit("{\"id\":"), col("doc_id").cast("string"),
              lit(", \"n\":")))
          .otherwise(concat(lit("{\"id\":"), col("doc_id").cast("string"),
            lit(",\"n\":"), col("n_chars").cast("string"), lit("}")))
          .as("value"))
        .write.mode("overwrite").text(dir)
      val parsed = s.read
        .schema("id LONG, n LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
      parsed.agg(
        count(when(col("_corrupt_record").isNotNull, 1)).as("n_errors"),
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        sum(col("n")).as("sum_n"))
    },
      Oracle("""SELECT CAST(count(*) FILTER (doc_id % 7 = 3) AS BIGINT) AS n_errors,
        |CAST(count(*) FILTER (doc_id % 7 <> 3) AS BIGINT) AS n_good,
        |CAST(SUM(n_chars) FILTER (doc_id % 7 <> 3) AS BIGINT) AS sum_n
        |FROM documents""".stripMargin)),
    QuerySpec("log_parse", (s, d) => {
      // Grok-ish loader end-to-end: render events as log lines, write
      // text, re-parse with the regex loader; oracle = the source fields
      val dir = graft.sources.Sources.rtDir("log")
      ev(s, d).select(concat(
          lit("evt id="), col("event_id").cast("string"),
          lit(" user="), col("user_id").cast("string"),
          lit(" type="), col("event_type")).as("value"))
        .write.mode("overwrite").text(dir)
      graft.sources.Sources.readLog(s, dir,
          "^evt id=(\\d+) user=(\\d+) type=(\\w+)$",
          Seq(("eid", 1), ("uid", 2), ("etype", 3)))
        .select(col("eid").cast("long"), col("uid").cast("long"), col("etype"))
    },
      Oracle("""SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
        |event_type AS etype FROM events""".stripMargin)),
    QuerySpec("log_parse_grok", (s, d) => {
      // full Grok path: pattern-dictionary compile + typed fields +
      // timestamp-bounded read (GrokLogs.java + LogFiles.java semantics)
      val dir = graft.sources.Sources.rtDir("log_grok")
      ev(s, d).select(concat(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          lit(" INFO evt="), col("event_id").cast("string"),
          lit(" user="), col("user_id").cast("string"),
          lit(" type="), col("event_type")).as("value"))
        .write.mode("overwrite").text(dir)
      graft.sources.Grok.readLog(s, dir,
          "%{TIMESTAMP_ISO8601:lts} %{LOGLEVEL:level} evt=%{INT:eid} user=%{INT:uid} type=%{WORD:etype}",
          types = Map("eid" -> "long", "uid" -> "long", "lts" -> "timestamp"),
          tsBounds = Some(("lts", "2024-01-10 00:00:00", "2024-01-20 00:00:00")))
        .select(col("lts"), col("eid"), col("uid"), col("etype"))
    },
      // the log line carries second-truncated timestamps, so the oracle
      // truncates the source ts the same way before bounding
      Oracle("""SELECT strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS lts,
        |CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS uid,
        |event_type AS etype
        |FROM events
        |WHERE strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
        |  >= TIMESTAMP '2024-01-10 00:00:00'
        |AND strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')
        |  < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin)),
    QuerySpec("schema_infer", (s, d) =>
      graft.sources.Sources.inferredKinds(
        prt(s, d).select(
          col("p_partkey").cast("string"),
          col("p_retailprice").cast("string"),
          col("p_name").cast("string"),
          // well-formed yyyy-MM-dd strings: exercises the Date rung of
          // the lattice (zero-padded so strict java.time and a laxer
          // oracle strptime agree)
          date_format(
            date_add(to_date(lit("1992-01-01")), pmod(col("p_partkey"), lit(2000)).cast("int")),
            "yyyy-MM-dd").as("p_pseudo_date"))),
      // the same None→Integer→Double→String promotion lattice
      // (GuessSchema.java:74-137) evaluated in SQL over the same
      // stringified columns — checks the inference itself, not a
      // hardcoded expected answer
      Oracle(schemaInferOracle)),
    // ── federated JDBC (JdbcDatabase.java) against embedded Derby ──────
    // fixture: customer.parquet loaded into an in-memory database once per
    // session; each query below is answered BY the database (pushed SQL),
    // oracled by DuckDB computing the same thing from the parquet original
    QuerySpec("jdbc_roundtrip", (s, d) => {
      val url = graft.sources.Jdbc.customerDb(s, d)
      graft.sources.Jdbc.readTable(s, url, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    },
      // federated JDBC: the database's own answers (embedded Derby) must
      // equal DuckDB computing the same pushed SQL over the parquet original
      Oracle("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer")),
    // Greenplum segment-dump ingestion (GreenplumTarget.java,
    // bin/dump-greenplum.sh): per-segment headerless CSV dump files +
    // COLUMN-INCREMENTAL attach — the second dump carries ONLY the new
    // column, aligned to the loaded rows purely by per-segment position
    // (misalignment would scramble the flag↔quantity pairing and fail
    // the oracle's sums)
    QuerySpec("greenplum_dump_roundtrip", (s, d) => {
      import org.apache.spark.sql.types._
      // the dump fixture is written ONCE per (JVM, corpus) — the timed
      // query measures the aligned LOAD + positional attach, which is
      // the operator; writing the dump each run was fixture IO in the
      // timed region (the geo_polygon_holes lesson, r7 VERDICT #6)
      val dir = gpDumpDir(s, d)
      val sch1 = StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType)))
      val sch2 = StructType(Seq(StructField("l_returnflag", StringType)))
      val loaded = graft.sources.Greenplum.loadDumpAligned(s, s"$dir/b1", sch1)
      graft.sources.Greenplum.attachColumns(loaded, s, s"$dir/b2", sch2)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          graft.engine.Num.sumExact(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"))
    },
      Oracle(s"""SELECT l_returnflag, count(*) AS n, $sumQty AS sum_qty,
        |min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
        |FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1""".stripMargin)),
    QuerySpec("jdbc_federated_hist", (s, d) =>
      graft.sources.Jdbc.Federation(s, graft.sources.Jdbc.customerDb(s, d))
        .histogram("customer", "c_acctbal", -1000.0, 10000.0, 11),
      Oracle("""SELECT bucket, count(*) AS ct FROM (
        |  SELECT CASE WHEN CAST(FLOOR((c_acctbal - -1000.0) / 1000.0) AS INT) > 10
        |    THEN 10 ELSE CAST(FLOOR((c_acctbal - -1000.0) / 1000.0) AS INT) END AS bucket
        |  FROM customer WHERE c_acctbal >= -1000.0 AND c_acctbal <= 10000.0) b
        |GROUP BY bucket""".stripMargin)),
    QuerySpec("jdbc_federated_range", (s, d) =>
      graft.sources.Jdbc.Federation(s, graft.sources.Jdbc.customerDb(s, d))
        .numericRange("customer", "c_acctbal"),
      Oracle("""SELECT min(c_acctbal) AS min_v, max(c_acctbal) AS max_v,
        |  count(c_acctbal) AS nonnulls, count(*) AS total FROM customer""".stripMargin)),
    QuerySpec("jdbc_federated_topfreq", (s, d) =>
      graft.sources.Jdbc.Federation(s, graft.sources.Jdbc.customerDb(s, d))
        .topFreq("customer", Seq("c_mktsegment"), 150L),
      Oracle("""SELECT c_mktsegment, count(*) AS ct FROM customer
        |GROUP BY c_mktsegment HAVING count(*) >= 150""".stripMargin)),
    // histogram2D (JdbcDatabase.java:265): both bucket axes computed in
    // the pushed SQL, only O(buckets_x × buckets_y) rows cross the wire
    QuerySpec("jdbc_federated_hist2d", (s, d) =>
      graft.sources.Jdbc.Federation(s, graft.sources.Jdbc.customerDb(s, d))
        .heatmap("customer", "c_acctbal", -1000.0, 10000.0, 11,
          "c_nationkey", 0.0, 25.0, 5),
      Oracle("""SELECT bucket_x, bucket_y, count(*) AS ct FROM (
        |  SELECT CASE WHEN CAST(FLOOR((c_acctbal - -1000.0) / 1000.0) AS INT) > 10
        |    THEN 10 ELSE CAST(FLOOR((c_acctbal - -1000.0) / 1000.0) AS INT) END AS bucket_x,
        |  CASE WHEN CAST(FLOOR((c_nationkey - 0.0) / 5.0) AS INT) > 4
        |    THEN 4 ELSE CAST(FLOOR((c_nationkey - 0.0) / 5.0) AS INT) END AS bucket_y
        |  FROM customer WHERE c_acctbal >= -1000.0 AND c_acctbal <= 10000.0
        |    AND c_nationkey >= 0.0 AND c_nationkey <= 25.0) b
        |GROUP BY bucket_x, bucket_y""".stripMargin))
  )
}
