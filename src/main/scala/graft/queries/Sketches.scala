package graft
package queries

import graft.operators._
import graft.operators.NextK.Order
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Histograms, statistics, sketches, differential-privacy
  * releases, event windows and projections. */
object Sketches {
  import Shared._

  // Shared bucket expression: 22 equal-width buckets of l_extendedprice
  // over [0, 110000] (data range ~902..105000).
  private val PriceLo = 0.0; private val PriceHi = 110000.0; private val PriceN = 22
  private def priceBucket: Column =
    Histograms.numericBucket(col("l_extendedprice"), PriceLo, PriceHi, PriceN)
  private val priceBucketSql =
    s"LEAST(CAST(FLOOR((l_extendedprice - 0.0) / ((110000.0 - 0.0) / 22.0)) AS INT), 21)"

  val specs: Seq[QuerySpec] = Seq(
    // ── histograms ─────────────────────────────────────────────────────
    QuerySpec("hist_numeric", (s, d) =>
      Histograms.histogram1D(
        li(s, d).filter(col("l_extendedprice").between(PriceLo, PriceHi)), priceBucket),
      Oracle(s"""SELECT $priceBucketSql AS bucket, count(*) AS cnt FROM lineitem
         |WHERE l_extendedprice >= 0.0 AND l_extendedprice <= 110000.0 GROUP BY 1""".stripMargin)),
    QuerySpec("hist_string_buckets", (s, d) =>
      Histograms.histogram1D(cust(s, d),
        Histograms.stringBucket(col("c_mktsegment"), Seq("A", "C", "F", "M"))),
      Oracle("""SELECT CASE WHEN c_mktsegment >= 'M' THEN 3 WHEN c_mktsegment >= 'F' THEN 2
        |WHEN c_mktsegment >= 'C' THEN 1 ELSE 0 END AS bucket, count(*) AS cnt
        |FROM customer GROUP BY 1""".stripMargin)),
    QuerySpec("hist_2d", (s, d) =>
      Histograms.histogram2D(li(s, d),
        Histograms.numericBucket(col("l_quantity"), 0.0, 50.0, 10),
        Histograms.numericBucket(col("l_discount"), 0.0, 0.1, 5)),
      Oracle("""SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / ((50.0 - 0.0) / 10.0)) AS INT), 9) AS bx,
        |LEAST(CAST(FLOOR((l_discount - 0.0) / ((0.1 - 0.0) / 5.0)) AS INT), 4) AS by,
        |count(*) AS cnt FROM lineitem GROUP BY 1, 2""".stripMargin)),
    QuerySpec("hist_explicit", (s, d) =>
      Histograms.histogram1D(li(s, d),
        Histograms.explicitBucket(col("l_quantity"),
          Seq(0.0, 5.0, 15.0, 35.0, 50.0))),
      Oracle("""SELECT CASE
        |  WHEN l_quantity >= 35.0 AND l_quantity <= 50.0 THEN 3
        |  WHEN l_quantity >= 15.0 AND l_quantity < 35.0 THEN 2
        |  WHEN l_quantity >= 5.0 AND l_quantity < 15.0 THEN 1
        |  WHEN l_quantity >= 0.0 AND l_quantity < 5.0 THEN 0
        |  ELSE -1 END AS bucket, count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    QuerySpec("heatmap_singleton", (s, d) =>
      Histograms.heatmapWithSingleton(prt(s, d),
        Histograms.numericBucket(col("p_size").cast("double"), 0.0, 50.0, 10),
        col("p_brand"), col("p_partkey")),
      Oracle("""SELECT LEAST(CAST(FLOOR((CAST(p_size AS DOUBLE) - 0.0) / ((50.0 - 0.0) / 10.0)) AS INT), 9) AS bx,
        |p_brand AS by, count(*) AS cnt,
        |CASE WHEN count(*) = 1 THEN min(p_partkey) END AS singleton
        |FROM part GROUP BY 1, 2""".stripMargin)),
    QuerySpec("hist_cdf", (s, d) =>
      Histograms.histogramWithCdf(
        li(s, d).filter(col("l_extendedprice").between(PriceLo, PriceHi)), priceBucket),
      Oracle(s"""WITH h AS (SELECT $priceBucketSql AS bucket, count(*) AS cnt FROM lineitem
         |WHERE l_extendedprice >= 0.0 AND l_extendedprice <= 110000.0 GROUP BY 1)
         |SELECT bucket, cnt, CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cdf FROM h""".stripMargin)),
    QuerySpec("bucket_quantiles", (s, d) =>
      Histograms.bucketQuantiles(li(s, d), col("l_returnflag"),
        col("l_extendedprice"), Seq(0.25, 0.5, 0.75)),
      Oracle("""SELECT l_returnflag AS bucket, round(quantile_cont(l_extendedprice, 0.25), 4) AS q0,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS q1,
        |round(quantile_cont(l_extendedprice, 0.75), 4) AS q2
        |FROM lineitem GROUP BY 1""".stripMargin)),
    QuerySpec("hist2d_quantiles", (s, d) =>
      li(s, d).withColumn("__qv", col("l_extendedprice"))
        .groupBy(col("l_returnflag").as("b1"), col("l_linestatus").as("b2"))
        .agg(round(expr("percentile(__qv, 0.25)"), 4).as("q0"),
          round(expr("percentile(__qv, 0.5)"), 4).as("q1"),
          round(expr("percentile(__qv, 0.75)"), 4).as("q2")),
      Oracle("""SELECT l_returnflag AS b1, l_linestatus AS b2,
        |round(quantile_cont(l_extendedprice, 0.25), 4) AS q0,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS q1,
        |round(quantile_cont(l_extendedprice, 0.75), 4) AS q2
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),
    // percentile_approx twin of hist2d_quantiles (rows-only; tolerance
    // spec-gated) — bounded per-cell state at scale
    QuerySpec("hist2d_quantiles_approx", (s, d) =>
      Histograms.bucketQuantilesApprox2D(li(s, d),
        col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice"), Seq(0.25, 0.5, 0.75)),
      Gate("PropertySpec 'approx 2-D bucket quantiles within tolerance, bounded-state plan' — same gate, 2-D; ORACLED hist2d_quantiles twin")),
    QuerySpec("interval_data_range", (s, d) =>
      li(s, d).agg(
        min(least(col("l_discount"), col("l_tax"))).as("min_lo"),
        max(greatest(col("l_discount"), col("l_tax"))).as("max_hi"),
        count(lit(1)).as("present")),
      Oracle("""SELECT min(LEAST(l_discount, l_tax)) AS min_lo,
        |max(GREATEST(l_discount, l_tax)) AS max_hi, count(*) AS present
        |FROM lineitem""".stripMargin)),
    QuerySpec("ni_threshold", (s, d) =>
      li(s, d).agg((countDistinct(col("l_partkey")) > 1000L).as("exceeds")),
      Oracle("SELECT (count(DISTINCT l_partkey) > 1000) AS exceeds FROM lineitem")),
    QuerySpec("corr_grid", (s, d) => {
      // CorrelationSketch: grid of pairwise 2-D histograms over numeric
      // column pairs, tagged by pair — one unioned aggregation set
      val pairs = Seq(
        ("l_quantity", 0.0, 50.0, 5, "l_discount", 0.0, 0.1, 5),
        ("l_quantity", 0.0, 50.0, 5, "l_extendedprice", 0.0, 110000.0, 5),
        ("l_discount", 0.0, 0.1, 5, "l_extendedprice", 0.0, 110000.0, 5))
      pairs.map { case (cx, lx, hx, nx, cy, ly, hy, ny) =>
        li(s, d).groupBy(
            Histograms.numericBucket(col(cx), lx, hx, nx).as("bx"),
            Histograms.numericBucket(col(cy), ly, hy, ny).as("by"))
          .agg(count(lit(1)).as("cnt"))
          .select(lit(s"$cx:$cy").as("pair"), col("bx"), col("by"), col("cnt"))
      }.reduce(_ unionByName _)
    },
      Oracle("""SELECT 'l_quantity:l_discount' AS pair,
        |  LEAST(CAST(FLOOR((l_quantity - 0.0) / ((50.0 - 0.0) / 5.0)) AS INT), 4) AS bx,
        |  LEAST(CAST(FLOOR((l_discount - 0.0) / ((0.1 - 0.0) / 5.0)) AS INT), 4) AS by,
        |  count(*) AS cnt FROM lineitem GROUP BY 2, 3
        |UNION ALL
        |SELECT 'l_quantity:l_extendedprice',
        |  LEAST(CAST(FLOOR((l_quantity - 0.0) / ((50.0 - 0.0) / 5.0)) AS INT), 4),
        |  LEAST(CAST(FLOOR((l_extendedprice - 0.0) / ((110000.0 - 0.0) / 5.0)) AS INT), 4),
        |  count(*) FROM lineitem GROUP BY 2, 3
        |UNION ALL
        |SELECT 'l_discount:l_extendedprice',
        |  LEAST(CAST(FLOOR((l_discount - 0.0) / ((0.1 - 0.0) / 5.0)) AS INT), 4),
        |  LEAST(CAST(FLOOR((l_extendedprice - 0.0) / ((110000.0 - 0.0) / 5.0)) AS INT), 4),
        |  count(*) FROM lineitem GROUP BY 2, 3""".stripMargin)),
    // ── stats / sketch family ──────────────────────────────────────────
    QuerySpec("summary_count", (s, d) => Stats.rowCount(li(s, d)),
      Oracle("SELECT count(*) AS n_rows FROM lineitem")),
    QuerySpec("stats_basic", (s, d) => Stats.basicColStats(li(s, d), "l_extendedprice"),
      Oracle("""SELECT min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v,
        |count(l_extendedprice) AS present,
        |count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS missing,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS mean,
        |round(sqrt(
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice)
        |  - (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice))
        |  * (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice))), 4) AS stddev
        |FROM lineitem""".stripMargin)),
    QuerySpec("stats_range_date", (s, d) => Stats.dataRange(li(s, d), "l_shipdate"),
      Oracle("""SELECT CAST(min(l_shipdate) AS TIMESTAMP) AS min_v, CAST(max(l_shipdate) AS TIMESTAMP) AS max_v,
        |count(l_shipdate) AS present, count(CASE WHEN l_shipdate IS NULL THEN 1 END) AS missing
        |FROM lineitem""".stripMargin)),
    QuerySpec("stats_corr", (s, d) => Stats.correlation(li(s, d), "l_quantity", "l_extendedprice"),
      Oracle("""SELECT round(
        |  (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS corr
        |FROM (SELECT count(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
        |  FROM lineitem)""".stripMargin)),
    QuerySpec("stats_centroids", (s, d) =>
      Stats.categoryCentroids(li(s, d), "l_returnflag", Seq("l_quantity", "l_extendedprice")),
      Oracle(s"""SELECT l_returnflag, $sumQty / count(l_quantity) AS avg_l_quantity,
         |$sumPrice / count(l_extendedprice) AS avg_l_extendedprice
         |FROM lineitem GROUP BY 1""".stripMargin)),
    QuerySpec("distinct_count", (s, d) =>
      DistinctAndFrequency.distinctCount(li(s, d), Seq("l_partkey")),
      Oracle("SELECT count(DISTINCT l_partkey) AS n_distinct FROM lineitem")),
    QuerySpec("distinct_values", (s, d) =>
      DistinctAndFrequency.distinctValues(li(s, d), Seq("l_returnflag", "l_linestatus")),
      Oracle("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin)),
    QuerySpec("hll_distinct", (s, d) =>
      DistinctAndFrequency.approxDistinctCount(li(s, d), "l_partkey"),
      Gate("PropertySpec 'approx distinct count within HLL error of exact'")),
    // GroupBy-combinator over the HLL sketch: one bounded sketch per
    // group; approximate ⇒ rows-only gate + per-group error spec
    QuerySpec("hll_group_distinct", (s, d) =>
      DistinctAndFrequency.approxDistinctByGroup(li(s, d), "l_returnflag", "l_partkey"),
      Gate("PropertySpec 'grouped HLL distinct within 5% of exact per group'")),
    // Persistable sketch surface: per-source HLL register arrays built in
    // ONE corpus scan, then the global distinct answered by max-merging
    // the kilobyte sketches — the cross-job form of partial aggregation
    // (store the per-partition sketch, never rescan). Approximate ⇒
    // rows-only; exact countDistinct twin rides in the same result and
    // the ≤5% bound + merge monoid laws are property-gated.
    // Storable mergeable Bloom filter — the MEMBERSHIP member of the
    // sketch family: per-source token blooms probed for a fixed token
    // list, each probe carried next to its EXACT twin (bloom answers
    // are one-sided, so bloom >= exact always; equality at this fill is
    // the observed-FP gate). Hash-bit blobs aren't DuckDB-replayable ⇒
    // rows-only; one-sidedness/FP/merge-parity property-gated.
    QuerySpec("sketch_bloom_rollup", (s, d) => {
      import graft.functions.BloomSketch._
      val probes = Seq("slow", "dup", "spark", "merge",
        "zzz_absent", "quux_absent")
      val toks = docs(s, d).select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val aggs = bloom_build(col("tok")).as("bf") +:
        probes.zipWithIndex.map { case (p, i) =>
          max((col("tok") === p).cast("long")).as(s"exact_$i") }
      val perSrc = toks.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      perSrc.select((col("source") +:
        round(bloom_fill(col("bf")), 4).as("fill") +:
        probes.indices.flatMap(i => Seq(
          bloom_might_contain(col("bf"), lit(probes(i))).cast("long")
            .as(s"bloom_$i"),
          col(s"exact_$i")))): _*)
        .orderBy(col("source"))
    },
      Gate("PropertySpec 'bloom sketch: no false negatives, FP bound, split bit-parity'; in-row exact_* columns are the ground truth")),
    QuerySpec("sketch_distinct_rollup", (s, d) => {
      import graft.functions.HllSketch
      val dd = docs(s, d)
      val perSrc = dd.groupBy(col("source"))
        .agg(HllSketch.hll_build(col("text")).as("sk"),
          countDistinct(col("text")).as("exact_distinct"))
      val srcRows = perSrc.select(col("source"),
        floor(HllSketch.hll_estimate(col("sk"))).cast("long").as("est_distinct"),
        col("exact_distinct"))
      val globalExact = dd.agg(countDistinct(col("text")).as("exact_distinct"))
      val globalRow = perSrc.agg(HllSketch.hll_merge(col("sk")).as("sk"))
        .crossJoin(globalExact)
        .select(lit("__all__").as("source"),
          floor(HllSketch.hll_estimate(col("sk"))).cast("long").as("est_distinct"),
          col("exact_distinct"))
      srcRows.union(globalRow).orderBy(col("source"))
    },
      Gate("PropertySpec 'hll sketch: <=5% error, partition-merge == whole-corpus sketch, deterministic'; in-row exact_distinct ground truth")),
    // Storable theta/KMV sketches: set ALGEBRA over stored subsets —
    // the question HLL blobs cannot answer. One scan builds a per-source
    // vocabulary sketch; every pairwise overlap (|A∩B|, |A∖B|, Jaccard)
    // is then answered from kilobyte blobs with NO rescan or token
    // join. At verify scale k=1024 exceeds every vocabulary, so the
    // sketches are exhaustive and the estimates EXACT ⇒ fully oracled
    // (DuckDB recomputes the true pairwise overlaps); the sampled
    // regime (vocab ≫ k) is property-gated with error bounds.
    QuerySpec("sketch_theta_algebra", (s, d) => {
      import graft.functions.ThetaSketch
      val toks = docs(s, d).select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val perSrc = toks.groupBy(col("source"))
        .agg(ThetaSketch.theta_build(col("tok")).as("sk"))
      val a = perSrc.select(col("source").as("source_a"), col("sk").as("sk_a"))
      val b = perSrc.select(col("source").as("source_b"), col("sk").as("sk_b"))
      a.crossJoin(broadcast(b)) // sketch-sized frame: #sources² kilobyte rows
        .filter(col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          round(ThetaSketch.theta_intersect(col("sk_a"), col("sk_b")))
            .cast("long").as("common_tokens"),
          round(ThetaSketch.theta_anotb(col("sk_a"), col("sk_b")))
            .cast("long").as("a_only_tokens"),
          ThetaSketch.theta_jaccard(col("sk_a"), col("sk_b")).as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // theta set algebra in the exhaustive regime: k=1024 exceeds every
      // per-source vocabulary, so the sketch-path answers are EXACT and
      // DuckDB recomputes the true pairwise overlaps. Jaccard is one
      // division of exact integer counts — both engines round the same
      // real quotient identically.
      Oracle("""WITH toks AS (SELECT DISTINCT source, tok FROM
        |  (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |counts AS (SELECT source, count(*) AS n FROM toks GROUP BY source),
        |common AS (
        |  SELECT x.source AS sa, y.source AS sb, count(*) AS c
        |  FROM toks x JOIN toks y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT ca.source AS source_a, cb.source AS source_b,
        |  CAST(COALESCE(c.c, 0) AS BIGINT) AS common_tokens,
        |  CAST(ca.n - COALESCE(c.c, 0) AS BIGINT) AS a_only_tokens,
        |  CAST(COALESCE(c.c, 0) AS DOUBLE)
        |    / (ca.n + cb.n - COALESCE(c.c, 0)) AS jaccard
        |FROM counts ca JOIN counts cb ON ca.source < cb.source
        |LEFT JOIN common c ON c.sa = ca.source AND c.sb = cb.source
        |ORDER BY source_a, source_b""".stripMargin)),
    // Storable-sketch heavy hitters: per-source MG summary blobs built in
    // one scan, max-merged (Agarwal mergeable-summaries combine), then the
    // ≤cap candidate set exactly verified with a broadcast semi-join —
    // the result is EXACT (MG guarantees no key above N/(cap+1) ≥ the
    // 1% threshold is missed), so the query oracles like heavy_mg while
    // the sketch blobs are storable/re-mergeable across jobs.
    QuerySpec("sketch_heavy_rollup", (s, d) => {
      import graft.functions.MgSketch
      val cap = 200
      val toks = docs(s, d).select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val perSrc = toks.groupBy(col("source"))
        .agg(MgSketch.mg_build(col("tok"), cap).as("sk"),
          count(lit(1)).as("n"))
      val merged = perSrc.agg(MgSketch.mg_merge(col("sk"), cap).as("sk"),
        sum(col("n")).as("n"))
      val cands = merged.select(
          explode(MgSketch.mg_entries(col("sk"))).as("e"))
        .select(col("e.key").as("tok"))
      val counts = toks.join(broadcast(cands), Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      counts.crossJoin(broadcast(merged.select(col("n"))))
        .filter(col("cnt") >= ceil(lit(0.01) * col("n")))
        .select(col("tok"), col("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
    },
      Oracle("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |tt AS (SELECT tok FROM t WHERE length(tok) > 0)
        |SELECT tok, count(*) AS cnt FROM tt GROUP BY 1
        |HAVING count(*) >= ceil(0.01 * (SELECT count(*) FROM tt))
        |ORDER BY cnt DESC, tok""".stripMargin)),
    // ConcurrentSketch made concrete: ONE aggregation pass per source
    // computes all three storable sketches (HLL distinct, MG lang
    // summary, KLL length quantiles) PLUS their exact twins — the
    // reference's multi-sketch-one-scan contract
    // (ConcurrentSketch/MultiSketch) expressed as a single agg(...).
    // Rows-only (sketch estimates aren't SQL-reproducible); every
    // estimate is bounded against its in-result exact twin in
    // PropertySpec. top_lang is deterministic: cap=16 exceeds the lang
    // vocabulary, so MG counts are exact, and the argmax tie-breaks by
    // key.
    QuerySpec("corpus_sketch_report", (s, d) => {
      import graft.functions.{HllSketch, KllSketch, MgSketch, ThetaSketch}
      val rep = docs(s, d).groupBy(col("source")).agg(
        HllSketch.hll_build(col("text")).as("hll"),
        MgSketch.mg_build(col("lang"), 16).as("mg"),
        KllSketch.kll_build(col("n_chars").cast("double")).as("kll"),
        ThetaSketch.theta_build(col("text")).as("theta"),
        countDistinct(col("text")).as("exact_distinct"),
        expr("percentile(n_chars, 0.5)").as("exact_median"))
      val e = MgSketch.mg_entries(col("mg"))
      val topLang = aggregate(e,
        struct(lit("").as("key"), lit(-1L).as("lower_count")),
        (acc, x) => when(x("lower_count") > acc("lower_count") ||
            (x("lower_count") === acc("lower_count") && x("key") < acc("key")),
          x).otherwise(acc))("key")
      rep.select(col("source"),
        floor(HllSketch.hll_estimate(col("hll"))).cast("long").as("est_distinct"),
        col("exact_distinct"),
        topLang.as("top_lang"),
        KllSketch.kll_quantile(col("kll"), 0.5).as("est_median"),
        col("exact_median"),
        // theta member of the one-scan family: exhaustive at this
        // per-source cardinality, so its estimate must EQUAL the twin
        round(ThetaSketch.theta_estimate(col("theta")))
          .cast("long").as("theta_distinct"))
        .orderBy(col("source"))
    },
      Gate("PropertySpec 'theta sketch: exact regime, split bit-parity, sampled error bounds' — k exceeds verify-scale distincts so carried exact columns must equal estimates")),
    // Storable-sketch quantiles: per-source KLL blobs, merged, quartiles
    // read off the merged sketch; the exact percentile twin rides in the
    // same result (approximate ⇒ rows-only; rank-error and split
    // invariance property-gated).
    QuerySpec("sketch_quantile_rollup", (s, d) => {
      import graft.functions.KllSketch
      val dd = docs(s, d)
      val perSrc = dd.groupBy(col("source"))
        .agg(KllSketch.kll_build(col("n_chars")).as("sk"))
      val merged = perSrc.agg(KllSketch.kll_merge(col("sk")).as("sk"))
      val exact = dd.agg(
        expr("percentile(n_chars, 0.25)").as("exact_q25"),
        expr("percentile(n_chars, 0.5)").as("exact_q50"),
        expr("percentile(n_chars, 0.75)").as("exact_q75"))
      merged.crossJoin(exact).select(
        KllSketch.kll_quantile(col("sk"), 0.25).as("est_q25"),
        KllSketch.kll_quantile(col("sk"), 0.5).as("est_q50"),
        KllSketch.kll_quantile(col("sk"), 0.75).as("est_q75"),
        col("exact_q25"), col("exact_q50"), col("exact_q75"))
    },
      Gate("PropertySpec 'kll sketch: rank error <= 3% at the quartiles, under any split'; in-row exact_q* ground truth")),
    QuerySpec("heavy_exact", (s, d) =>
      DistinctAndFrequency.heavyHittersExact(ord(s, d), Seq("o_orderpriority"), 0.05),
      Oracle("""SELECT o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1
        |HAVING count(*) >= ceil(0.05 * (SELECT count(*) FROM orders))
        |ORDER BY cnt DESC, o_orderpriority""".stripMargin)),
    QuerySpec("heavy_mg", (s, d) =>
      DistinctAndFrequency.heavyHittersMG(li(s, d), Seq("l_returnflag", "l_linestatus"), 0.05),
      Oracle("""SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY 1, 2
        |HAVING count(*) >= ceil(0.05 * (SELECT count(*) FROM lineitem))
        |ORDER BY cnt DESC, l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("heavy_sampled", (s, d) =>
      DistinctAndFrequency.heavyHittersSampled(ord(s, d), Seq("o_orderpriority"), 0.05),
      Gate("PropertySpec 'MG + exact verify equals exact heavy hitters on random data' family — sampled HH must contain every true heavy hitter at verify scale")),
    QuerySpec("exact_freq", (s, d) =>
      DistinctAndFrequency.exactFrequencies(ord(s, d),
        Seq("o_orderpriority", "o_orderstatus"),
        Seq(Seq("1-URGENT", "F"), Seq("5-LOW", "O"), Seq("3-MEDIUM", "Z"))),
      Oracle("""SELECT c.p AS o_orderpriority, c.s AS o_orderstatus, COALESCE(g.cnt, 0) AS cnt
        |FROM (VALUES ('1-URGENT','F'), ('5-LOW','O'), ('3-MEDIUM','Z')) c(p, s)
        |LEFT JOIN (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2) g
        |ON c.p = g.o_orderpriority AND c.s = g.o_orderstatus""".stripMargin)),
    QuerySpec("quantiles_exact", (s, d) =>
      Quantiles.quantiles(li(s, d), "l_extendedprice", Seq(0.25, 0.5, 0.75)),
      Oracle("""SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
        |round(quantile_cont(l_extendedprice, 0.75), 4) AS q75 FROM lineitem""".stripMargin)),
    // sampleK pins the KMV sampler's EXACT regime for the oracle gate
    // (exact iff distinct <= k: customer has 15k names at sf0.1, 150k at
    // sf1). The operator's bounded default (4096) is the production
    // sampled regime, property-gated like the other sampled forms.
    QuerySpec("string_boundaries", (s, d) =>
      Quantiles.stringBoundaries(cust(s, d), "c_name", 8, sampleK = 262144)
        .withColumn("tile", col("tile").cast("int")),
      Oracle("""SELECT CAST(tile AS INT) AS tile, max(c_name) AS boundary FROM
        |(SELECT c_name, ntile(8) OVER (ORDER BY c_name) AS tile FROM
        |  (SELECT DISTINCT c_name FROM customer WHERE c_name IS NOT NULL))
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── more histograms / matrices / udf / quantization / windows ──────
    QuerySpec("hist_3d", (s, d) =>
      Histograms.histogramND(li(s, d), Seq(
        "bx" -> Histograms.numericBucket(col("l_quantity"), 0.0, 50.0, 5),
        "by" -> Histograms.numericBucket(col("l_discount"), 0.0, 0.1, 3),
        "bz" -> col("l_returnflag"))),
      Oracle("""SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / ((50.0 - 0.0) / 5.0)) AS INT), 4) AS bx,
        |LEAST(CAST(FLOOR((l_discount - 0.0) / ((0.1 - 0.0) / 3.0)) AS INT), 2) AS by,
        |l_returnflag AS bz, count(*) AS cnt FROM lineitem GROUP BY 1, 2, 3""".stripMargin)),
    QuerySpec("hist_4d", (s, d) =>
      Histograms.histogramND(li(s, d), Seq(
        "bx" -> Histograms.numericBucket(col("l_quantity"), 0.0, 50.0, 5),
        "by" -> Histograms.numericBucket(col("l_discount"), 0.0, 0.1, 3),
        "bz" -> col("l_returnflag"),
        "bw" -> col("l_linestatus"))),
      Oracle("""SELECT LEAST(CAST(FLOOR((l_quantity - 0.0) / ((50.0 - 0.0) / 5.0)) AS INT), 4) AS bx,
        |LEAST(CAST(FLOOR((l_discount - 0.0) / ((0.1 - 0.0) / 3.0)) AS INT), 2) AS by,
        |l_returnflag AS bz, l_linestatus AS bw, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2, 3, 4""".stripMargin)),
    QuerySpec("corr_matrix", (s, d) =>
      Stats.correlationMatrix(li(s, d),
        Seq("l_discount", "l_extendedprice", "l_quantity")),
      Oracle("""WITH c AS (SELECT CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS d,
        |  CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS e,
        |  CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS q FROM lineitem),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(d AS DECIMAL(20,0))) AS DOUBLE) AS s_d,
        |  CAST(SUM(CAST(e AS DECIMAL(20,0))) AS DOUBLE) AS s_e,
        |  CAST(SUM(CAST(q AS DECIMAL(20,0))) AS DOUBLE) AS s_q,
        |  CAST(SUM(CAST(d*d AS DECIMAL(20,0))) AS DOUBLE) AS p_dd,
        |  CAST(SUM(CAST(d*e AS DECIMAL(20,0))) AS DOUBLE) AS p_de,
        |  CAST(SUM(CAST(d*q AS DECIMAL(20,0))) AS DOUBLE) AS p_dq,
        |  CAST(SUM(CAST(e*e AS DECIMAL(20,0))) AS DOUBLE) AS p_ee,
        |  CAST(SUM(CAST(e*q AS DECIMAL(20,0))) AS DOUBLE) AS p_eq,
        |  CAST(SUM(CAST(q*q AS DECIMAL(20,0))) AS DOUBLE) AS p_qq
        |  FROM c)
        |SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |  round((p_de * n - s_d * s_e) / (sqrt(n * p_dd - s_d * s_d) * sqrt(n * p_ee - s_e * s_e)), 4) AS corr FROM m
        |UNION ALL SELECT 'l_discount', 'l_quantity',
        |  round((p_dq * n - s_d * s_q) / (sqrt(n * p_dd - s_d * s_d) * sqrt(n * p_qq - s_q * s_q)), 4) FROM m
        |UNION ALL SELECT 'l_extendedprice', 'l_quantity',
        |  round((p_eq * n - s_e * s_q) / (sqrt(n * p_ee - s_e * s_e) * sqrt(n * p_qq - s_q * s_q)), 4) FROM m""".stripMargin)),
    QuerySpec("udf_surface", (s, d) => {
      graft.functions.Udfs.registerAll(s)
      li(s, d).groupBy(expr("qty_band(l_quantity)").as("band"))
        .agg(count(lit(1)).as("cnt"))
    },
      Oracle("""SELECT CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid'
        |ELSE 'high' END AS band, count(*) AS cnt FROM lineitem GROUP BY 1""".stripMargin)),
    QuerySpec("dp_quantized_hist", (s, d) =>
      li(s, d)
        .groupBy(graft.functions.Quantization.quantize(col("l_extendedprice"), 10000.0)
          .as("qbucket"))
        .agg(count(lit(1)).as("cnt")),
      Oracle("""SELECT FLOOR(l_extendedprice / 10000.0) * 10000.0 AS qbucket, count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin)),
    // QuantizedTable on a STRING axis (StringColumnQuantization.java:28):
    // names snapped to a letter grid before the histogram sees them
    QuerySpec("dp_quantized_hist_str", (s, d) =>
      prt(s, d)
        .groupBy(graft.functions.Quantization.quantizeString(col("p_name"),
          Seq("a", "e", "i", "o", "u"), "zzzzzz").as("qbucket"))
        .agg(count(lit(1)).as("cnt")),
      Oracle("""SELECT CASE WHEN p_name IS NULL OR p_name > 'zzzzzz' THEN NULL
        |  WHEN p_name = 'zzzzzz' THEN 'zzzzzz'
        |  WHEN p_name >= 'u' THEN 'u' WHEN p_name >= 'o' THEN 'o'
        |  WHEN p_name >= 'i' THEN 'i' WHEN p_name >= 'e' THEN 'e'
        |  WHEN p_name >= 'a' THEN 'a' ELSE NULL END AS qbucket, count(*) AS cnt
        |FROM part GROUP BY 1""".stripMargin)),
    // NoisyHLogLog: rows-only (sketch + seeded noise); zero-noise twin
    // equals hll_distinct, radius composition property-gated
    QuerySpec("dp_noisy_distinct", (s, d) =>
      graft.functions.Quantization.noisyDistinct(li(s, d), "l_partkey", 0.05, 5.0),
      Gate("PropertySpec 'noisy distinct: zero noise equals the bare sketch; radius composes' — zero-noise twin equals ORACLED hll path")),
    // DPWrapper parity: the noise scale comes from the PrivacySchema
    // budget lookup (1/epsilon for the queried column set), not a knob
    QuerySpec("dp_noisy_hist_budgeted", (s, d) => {
      val schema = graft.functions.PrivacySchema(
        Map(Seq("l_extendedprice") -> 0.2), defaultEpsilon = 0.1)
      li(s, d)
        .groupBy(graft.functions.Quantization.quantize(col("l_extendedprice"), 10000.0)
          .as("qbucket"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("noisy_cnt",
          round(col("cnt") + graft.functions.Quantization.laplaceNoise(
            col("qbucket"), schema.noiseScale("l_extendedprice")), 4))
    },
      Gate("same gates as dp_noisy_hist; scale comes from PrivacySchema.noiseScale (unit-tested budget lookup)")),
    // DPHistogram semantics: per-bucket Laplace noise on the quantized
    // counts (deterministic hash-seeded noise → reproducible; rows-only
    // gate, noise distribution property-tested)
    QuerySpec("dp_noisy_hist", (s, d) =>
      li(s, d)
        .groupBy(graft.functions.Quantization.quantize(col("l_extendedprice"), 10000.0)
          .as("qbucket"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("noisy_cnt",
          round(col("cnt") + graft.functions.Quantization.laplaceNoise(col("qbucket"), 5.0), 4)),
      Gate("PropertySpec 'laplace noise: zero scale is exact' + 'laplace noise distribution: mean ~0, mean|x| ~scale over buckets'; zero-noise twin dp_quantized_hist ORACLED")),
    // binary-mechanism DP CDF (IntervalDecomposition.java:63 +
    // DPHistogram.java postProcess): one independent Laplace variable
    // per dyadic interval-tree node, each prefix [0, r) summing only
    // its O(log T) covering nodes — rows-only (seeded noise; the cover,
    // variance bound, and monotone clamp are property-gated)
    QuerySpec("dp_noisy_cdf", (s, d) =>
      graft.functions.Quantization.noisyHistogramDyadic(
        li(s, d), "l_extendedprice", 0.0, 1000.0, 128,
        Seq(0, 16, 32, 48, 64, 80, 96, 112), epsilon = 0.5,
        branching = 2, cdf = true),
      Gate("PropertySpec 'dyadic noisy CDF: deterministic, monotone, O(log T) noise variables'")),
    // 2-D binary mechanism (DPHeatmapSketch.java:54): one Laplace
    // variable per (x-interval × y-interval) tree rectangle, summed
    // over the cross product of the two axes' dyadic covers — rows-only
    // (seeded noise; cover size, exact counts, and CI are spec-gated)
    QuerySpec("dp_noisy_heatmap", (s, d) =>
      graft.functions.Quantization.noisyHeatmapDyadic(
        li(s, d), "l_extendedprice", "l_quantity",
        0.0, 1000.0, 128, Seq(0, 16, 32, 48, 64, 80, 96, 112),
        0.0, 1.0, 64, Seq(0, 8, 16, 24, 32, 40, 48, 56),
        epsilon = 0.5, branching = 2),
      Gate("PropertySpec 'dyadic noisy heatmap: deterministic, exact counts, O(logTx*logTy) vars'")),
    // PrivateTableTarget.getNextK (PrivateTableTarget.java:157-171):
    // the private table page — the only rows DP mode may display are
    // QUANTIZED tuples, and the page's rowsScanned carries table-count
    // Laplace noise (NextKSketchNoisy.java:27). This is the ZERO-NOISE
    // twin (fully oracled): quantized NextK page + exact rows_scanned.
    QuerySpec("dp_quantized_nextk", (s, d) => {
      val total = li(s, d).agg(count(lit(1)).as("rows_scanned"))
      li(s, d)
        .groupBy(graft.functions.Quantization
          .quantize(col("l_extendedprice"), 10000.0).as("qvalue"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("qvalue").asc_nulls_last).limit(8)
        .crossJoin(broadcast(total))
    },
      Oracle("""SELECT q.qvalue, q.cnt, t.rows_scanned FROM (
        |  SELECT FLOOR(l_extendedprice / 10000.0) * 10000.0 AS qvalue, count(*) AS cnt
        |  FROM lineitem GROUP BY 1 ORDER BY qvalue LIMIT 8) q
        |CROSS JOIN (SELECT count(*) AS rows_scanned FROM lineitem) t""".stripMargin)),
    // the NOISY form: rows_scanned + Laplace(1/ε) keyed on the
    // TotalCount special bucket through the HMAC-keyed SecureLaplace
    // (DPWrapper.computeCountNoise parity) — rows-only; zero-noise
    // equality with dp_quantized_nextk and noise determinism are
    // spec-gated like the dp_noisy_hist family
    QuerySpec("dp_noisy_nextk", (s, d) => {
      val total = li(s, d).agg(count(lit(1)).as("rows_scanned"))
      li(s, d)
        .groupBy(graft.functions.Quantization
          .quantize(col("l_extendedprice"), 10000.0).as("qvalue"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("qvalue").asc_nulls_last).limit(8)
        .crossJoin(broadcast(total))
        .select(col("qvalue"), col("cnt"),
          round(col("rows_scanned") +
            graft.functions.Quantization.laplaceNoise(
              lit("table:TotalCount"), 5.0), 4).as("rows_scanned_noisy"))
    },
      Gate("PropertySpec 'dp_noisy_nextk: page equals zero-noise twin, noise keyed + deterministic' — page rows equal ORACLED dp_quantized_nextk; one shared keyed TotalCount noise")),
    // PrivateTableTarget.quantile (PrivateTableTarget.java:174-182):
    // row-at-position under a QuantizationSchema. EXACT twin of the
    // reference's SampleQuantileSketch (fully oracled): the two-phase
    // bucket seek over quantized sort keys — same result as a global
    // sort, never a data-sized single-partition funnel.
    QuerySpec("dp_quantized_quantile", (s, d) =>
      Find.rowAtPosition(
        li(s, d).select(
          graft.functions.Quantization
            .quantize(col("l_extendedprice"), 10000.0).as("qvalue"),
          col("l_orderkey"), col("l_linenumber")),
        Seq(Order("qvalue"), Order("l_orderkey"), Order("l_linenumber")),
        1000),
      Oracle("""SELECT FLOOR(l_extendedprice / 10000.0) * 10000.0 AS qvalue, l_orderkey, l_linenumber
        |FROM lineitem ORDER BY qvalue, l_orderkey, l_linenumber LIMIT 1 OFFSET 1000""".stripMargin)),
    // the reference's ACTUAL private quantile scheme: uniform sample at
    // rate res²/N over the quantized table, row at the scaled position
    // (SampleQuantileSketch.java:39-120) — seeded sampling ⇒ rows-only;
    // position tolerance vs the exact twin is spec-gated like
    // row_at_position_sampled
    QuerySpec("dp_sample_quantile", (s, d) =>
      Find.rowAtPositionSampled(
        li(s, d).select(
          graft.functions.Quantization
            .quantize(col("l_extendedprice"), 10000.0).as("qvalue"),
          col("l_orderkey"), col("l_linenumber")),
        Seq(Order("qvalue"), Order("l_orderkey"), Order("l_linenumber")),
        1000L, resolution = 100),
      Gate("PropertySpec 'dp_sample_quantile lands within N/res of the exact quantized twin' — exact twin dp_quantized_quantile ORACLED")),
    // percentile_approx twin of bucket_quantiles (rows-only; tolerance
    // spec-gated) — the declared scale path with bounded per-group state
    QuerySpec("bucket_quantiles_approx", (s, d) =>
      Histograms.bucketQuantilesApprox(li(s, d), col("l_returnflag"),
        col("l_extendedprice"), Seq(0.25, 0.5, 0.75)),
      Gate("PropertySpec 'approx bucket quantiles within tolerance of exact, bounded-state plan' — rank error <= 1/accuracy vs ORACLED bucket_quantiles twin")),
    QuerySpec("events_moving_avg", (s, d) =>
      graft.streaming.Events.movingAvg(ev(s, d), 3),
      Oracle("""SELECT event_id, user_id, round(avg(value) OVER (PARTITION BY user_id
        |ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg
        |FROM events""".stripMargin)),
    QuerySpec("events_funnel", (s, d) =>
      graft.streaming.Events.funnel(ev(s, d), Seq("view", "click", "purchase")),
      Oracle("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS u_view,
        |       (SELECT count(*) FROM s2) AS u_click,
        |       (SELECT count(*) FROM s3) AS u_purchase""".stripMargin)),
    // weekly retention cohorts (the product-analytics curve): grouped
    // by first-event week, O(weeks²) output, never event-sized
    QuerySpec("events_retention", (s, d) =>
      graft.streaming.Events.retentionCohorts(ev(s, d)),
      Oracle("""WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |      AS BIGINT) AS w
        |  FROM events),
        |c AS (SELECT user_id, min(w) AS c0 FROM uw GROUP BY 1),
        |sz AS (SELECT c0, CAST(count(*) AS BIGINT) AS cohort_users
        |  FROM c GROUP BY 1),
        |act AS (SELECT c.c0 AS cohort_week, uw.w - c.c0 AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_users,
        |  CAST(a.n_active * 10000 // s.cohort_users AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS retention
        |FROM act a JOIN sz s ON a.cohort_week = s.c0""".stripMargin)),
    // funnel DISCOVERY: top-20 per-user event-type trigram paths,
    // bounded take over the pattern-sized count table
    QuerySpec("events_sequences", (s, d) =>
      graft.streaming.Events.eventSequences(ev(s, d), 20),
      Oracle("""WITH o AS (SELECT user_id, event_type, ts, event_id,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT event_type || '>' || e2 || '>' || e3 AS sequence
        |  FROM o WHERE e3 IS NOT NULL),
        |c AS (SELECT sequence, CAST(count(*) AS BIGINT) AS n
        |  FROM t GROUP BY 1 ORDER BY n DESC, sequence LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, sequence) AS BIGINT)
        |    AS rank, sequence, n
        |FROM c""".stripMargin)),
    // ingest-ops spike monitor: hour count vs trailing-24h mean on the
    // exact grid, 3x flag; the trailing window runs over HOURS
    QuerySpec("events_anomaly", (s, d) =>
      graft.streaming.Events.hourlyAnomaly(ev(s, d)),
      Oracle("""WITH h AS (SELECT date_trunc('hour', ts) AS hour,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |w AS (SELECT hour, n,
        |    SUM(n) OVER (ORDER BY hour ROWS BETWEEN 24 PRECEDING
        |      AND 1 PRECEDING) AS tr,
        |    COUNT(n) OVER (ORDER BY hour ROWS BETWEEN 24 PRECEDING
        |      AND 1 PRECEDING) AS tc
        |  FROM h),
        |m AS (SELECT hour, n,
        |    CASE WHEN tc > 0 THEN CAST(tr * 10000 // tc AS BIGINT) END AS tm,
        |    CASE WHEN tc > 0 AND CAST(tr * 10000 // tc AS BIGINT) > 0 THEN
        |      CAST(n * 100000000 // CAST(tr * 10000 // tc AS BIGINT)
        |        AS BIGINT) END AS r
        |  FROM w)
        |SELECT hour, n,
        |  CAST(tm AS DOUBLE) / CAST(10000 AS DOUBLE) AS trailing_mean,
        |  CAST(r AS DOUBLE) / CAST(10000 AS DOUBLE) AS ratio,
        |  COALESCE(r >= 30000, false) AS is_spike
        |FROM m""".stripMargin)),
    // per-transition conversion latency (funnel semantics, exact
    // integer seconds; mean on the grid)
    QuerySpec("events_conversion_time", (s, d) =>
      graft.streaming.Events.funnelLatency(ev(s, d),
        Seq("view", "click", "purchase")),
      Oracle("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |d1 AS (SELECT CAST(date_diff('second', s1.t1, s2.t2) AS BIGINT) AS d
        |  FROM s2 JOIN s1 USING (user_id)),
        |d2 AS (SELECT CAST(date_diff('second', s2.t2, s3.t3) AS BIGINT) AS d
        |  FROM s3 JOIN s2 USING (user_id))
        |SELECT 'view>click' AS transition,
        |  CAST(count(*) AS BIGINT) AS n_converted,
        |  min(d) AS min_seconds, max(d) AS max_seconds,
        |  CAST(SUM(d) * 10000 // count(*) AS DOUBLE) / CAST(10000 AS DOUBLE)
        |    AS mean_seconds
        |FROM d1
        |UNION ALL
        |SELECT 'click>purchase', CAST(count(*) AS BIGINT),
        |  min(d), max(d),
        |  CAST(SUM(d) * 10000 // count(*) AS DOUBLE) / CAST(10000 AS DOUBLE)
        |FROM d2""".stripMargin)),
    // burst-duplicate suppression (telemetry debounce): same
    // (user, type) within 5 s of the previous raw event; one
    // per-(user, type) window, type-sized report
    QuerySpec("events_dedup_burst", (s, d) =>
      graft.streaming.Events.burstDedup(ev(s, d)),
      Oracle("""WITH p AS (SELECT event_type,
        |    CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      AS BIGINT) AS sec,
        |    lag(CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00',
        |      ts) AS BIGINT)) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (WHERE prev IS NOT NULL
        |    AND sec - prev <= 5) AS BIGINT) AS n_suppressed,
        |  CAST(count(*) FILTER (WHERE prev IS NULL
        |    OR sec - prev > 5) AS BIGINT) AS n_kept
        |FROM p GROUP BY 1""".stripMargin)),
    // event-lateness profile (the watermark-tuning tool): lateness of
    // each arrival vs the running event-time max, as a power-of-2
    // histogram; global prefix max decomposed into bucketed windows +
    // an O(#buckets) driver offset table — no single-partition window
    QuerySpec("events_lateness", (s, d) =>
      graft.streaming.Events.latenessProfile(ev(s, d)),
      Oracle("""WITH e AS (SELECT event_id,
        |    CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      AS BIGINT) AS sec
        |  FROM events),
        |r AS (SELECT event_id, sec,
        |    COALESCE(max(sec) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      AS pm
        |  FROM e),
        |l AS (SELECT greatest(pm - sec, 0) AS late FROM r)
        |SELECT CASE WHEN late = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(length(bin(late)) AS BIGINT) END AS late_bits,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(late) AS BIGINT) AS max_late_s
        |FROM l GROUP BY 1""".stripMargin)),
    // last-touch attribution: each purchase credited to the user's
    // most recent preceding click/view via one per-user window pass;
    // organic purchases keep a null touch
    QuerySpec("events_attribution", (s, d) =>
      graft.streaming.Events.lastTouchAttribution(ev(s, d)),
      Oracle("""WITH t AS (SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view') THEN
        |      struct_pack(tts := ts, tid := event_id,
        |        ttype := event_type) END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tch
        |  FROM events)
        |SELECT event_id AS purchase_id, user_id,
        |  tch.ttype AS touch_type, tch.tid AS touch_id,
        |  CAST(date_diff('second', tch.tts, ts) AS BIGINT)
        |    AS latency_seconds
        |FROM t WHERE event_type = 'purchase'""".stripMargin)),
    // lexical diversity (type-token ratio): low TTR flags templates
    QuerySpec("text_ttr", (s, d) =>
      graft.text.TextAnalysis.typeTokenRatio(docs(s, d)),
      Oracle("""SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |  CAST(len(list_distinct(ws)) * 10000 // len(ws) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS ttr
        |FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents)
        |WHERE len(ws) > 0""".stripMargin)),
    // Zipf df histogram in power-of-2 buckets (corpus health)
    QuerySpec("token_zipf", (s, d) =>
      graft.text.TextAnalysis.tokenZipf(docs(s, d)),
      Oracle("""SELECT CAST(length(bin(df)) AS BIGINT) AS df_bits,
        |  CAST(count(*) AS BIGINT) AS n_words
        |FROM (SELECT count(*) AS df FROM (SELECT unnest(list_filter(
        |    string_split(lower(text), ' '), w -> w <> '')) AS w
        |  FROM documents) GROUP BY w)
        |GROUP BY 1""".stripMargin)),
    // (the streaming Misra-Gries twin of heavy_mg lives in
    // streaming/Events.heavyHittersStream — spec-gated like the other
    // Structured Streaming forms, not benched as a batch query)
    QuerySpec("events_cumulative", (s, d) =>
      graft.streaming.Events.cumulativeValue(ev(s, d)),
      Oracle("""SELECT event_id, user_id,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS cum_value
        |FROM events""".stripMargin)),
    // weighted sample without replacement (rows-only: sampled by design;
    // determinism + weight-bias property-gated in PipelineSpec)
    QuerySpec("sample_weighted", (s, d) =>
      graft.pipeline.Pipeline.weightedSample(
        docs(s, d), col("doc_id"), col("n_chars").cast("double"), 100),
      Gate("PipelineSpec 'weighted sample is deterministic, sized, and weight-biased' + PlanSpec 'weighted sample plans TakeOrderedAndProject'")),
    QuerySpec("jl_projection", (s, d) =>
      Projections.jlProject(
        prt(s, d).select(col("p_partkey"), col("p_size"), col("p_retailprice")),
        Seq("p_size", "p_retailprice"), 2).drop("p_size", "p_retailprice"),
      Oracle({
      // the deterministic ±1 sign matrix is generated in Scala and
      // inlined into the oracle so both engines compute the same map
      val signs = Projections.jlSigns(2, 2)
      s"""SELECT p_partkey,
         |${signs(0)(0)} * p_size + ${signs(0)(1)} * p_retailprice AS jl0,
         |${signs(1)(0)} * p_size + ${signs(1)(1)} * p_retailprice AS jl1
         |FROM part""".stripMargin
    })),
    // ── more projections / histograms ──────────────────────────────────
    QuerySpec("pca_projection", (s, d) =>
      Projections.pca2Project(prt(s, d), "p_size", "p_retailprice", Seq("p_partkey")),
      // closed-form 2×2 eigen from the same exact-decimal moments and the
      // same operation order as Projections.pca2Project
      Oracle("""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(p_size AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(p_size AS DECIMAL(18,2)) * CAST(p_size AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(p_size AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM part),
        |e AS (SELECT sxx/n - (sx/n)*(sx/n) AS a, sxy/n - (sx/n)*(sy/n) AS c,
        |  syy/n - (sy/n)*(sy/n) AS b FROM m),
        |l AS (SELECT a, b, c, (a+b)/2 + sqrt((a-b)*(a-b)/4 + c*c) AS l0 FROM e),
        |ev AS (SELECT CASE WHEN abs(c) > 1e-12 THEN c WHEN a >= b THEN 1.0 ELSE 0.0 END AS e0,
        |  CASE WHEN abs(c) > 1e-12 THEN l0 - a WHEN a >= b THEN 0.0 ELSE 1.0 END AS e1 FROM l),
        |vn AS (SELECT e0 / sqrt(e0*e0 + e1*e1) AS v0, e1 / sqrt(e0*e0 + e1*e1) AS v1 FROM ev),
        |vs AS (SELECT CASE WHEN v0 < 0 OR (v0 = 0 AND v1 < 0) THEN -v0 ELSE v0 END AS v0,
        |  CASE WHEN v0 < 0 OR (v0 = 0 AND v1 < 0) THEN -v1 ELSE v1 END AS v1 FROM vn),
        |w AS (SELECT v0, v1,
        |  CASE WHEN -v1 < 0 OR (-v1 = 0 AND v0 < 0) THEN v1 ELSE -v1 END AS w0,
        |  CASE WHEN -v1 < 0 OR (-v1 = 0 AND v0 < 0) THEN -v0 ELSE v0 END AS w1 FROM vs)
        |SELECT p_partkey, round(p_size * v0 + p_retailprice * v1, 4) AS pc0,
        |  round(p_size * w0 + p_retailprice * w1, 4) AS pc1
        |FROM part CROSS JOIN w""".stripMargin)),
    QuerySpec("lamp_projection", (s, d) => {
      // four fixed control points (corners of the size×price plane) with
      // pinned 2-D positions; deterministic, no oracle (SVD-based map)
      val controls = Array(
        (Array(1.0, 900.0), (0.0, 0.0)), (Array(50.0, 900.0), (1.0, 0.0)),
        (Array(1.0, 2000.0), (0.0, 1.0)), (Array(50.0, 2000.0), (1.0, 1.0)))
      Projections.lampProject(
          prt(s, d).select(col("p_partkey"), col("p_size").cast("double"), col("p_retailprice")),
          Seq("p_size", "p_retailprice"), controls)
        .select(col("p_partkey"), round(col("lamp_x"), 4).as("lamp_x"),
          round(col("lamp_y"), 4).as("lamp_y"))
    },
      // LAMP per-row closed form on the 4 pinned corner controls: every
      // step of the UDF (inverse-square weights, weighted centroids, the
      // 2×2 cross-covariance SVD via its eigen decomposition, the
      // orthogonal map) is plain double arithmetic replayed here with the
      // IDENTICAL expression grouping and accumulation order — lateral
      // column aliases keep the chain readable. sqrt is IEEE-stable; the
      // engine's hypot was rewritten to sqrt(t²+g01²) for exactly this.
      Oracle("""SELECT p_partkey, round(p0, 4) AS lamp_x, round(p1, 4) AS lamp_y FROM (
        |SELECT p_partkey,
        |  CAST(p_size AS DOUBLE) AS x, p_retailprice AS y,
        |  1.0/(1e-9 + (x - 1.0)*(x - 1.0) + (y - 900.0)*(y - 900.0)) AS a1,
        |  1.0/(1e-9 + (x - 50.0)*(x - 50.0) + (y - 900.0)*(y - 900.0)) AS a2,
        |  1.0/(1e-9 + (x - 1.0)*(x - 1.0) + (y - 2000.0)*(y - 2000.0)) AS a3,
        |  1.0/(1e-9 + (x - 50.0)*(x - 50.0) + (y - 2000.0)*(y - 2000.0)) AS a4,
        |  a1 + a2 + a3 + a4 AS asum,
        |  (a1*1.0 + a2*50.0 + a3*1.0 + a4*50.0)/asum AS cbx,
        |  (a1*900.0 + a2*900.0 + a3*2000.0 + a4*2000.0)/asum AS cby,
        |  (a2 + a4)/asum AS y0,
        |  (a3 + a4)/asum AS y1,
        |  a1*(1.0 - cbx)*(0.0 - y0) + a2*(50.0 - cbx)*(1.0 - y0) + a3*(1.0 - cbx)*(0.0 - y0) + a4*(50.0 - cbx)*(1.0 - y0) AS bx0,
        |  a1*(900.0 - cby)*(0.0 - y0) + a2*(900.0 - cby)*(1.0 - y0) + a3*(2000.0 - cby)*(0.0 - y0) + a4*(2000.0 - cby)*(1.0 - y0) AS by0,
        |  a1*(1.0 - cbx)*(0.0 - y1) + a2*(50.0 - cbx)*(0.0 - y1) + a3*(1.0 - cbx)*(1.0 - y1) + a4*(50.0 - cbx)*(1.0 - y1) AS bx1,
        |  a1*(900.0 - cby)*(0.0 - y1) + a2*(900.0 - cby)*(0.0 - y1) + a3*(2000.0 - cby)*(1.0 - y1) + a4*(2000.0 - cby)*(1.0 - y1) AS by1,
        |  bx0*bx0 + by0*by0 AS g00,
        |  bx0*bx1 + by0*by1 AS g01,
        |  bx1*bx1 + by1*by1 AS g11,
        |  g00 + g11 AS tr, g00*g11 - g01*g01 AS det,
        |  sqrt(GREATEST(tr*tr/4 - det, 0.0)) AS disc,
        |  GREATEST(tr/2 + disc, 1e-9) AS l0,
        |  GREATEST(tr/2 - disc, 1e-9) AS l1,
        |  l0 - g11 AS tt, sqrt(tt*tt + g01*g01) AS nn,
        |  CASE WHEN abs(g01) > 1e-9 THEN tt/nn ELSE 1.0 END AS v00,
        |  CASE WHEN abs(g01) > 1e-9 THEN g01/nn ELSE 0.0 END AS v10,
        |  -v10 AS v01, v00 AS v11,
        |  sqrt(l0) AS s0, sqrt(l1) AS s1,
        |  x - cbx AS xr0, y - cby AS xr1,
        |  xr0*bx0 + xr1*by0 AS xb0,
        |  xr0*bx1 + xr1*by1 AS xb1,
        |  xb0*v00 + xb1*v10 AS t0, xb0*v01 + xb1*v11 AS t1,
        |  t0/s0 AS u0, t1/s1 AS u1,
        |  u0*v00 + u1*v01 + y0 AS p0,
        |  u0*v10 + u1*v11 + y1 AS p1
        |FROM part)""".stripMargin)),
    QuerySpec("hist_singleton_1d", (s, d) =>
      Histograms.histogramWithSingleton(prt(s, d),
        Histograms.numericBucket(col("p_retailprice"), 900.0, 2000.0, 40),
        col("p_partkey")),
      Oracle("""SELECT LEAST(CAST(FLOOR((p_retailprice - 900.0) / ((2000.0 - 900.0) / 40.0)) AS INT), 39) AS bucket,
        |count(*) AS cnt, CASE WHEN count(*) = 1 THEN min(p_partkey) END AS singleton
        |FROM part GROUP BY 1""".stripMargin)),
    // SampleCorrelationSketch: correlation matrix over a 20% sample.
    // The sample is md5-hash MEMBERSHIP (the sample_rows_hash pattern),
    // not an engine RNG: the sampled row set is a pure function of the
    // keys, so the sampled correlation replays bit-stable in SQL and the
    // query is fully ORACLED (r13 verdict ask #5) — and at corpus scale
    // a hash sample is the reproducible/resumable choice anyway (rerun,
    // different partitioning, different engine: same sample).
    QuerySpec("sample_corr", (s, d) =>
      Stats.correlationMatrix(
        graft.pipeline.Pipeline.hashSample(li(s, d),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")), 2000),
        Seq("l_discount", "l_extendedprice", "l_quantity")),
      // the corr_matrix moments over the md5-membership 20% sample — the
      // sample set is a pure key function, so the sampled correlation is
      // value-replayable, not just rows-gated
      Oracle("""WITH c AS (SELECT CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS d,
        |  CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS e,
        |  CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS q FROM lineitem
        |  WHERE CAST(('0x' || substr(md5(
        |    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        |    ), 1, 15)) AS BIGINT) % 10000 < 2000),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(d AS DECIMAL(20,0))) AS DOUBLE) AS s_d,
        |  CAST(SUM(CAST(e AS DECIMAL(20,0))) AS DOUBLE) AS s_e,
        |  CAST(SUM(CAST(q AS DECIMAL(20,0))) AS DOUBLE) AS s_q,
        |  CAST(SUM(CAST(d*d AS DECIMAL(20,0))) AS DOUBLE) AS p_dd,
        |  CAST(SUM(CAST(d*e AS DECIMAL(20,0))) AS DOUBLE) AS p_de,
        |  CAST(SUM(CAST(d*q AS DECIMAL(20,0))) AS DOUBLE) AS p_dq,
        |  CAST(SUM(CAST(e*e AS DECIMAL(20,0))) AS DOUBLE) AS p_ee,
        |  CAST(SUM(CAST(e*q AS DECIMAL(20,0))) AS DOUBLE) AS p_eq,
        |  CAST(SUM(CAST(q*q AS DECIMAL(20,0))) AS DOUBLE) AS p_qq
        |  FROM c)
        |SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |  round((p_de * n - s_d * s_e) / (sqrt(n * p_dd - s_d * s_d) * sqrt(n * p_ee - s_e * s_e)), 4) AS corr FROM m
        |UNION ALL SELECT 'l_discount', 'l_quantity',
        |  round((p_dq * n - s_d * s_q) / (sqrt(n * p_dd - s_d * s_d) * sqrt(n * p_qq - s_q * s_q)), 4) FROM m
        |UNION ALL SELECT 'l_extendedprice', 'l_quantity',
        |  round((p_eq * n - s_e * s_q) / (sqrt(n * p_ee - s_e * s_e) * sqrt(n * p_qq - s_q * s_q)), 4) FROM m""".stripMargin)),
    // SampleDistinctRowsSketch: uniform sample of distinct rows plus the
    // min/max row under the order (rows-only; sampled)
    QuerySpec("sample_distinct_rows", (s, d) => {
      val dist = ord(s, d).select(col("o_orderpriority"), col("o_orderstatus")).distinct()
      dist.sample(withReplacement = false, 0.5, 42L)
        .withColumn("which", lit("sample"))
        .unionByName(dist.orderBy(col("o_orderpriority").asc_nulls_last,
          col("o_orderstatus").asc_nulls_last).limit(1).withColumn("which", lit("min")))
        .unionByName(dist.orderBy(col("o_orderpriority").desc_nulls_first,
          col("o_orderstatus").desc_nulls_first).limit(1).withColumn("which", lit("max")))
    },
      Gate("PropertySpec 'seeded sample size concentrates around rate and is deterministic'; carried exact distinct rows are the in-row ground truth"))
  )
}
