package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Near-duplicate detection and its UTF-8 twins over the
  * ml-augmented corpus. */
object Similarity {
  import Shared._

  // memoized corpus vector count per dir: sizes the LSH auto-tuning
  // without an eager count() job inside every serve (production knows
  // its corpus scale; the first call pays one count)
  private val embCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def embCount(s: SparkSession, d: String): Long =
    embCounts.computeIfAbsent(d, _ => emb(s, d).count()).longValue

  /** Injective codepoint → single-ASCII-byte map over the planted
    * multilingual alphabet. DuckDB's `levenshtein` is BYTE-based while
    * the engine's (Spark's) is CODEPOINT-based — the documented unit
    * choice for `dedup_edit_distance*`: one edit = one codepoint, so a
    * CJK substitution costs 1, not 3. An injective per-codepoint
    * renaming preserves codepoint edit distance exactly, and renaming
    * into single bytes makes DuckDB's byte distance EQUAL it — the
    * oracle translates, the engine does not (the engine must prove its
    * unit on raw UTF-8). The substitute pool avoids the corpus
    * alphabet (space + lowercase ascii after lower()), the SQL quote,
    * backslash, and '|' (stripMargin). */
  private[graft] val mlLevTranslate: (String, String) = {
    val cps = Fixtures.ml.rows.flatMap(_._2.codePoints().toArray.toSeq)
      .filter(_ > 127).distinct.sorted
    val pool = "0123456789" + ('A' to 'Z').mkString +
      "!#$%&()*+,-./:;<=>?@[]^_{}~"
    require(cps.size <= pool.length,
      s"substitute pool too small for ${cps.size} planted codepoints")
    (cps.map(cp => new String(Character.toChars(cp))).mkString,
      pool.take(cps.size))
  }

  /** Survivor-election replay shared by the full-mine and folded-map
    * serve paths (fold ≡ full-mine is the artifact contract). */
  private lazy val survivorsSql: String = ccCte +
    """
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT node FROM cc WHERE cluster_id <> node)""".stripMargin

  /** Connected components over the exact-Jaccard pair set (the same pair
    * semantics as shingleCte) via DuckDB's recursive CTE: enumerate
    * reachability, take the min reachable id per node — the ground truth
    * for Dedup.connectedComponents' min-label propagation.
    */
  private val ccCte =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM
      |  (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingle
      |   FROM w WHERE len(ws) >= 3)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT id_a, id_b
      |  FROM shared JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |  WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5),
      |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
      |reach(node, r) AS (
      |  SELECT src, src FROM e
      |  UNION
      |  SELECT e2.src, reach.r FROM e e2 JOIN reach ON e2.dst = reach.node),
      |cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  private def shingleCteFor(src: String): String =
    s"""w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $src),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM
      |  (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingle
      |   FROM w WHERE len(ws) >= 3)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, round(shared / (sa.sz + sb.sz - shared), 4) AS jaccard
      |FROM shared JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      |WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5""".stripMargin
  private val shingleCte = "WITH " + shingleCteFor("documents")
  private lazy val shingleCteMl =
    s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),\n" + shingleCteFor("dml")

  /** Generated oracle for the embedding-LSH near-dup queries: replays
    * hyperplane banding VALUE-EXACTLY at the sf0.01 verify geometry.
    * The coefficient matrix is the engine's own
    * `HyperplaneBandKeys.planeMatrix` rendered as exact decimal
    * doubles; projections replay FloatVecDot's ascending left-assoc
    * double adds via `list_reduce` (its no-init fold IS the ascending
    * left fold); the bucket is the same strict dot>0 bit word. Candidate
    * membership (bucket equality in ≥1 band, deduped), the exact cosine
    * verify, and the round-4 θ filter then mirror the engine — round-4
    * cosine parity between `list_cosine_similarity` and the engine's
    * cosinePre is already proven by the ORACLED all-pairs twin
    * (`dedup_embedding`). Geometry (planes/bands) is the auto-tune
    * answer AT VERIFY SCALE, computed here from the same formulas; the
    * hot-bucket valve cannot fire at 500-row scale (bucket ≤ corpus ≪
    * maxBucket), so the replay omits it.
    */
  private def embeddingLshOracleSql(nEstimate: Long, targetBucket: Long,
      theta: Double, planted: Boolean): String = {
    val planes = graft.ann.Similarity.autoPlanes(nEstimate, targetBucket)
    val bands = graft.ann.Similarity.autoBands(planes, theta)
    val m = graft.functions.HyperplaneBandKeys.planeMatrix(64, planes, bands)
    val coefList = m.map(f =>
      new java.math.BigDecimal(f.toDouble).toPlainString)
      .mkString("[", ", ", "]")
    val emb2 =
      if (planted)
        """SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 10000000, list_transform(embedding,
          |      (x, i) -> CASE WHEN (i - 1) % 4 = 0
          |        THEN CAST(0.0 AS FLOAT) ELSE x END)
          |  FROM embeddings WHERE vec_id % 25 = 3""".stripMargin
      else "SELECT vec_id, embedding FROM embeddings"
    s"""WITH coefs AS (SELECT CAST($coefList AS DOUBLE[]) AS m),
       |emb2 AS ($emb2),
       |bb AS (
       |  SELECT e.vec_id, t.b AS band,
       |    list_reduce(list_transform(range(1, ${planes + 1}), p ->
       |      CASE WHEN list_reduce(list_transform(range(1, 65), d ->
       |          CAST(e.embedding[CAST(d AS INT)] AS DOUBLE)
       |            * c.m[CAST(((t.b - 1) * $planes + (p - 1)) * 64 + d AS INT)]),
       |        (a, x) -> a + x) > 0
       |      THEN CAST(1 AS BIGINT) << CAST(p - 1 AS INT) ELSE CAST(0 AS BIGINT) END),
       |      (a, x) -> a + x) AS bucket
       |  FROM emb2 e CROSS JOIN coefs c, UNNEST(range(1, ${bands + 1})) t(b)),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.vec_id < y.vec_id)
       |SELECT c.id_a, c.id_b,
       |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |    CAST(b.embedding AS DOUBLE[])), 4) AS cos
       |FROM cand c JOIN emb2 a ON a.vec_id = c.id_a
       |  JOIN emb2 b ON b.vec_id = c.id_b
       |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |  CAST(b.embedding AS DOUBLE[])), 4) >= $theta""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // ── dedup / similarity / text (training-data pipeline) ─────────────
    QuerySpec("dedup_exact", (s, d) => graft.dedup.Dedup.exactGroups(docs(s, d)),
      Oracle("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),
    // normalization-AWARE exact dedup (the reason text_normalize_nfc
    // exists): group on md5(NFC(text)) over the ml corpus — the
    // planted decomposed/precomposed fr twin pair collapses into one
    // group with n_raw_forms = 2, which byte-exact dedup cannot see
    QuerySpec("dedup_exact_nfc", (s, d) =>
      Fixtures.ml.df(s, d)
        .groupBy(md5(graft.text.TextAnalysis.nfcNormalize(col("text"))
          .cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          countDistinct(col("text")).as("n_raw_forms")),
      Oracle({
      val body = """SELECT md5(nfc_normalize(text)) AS h,
        |  min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_raw_forms
        |FROM dml GROUP BY 1""".stripMargin
      s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql})\n$body"
    })),
    // the function's default 1 M df-cut stays ON (r5 verdict: disabling
    // it here turned off the operator's 100 TB skew guard — stopword
    // shingles make the inverted-index self-join quadratic in df). At
    // sf0.1 no shingle approaches 1 M docs, so the oracle is unchanged.
    QuerySpec("dedup_jaccard_3gram", (s, d) =>
      graft.dedup.Dedup.jaccardPairs(docs(s, d), 3, 0.5),
      Oracle(shingleCte)),
    // df-cut path actually exercised: every doc is salted with a common
    // tail phrase, whose fully-interior shingle lands in ALL docs and is
    // dropped by the maxShingleDocs=50 cut (groupBy → broadcast
    // anti-join, no skewed-key window). Set sizes stay pre-cut.
    QuerySpec("dedup_jaccard_dfcut", (s, d) =>
      graft.dedup.Dedup.jaccardPairs(
        docs(s, d).withColumn("text",
          concat(col("text"), lit(" zz common tail"))), 3, 0.5, 50L),
      // mirrors jaccardPairs' df-cut semantics: per-doc set sizes are
      // computed BEFORE the cut, shared counts AFTER it
      Oracle("""WITH w AS (SELECT doc_id,
        |    string_split(lower(text || ' zz common tail'), ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM
        |  (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingle
        |   FROM w WHERE len(ws) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |dfc AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY 1) WHERE df <= 50),
        |cut AS (SELECT doc_id, shingle FROM sh JOIN dfc USING (shingle)),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM cut a JOIN cut b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(shared / (sa.sz + sb.sz - shared), 4) AS jaccard
        |FROM shared JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
        |WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5""".stripMargin)),
    QuerySpec("dedup_minhash_lsh", (s, d) =>
      graft.dedup.Dedup.minhashLshPairs(docs(s, d), 3, 64, 32, 0.5),
      Oracle(shingleCte)),
    // threshold-tuning curve: pair volume per 0.05 jaccard bucket with
    // a cumulative pairs-at-or-above column — the "what would a θ of X
    // cost me" dashboard a dedup threshold is chosen against; ONE
    // banding+verify pass at the lowest θ, then a bounded ≤11-row
    // bucket aggregate (the unpartitioned window runs over buckets,
    // never pairs)
    QuerySpec("dedup_threshold_curve", (s, d) => {
      val pairs = graft.dedup.Dedup.minhashLshPairs(docs(s, d), 3, 64, 32, 0.5)
      pairs
        .withColumn("theta_e2", (floor(col("jaccard") * 20) * 5).cast("long"))
        .groupBy(col("theta_e2")).agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_pairs_ge", sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("theta_e2").desc)
            .rowsBetween(Long.MinValue, 0)))
    },
      // same exact-jaccard pair replay, bucketed; the cumulative window
      // runs over <= 11 bucket rows on both engines
      Oracle(s"""WITH pairs AS ($shingleCte),
         |b AS (SELECT CAST(floor(jaccard * 20) * 5 AS BIGINT) AS theta_e2,
         |    CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1)
         |SELECT theta_e2, n_pairs,
         |  CAST(SUM(n_pairs) OVER (ORDER BY theta_e2 DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_pairs_ge
         |FROM b""".stripMargin)),
    // cross-source duplication matrix: which SOURCE PAIRS share
    // near-dup content (the crawl-vs-wiki overlap question behind
    // source-level dedup ordering); canonical (min, max) source pair,
    // pair counts + mean jaccard on the exact 1e-4 grid — the pair set
    // is the same banding pass, the matrix is #sources² rows
    QuerySpec("dedup_source_matrix", (s, d) => {
      val pairs = graft.dedup.Dedup.minhashLshPairs(docs(s, d), 3, 64, 32, 0.5)
      val src = docs(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
          Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"),
          (col("jaccard") * 10000).cast("long").as("__je4"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          graft.text.TextAnalysis.intDiv(sum(col("__je4")), count(lit(1)))
            .as("mean_jaccard_e4"))
    },
      // the pair replay joined back to sources; identical double
      // truncation (CAST toward zero) on both engines
      Oracle(s"""WITH pairs AS ($shingleCte)
         |SELECT LEAST(da.source, db.source) AS source_a,
         |  GREATEST(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CAST(jaccard * 10000 AS BIGINT)) // count(*) AS BIGINT)
         |    AS mean_jaccard_e4
         |FROM pairs JOIN documents da ON da.doc_id = pairs.id_a
         |  JOIN documents db ON db.doc_id = pairs.id_b
         |GROUP BY 1, 2""".stripMargin)),
    // ── UTF-8 twins of the similarity families over the ml-augmented
    // corpus: shingles are WORD n-grams (space-split), so the unit is
    // the word string — identical in Spark (UTF-16 strings) and DuckDB
    // (UTF-8), and the planted mixed-script near-dup pairs must
    // surface while the precomposed/decomposed fr twins (no identical
    // words) must NOT produce false pairs (gated in PropertySpec)
    QuerySpec("dedup_jaccard_3gram_ml", (s, d) =>
      graft.dedup.Dedup.jaccardPairs(Fixtures.ml.df(s, d), 3, 0.5),
      Oracle(shingleCteMl)),
    QuerySpec("dedup_minhash_lsh_ml", (s, d) =>
      graft.dedup.Dedup.minhashLshPairs(Fixtures.ml.df(s, d), 3, 64, 32, 0.5),
      Oracle(shingleCteMl)),
    // edit-distance unit on multilingual text: ONE CODEPOINT = one
    // edit (Spark's levenshtein; the oracle byte-matches it through an
    // injective codepoint→ascii-byte translate — see mlLevTranslate)
    QuerySpec("dedup_edit_distance_ml", (s, d) =>
      graft.dedup.Dedup.editDistancePairs(Fixtures.ml.df(s, d), 5, 64),
      // ml twin: candidates regenerate identically (word 5-grams); the
      // levenshtein VALUE is byte-based in DuckDB vs codepoint-based in
      // the engine, so both texts pass through the injective codepoint →
      // single-ascii-byte translate, under which byte distance equals
      // the engine's codepoint distance exactly (see mlLevTranslate)
      Oracle({
      val (frm, to) = mlLevTranslate
      s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
        |w AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS ws FROM dml),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws)-3)]) AS gram
        |  FROM w WHERE len(ws) >= 5)),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS edit_dist FROM (
        |  SELECT id_a, id_b, levenshtein(translate(wa.t, '$frm', '$to'),
        |    translate(wb.t, '$frm', '$to')) AS d
        |  FROM p JOIN w wa ON wa.doc_id = id_a JOIN w wb ON wb.doc_id = id_b
        |  WHERE abs(length(wa.t) - length(wb.t)) <= 64)
        |WHERE d <= 64""".stripMargin
    })),
    QuerySpec("text_winnow_pairs_ml", (s, d) =>
      graft.text.TextAnalysis.winnowPairs(Fixtures.ml.df(s, d)),
      // the winnowing selection replayed: same md5-60bit gram hashes,
      // same window minima, same df-cut — list slices are 1-based
      // inclusive, so ws[i:i+3] is the 4-gram and gh[j:j+4] the 5-window
      // ml twin: md5 of the gram STRING hashes its UTF-8 bytes in both
      // engines, so the window-min selection replays unchanged over the
      // mixed-script corpus
      Oracle(s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
        |t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM dml),
        |g AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 3),
        |    i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))
        |      AS BIGINT)) AS gh
        |  FROM t WHERE len(ws) >= 8),
        |f AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(gh) - 4), j -> list_min(gh[j:j+4]))) AS fps
        |  FROM g),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |kept AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 1000),
        |ek AS (SELECT doc_id, fp FROM e JOIN kept USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM ek a JOIN ek b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin)),
    // span offsets over mixed-script text: gram md5 runs over UTF-8
    // bytes in BOTH engines and offsets count WORDS, so the planted
    // ru/zh/ko shared runs must surface with identical boundaries
    QuerySpec("text_dup_spans_ml", (s, d) =>
      graft.text.TextAnalysis.dupSpans(Fixtures.ml.df(s, d), 5),
      // the duplicated-SPAN selection replayed end-to-end: same md5-60bit
      // 5-gram hashes, dup = gram in ≥2 distinct docs, per-doc window
      // starts merged gaps-and-islands style (equal-width windows ⇒ ends
      // are monotone in p, so "new island when p − prev > w" is exact),
      // then boundaries and span text re-sliced from the token list
      // ml twin: identical pipeline over the augmented corpus — md5 of a
      // gram hashes its UTF-8 bytes in both engines and positions count
      // words, so mixed-script boundaries replay unchanged
      Oracle(s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
        |t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM dml),
        |g AS (SELECT doc_id, ws, list_transform(generate_series(1, len(ws) - 4),
        |    i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))
        |      AS BIGINT)) AS gh
        |  FROM t WHERE len(ws) >= 5),
        |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(gh)),
        |    i -> {'p': i, 'fp': gh[i]})) AS u FROM g),
        |e AS (SELECT doc_id, u.p AS p, u.fp AS fp FROM e0),
        |dup AS (SELECT fp FROM e GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
        |s AS (SELECT doc_id, p FROM e JOIN dup USING (fp)),
        |m AS (SELECT doc_id, p, CASE WHEN p - COALESCE(lag(p) OVER
        |    (PARTITION BY doc_id ORDER BY p), -1000000) > 5 THEN 1 ELSE 0 END AS brk
        |  FROM s),
        |isl AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island FROM m),
        |sp AS (SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
        |    CAST(MAX(p) + 4 AS BIGINT) AS span_end
        |  FROM isl GROUP BY doc_id, island)
        |SELECT sp.doc_id, span_start, span_end,
        |  span_end - span_start + 1 AS n_span_tokens,
        |  array_to_string(ws[CAST(span_start AS INT):CAST(span_end AS INT)], ' ')
        |    AS span_text
        |FROM sp JOIN t USING (doc_id)""".stripMargin)),
    // fuzzy dedup with an exact edit-distance verify: shared-window
    // candidates (never all-pairs), band-limited levenshtein ≤ 64
    QuerySpec("dedup_edit_distance", (s, d) =>
      graft.dedup.Dedup.editDistancePairs(docs(s, d), 5, 64),
      Oracle("""WITH w AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws)-3)]) AS gram
        |  FROM w WHERE len(ws) >= 5)),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS edit_dist FROM (
        |  SELECT id_a, id_b, levenshtein(wa.t, wb.t) AS d
        |  FROM p JOIN w wa ON wa.doc_id = id_a JOIN w wb ON wb.doc_id = id_b
        |  WHERE abs(length(wa.t) - length(wb.t)) <= 64)
        |WHERE d <= 64""".stripMargin)),
    // df-cut path exercised: every doc is salted with a 5-token tail
    // whose fully-interior window lands in ALL docs (df = corpus size)
    // and is dropped by the maxWindowDocs=50 cap INSIDE the single
    // postings aggregation (bounded buffer, no second count pass) —
    // without the cut it would make every doc pair a candidate
    QuerySpec("dedup_edit_dfcut", (s, d) =>
      graft.dedup.Dedup.editDistancePairs(
        docs(s, d).withColumn("text",
          concat(col("text"), lit(" zq0 zq1 zq2 zq3 zq4"))), 5, 64, 50),
      Oracle("""WITH w AS (SELECT doc_id, lower(text || ' zq0 zq1 zq2 zq3 zq4') AS t,
        |  string_split(lower(text || ' zq0 zq1 zq2 zq3 zq4'), ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws)-3)]) AS gram
        |  FROM w WHERE len(ws) >= 5)),
        |ok AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 50),
        |g2 AS (SELECT g.doc_id, g.gram FROM g JOIN ok USING (gram)),
        |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g2 a JOIN g2 b USING (gram) WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(d AS BIGINT) AS edit_dist FROM (
        |  SELECT id_a, id_b, levenshtein(wa.t, wb.t) AS d
        |  FROM p JOIN w wa ON wa.doc_id = id_a JOIN w wb ON wb.doc_id = id_b
        |  WHERE abs(length(wa.t) - length(wb.t)) <= 64)
        |WHERE d <= 64""".stripMargin)),
    // incremental ingestion gate: the doc_id%10==0 "delta" deduped
    // against the rest of the corpus, banding delta×corpus (no self-join)
    QuerySpec("dedup_incremental", (s, d) => {
      val all = docs(s, d)
      graft.dedup.Dedup.minhashLshAgainst(
        all.filter(pmod(col("doc_id"), lit(10L)) === 0L),
        all.filter(pmod(col("doc_id"), lit(10L)) =!= 0L), 3, 64, 32, 0.5)
    },
      // exact cross-split Jaccard: delta (doc_id%10=0) vs corpus (rest)
      Oracle("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM
        |  (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingle
        |   FROM w WHERE len(ws) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |shared AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 GROUP BY 1, 2)
        |SELECT new_id, corpus_id, round(shared / (sa.sz + sb.sz - shared), 4) AS jaccard
        |FROM shared JOIN sz sa ON new_id = sa.doc_id JOIN sz sb ON corpus_id = sb.doc_id
        |WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5""".stripMargin)),
    // delta novelty from STORED sketches: "how much of this crawl is
    // genuinely new?" answered by theta set algebra on two kilobyte
    // blobs — no delta×corpus join at all (the cheap pre-gate before
    // dedup_incremental's banding pass). k=8192 exceeds both distinct
    // text counts at verify scale, so the answers are EXACT ⇒ fully
    // oracled; at corpus scale the same query degrades gracefully to
    // ~1/√k-error estimates (property-gated regime in PropertySpec).
    QuerySpec("dedup_delta_novelty", (s, d) => {
      import graft.functions.ThetaSketch
      val all = docs(s, d)
      val corpus = all.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
        .agg(ThetaSketch.theta_build(col("text"), 8192).as("sk_c"))
      val delta = all.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .agg(ThetaSketch.theta_build(col("text"), 8192).as("sk_d"))
      delta.crossJoin(corpus).select(
        round(ThetaSketch.theta_estimate(col("sk_d")))
          .cast("long").as("delta_distinct"),
        round(ThetaSketch.theta_anotb(col("sk_d"), col("sk_c")))
          .cast("long").as("novel_texts"),
        (ThetaSketch.theta_anotb(col("sk_d"), col("sk_c")) /
          ThetaSketch.theta_estimate(col("sk_d"))).as("novelty_rate"))
    },
      // exhaustive regime ⇒ theta answers equal the true set counts; the
      // rate is one division of exact integers, rounded identically
      Oracle("""WITH corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0),
        |delta AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 = 0)
        |SELECT CAST((SELECT count(*) FROM delta) AS BIGINT) AS delta_distinct,
        |CAST((SELECT count(*) FROM delta
        |      WHERE text NOT IN (SELECT text FROM corpus)) AS BIGINT) AS novel_texts,
        |CAST((SELECT count(*) FROM delta
        |      WHERE text NOT IN (SELECT text FROM corpus)) AS DOUBLE)
        |  / (SELECT count(*) FROM delta) AS novelty_rate""".stripMargin)),
    // default 9 single-chunk bands: fastest at this corpus size; the
    // (nChunks, chunksPerKey) lever trades band count for key width when
    // narrow keys over-collide at larger corpora
    QuerySpec("dedup_simhash", (s, d) => graft.dedup.SimHash.nearDupPairs(docs(s, d), 8),
      // brute-force simhash in SQL: same md5-derived 60-bit token hash and
      // majority-bit fingerprint as SimHash60, all pairs checked exactly —
      // verifies the Spark side's pigeonhole banding loses no pairs
      Oracle("""WITH th AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
        |bits AS (
        |  SELECT doc_id, j,
        |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS j) GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS fp
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 8""".stripMargin)),
    // pairs → connected components → one kept doc per cluster: the
    // decision layer of dedup. The whole family (cluster census, survivor
    // election, quality election) reads ONE stored cluster-map artifact —
    // MinHash banding + label propagation mine once per input, every
    // decision query after that is a parquet read of the map (the r13
    // verdict's storable-model ask; at 100 TB re-mining per consumer is
    // absurd)
    QuerySpec("dedup_clusters", (s, d) =>
      graft.dedup.Dedup.clusterMapArtifact(s, d),
      Oracle((ccCte +
      "\nSELECT node AS doc_id, cluster_id FROM cc"))),
    // mining-cost observability twin (r15 advisor ask): dedup_clusters
    // serves the stored artifact (the first run mines and writes, every
    // later run is a parquet read), so its bench number no longer tracks
    // LSH+CC mining regressions round over round. This twin ALWAYS runs
    // the mining subtree — no artifact — keeping the most expensive
    // dedup computation visible in the bench receipt.
    QuerySpec("dedup_cluster_mine", (s, d) =>
      graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashLshPairs(docs(s, d))),
      // the always-mine twin computes the identical map, so it shares
      // the recursive-CTE connected-components replay
      Twin("dedup_clusters")),
    // INCREMENTAL cluster-map maintenance (r15 headline): the corpus
    // arrives as shards (here: documents split doc_id mod 3, written
    // once to scratch); a base map is published over shards {0,1} only
    // on first contact, then shard 2 is FOLDED in — delta×delta +
    // delta×corpus banding, CC over (stored map edges ∪ new pairs) —
    // never a corpus re-mine. The folded map is bit-identical to a full
    // mine of the union, which is exactly what the oracle replays (the
    // same recursive-CTE CC over the whole documents table).
    QuerySpec("dedup_clusters_incremental", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, d, 3)
      val name = "docs_mod3_" + Integer.toHexString(d.hashCode)
      seededFold(graft.dedup.Dedup.clusterMapFoldLineage(name), shards)(
        graft.dedup.Dedup.clusterMapArtifactFolded(s, name, _))
    },
      // fold ≡ full-mine: the incrementally-folded map over the 3-shard
      // split must equal CC over the WHOLE table's pair mining — the
      // oracle is deliberately the full-corpus replay, so any fold error
      // (lost cross-shard pair, stale stored edge) breaks the value hash
      Oracle((ccCte +
      "\nSELECT node AS doc_id, cluster_id FROM cc"))),
    // the line-dedup state as a folded model (r15), maintained
    // incrementally over a 3-shard split of the NL-PLANTED corpus (the
    // planted boilerplate lines span all three doc_id-mod-3 residues,
    // so the fold genuinely merges cross-shard censuses) — base state
    // over shards {0,1} on first contact, shard 2's state FOLDED in by
    // the exact (sum, sum, min) merge, list consumers filter
    // n_docs >= 2. Fold ≡ batch scan, which is exactly what the oracle
    // replays (the text_boilerplate_lines census verbatim).
    QuerySpec("text_boilerplate_folded", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, Fixtures.nl.inputDir(s, d), 3)
      val name = "docsnl_mod3_" + Integer.toHexString(d.hashCode)
      seededFold(graft.text.TextAnalysis.boilerplateFoldLineage(name), shards)(
        graft.text.TextAnalysis.boilerplateStateArtifactFolded(s, name, _))
        .filter(col("n_docs") >= 2)
    },
      // folded line state ≡ the whole nl-corpus census (the
      // text_boilerplate_lines oracle verbatim): any fold error —
      // double-counted shard, lost (sum,sum,min) merge key, stale stored
      // state — breaks the hash
      Oracle(s"""WITH dnl AS (${Fixtures.nl.sql}),
        |e AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM dnl)
        |SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences, min(doc_id) AS keeper
        |FROM e WHERE line <> ''
        |GROUP BY line HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),
    QuerySpec("dedup_survivors", (s, d) =>
      graft.dedup.Dedup.survivorsFromClusters(docs(s, d),
        graft.dedup.Dedup.clusterMapArtifact(s, d))
        .select(col("doc_id")),
      Oracle(survivorsSql)),
    // the survivor election served from the FOLDED incremental map:
    // the decision family consumes the folded lineage exactly as it
    // consumes the full-mine artifact (fold ≡ full-mine), so the
    // oracle is the dedup_survivors replay verbatim
    QuerySpec("dedup_survivors_incremental", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, d, 3)
      val name = "docs_mod3_" + Integer.toHexString(d.hashCode)
      graft.dedup.Dedup.survivorsFromClusters(docs(s, d),
        seededFold(graft.dedup.Dedup.clusterMapFoldLineage(name), shards)(
          graft.dedup.Dedup.clusterMapArtifactFolded(s, name, _)))
        .select(col("doc_id"))
    },
      // served from the FOLDED incremental map: fold ≡ full-mine, so the
      // replay is identical — a fold error surfaces as a survivor diff
      Oracle(survivorsSql)),
    // containment (asymmetric Jaccard): the excerpt/quote-inclusion
    // dedup symmetric near-dup misses — θ=0.9 on either direction
    QuerySpec("dedup_containment", (s, d) =>
      graft.dedup.Dedup.containmentPairs(Fixtures.cont.df(s, d), 3, 9000L),
      Oracle(s"""WITH dc AS MATERIALIZED (${Fixtures.cont.sql}),
         |w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    x -> x <> '') AS ws FROM dc),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM
         |  (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
         |      for i in range(1, len(ws) - 1)]) AS shingle
         |    FROM w WHERE len(ws) >= 3)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM sh GROUP BY 1),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |m AS (SELECT p.id_a, p.id_b, p.shared,
         |    CAST(p.shared * 10000 // za.sz AS DOUBLE)
         |      / CAST(10000 AS DOUBLE) AS cont_a,
         |    CAST(p.shared * 10000 // zb.sz AS DOUBLE)
         |      / CAST(10000 AS DOUBLE) AS cont_b
         |  FROM p JOIN sz za ON p.id_a = za.doc_id
         |    JOIN sz zb ON p.id_b = zb.doc_id)
         |SELECT * FROM m WHERE greatest(cont_a, cont_b) >= 0.9""".stripMargin)),
    // FineWeb-style survivor election: within each near-dup cluster
    // keep the HIGHEST-QUALITY copy (ties → lowest doc_id), not the
    // accidentally-first one
    // the dedup DECISION REPORT — per-source accounting every pipeline
    // publishes after a dedup pass (docs / clustered / dropped / keep
    // rate), read straight off the stored cluster-map artifact: the
    // report is a reporting-sized join, not a third mining pass
    QuerySpec("dedup_report", (s, d) => {
      val cl = graft.dedup.Dedup.clusterMapArtifact(s, d)
      docs(s, d).select(col("doc_id"), col("source"))
        .join(cl, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("cluster_id")).as("n_clustered"),
          sum(when(col("cluster_id").isNotNull &&
              col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_dropped"))
        .withColumn("keep_rate_e4", graft.text.TextAnalysis.intDiv(
          (col("n_docs") - col("n_dropped")) * lit(10000L), col("n_docs")))
    },
      Oracle((ccCte + """
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(cc.cluster_id) AS BIGINT) AS n_clustered,
      |  CAST(count(CASE WHEN cc.cluster_id IS NOT NULL
      |    AND cc.cluster_id <> d.doc_id THEN 1 END) AS BIGINT) AS n_dropped,
      |  ((CAST(count(*) AS BIGINT) - CAST(count(CASE WHEN cc.cluster_id IS NOT NULL
      |    AND cc.cluster_id <> d.doc_id THEN 1 END) AS BIGINT)) * 10000)
      |    // CAST(count(*) AS BIGINT) AS keep_rate_e4
      |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
      |GROUP BY 1""".stripMargin))),
    // duplicate-cluster size distribution (the dedup-paper curve): how
    // many clusters of each size — again a pure artifact consumer
    QuerySpec("dedup_cluster_sizes", (s, d) =>
      graft.dedup.Dedup.clusterMapArtifact(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters")),
      Oracle((ccCte + """,
      |szs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
      |  FROM cc GROUP BY 1)
      |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
      |FROM szs GROUP BY 1""".stripMargin))),
    QuerySpec("dedup_survivors_quality", (s, d) => {
      // the election only reads scores of CLUSTER MEMBERS (the inner
      // join in survivorsByQuality drops everything else), so the
      // quality pass runs over the semi-joined member set — cluster-
      // map-sized, not corpus-sized — and the cluster map itself comes
      // from the shared stored artifact, not a fresh mining pass
      val cl = graft.dedup.Dedup.clusterMapArtifact(s, d)
      graft.dedup.Dedup.survivorsByQuality(cl,
        graft.text.TextAnalysis.qualityGridScore(docs(s, d)
          .join(cl.select(col("doc_id")), Seq("doc_id"), "left_semi")))
    },
      // clusters ∘ the integer grid quality score: survivor = max score,
      // ties to lowest doc_id
      Oracle((ccCte + """,
      |q AS (SELECT doc_id,
      |    (LEAST(len(string_split(lower(text), ' ')) * 100, 10000) * 7
      |      + LEAST(len(list_filter(string_split(lower(text), ' '),
      |          x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of'))
      |        * 100000 // len(string_split(lower(text), ' ')), 10000) * 3)
      |      // 10 AS q_e4
      |  FROM documents),
      |j AS (SELECT cc.cluster_id, cc.node AS doc_id, q.q_e4
      |  FROM cc JOIN q ON cc.node = q.doc_id),
      |b AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
      |    max(q_e4) AS bq FROM j GROUP BY 1)
      |SELECT b.cluster_id, b.n_members,
      |  CAST(min(j.doc_id) AS BIGINT) AS survivor_id,
      |  CAST(b.bq AS DOUBLE) / CAST(10000 AS DOUBLE) AS survivor_quality
      |FROM b JOIN j ON j.cluster_id = b.cluster_id AND j.q_e4 = b.bq
      |GROUP BY b.cluster_id, b.n_members, b.bq""".stripMargin))),
    QuerySpec("dedup_embedding", (s, d) => graft.ann.Similarity.nearDupPairs(emb(s, d), 0.4),
      Oracle("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.4""".stripMargin)),
    // bucketed (LSH-banded) near-dup at the PRODUCTION threshold
    // (θ=0.7, the SemDeDup/near-dup operating point) — the headline
    // envelope entry. The synthetic corpus's natural pairs top out at
    // cos≈0.60, so the fixture plants deterministic near-dups (a 4%
    // slice re-ided +10M with every 4th coordinate zeroed ⇒ cos≈0.87
    // vs the original — same planted-copy pattern as the exact-dedup
    // gates); rows-only, recall vs exact property-gated (PropertySpec)
    // targetBucket=16 (finer buckets than the stress default): the
    // synthetic embeddings cluster, so coarse buckets put whole label
    // clusters in one cell and candidate volume approaches all-pairs;
    // planes = log2(n/16) keeps buckets small AS N GROWS. maxBucket=0
    // skips the hot-cut valve — bucket sizes are bounded by
    // construction here; the stress entry keeps the valve on.
    QuerySpec("dedup_embedding_lsh", (s, d) =>
      graft.ann.Similarity.nearDupPairsLsh(Fixtures.plantedEmb(s, d), 0.7,
        nEstimate = embCount(s, d) * 26L / 25L,
        targetBucket = 16L, maxBucket = 0),
      // the sf0.01 auto-tune geometry: headline (planted, θ=0.7) resolves
      // planes=6/bands=29 from nEstimate=520/targetBucket=16; stress
      // (θ=0.4) resolves planes=4/bands=32 from n=500/targetBucket=64 —
      // the generator recomputes via the SAME autoPlanes/autoBands
      Oracle(embeddingLshOracleSql(520L, 16L, 0.7, planted = true))),
    // the θ=0.4 low-threshold form kept as the declared STRESS entry:
    // unique candidates at θ=0.4 approach ALL-PAIRS (measured 78% of
    // n²/2 at sf0.1 — hyperplane bits barely separate cos 0.4 from
    // random, so recall ≥0.993 forces near-total collision), which makes
    // the dense-candidate carryVectors shape the right plan: verify
    // fused into the band self-join, distinct only on survivors
    // (r6-adjudication closed in r14 — 2.5 s → ~1.3 s, same pair set)
    QuerySpec("dedup_embedding_lsh_stress", (s, d) =>
      graft.ann.Similarity.nearDupPairsLsh(emb(s, d), 0.4,
        carryVectors = true),
      Oracle(embeddingLshOracleSql(500L, 64L, 0.4, planted = false)))
  )
}
