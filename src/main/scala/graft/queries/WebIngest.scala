package graft
package queries

import graft.engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The web-ingest cleanup family (CCNet/RefinedWeb/C4 line,
  * URL and HTML passes), tokenizers, language models and packing. */
object WebIngest {
  import Shared._

  /** The blocklist lexicon for `text_blocklist*`: fixture-vocabulary
    * terms chosen to exercise the automaton — prefix-nested pairs
    * ("low" ⊂ "slow", "can" ⊂ "scan": dictionary-suffix emission), a
    * multi-word phrase, CJK / precomposed-accent / emoji patterns
    * hitting the planted multilingual rows (the byte-level UTF-8 walk;
    * the decomposed twin row must NOT match 'café'), a single-letter
    * high-frequency term, and one term absent from the corpus. */
  private[graft] val blocklistTerms: Seq[String] = Seq(
    "a", "agg", "can", "data", "join", "key", "low", "merge", "order",
    "scan", "slow", "slow join", "stream", "qqq", "café", "去重", "🚀")

  /** Batch bigram-LM training oracle, shared by `lm_model_incremental`
    * and `lm_model_folded`: exact-sum state folds ≡ training on the
    * union, so the oracle trains on the whole table directly — the
    * equality IS the storable-state claim. */
  private val lmModelTrainSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
      |    w -> w <> '') AS ws FROM documents),
      |big AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 2),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2
      |  FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1)
      |SELECT c2.w1, c2.w2,
      |  CAST(length(bin(n1)) - length(bin(n2)) AS BIGINT) AS surp
      |FROM c2 JOIN c1 USING (w1)""".stripMargin

  /** Batch langid-count oracle, shared by `langid_model_incremental`
    * and `langid_model_folded` (same fold ≡ batch-counting claim). */
  private def langidModelTrainSql: String =
    s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
       |g AS (SELECT lang AS lang2,
       |    unnest([substr(lower(text), CAST(i AS INTEGER), 2)
       |      for i in range(1, length(lower(text)))]) AS g
       |  FROM dml WHERE lang = 'en' OR source = 'planted_ml')
       |SELECT lang2, g, CAST(count(*) AS BIGINT) AS c
       |FROM g GROUP BY 1, 2""".stripMargin

  /** Inject the `dml` CTE into a generated `WITH RECURSIVE …` oracle
    * whose table references were pointed at `dml`. */
  private def withMlDocs(sql: String): String = {
    require(sql.startsWith("WITH RECURSIVE "), "expected a recursive-CTE oracle")
    "WITH RECURSIVE dml AS MATERIALIZED (" + Fixtures.ml.sql + "),\n" +
      sql.substring("WITH RECURSIVE ".length)
  }

  /** The trusted-seed predicate of the langid model, as SQL — part of
    * the folded langid artifact's identity (changing the trust contract
    * re-mines). Must match the `text_langid_nb` seed Column. */
  private val langidSeedSql = "lang = 'en' OR source = 'planted_ml'"

  /** The boilerplate line list as a stored artifact — the second
    * decision-layer model on the [[graft.engine.Artifacts]] pattern
    * (after the dedup cluster map): detection
    * ([[graft.text.TextAnalysis.boilerplateLines]] over the nl-planted
    * corpus) runs once per (input, params, build) and the strip/gate
    * consumers serve the published parquet. The fingerprint's build
    * stamp covers BOTH the detection code (TextAnalysis) and the
    * fixture classes ([[Fixtures.buildStamp]]), so editing the planted
    * rows re-mines (the same "recompile conservatively re-mines"
    * contract as the cluster map).
    */
  private[graft] val boilerplateStamp: Seq[String] = Seq(
    "/graft/text/TextAnalysis$.class", "/graft/text/TextAnalysis.class") ++
    Fixtures.buildStamp

  private def boilerplateListArtifact(s: SparkSession, d: String): DataFrame =
    graft.engine.Artifacts.Lineage("boilerplate_list", d + "|min2-raw",
        boilerplateStamp)
      .serve(s, "min2-raw", d, "documents")(
        graft.text.TextAnalysis.boilerplateLines(Fixtures.nl.df(s, d), 2))

  // the domains `text_url_filter` blocks in the planted url fixture
  private[graft] val blockedDomains =
    Seq("spam.example.com", "tracker.adsite.io")

  /** ROUGE-L oracle: the LCS DP mechanically unrolled over pool-token
    * positions (one stage per position, the unigramDpBlock pattern).
    * The classic row recurrence dp[i][j] = max(dp[i-1][j],
    * dp[i][j-1], dp[i-1][j-1] + match) untangles into pure SQL because
    * dp[i][·] is non-decreasing in j: with e[j] = max(dp[i-1][j],
    * dp[i-1][j-1] + match(i,j)), dp[i][j] is the RUNNING MAX of e —
    * one lag() + one cumulative-max window per stage. Stages past a
    * pool row's length are automatically the identity (out-of-range
    * list index → NULL token → match 0, and the running max of a
    * monotone row is itself). */
  private def rougeSql(pool: Seq[(Int, String)], cap: Int,
      thetaGrid: Long): String = {
    val stages = pool.map(_._2.split(" ").length).max
    val poolVals = pool.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    val stageCtes = (1 to stages).map { i =>
      s"""s${i}a AS (SELECT doc_id, pool_id, n, m, ptoks, j, tok,
         |  CASE WHEN j = 0 THEN 0 ELSE greatest(dp,
         |    lag(dp) OVER (PARTITION BY doc_id, pool_id ORDER BY j)
         |      + CASE WHEN tok = ptoks[$i] THEN 1 ELSE 0 END) END AS e
         |  FROM s${i - 1}),
         |s$i AS (SELECT doc_id, pool_id, n, m, ptoks, j, tok,
         |  max(e) OVER (PARTITION BY doc_id, pool_id ORDER BY j
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp
         |  FROM s${i}a)""".stripMargin
    }.mkString(",\n")
    s"""WITH pool AS MATERIALIZED (SELECT pool_id,
       |    list_filter(string_split(ptext, ' '), x -> x <> '') AS ptoks
       |  FROM (VALUES $poolVals) p(pool_id, ptext)),
       |di AS MATERIALIZED (${Fixtures.inst.sql}),
       |cand AS MATERIALIZED (SELECT doc_id, list_slice(l, 1, $cap) AS toks
       |  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |    x -> x <> '') AS l FROM di)),
       |base AS MATERIALIZED (SELECT c.doc_id, p.pool_id,
       |    len(c.toks) AS n, len(p.ptoks) AS m, p.ptoks AS ptoks,
       |    unnest(generate_series(0, len(c.toks))) AS j, c.toks AS toks
       |  FROM cand c CROSS JOIN pool p),
       |s0 AS (SELECT doc_id, pool_id, n, m, ptoks, j,
       |    CASE WHEN j = 0 THEN NULL ELSE toks[CAST(j AS INTEGER)] END AS tok,
       |    0 AS dp FROM base),
       |$stageCtes,
       |scored AS MATERIALIZED (SELECT doc_id, pool_id, n,
       |    CAST(dp AS BIGINT) AS lcs,
       |    CAST(2 * dp * 10000 // (n + m) AS BIGINT) AS f1
       |  FROM s$stages WHERE j = n),
       |best AS (SELECT doc_id, max(f1) AS bf FROM scored GROUP BY 1),
       |pick AS (SELECT s.doc_id, min(s.pool_id) AS bp FROM scored s
       |  JOIN best b ON s.doc_id = b.doc_id AND s.f1 = b.bf GROUP BY 1)
       |SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_toks,
       |  CAST(s.pool_id AS BIGINT) AS best_pool_id, s.lcs,
       |  s.f1 AS rouge_f1, s.f1 >= $thetaGrid AS is_dup
       |FROM pick p JOIN scored s
       |  ON s.doc_id = p.doc_id AND s.pool_id = p.bp""".stripMargin
  }

  /** The Gopher-repetition oracle: positional gram STRINGS as the
    * count key (exact equality, like the kernel's bytewise map),
    * row_number election by (ct DESC, first-occurrence ASC — a total
    * order: one gram starts at each position), generate_series
    * coverage union for dup grams — the full
    * [[graft.text.TextAnalysis.gopherRepetition]] arithmetic on the
    * 1e-4 grid. */
  private def gopherRepSql: String =
    s"""WITH dd AS MATERIALIZED (${Fixtures.rep.sql}),
       |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
       |    w -> w <> '') AS ws FROM dd),
       |tok AS MATERIALIZED (SELECT doc_id, j,
       |    CAST(length(ws[CAST(j AS INTEGER)]) AS BIGINT) AS clen
       |  FROM t, UNNEST(generate_series(1, len(ws))) AS tt(j)
       |  WHERE len(ws) > 0),
       |tot AS (SELECT doc_id, SUM(clen) AS total_chars FROM tok
       |  GROUP BY doc_id),
       |g AS MATERIALIZED (SELECT doc_id, n, j,
       |    array_to_string(
       |      ws[CAST(j AS INTEGER):CAST(j + n - 1 AS INTEGER)], ' ') AS gm
       |  FROM t, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) nn(n),
       |    UNNEST(generate_series(1, len(ws))) AS tt(j)
       |  WHERE j + n - 1 <= len(ws)),
       |c AS MATERIALIZED (SELECT doc_id, n, gm, count(*) AS ct,
       |    min(j) AS p0 FROM g GROUP BY 1, 2, 3),
       |tsel AS (SELECT doc_id, n, ct, p0, row_number() OVER (
       |    PARTITION BY doc_id, n ORDER BY ct DESC, p0 ASC) AS rn
       |  FROM c WHERE n <= 4),
       |tlen AS (SELECT s.doc_id, s.n, s.ct * SUM(k.clen) AS chars
       |  FROM tsel s JOIN tok k ON k.doc_id = s.doc_id
       |    AND k.j BETWEEN s.p0 AND s.p0 + s.n - 1
       |  WHERE s.rn = 1 GROUP BY s.doc_id, s.n, s.ct),
       |dups AS (SELECT doc_id, n, gm FROM c WHERE n >= 5 AND ct >= 2),
       |cov AS (SELECT DISTINCT g.doc_id, g.n, ii AS idx
       |  FROM g JOIN dups d ON d.doc_id = g.doc_id AND d.n = g.n
       |    AND d.gm = g.gm,
       |    UNNEST(generate_series(g.j, g.j + g.n - 1)) AS u(ii)),
       |covc AS (SELECT v.doc_id, v.n, SUM(k.clen) AS chars
       |  FROM cov v JOIN tok k ON k.doc_id = v.doc_id AND k.j = v.idx
       |  GROUP BY 1, 2),
       |uni AS (SELECT DISTINCT doc_id, n FROM c),
       |res AS (
       |  SELECT u.doc_id, u.n, 'top' AS metric,
       |      COALESCE(tl.chars, 0) AS chars
       |    FROM uni u LEFT JOIN tlen tl
       |      ON tl.doc_id = u.doc_id AND tl.n = u.n
       |    WHERE u.n <= 4
       |  UNION ALL
       |  SELECT u.doc_id, u.n, 'dup', COALESCE(cc.chars, 0)
       |    FROM uni u LEFT JOIN covc cc
       |      ON cc.doc_id = u.doc_id AND cc.n = u.n
       |    WHERE u.n >= 5)
       |SELECT r.doc_id, CAST(r.n AS BIGINT) AS n, r.metric,
       |  (r.chars * 10000 // o.total_chars) / 10000.0 AS char_frac,
       |  r.chars * 10000 // o.total_chars > CASE r.n
       |    WHEN 2 THEN 2000 WHEN 3 THEN 1800 WHEN 4 THEN 1600
       |    WHEN 5 THEN 1500 WHEN 6 THEN 1400 WHEN 7 THEN 1300
       |    WHEN 8 THEN 1200 WHEN 9 THEN 1100 ELSE 1000 END AS flagged
       |FROM res r JOIN tot o ON o.doc_id = r.doc_id""".stripMargin

  /** The GPT-2 pre-tokenizer CTE chain (per-char classes, run-end
    * windows, one recursion step per token) over source CTE `src` —
    * shared by the pretokenize oracle and the BPE-over-pretokens
    * composition. Emits `toks` (1-based idx; NULL-token seed rows). */
  private def pretokCtes(src: String): String =
    s"""ch AS (SELECT doc_id, j, substr(text, CAST(j AS INTEGER), 1) AS c
       |  FROM $src, UNNEST(generate_series(1, length(text))) t(j)
       |  WHERE length(text) > 0),
       |cc AS (SELECT doc_id, j, CASE
       |    WHEN c IN (' ', chr(9), chr(10), chr(11), chr(12), chr(13))
       |      THEN 0
       |    WHEN regexp_matches(c, '^\\pL$$') THEN 1
       |    WHEN regexp_matches(c, '^\\pN$$') THEN 2
       |    ELSE 3 END AS cl FROM ch),
       |r1 AS (SELECT doc_id, j, cl,
       |    CASE WHEN lead(cl) OVER (PARTITION BY doc_id ORDER BY j)
       |      IS DISTINCT FROM cl THEN j + 1 END AS eend FROM cc),
       |r2 AS (SELECT doc_id, j, cl,
       |    min(eend) OVER (PARTITION BY doc_id ORDER BY j
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS re
       |  FROM r1),
       |arrs AS (SELECT doc_id, list(cl ORDER BY j) AS cls,
       |    list(re ORDER BY j) AS res FROM r2 GROUP BY doc_id),
       |base AS (SELECT d.doc_id, d.text, length(d.text) AS n,
       |    a.cls, a.res
       |  FROM $src d JOIN arrs a USING (doc_id)),
       |toks AS (
       |  SELECT doc_id, text, n, cls, res, CAST(1 AS BIGINT) AS pos,
       |    CAST(0 AS BIGINT) AS idx, CAST(NULL AS VARCHAR) AS tok
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id, text, n, cls, res, e, idx + 1,
       |    substr(text, CAST(pos AS INTEGER), CAST(e - pos AS INTEGER))
       |  FROM (SELECT *, CASE
       |      WHEN substr(text, CAST(pos AS INTEGER), 1) = chr(39)
       |        AND substr(text, CAST(pos + 1 AS INTEGER), 2)
       |          IN ('re', 've', 'll') THEN pos + 3
       |      WHEN substr(text, CAST(pos AS INTEGER), 1) = chr(39)
       |        AND substr(text, CAST(pos + 1 AS INTEGER), 1)
       |          IN ('s', 't', 'm', 'd') THEN pos + 2
       |      WHEN cls[CAST(pos AS INTEGER)] != 0
       |        THEN res[CAST(pos AS INTEGER)]
       |      WHEN res[CAST(pos AS INTEGER)] > n
       |        THEN res[CAST(pos AS INTEGER)]
       |      WHEN res[CAST(pos AS INTEGER)] - pos = 1
       |        AND substr(text, CAST(pos AS INTEGER), 1) = ' '
       |        THEN res[CAST(res[CAST(pos AS INTEGER)] AS INTEGER)]
       |      WHEN res[CAST(pos AS INTEGER)] - pos = 1
       |        THEN res[CAST(pos AS INTEGER)]
       |      ELSE res[CAST(pos AS INTEGER)] - 1 END AS e
       |    FROM toks WHERE pos <= n))""".stripMargin

  /** The mojibake oracle: per-char CP1252 byte mapping (26 specials +
    * the ≤0xFF identity), strict UTF-8 validity as a hex-pair grammar
    * regex, and arithmetic re-decoding of the extracted sequences —
    * the whole [[graft.text.MojibakeKernel]] decision replayed in SQL. */
  private def mojibakeSql: String = {
    val sq = "([0-7][0-9a-f]|(c[2-9a-f]|d[0-9a-f])[89ab][0-9a-f]" +
      "|e0[ab][0-9a-f][89ab][0-9a-f]|e[1-9a-c]([89ab][0-9a-f]){2}" +
      "|ed[89][0-9a-f][89ab][0-9a-f]|e[ef]([89ab][0-9a-f]){2}" +
      "|f0[9ab][0-9a-f]([89ab][0-9a-f]){2}|f[1-3]([89ab][0-9a-f]){3}" +
      "|f48[0-9a-f]([89ab][0-9a-f]){2})"
    s"""WITH dd AS MATERIALIZED (${Fixtures.moji.sql}),
       |cp1252 AS (SELECT * FROM (VALUES (8364,128),(8218,130),(402,131),
       |  (8222,132),(8230,133),(8224,134),(8225,135),(710,136),(8240,137),
       |  (352,138),(8249,139),(338,140),(381,142),(8216,145),(8217,146),
       |  (8220,147),(8221,148),(8226,149),(8211,150),(8212,151),(732,152),
       |  (8482,153),(353,154),(8250,155),(339,156),(382,158),(376,159))
       |  m(cp, b)),
       |chars AS (SELECT doc_id, j,
       |    unicode(substr(text, CAST(j AS INTEGER), 1)) AS cp
       |  FROM dd, UNNEST(generate_series(1, length(text))) AS t(j)),
       |mapped AS (SELECT c.doc_id, c.j,
       |    COALESCE(m.b, CASE WHEN c.cp <= 255 THEN c.cp END) AS b
       |  FROM chars c LEFT JOIN cp1252 m ON m.cp = c.cp),
       |hexed AS (SELECT doc_id, bool_and(b IS NOT NULL) AS all_mapped,
       |    COALESCE(string_agg(CASE WHEN b IS NOT NULL
       |      THEN lower(lpad(to_hex(b), 2, '0')) END, '' ORDER BY j), '')
       |      AS hx
       |  FROM mapped GROUP BY doc_id),
       |flagged AS (SELECT doc_id, hx,
       |    all_mapped AND regexp_matches(hx, '^$sq*$$') AS valid
       |  FROM hexed),
       |seqs AS (SELECT doc_id, regexp_extract_all(hx, '$sq') AS ss
       |  FROM flagged WHERE valid),
       |dec AS (SELECT doc_id, i, ss[CAST(i AS INTEGER)] AS sq
       |  FROM seqs, UNNEST(generate_series(1, len(ss))) AS t(i)),
       |cps AS (SELECT doc_id, i, CASE len(sq)
       |    WHEN 2 THEN ('0x' || sq)::INTEGER
       |    WHEN 4 THEN (('0x' || substr(sq,1,2))::INTEGER - 192) * 64
       |      + (('0x' || substr(sq,3,2))::INTEGER - 128)
       |    WHEN 6 THEN (('0x' || substr(sq,1,2))::INTEGER - 224) * 4096
       |      + (('0x' || substr(sq,3,2))::INTEGER - 128) * 64
       |      + (('0x' || substr(sq,5,2))::INTEGER - 128)
       |    ELSE (('0x' || substr(sq,1,2))::INTEGER - 240) * 262144
       |      + (('0x' || substr(sq,3,2))::INTEGER - 128) * 4096
       |      + (('0x' || substr(sq,5,2))::INTEGER - 128) * 64
       |      + (('0x' || substr(sq,7,2))::INTEGER - 128)
       |  END AS cp FROM dec),
       |fixed AS (SELECT doc_id, string_agg(chr(cp), '' ORDER BY i)
       |    AS ftext FROM cps GROUP BY doc_id)
       |SELECT d.doc_id AS doc_id,
       |  COALESCE(f.ftext IS NOT NULL AND f.ftext <> d.text, false)
       |    AS is_mojibake,
       |  CAST(length(d.text) AS BIGINT) AS n_chars_in,
       |  CAST(length(CASE WHEN f.ftext IS NOT NULL THEN f.ftext
       |    ELSE d.text END) AS BIGINT) AS n_chars_fixed,
       |  CASE WHEN f.ftext IS NOT NULL THEN f.ftext ELSE d.text END
       |    AS text_fixed
       |FROM dd d LEFT JOIN fixed f ON f.doc_id = d.doc_id""".stripMargin
  }

  /** The K-iteration integer PageRank oracle, mechanically unrolled
    * (same arithmetic as [[graft.graph.LinkGraph.domainRank]]). */
  private def linkRankSql(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
         |    SUM((85 * r${k - 1}.r) // (100 * o.od)) AS cin
         |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |    JOIN o ON e.src = o.src GROUP BY 1),
         |r$k AS (SELECT n.node,
         |    CAST(150000 + COALESCE(c$k.cin, 0) AS BIGINT) AS r
         |  FROM n LEFT JOIN c$k USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH du AS (${Fixtures.urlGraph.sql}),
       |e AS (SELECT DISTINCT source AS src, split_part(u, '//', 2) AS dst
       |  FROM (SELECT source,
       |      unnest(regexp_extract_all(text, 'https?://[a-z0-9.-]+')) AS u
       |    FROM du)),
       |n AS (SELECT DISTINCT source AS node FROM du
       |  UNION SELECT DISTINCT dst FROM e),
       |o AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
       |$steps
       |SELECT node, r AS rank_micro FROM r$iterations""".stripMargin
  }

  /** The K-iteration integer HITS oracle, mechanically unrolled (same
    * arithmetic as [[graft.graph.LinkGraph.hits]]): per round, raw
    * authority sums over in-edges of the previous hubs, max-normalize,
    * raw hub sums over out-edges of the NEW authorities, max-normalize.
    */
  private def linkHitsSql(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      s"""ar$k AS (SELECT e.dst AS node, SUM(h${k - 1}.h) AS s
         |  FROM e JOIN h${k - 1} ON e.src = h${k - 1}.node GROUP BY 1),
         |a$k AS (SELECT n.node, CAST(COALESCE(ar$k.s, 0) * 1000000 //
         |    GREATEST(1, COALESCE((SELECT MAX(s) FROM ar$k), 1)) AS BIGINT) AS a
         |  FROM n LEFT JOIN ar$k USING (node)),
         |hr$k AS (SELECT e.src AS node, SUM(a$k.a) AS s
         |  FROM e JOIN a$k ON e.dst = a$k.node GROUP BY 1),
         |h$k AS (SELECT n.node, CAST(COALESCE(hr$k.s, 0) * 1000000 //
         |    GREATEST(1, COALESCE((SELECT MAX(s) FROM hr$k), 1)) AS BIGINT) AS h
         |  FROM n LEFT JOIN hr$k USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH du AS (${Fixtures.urlGraph.sql}),
       |e AS (SELECT DISTINCT source AS src, split_part(u, '//', 2) AS dst
       |  FROM (SELECT source,
       |      unnest(regexp_extract_all(text, 'https?://[a-z0-9.-]+')) AS u
       |    FROM du)),
       |n AS (SELECT DISTINCT source AS node FROM du
       |  UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
       |$steps
       |SELECT h$iterations.node, h$iterations.h AS hub_micro,
       |  a$iterations.a AS auth_micro
       |FROM h$iterations JOIN a$iterations USING (node)""".stripMargin
  }

  /** Unigram (SentencePiece) piece vocabulary with integer costs: all
    * 26 single letters (coverage guarantee) plus multi-char pieces
    * cheap enough that Viterbi prefers them, including a deliberate
    * exact TIE on the fixture word "data" — "da|ta" (14+14) vs
    * "dat|a" (18+10) both cost 28 — pinning the (min cost, min seg)
    * stage tie-break on both engines. */
  private[graft] val unigramVocab: Seq[(String, Long)] =
    ('a' to 'z').map(c => c.toString -> 10L) ++ Seq(
      "spark" -> 30L, "join" -> 24L, "jo" -> 13L, "in" -> 14L,
      "merge" -> 30L, "er" -> 14L, "da" -> 14L, "ta" -> 14L,
      "dat" -> 18L, "qu" -> 14L, "ery" -> 20L, "sc" -> 13L,
      "an" -> 14L, "st" -> 13L, "re" -> 13L, "am" -> 14L,
      "or" -> 13L, "der" -> 19L, "ble" -> 20L, "tab" -> 18L,
      "va" -> 14L, "ue" -> 14L, "cus" -> 18L, "tom" -> 18L,
      "key" -> 24L, "row" -> 24L, "fast" -> 28L, "slow" -> 28L,
      "win" -> 18L, "dow" -> 18L, "col" -> 18L, "umn" -> 18L,
      "li" -> 13L, "ne" -> 13L, "ha" -> 13L, "sh" -> 13L,
      "gr" -> 13L, "oup" -> 20L, "ve" -> 13L, "ct" -> 14L,
      "fil" -> 18L, "ter" -> 18L, "ba" -> 13L, "tch" -> 18L,
      "par" -> 18L, "the" -> 20L, "lu" -> 14L, "ag" -> 13L)
        .map { case (p, c) => (p, c) }

  /** One unigram Viterbi DP block as mechanically-unrolled MATERIALIZED
    * SQL stages (the linkRankSql pattern; unmaterialized CTE chains
    * re-expand exponentially in DuckDB): stage i keeps, per word, the
    * (min cost, then min '|'-joined seg in binary order) candidate over
    * all (kept prefix at j < i) × (piece covering j..i) — exactly the
    * engine DP's per-position selection. `pfx` names the block,
    * `vocabCte` the (piece, cost) relation it segments under; emits
    * `${pfx}res` = (word, cost, seg) for fully-covered words. */
  private def unigramDpBlock(pfx: String, vocabCte: String,
      maxPiece: Int, maxLen: Int): String = {
    val stages = (1 to maxLen).map { i =>
      s"""${pfx}c$i AS MATERIALIZED (SELECT d.word, d.cost + v.cost AS cost,
         |    CASE WHEN d.pos = 0 THEN v.piece
         |      ELSE d.seg || '|' || v.piece END AS seg
         |  FROM ${pfx}a${i - 1} d JOIN $vocabCte v
         |    ON d.pos >= ${math.max(0, i - maxPiece)} AND d.pos < $i
         |    AND substr(d.word, d.pos + 1, $i - d.pos) = v.piece
         |  WHERE length(d.word) >= $i),
         |${pfx}b$i AS (SELECT word, min(cost) AS mc FROM ${pfx}c$i GROUP BY 1),
         |${pfx}s$i AS MATERIALIZED (SELECT c.word, $i AS pos, b.mc AS cost,
         |    min(c.seg) AS seg
         |  FROM ${pfx}c$i c JOIN ${pfx}b$i b ON c.word = b.word AND c.cost = b.mc
         |  GROUP BY 1, 2, 3),
         |${pfx}a$i AS MATERIALIZED (SELECT * FROM ${pfx}a${i - 1}
         |  UNION ALL SELECT * FROM ${pfx}s$i)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}a0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost,
       |    '' AS seg FROM w),
       |$stages,
       |${pfx}res AS MATERIALIZED (SELECT word, cost, seg FROM ${pfx}a$maxLen
       |  WHERE pos = length(word) AND pos > 0)""".stripMargin
  }

  private def unigramVocabValues(vocab: Seq[(String, Long)]): String =
    vocab.map { case (p, c) => s"('$p', $c)" }.mkString(", ")

  private def unigramSql(vocab: Seq[(String, Long)], maxLen: Int): String = {
    val maxPiece = vocab.map(_._1.length).max
    s"""WITH v AS MATERIALIZED (SELECT * FROM
       |    (VALUES ${unigramVocabValues(vocab)}) t(piece, cost)),
       |e AS MATERIALIZED (SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS word FROM documents),
       |w AS MATERIALIZED (SELECT DISTINCT word FROM e),
       |${unigramDpBlock("", "v", maxPiece, maxLen)}
       |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(count(*) FILTER (WHERE r.word IS NULL) AS BIGINT) AS n_oov_words,
       |  CAST(COALESCE(SUM(len(string_split(r.seg, '|'))), 0) AS BIGINT) AS n_pieces,
       |  CAST(COALESCE(SUM(r.cost), 0) AS BIGINT) AS cost_sum
       |FROM e LEFT JOIN res r ON e.word = r.word GROUP BY 1""".stripMargin
  }

  /** Viterbi-EM (hard-EM) unigram TRAINING replayed end-to-end: each
    * round re-segments the distinct words under the previous round's
    * costs (a full DP block) and re-derives every piece's cost from
    * its corpus-weighted count via the exact bit-length surrogate —
    * the same all-integer staging as the engine loop, so the final
    * (piece, n_count, cost) table is bit-identical. */
  /** The shared training prelude + per-round CTE chain (DP block →
    * weighted piece counts → derived cost table `vr{r}`). */
  private def unigramTrainCtes(vocab: Seq[(String, Long)], maxLen: Int,
      rounds: Int): String = {
    val maxPiece = vocab.map(_._1.length).max
    val roundCtes = (1 to rounds).map { r =>
      val pfx = s"r$r"
      val vcte = if (r == 1) "vr0" else s"vr${r - 1}"
      s"""${unigramDpBlock(pfx, vcte, maxPiece, maxLen)},
         |cnt$r AS MATERIALIZED (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(string_split(r.seg, '|')) AS piece, wc.wcnt AS wcnt
         |    FROM ${pfx}res r JOIN wc USING (word)) GROUP BY 1),
         |tot$r AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cnt$r),
         |vr$r AS MATERIALIZED (SELECT v0.piece,
         |    CAST(CASE WHEN c.cnt IS NULL THEN 10 + 4 * (length(bin(t.t)) + 1)
         |      ELSE 10 + 4 * (length(bin(t.t)) - length(bin(c.cnt)))
         |      END AS BIGINT) AS cost
         |  FROM vr0 v0 LEFT JOIN cnt$r c USING (piece) CROSS JOIN tot$r t)""".stripMargin
    }.mkString(",\n")
    s"""vr0 AS MATERIALIZED (SELECT * FROM
       |    (VALUES ${unigramVocabValues(vocab)}) t(piece, cost)),
       |e0 AS MATERIALIZED (SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wcnt
       |  FROM e0 GROUP BY 1),
       |w AS MATERIALIZED (SELECT word FROM wc),
       |$roundCtes""".stripMargin
  }

  private def unigramTrainSql(vocab: Seq[(String, Long)], maxLen: Int,
      rounds: Int): String =
    s"""WITH ${unigramTrainCtes(vocab, maxLen, rounds)}
       |SELECT v.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_count, v.cost
       |FROM vr$rounds v LEFT JOIN cnt$rounds c USING (piece)""".stripMargin

  /** Train→serve: a further DP block segments the corpus under the
    * TRAINED `vr{rounds}` costs, then aggregates per doc. */
  private def unigramTrainedServeSql(vocab: Seq[(String, Long)],
      maxLen: Int, rounds: Int): String = {
    val maxPiece = vocab.map(_._1.length).max
    s"""WITH ${unigramTrainCtes(vocab, maxLen, rounds)},
       |${unigramDpBlock("sv", s"vr$rounds", maxPiece, maxLen)}
       |SELECT e0.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(count(*) FILTER (WHERE r.word IS NULL) AS BIGINT) AS n_oov_words,
       |  CAST(COALESCE(SUM(len(string_split(r.seg, '|'))), 0) AS BIGINT) AS n_pieces,
       |  CAST(COALESCE(SUM(r.cost), 0) AS BIGINT) AS cost_sum
       |FROM e0 LEFT JOIN svres r ON e0.word = r.word GROUP BY 1""".stripMargin
  }

  /** WordPiece (BERT) piece vocabulary over the 31-word corpus, with
    * the semantics-pinning plants: "bat" beats "ba" on "batch"
    * (longest INITIAL), "##ream" beats "##re" on "stream" (longest
    * CONTINUATION), "customer" needs three pieces (multi-step
    * restart), and "window" is the NO-BACKTRACK trap — greedy takes
    * "wind" (4 > "win") into a dead end and must emit [UNK] even
    * though win|##dow covers, exactly the published WordPiece
    * behavior; "sort" is plainly uncoverable. */
  private[graft] val wordpieceVocab: Seq[String] = Seq(
    "a", "the", "join", "spark", "data", "key", "row", "scan", "dup",
    "merge", "agg", "part", "big", "slow",
    "s", "cu", "val", "li", "so", "qu", "gr", "ba", "bat", "col",
    "fil", "ha", "ta", "st", "ve", "or", "fa", "win", "wind",
    "##mall", "##st", "##omer", "##umn", "##ter", "##ue", "##ne",
    "##ery", "##oup", "##der", "##tch", "##ch", "##sh", "##ble",
    "##ream", "##re", "##ctor", "##dow")

  /** WordPiece greedy replay as mechanically-unrolled MATERIALIZED
    * stages (the unigramDpBlock pattern): stage i advances every
    * in-flight word by its single longest matching piece (initial at
    * pos 0, '##' continuation after) or terminates it as [UNK] when
    * nothing matches — the engine's no-backtracking loop verbatim.
    * Every stage consumes ≥ 1 char, so maxLen stages terminate every
    * word of length ≤ maxLen; longer words skip the loop and fall to
    * [UNK] at the final join. A piece's text at a fixed (position,
    * length) is unique, so max(length) picks a unique piece — greedy
    * has no ties to break. */
  /** The greedy-replay CTE chain from word list to per-doc aggregation
    * (assumes a `wv(body, cont)` relation is already in scope — literal
    * VALUES for the shipped vocab, DERIVED from the training stages for
    * the trained one; stage names gm/g avoid the trainer's m_k). */
  private def wordpieceGreedyTail(docsRel: String, maxLen: Int): String = {
    val stages = (1 to maxLen).map { i =>
      s"""gm$i AS MATERIALIZED (SELECT s.word, s.pos, s.seg,
         |    max(length(v.body)) AS bl
         |  FROM g${i - 1} s JOIN wv v
         |    ON v.cont = CASE WHEN s.pos = 0 THEN 0 ELSE 1 END
         |    AND v.body = substr(s.word, s.pos + 1, length(v.body))
         |  WHERE NOT s.unk AND s.pos < length(s.word)
         |  GROUP BY 1, 2, 3),
         |g$i AS MATERIALIZED (
         |  SELECT m.word, m.pos + m.bl AS pos,
         |    CASE WHEN m.pos = 0 THEN substr(m.word, 1, m.bl)
         |      ELSE m.seg || '|##' || substr(m.word, m.pos + 1, m.bl) END AS seg,
         |    FALSE AS unk
         |  FROM gm$i m
         |  UNION ALL
         |  SELECT s.word, length(s.word) AS pos, '[UNK]' AS seg, TRUE AS unk
         |  FROM g${i - 1} s LEFT JOIN gm$i m ON s.word = m.word
         |  WHERE NOT s.unk AND s.pos < length(s.word) AND m.word IS NULL
         |  UNION ALL
         |  SELECT word, pos, seg, unk FROM g${i - 1}
         |  WHERE unk OR pos >= length(word))""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '),
       |    x -> x <> '')) AS word FROM $docsRel),
       |wq AS MATERIALIZED (SELECT DISTINCT word FROM e
       |  WHERE length(word) <= $maxLen),
       |g0 AS MATERIALIZED (SELECT word, 0 AS pos, '' AS seg, FALSE AS unk
       |  FROM wq),
       |$stages,
       |res AS MATERIALIZED (SELECT word, unk,
       |    CAST(CASE WHEN unk THEN 1 ELSE len(string_split(seg, '|')) END
       |      AS BIGINT) AS np
       |  FROM g$maxLen)
       |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(count(*) FILTER (WHERE r.word IS NULL OR r.unk) AS BIGINT)
       |    AS n_unk_words,
       |  CAST(SUM(CASE WHEN r.word IS NULL THEN 1 ELSE r.np END) AS BIGINT)
       |    AS n_pieces
       |FROM e LEFT JOIN res r USING (word) GROUP BY 1""".stripMargin
  }

  private def wordpieceSql(vocab: Seq[String], maxLen: Int): String = {
    val vals = vocab.map { p =>
      val cont = if (p.startsWith("##")) 1 else 0
      val body = if (cont == 1) p.drop(2) else p
      s"('$body', $cont)"
    }.mkString(", ")
    s"""WITH wv AS MATERIALIZED (SELECT * FROM (VALUES $vals) t(body, cont)),
       |${wordpieceGreedyTail("documents", maxLen)}""".stripMargin
  }

  /** Train→serve oracle: the WordPiece training stages, the piece set
    * derived from m0..m{n-1}, then the same greedy replay under it. */
  private def wordpieceTrainedServeSql(nMerges: Int, maxLen: Int): String = {
    val full = graft.text.BpeTrainer.wordpieceTrainingOracleSql(nMerges)
    val body = full.substring(0, full.lastIndexOf('\n'))
    val pieces = (0 until nMerges).map(k =>
      s"SELECT a AS piece FROM m$k UNION ALL SELECT b AS piece FROM m$k" +
        s" UNION ALL SELECT m AS piece FROM m$k").mkString(" UNION ALL ")
    s"""$body,
       |wv AS MATERIALIZED (SELECT DISTINCT
       |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END
       |      AS body,
       |    CASE WHEN piece LIKE '##%' THEN 1 ELSE 0 END AS cont
       |  FROM ($pieces)),
       |${wordpieceGreedyTail("documents", maxLen)}""".stripMargin
  }

  /** The prune step replayed: restrict the trained cost table to the
    * survivors (singles always, multi-char pieces by count threshold),
    * then one more full EM round — DP block, weighted recount, cost
    * re-derivation — under the pruned relation. */
  private def unigramTrainPrunedSql(vocab: Seq[(String, Long)],
      maxLen: Int, rounds: Int, minCount: Long): String = {
    val maxPiece = vocab.map(_._1.length).max
    s"""WITH ${unigramTrainCtes(vocab, maxLen, rounds)},
       |vp AS MATERIALIZED (SELECT v.piece, v.cost FROM vr$rounds v
       |  LEFT JOIN cnt$rounds c USING (piece)
       |  WHERE length(v.piece) = 1 OR COALESCE(c.cnt, 0) >= $minCount),
       |${unigramDpBlock("pp", "vp", maxPiece, maxLen)},
       |cntp AS MATERIALIZED (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(r.seg, '|')) AS piece,
       |      wc.wcnt AS wcnt
       |    FROM ppres r JOIN wc USING (word)) GROUP BY 1),
       |totp AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM cntp),
       |vrp AS MATERIALIZED (SELECT v0.piece,
       |    CAST(CASE WHEN c.cnt IS NULL THEN 10 + 4 * (length(bin(t.t)) + 1)
       |      ELSE 10 + 4 * (length(bin(t.t)) - length(bin(c.cnt)))
       |      END AS BIGINT) AS cost
       |  FROM vp v0 LEFT JOIN cntp c USING (piece) CROSS JOIN totp t)
       |SELECT v.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_count, v.cost
       |FROM vrp v LEFT JOIN cntp c USING (piece)""".stripMargin
  }

  // learned BPE merges memoized per corpus dir (the train/serve split:
  // bpe_train_merges declares the training cost; encode queries serve
  // from the learned table — deterministic, so oracles that retrain
  // still agree). Trained over the ML-AUGMENTED corpus: the merge
  // algebra itself is exercised on multilingual symbols.
  private val bpeMerges = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, String)]]()
  private def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMerges.computeIfAbsent(d,
      _ => graft.text.BpeTrainer.trainMerges(Fixtures.ml.df(s, d), 8))

  // Linear quality-model vocabulary: all weights are exact dyadic
  // rationals (k/64) so Σweights is bit-identical in any IEEE engine
  // regardless of summation order — the oracle compare needs no
  // tolerance.
  private[graft] val modelVocab: Seq[(String, Double)] = Seq(
    "the" -> 0.125, "and" -> 0.09375, "of" -> 0.0625, "a" -> 0.046875,
    "data" -> 0.5, "analysis" -> 0.375, "result" -> 0.25,
    "lorem" -> -0.5, "ipsum" -> -0.5, "click" -> -0.75, "buy" -> -0.75)
  private[graft] def modelVocabSqlCase(v: String): String =
    "CASE " + v + " " + modelVocab.map { case (t, w) =>
      s"WHEN '$t' THEN $w" }.mkString(" ") + " ELSE 0.0 END"

  // Token-ID variant of bpeCte: the recursive step ALSO records which
  // entry matched (argmax length is unique — equal-length matching
  // entries at one position would be the same string) or the
  // byte-fallback id V + codepoint. `docids` flattens per-doc id
  // sequences in word order. Prefix with WITH RECURSIVE.
  private def bpeIdsCte(src: String = "documents"): String = {
    val vlist = graft.functions.BpeTokenizer.vocabSqlList()
    val v = graft.functions.BpeTokenizer.defaultVocab.size
    s"""wl AS (SELECT doc_id, source, string_split(lower(text), ' ') AS ws
       |  FROM $src),
       |words AS (SELECT doc_id, source, i AS wi, ws[CAST(i AS INT)] AS w
       |  FROM wl, UNNEST(range(1, len(ws) + 1)) AS t(i)
       |  WHERE len(ws[CAST(i AS INT)]) > 0),
       |uw AS (SELECT DISTINCT w FROM words),
       |step AS (
       |  SELECT w, CAST(1 AS INTEGER) AS pos, CAST([] AS BIGINT[]) AS ids FROM uw
       |  UNION ALL
       |  SELECT w, CAST(pos + GREATEST(m, 1) AS INTEGER),
       |    list_append(ids, CASE WHEN m > 0 THEN
       |      list_max(list_transform(range(1, $v + 1), i ->
       |        CASE WHEN len(($vlist)[CAST(i AS INT)]) = m
       |          AND substr(w, pos, m) = ($vlist)[CAST(i AS INT)]
       |        THEN i - 1 ELSE -1 END))
       |      ELSE $v + ascii(substr(w, pos, 1)) END)
       |  FROM (SELECT w, pos, ids,
       |    CAST(list_max(list_transform($vlist,
       |      v -> CASE WHEN substr(w, pos, len(v)) = v THEN len(v) ELSE 0 END)) AS INT) AS m
       |    FROM step WHERE pos <= len(w)) s),
       |wt AS (SELECT w, arg_max(ids, pos) AS ids FROM step GROUP BY w),
       |docids AS (SELECT words.doc_id,
       |  flatten(list(wt.ids ORDER BY words.wi)) AS all_ids
       |  FROM words JOIN wt USING (w) GROUP BY words.doc_id)""".stripMargin
  }

  /** Boilerplate-strip replay shared by the stored-list and folded-state
    * serve paths (the folded (sum,sum,min) census ≡ the whole-corpus
    * census, so both serve the same frozen line list). */
  private lazy val stripBoilerplateSql: String =
    s"""WITH dnl AS (${Fixtures.nl.sql}),
      |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dnl),
      |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
      |    i -> {'p': i, 'line': ls[i]})) AS u FROM l0),
      |e AS (SELECT doc_id, u.p AS p, u.line AS line FROM e0),
      |dup AS (SELECT line FROM e WHERE line <> ''
      |  GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      |kept AS (SELECT e.doc_id, e.p, e.line FROM e LEFT JOIN dup
      |    ON e.line = dup.line
      |  WHERE dup.line IS NULL),
      |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY p) AS clean_text
      |  FROM kept GROUP BY doc_id)
      |SELECT l0.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
      |  COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(clean_text, '') AS clean_text
      |FROM l0 LEFT JOIN r USING (doc_id)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ── web-ingest cleanup family (CCNet/RefinedWeb/C4 line+URL+HTML) ──
    // cross-doc boilerplate-line detection over the newline-planted
    // corpus: one explode, one groupBy on the line
    QuerySpec("text_boilerplate_lines", (s, d) =>
      graft.text.TextAnalysis.boilerplateLines(Fixtures.nl.df(s, d), 2),
      Oracle(s"""WITH dnl AS (${Fixtures.nl.sql}),
        |e AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM dnl)
        |SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences, min(doc_id) AS keeper
        |FROM e WHERE line <> ''
        |GROUP BY line HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),
    // INCREMENTAL detection: per-shard line states (even/odd doc_id
    // split plays two ingest shards) merged by (sum, sum, min), list
    // derived from the merged state — exact, so it shares the batch
    // oracle VERBATIM
    QuerySpec("text_boilerplate_incremental", (s, d) => {
      val dnl = Fixtures.nl.df(s, d)
      graft.text.TextAnalysis.mergeBoilerplateStates(Seq(
          graft.text.TextAnalysis.boilerplateState(
            dnl.filter(pmod(col("doc_id"), lit(2L)) === 0L)),
          graft.text.TextAnalysis.boilerplateState(
            dnl.filter(pmod(col("doc_id"), lit(2L)) === 1L))))
        .filter(col("n_docs") >= 2)
    },
      // cross-doc boilerplate-line detection over the newline-planted
      // corpus: exact line-string grouping on both sides
      // the incremental merge is exact on disjoint shards, so the same
      // batch SQL is its oracle verbatim
      Oracle(s"""WITH dnl AS (${Fixtures.nl.sql}),
        |e AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM dnl)
        |SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences, min(doc_id) AS keeper
        |FROM e WHERE line <> ''
        |GROUP BY line HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),
    // the destructive CCNet/RefinedWeb pass: boilerplate lines cut from
    // every non-keeper doc, text reassembled; 128-bit line keys
    QuerySpec("text_remove_dup_lines", (s, d) =>
      graft.text.TextAnalysis.removeDupLines(Fixtures.nl.df(s, d), 2),
      // the destructive pass replayed positionally: keeper keeps all its
      // copies, every other doc loses all of them, blanks always survive
      Oracle(s"""WITH dnl AS (${Fixtures.nl.sql}),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dnl),
        |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
        |    i -> {'p': i, 'line': ls[i]})) AS u FROM l0),
        |e AS (SELECT doc_id, u.p AS p, u.line AS line FROM e0),
        |dup AS (SELECT line, min(doc_id) AS keeper FROM e WHERE line <> ''
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT e.doc_id, e.p, e.line FROM e LEFT JOIN dup
        |    ON e.line = dup.line
        |  WHERE dup.line IS NULL OR e.doc_id = dup.keeper),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT l0.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(clean_text, '') AS clean_text
        |FROM l0 LEFT JOIN r USING (doc_id)""".stripMargin)),
    // same transform under the CCNet NORMALIZED key (digit/punct-blind
    // hash): the planted "page 1 of 10"/"page 2 of 10" twin collapses
    // here and ONLY here; reassembled text keeps the raw lines
    QuerySpec("text_remove_dup_lines_norm", (s, d) =>
      graft.text.TextAnalysis.removeDupLines(Fixtures.nl.df(s, d), 2, normalized = true),
      // the same transform under the CCNet normalized key; the regex
      // spells ASCII punctuation as explicit ranges (Java∩RE2) and the
      // reassembled text keeps RAW lines
      Oracle(s"""WITH dnl AS (${Fixtures.nl.sql}),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM dnl),
        |e0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
        |    i -> {'p': i, 'line': ls[i]})) AS u FROM l0),
        |e AS (SELECT doc_id, u.p AS p, u.line AS line,
        |    trim(regexp_replace(regexp_replace(lower(u.line),
        |      '[0-9!-/:-@\\[-`{-~]', '', 'g'), ' +', ' ', 'g')) AS k FROM e0),
        |dup AS (SELECT k, min(doc_id) AS keeper FROM e WHERE k <> ''
        |  GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT e.doc_id, e.p, e.line FROM e LEFT JOIN dup
        |    ON e.k = dup.k
        |  WHERE dup.k IS NULL OR e.doc_id = dup.keeper),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT l0.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(clean_text, '') AS clean_text
        |FROM l0 LEFT JOIN r USING (doc_id)""".stripMargin)),
    // the serve half of the line-dedup loop: strip EVERY occurrence
    // against the FROZEN list (no keeper survival — the ingest-gate
    // semantics; the list side broadcasts). r15: the list comes from
    // the stored boilerplate-list ARTIFACT (the cluster-map pattern —
    // detection runs once per (input, params, build) and every gate/
    // strip consumer serves the published parquet), so this query's
    // plan has NO detection subtree: one corpus scan + one broadcast
    // join against a model-sized parquet read. The always-mine
    // detection stays observable as text_boilerplate_lines. Oracle
    // unchanged: the stored list IS boilerplateLines' output.
    QuerySpec("text_strip_boilerplate", (s, d) =>
      graft.text.TextAnalysis.stripKnownBoilerplate(Fixtures.nl.df(s, d),
        boilerplateListArtifact(s, d)),
      // the frozen-list strip: same staging, no keeper exception
      Oracle(stripBoilerplateSql)),
    // the strip consumer served from the FOLDED line state: folded
    // (sum,sum,min) census ≡ whole-corpus census, so the frozen list
    // (n_docs >= 2) and therefore the strip output are identical —
    // the oracle is the text_strip_boilerplate replay verbatim
    QuerySpec("text_strip_boilerplate_folded", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, Fixtures.nl.inputDir(s, d), 3)
      val name = "docsnl_mod3_" + Integer.toHexString(d.hashCode)
      graft.text.TextAnalysis.stripKnownBoilerplate(Fixtures.nl.df(s, d),
        seededFold(graft.text.TextAnalysis.boilerplateFoldLineage(name), shards)(
          graft.text.TextAnalysis.boilerplateStateArtifactFolded(s, name, _))
          .filter(col("n_docs") >= 2))
    },
      // served from the FOLDED line state (folded census ≡ whole-corpus
      // census, so the strip replay is identical)
      Oracle(stripBoilerplateSql)),
    // domain link-graph centrality: integer-exact PageRank over the
    // distinct site→domain edge set (graph-sized, never corpus-sized);
    // one URL-extraction scan, one shuffle per iteration
    // weakly-connected components over the SAME link graph PageRank
    // ranks (crawl-cluster discovery: isolated site islands vs the
    // main web component) — the string-keyed min-label propagation,
    // bounded-round CC on a graph-sized edge table
    QuerySpec("link_components", (s, d) => {
      val pairs = graft.graph.LinkGraph.domainEdges(docs(s, d))
        .select(col("src").as("id_a"), col("dst").as("id_b"))
      graft.dedup.Dedup.connectedComponents(pairs)
        .select(col("doc_id").as("node"), col("cluster_id").as("component"))
    },
      // integer PageRank replayed with mechanically-unrolled iteration
      // CTEs — bit-identical // arithmetic at every step
      Oracle("""WITH RECURSIVE p0 AS (
        |  SELECT DISTINCT source AS src,
        |    unnest(list_transform(
        |      regexp_extract_all(text, 'https?://[a-z0-9.-]+'),
        |      u -> split_part(u, '//', 2))) AS dst
        |  FROM documents),
        |e AS (SELECT src, dst FROM p0 UNION SELECT dst, src FROM p0),
        |reach(node, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e2.src, reach.r FROM e e2 JOIN reach ON e2.dst = reach.node)
        |SELECT node, min(r) AS component FROM reach GROUP BY node""".stripMargin)),
    QuerySpec("link_domain_rank", (s, d) =>
      graft.graph.LinkGraph.domainRank(Fixtures.urlGraph.df(s, d), 4),
      Oracle(linkRankSql(4))),
    // HITS hubs/authorities over the SAME link graph — the two roles
    // PageRank folds together (directory sites vs trusted targets);
    // exact-integer mutual recursion with max-normalization on the
    // 1e-6 grid, unrolled-CTE replayable like link_domain_rank
    QuerySpec("link_hits", (s, d) =>
      graft.graph.LinkGraph.hits(Fixtures.urlGraph.df(s, d), 3),
      // the mutual-recursion fixed point replayed round by round (raw
      // sums + max-normalization, all truncating integer arithmetic)
      Oracle(linkHitsSql(3))),
    // C4 URL filter over in-text links: narrow regex map + literal
    // blocklist, zero shuffle
    QuerySpec("text_url_filter", (s, d) =>
      graft.text.TextAnalysis.urlFilter(Fixtures.url.df(s, d), blockedDomains),
      // C4 URL filter: same scheme+host regex, domain = after the '//'
      Oracle(s"""WITH du AS (${Fixtures.url.sql}),
        |p AS (SELECT doc_id, list_transform(
        |    regexp_extract_all(text, 'https?://[a-z0-9.-]+'),
        |    u -> split_part(u, '//', 2)) AS doms FROM du)
        |SELECT doc_id, CAST(len(doms) AS BIGINT) AS n_urls,
        |  COALESCE(array_to_string(list_sort(list_distinct(doms)), ','), '')
        |    AS domains,
        |  len(list_intersect(list_distinct(doms),
        |    [${blockedDomains.map(d => s"'$d'").mkString(", ")}])) > 0 AS flagged
        |FROM p""".stripMargin)),
    // URL canonicalization + URL-level dedup (the crawl-side dedup
    // key): lowercase authority, fragment/tracking-param/default-port/
    // trailing-slash stripping, then group by the canonical form —
    // the planted raw spellings must collapse
    QuerySpec("url_canonicalize", (s, d) =>
      graft.text.TextAnalysis.urlDedup(Fixtures.urlCanon.df(s, d)),
      // the canonicalization chain replayed step by step (prefix-lower,
      // fragment, param filter, default ports, trailing slash); DuckDB
      // backrefs are \1 where Spark's are $1 — same RE2-safe patterns
      Oracle(s"""WITH du AS (${Fixtures.urlCanon.sql}),
        |r AS (SELECT u.url FROM du,
        |  UNNEST(regexp_extract_all(text, '(?i)https?://[^ ]+')) AS u(url)),
        |c1 AS (SELECT url,
        |  lower(regexp_extract(url, '^([A-Za-z]+://[A-Za-z0-9.-]+(:[0-9]+)?)', 1))
        |    || substr(url, length(regexp_extract(url,
        |      '^([A-Za-z]+://[A-Za-z0-9.-]+(:[0-9]+)?)', 1)) + 1) AS u1
        |  FROM r),
        |c2 AS (SELECT url, regexp_replace(u1, '#.*$$', '') AS u2 FROM c1),
        |c3 AS (SELECT url, split_part(u2, '?', 1) AS base,
        |  CASE WHEN length(u2) > length(split_part(u2, '?', 1))
        |    THEN substr(u2, length(split_part(u2, '?', 1)) + 2)
        |    ELSE '' END AS q FROM c2),
        |c4 AS (SELECT url, base ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |      ELSE '' END AS u3
        |  FROM (SELECT url, base, list_filter(string_split(q, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p,
        |      '^(utm_[^=]*|fbclid|gclid)(=|$$)')) AS kept FROM c3)),
        |c5 AS (SELECT url, regexp_replace(regexp_replace(u3,
        |    '^(http://[a-z0-9.-]+):80($$|/)', '\\1\\2'),
        |    '^(https://[a-z0-9.-]+):443($$|/)', '\\1\\2') AS u4 FROM c4),
        |c6 AS (SELECT url, regexp_replace(u4, '/$$', '') AS uc FROM c5)
        |SELECT uc AS url_canon, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants
        |FROM c6 GROUP BY 1""".stripMargin)),
    // per-source quota (the FineWeb/C4 per-host cap): top-K docs per
    // source by exact-grid quality via the bounded-heap aggregator —
    // never a per-key full sort
    QuerySpec("source_cap", (s, d) =>
      graft.text.TextAnalysis.sourceCap(docs(s, d), 5),
      // the quality grid re-derived, then the per-source top-5 as a
      // deterministic (score desc, doc_id asc) row_number window
      Oracle("""WITH b AS (SELECT doc_id, length(text) AS len,
        |    len(string_split(lower(text), ' ')) AS n,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x = 'the' OR x = 'a' OR x = 'and' OR x = 'of')) AS stop
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    (LEAST(n * 100, 10000) * 7 + LEAST(stop * 100000 // n, 10000) * 3)
        |      // 10 AS score_e4
        |  FROM b),
        |j AS (SELECT d.source, d.doc_id, e.score_e4
        |  FROM documents d JOIN e USING (doc_id))
        |SELECT source, CAST(row_number() OVER w AS INT) AS rank, doc_id,
        |  CAST(score_e4 AS DOUBLE) / CAST(10000 AS DOUBLE) AS quality_score
        |FROM j WINDOW w AS (PARTITION BY source ORDER BY score_e4 DESC, doc_id)
        |QUALIFY row_number() OVER w <= 5""".stripMargin)),
    // HTML → text with link density (the jusText/trafilatura signal);
    // tag-free base docs are fixed points
    QuerySpec("text_html_extract", (s, d) =>
      graft.text.TextAnalysis.htmlTextStats(Fixtures.html.df(s, d)),
      // HTML extraction replayed transform by transform (DuckDB needs the
      // explicit 'g' flag; Spark regexp_replace is global by default)
      Oracle(s"""WITH dh AS (${Fixtures.html.sql}),
        |c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text, '<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&amp;', '&', 'g'),
        |    '\\s+', ' ', 'g')) AS clean_text,
        |  list_transform(regexp_extract_all(text, '<a [^>]*>([^<]*)</a>', 1),
        |    t -> trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS anc
        |  FROM dh)
        |SELECT doc_id, clean_text,
        |  CAST(length(clean_text) AS BIGINT) AS n_chars,
        |  CAST(len(anc) AS BIGINT) AS n_links,
        |  CAST(COALESCE(list_sum(list_transform(anc, t -> length(t))), 0)
        |    AS BIGINT) AS n_link_chars,
        |  CAST(COALESCE(list_sum(list_transform(anc, t -> length(t))), 0)
        |    * 10000 // GREATEST(length(clean_text), 1) AS DOUBLE) / 10000.0
        |    AS link_density
        |FROM c""".stripMargin)),
    QuerySpec("text_tokens", (s, d) => graft.text.TextAnalysis.tokenStats(docs(s, d)),
      Oracle("""SELECT source, count(*) AS n_docs,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS regex_tokens,
        |CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT) AS est_bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    // REAL subword tokenization (greedy longest-match over the literal
    // vocab, one codegen trie walk per row — BpeTokenizer): per-doc
    // counts are the production token-budget currency; fully ORACLED
    // via a DuckDB recursive CTE replaying greedy match per distinct
    // word over the SAME interpolated vocab literal
    // SentencePiece-style unigram segmentation under the shipped
    // integer-cost vocab: Viterbi DP once per DISTINCT word, broadcast
    // back; includes the planted "data" cost tie that pins the
    // (min cost, min seg) stage tie-break on both engines
    QuerySpec("text_tokens_unigram", (s, d) =>
      graft.text.TextAnalysis.unigramStats(docs(s, d), unigramVocab),
      // the Viterbi DP replayed through 12 unrolled per-position stages
      Oracle(unigramSql(unigramVocab, 12))),
    // the Viterbi-EM training loop (2 hard-EM rounds): re-segment →
    // recount → re-cost with exact bit-length surrogates, all integer
    QuerySpec("unigram_train_costs", (s, d) =>
      graft.text.TextAnalysis.unigramTrainCosts(docs(s, d), unigramVocab, 2),
      // the full training loop replayed: two DP blocks with the derived
      // cost table between them
      Oracle(unigramTrainSql(unigramVocab, 12, 2))),
    // the SentencePiece prune step: drop multi-char pieces under the
    // count threshold after 2 EM rounds (singles always survive), then
    // one more EM round under the shrunk vocabulary — pruned-away
    // pieces force their words to re-segment, so counts/costs genuinely
    // move; threshold 1500 sits above any single-word piece's corpus
    // weight at sf0.01 but below multi-word shared pieces
    QuerySpec("unigram_train_pruned", (s, d) =>
      graft.text.TextAnalysis.unigramTrainPruned(docs(s, d), unigramVocab,
        2, 1500L),
      // prune CTE between the trained table and a third full EM round
      Oracle(unigramTrainPrunedSql(unigramVocab, 12, 2, 1500L))),
    // train→serve CLOSED: per-doc stats under the costs TRAINED in this
    // query (the pack_sequences_trained precedent — the vocabulary is
    // the serving currency end-to-end, not a shipped literal)
    QuerySpec("text_tokens_unigram_trained", (s, d) => {
      val trained = graft.text.TextAnalysis
        .unigramTrainCosts(docs(s, d), unigramVocab, 2)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq.sortBy(_._1)
      graft.text.TextAnalysis.unigramStats(docs(s, d), trained)
    },
      // train→serve: a third DP block under the trained cost table
      Oracle(unigramTrainedServeSql(unigramVocab, 12, 2))),
    // WordPiece (BERT) greedy longest-match-first with ## continuations
    // and whole-word [UNK] fallback — the third subword serving path
    // beside BPE and unigram; the fixture vocab plants longest-initial,
    // longest-continuation, multi-restart, and the no-backtrack trap
    // ("window" → [UNK] though win|##dow covers)
    QuerySpec("text_tokens_wordpiece", (s, d) =>
      graft.text.TextAnalysis.wordpieceStats(docs(s, d), wordpieceVocab),
      // the greedy loop replayed through 12 unrolled advance-or-UNK stages
      Oracle(wordpieceSql(wordpieceVocab, 12))),
    // in-engine WordPiece TRAINING (the BERT vocab learner): the BPE
    // merge loop under the likelihood score count(ab)/(count(a)count(b))
    // in the integer bit-length surrogate; symbols carry ## from
    // initialization so the learned pieces serve directly
    QuerySpec("wordpiece_train_merges", (s, d) =>
      graft.text.BpeTrainer.wordpieceMergesFrame(s,
        graft.text.BpeTrainer.trainWordpieceMerges(docs(s, d), 8)),
      // the likelihood-scored merge loop replayed stage by stage (pair
      // counts, symbol counts, surrogate argmax, ##-stripping apply)
      Oracle(graft.text.BpeTrainer.wordpieceTrainingOracleSql(8))),
    // train→serve CLOSED for WordPiece: per-doc stats under the pieces
    // TRAINED in this query (merged symbols + their participants; words
    // touching unlearned characters fall to [UNK] — the BERT behavior)
    QuerySpec("text_tokens_wordpiece_trained", (s, d) => {
      val merges = graft.text.BpeTrainer.trainWordpieceMerges(docs(s, d), 8)
      graft.text.TextAnalysis.wordpieceStats(docs(s, d),
        graft.text.BpeTrainer.wordpieceVocabFromMerges(merges))
    },
      // training stages -> derived piece set -> the same greedy replay
      Oracle(wordpieceTrainedServeSql(8, 12))),
    QuerySpec("text_tokens_bpe", (s, d) =>
      graft.text.TextAnalysis.bpeTokenStats(Fixtures.ml.df(s, d)),
      Oracle(withMlDocs(s"""WITH RECURSIVE ${bpeCte("dml")}
         |SELECT d.doc_id, COALESCE(b.n_words, 0) AS n_words,
         |  COALESCE(b.n_tokens_bpe, 0) AS n_tokens_bpe
         |FROM dml d LEFT JOIN bpe b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin))),
    // tokenizer bake-off: corpus totals + bytes/piece under the THREE
    // vocab families side by side — the comparison a tokenizer choice
    // is made against (caveats differ: unigram counts OOV words as 0
    // pieces, wordpiece [UNK] = 1, the BPE trie byte-falls-back)
    QuerySpec("tokenizer_compare", (s, d) => {
      val base = docs(s, d)
      val bytes = base.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("__b"))
      def one(name: String, stats: DataFrame, pieces: String) =
        stats.join(bytes, Seq("doc_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col(pieces)).as("n_pieces"), sum(col("__b")).as("n_bytes"))
          .select(lit(name).as("tokenizer"), col("n_docs"),
            col("n_pieces"), col("n_bytes"),
            graft.text.TextAnalysis.frac4(col("n_bytes"), col("n_pieces"))
              .as("bytes_per_piece"))
      one("bpe", graft.text.TextAnalysis.bpeTokenStats(base), "n_tokens_bpe")
        .unionByName(one("unigram",
          graft.text.TextAnalysis.unigramStats(base, unigramVocab), "n_pieces"))
        .unionByName(one("wordpiece",
          graft.text.TextAnalysis.wordpieceStats(base, wordpieceVocab), "n_pieces"))
    },
      // three family oracles wrapped as derived tables (DuckDB allows a
      // full WITH — even RECURSIVE — inside a subquery) + byte totals
      Oracle({
      def wrap(name: String, inner: String, pieces: String) =
        s"""SELECT tokenizer, n_docs, n_pieces, n_bytes,
           |  CAST(n_bytes * 10000 // n_pieces AS DOUBLE)
           |    / CAST(10000 AS DOUBLE) AS bytes_per_piece
           |FROM (SELECT '$name' AS tokenizer,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(SUM($pieces) AS BIGINT) AS n_pieces,
           |    CAST(SUM(d.b) AS BIGINT) AS n_bytes
           |  FROM ($inner) s JOIN (SELECT doc_id,
           |    CAST(strlen(text) AS BIGINT) AS b FROM documents) d
           |  USING (doc_id))""".stripMargin
      val bpeInner =
        s"""WITH RECURSIVE ${bpeCte("documents")}
           |SELECT d.doc_id, COALESCE(b.n_tokens_bpe, 0) AS n_tokens_bpe
           |FROM documents d LEFT JOIN bpe b USING (doc_id)""".stripMargin
      wrap("bpe", bpeInner, "n_tokens_bpe") + "\nUNION ALL\n" +
        wrap("unigram", unigramSql(unigramVocab, 12), "n_pieces") +
        "\nUNION ALL\n" +
        wrap("wordpiece", wordpieceSql(wordpieceVocab, 12), "n_pieces")
    })),
    // per-LANGUAGE subword fertility (bytes per BPE token) over the
    // ml-augmented corpus — the cross-script budget metric (CJK rows
    // fall to byte-level tokens, so their fertility differs from en);
    // same generated greedy-match oracle, grouped by lang; ratio on
    // the exact 1e-4 integer grid (frac4)
    QuerySpec("text_tokens_fertility", (s, d) =>
      Fixtures.ml.df(s, d).select(col("lang"),
          octet_length(col("text")).cast("long").as("bytes"),
          graft.text.TextAnalysis.bpeTokenCount(col("text")).as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bytes")).cast("long").as("total_bytes"),
          sum(col("toks")).cast("long").as("total_tokens"),
          graft.text.TextAnalysis.frac4(sum(col("bytes")), sum(col("toks")))
            .as("bytes_per_token")),
      Oracle(withMlDocs(s"""WITH RECURSIVE ${bpeCte("dml")}
         |SELECT lang, count(*) AS n_docs,
         |  CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
         |  CAST(SUM(COALESCE(b.n_tokens_bpe, 0)) AS BIGINT) AS total_tokens,
         |  ((CAST(SUM(strlen(text)) AS BIGINT) * 10000)
         |    // CAST(SUM(COALESCE(b.n_tokens_bpe, 0)) AS BIGINT)) / 10000.0
         |    AS bytes_per_token
         |FROM dml d LEFT JOIN bpe b USING (doc_id) GROUP BY 1""".stripMargin))),
    // BM25 ranked retrieval over the corpus (parity-plus beside
    // TF-IDF): integer-micro quantized per-term scores keep the
    // per-doc sum exact (no float addition-order dependence), rank +
    // score_micro output makes the compare bit-exact
    QuerySpec("bm25_topk", (s, d) =>
      graft.text.TextAnalysis.bm25TopK(docs(s, d),
        Seq("spark", "join", "merge", "slow"), 20),
      Oracle("""WITH words AS (SELECT doc_id, u.w FROM documents,
        |    UNNEST(string_split(lower(text), ' ')) AS u(w) WHERE len(u.w) > 0),
        |dl AS (SELECT doc_id, count(*) AS dlen FROM words GROUP BY 1),
        |stats AS (SELECT CAST(SUM(dlen) AS DOUBLE) AS sumdl,
        |  CAST(COUNT(*) AS DOUBLE) AS nd FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |  WHERE w IN ('spark', 'join', 'merge', 'slow') GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |  CAST(SUM(CAST(FLOOR(ln((nd - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlen / (sumdl / nd)))
        |    * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rank,
        |  doc_id, score_micro
        |FROM sc ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin)),
    // hybrid retrieval (RRF, Cormack et al.): BM25 pool ∪ dense
    // quantized-cosine pool fused on the exact integer grid — the
    // standard BM25+vector RAG ranker; bounded pools, bounded windows
    QuerySpec("hybrid_rrf", (s, d) =>
      graft.ann.Similarity.hybridRrf(docs(s, d), emb(s, d),
        Seq("spark", "join", "merge", "slow"), 0L),
      Oracle("""WITH words AS (SELECT doc_id, u.w FROM documents,
        |    UNNEST(string_split(lower(text), ' ')) AS u(w) WHERE len(u.w) > 0),
        |dl AS (SELECT doc_id, count(*) AS dlen FROM words GROUP BY 1),
        |stats AS (SELECT CAST(SUM(dlen) AS DOUBLE) AS sumdl,
        |  CAST(COUNT(*) AS DOUBLE) AS nd FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |  WHERE w IN ('spark', 'join', 'merge', 'slow') GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |  CAST(SUM(CAST(FLOOR(ln((nd - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlen / (sumdl / nd)))
        |    * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1),
        |lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM sc ORDER BY score_micro DESC, doc_id LIMIT 50),
        |qv AS (SELECT [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)
        |    for x in embedding] AS qe
        |  FROM embeddings WHERE vec_id = 0),
        |dsc AS (SELECT e.vec_id AS doc_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(e.eq)),
        |      i -> e.eq[i] * q.qe[i])) AS BIGINT) AS d
        |  FROM (SELECT vec_id,
        |      [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)
        |        for x in embedding] AS eq FROM embeddings) e
        |    CROSS JOIN qv q
        |  WHERE e.vec_id != 0),
        |dr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY d DESC, doc_id) AS BIGINT) AS dense_rank
        |  FROM dsc ORDER BY d DESC, doc_id LIMIT 50),
        |fused AS (SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
        |    l.lex_rank, r.dense_rank,
        |    COALESCE(1000000 // (60 + l.lex_rank), 0)
        |      + COALESCE(1000000 // (60 + r.dense_rank), 0) AS rrf_e6
        |  FROM lex l FULL OUTER JOIN dr r ON l.doc_id = r.doc_id
        |  ORDER BY rrf_e6 DESC, doc_id LIMIT 10)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_e6 DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, lex_rank, dense_rank, rrf_e6
        |FROM fused""".stripMargin)),
    // Unicode NFC canonicalization over the multilingual corpus — the
    // ingest-time cleanup exact dedup needs (the planted fixture's
    // decomposed combining-mark twin becomes byte-identical to its
    // precomposed pair ONLY after NFC: distinct_raw > distinct_nfc
    // for fr); both engines implement Unicode canonical composition,
    // so the op is fully oracled
    QuerySpec("text_normalize_nfc", (s, d) =>
      Fixtures.ml.df(s, d)
        .select(col("lang"), col("text"),
          graft.text.TextAnalysis.nfcNormalize(col("text")).as("nfc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text") =!= col("nfc"), 1L).otherwise(0L))
            .cast("long").as("n_changed"),
          countDistinct(col("text")).as("distinct_raw"),
          countDistinct(col("nfc")).as("distinct_nfc"),
          sum(length(col("nfc"))).cast("long").as("nfc_codepoints")),
      Oracle({
      val body = """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN text <> nfc_normalize(text) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_changed,
        |  CAST(count(DISTINCT text) AS BIGINT) AS distinct_raw,
        |  CAST(count(DISTINCT nfc_normalize(text)) AS BIGINT) AS distinct_nfc,
        |  CAST(SUM(length(nfc_normalize(text))) AS BIGINT) AS nfc_codepoints
        |FROM dml GROUP BY 1""".stripMargin
      s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql})\n$body"
    })),
    // bigram-LM surprisal (the CCNet perplexity-filter signal, trained
    // in-engine in the same job): per-doc mean conditional surprisal
    // as the exact INTEGER bit-length surrogate
    // bitlen(c(w1)) - bitlen(c(w1,w2)) — order-free sums, so fully
    // ORACLED where a float log2 would misround; high mean = gibberish
    QuerySpec("text_lm_surprisal", (s, d) =>
      graft.text.TextAnalysis.bigramSurprisal(docs(s, d)),
      // the bigram LM replayed in SQL: same tokenization, counts from
      // the same corpus, bit lengths via length(bin(n)) (exact integer —
      // the text_rarity idiom), mean on the 1e-4 grid
      Oracle("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(SUM(length(bin(n1)) - length(bin(n2))) AS BIGINT)
        |    AS surprisal_sum,
        |  (CAST(SUM(length(bin(n1)) - length(bin(n2))) AS BIGINT) * 10000
        |    // count(*)) / 10000.0 AS mean_surprisal
        |FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id""".stripMargin)),
    // stupid-backoff trigram LM (Brants et al. 2007) with a REAL
    // train→serve split: model trained on the base corpus, scored over
    // the planted-row-augmented corpus — the planted remixes/unseen
    // words force the backoff chain through levels 2, 1, and OOV;
    // integer bit-length surrogates throughout, so the per-level hit
    // counts and surprisal sums are bit-exact
    // served from the STORED trigram-LM artifact (r15 verdict #3): the
    // model is trained once per input and published; this entry prices
    // the SERVE — three vocab-sized broadcast joins + the per-doc fold.
    // Scores are exact integers from a deterministic derivation, so the
    // stored-model serve is bit-identical to training fresh (the
    // unchanged oracle trains fresh and the always-train twin below
    // keeps the build priced in the bench).
    QuerySpec("text_lm_backoff", (s, d) => {
      val (s3, s2, s1, oov) =
        graft.text.TextAnalysis.trigramModelArtifact(s, d)
      graft.text.TextAnalysis.scoreTrigramBackoff(
        Fixtures.lm.df(s, d), s3, s2, s1, oov)
    },
      // the three count orders and the per-level surrogate scores replayed
      // verbatim; the serve side is the planted-augmented corpus while
      // every model CTE reads only `documents`
      Oracle(s"""WITH dlm AS MATERIALIZED (${Fixtures.lm.sql}),
        |tw AS MATERIALIZED (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |uni AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n1
        |  FROM (SELECT unnest(ws) AS w FROM tw) GROUP BY 1),
        |big AS MATERIALIZED (SELECT ws[i] AS w1, ws[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS n2
        |  FROM tw, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2 GROUP BY 1, 2),
        |tri AS MATERIALIZED (SELECT ws[i] AS w1, ws[i + 1] AS w2,
        |    ws[i + 2] AS w3, CAST(count(*) AS BIGINT) AS n3
        |  FROM tw, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        |  WHERE len(ws) >= 3 GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(length(bin(SUM(n1))) AS BIGINT) AS bl FROM uni),
        |s3 AS MATERIALIZED (SELECT t.w1, t.w2, t.w3,
        |    CAST(length(bin(b.n2)) - length(bin(t.n3)) AS BIGINT) AS s
        |  FROM tri t JOIN big b USING (w1, w2)),
        |s2 AS MATERIALIZED (SELECT b.w1 AS w2, b.w2 AS w3,
        |    CAST(2 + length(bin(u.n1)) - length(bin(b.n2)) AS BIGINT) AS s
        |  FROM big b JOIN uni u ON b.w1 = u.w),
        |s1 AS MATERIALIZED (SELECT u.w AS w3,
        |    CAST(4 + t.bl - length(bin(u.n1)) AS BIGINT) AS s
        |  FROM uni u CROSS JOIN tot t),
        |sw AS MATERIALIZED (SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        |  FROM dlm),
        |st AS MATERIALIZED (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2,
        |    ws[i + 2] AS w3
        |  FROM sw, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
        |  WHERE len(ws) >= 3)
        |SELECT st.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(count(a.s) AS BIGINT) AS n_l3,
        |  CAST(count(*) FILTER (WHERE a.s IS NULL AND b.s IS NOT NULL)
        |    AS BIGINT) AS n_l2,
        |  CAST(count(*) FILTER (WHERE a.s IS NULL AND b.s IS NULL
        |    AND c.s IS NOT NULL) AS BIGINT) AS n_l1,
        |  CAST(count(*) FILTER (WHERE a.s IS NULL AND b.s IS NULL
        |    AND c.s IS NULL) AS BIGINT) AS n_oov,
        |  CAST(SUM(COALESCE(a.s, b.s, c.s, 5 + t.bl)) AS BIGINT)
        |    AS surprisal_sum,
        |  ((CAST(SUM(COALESCE(a.s, b.s, c.s, 5 + t.bl)) AS BIGINT) * 10000)
        |    // count(*)) / 10000.0 AS mean_surprisal
        |FROM st LEFT JOIN s3 a USING (w1, w2, w3)
        |  LEFT JOIN s2 b USING (w2, w3)
        |  LEFT JOIN s1 c USING (w3)
        |  CROSS JOIN tot t
        |GROUP BY 1""".stripMargin)),
    // training-cost observability twin (the dedup_cluster_mine pattern):
    // ALWAYS trains the trigram LM from the corpus — no artifact — so
    // the bench keeps pricing the model build round over round.
    QuerySpec("text_lm_backoff_mine", (s, d) =>
      graft.text.TextAnalysis.trigramBackoff(docs(s, d), Fixtures.lm.df(s, d)),
      // the always-train observability twins compute exactly what their
      // artifact-served originals compute (deterministic integer models:
      // stored-model serve ≡ fresh training), so they share the oracle
      // replay verbatim
      Twin("text_lm_backoff")),
    // storable LM count state: per-shard bigram tables (sharded by
    // doc_id mod 3 here) merge by exact sum in a SHUFFLED order, then
    // the shared derivation emits the model — bit-equal to training on
    // the union, the incremental-ingest path (no rescan of old shards)
    QuerySpec("lm_model_incremental", (s, d) => {
      val shards = (0 to 2).map(i => graft.text.TextAnalysis
        .bigramCountState(docs(s, d).filter(pmod(col("doc_id"), lit(3)) === i)))
      graft.text.TextAnalysis.bigramModelFromStates(
        Seq(shards(2), shards(0), shards(1)))
    },
      // exact-sum fold ≡ counting the union: the oracle trains on the
      // whole table directly — equality IS the storable-state claim
      Oracle(lmModelTrainSql)),
    // the LM count state maintained as a FOLDED ARTIFACT over the
    // 3-shard split (serveFoldedShards): base state
    // over shards {0,1} on first contact, shard 2's counts folded in by
    // exact sum — only the delta is ever scanned; the model derives
    // from the SERVED state, bit-equal to batch training on the union,
    // which is exactly what the oracle replays (the lm_model_incremental
    // oracle verbatim)
    QuerySpec("lm_model_folded", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, d, 3)
      val name = "docs_mod3_" + Integer.toHexString(d.hashCode)
      graft.text.TextAnalysis.bigramModelFromStates(Seq(
        seededFold(graft.text.TextAnalysis.bigramFoldLineage(name), shards)(
          graft.text.TextAnalysis.bigramStateArtifactFolded(s, name, _))))
    },
      // folded-artifact form: fold ≡ union-train, same batch oracle
      Oracle(lmModelTrainSql)),
    // pairwise source TF-cosine (corpus drift / source redundancy —
    // the signal behind source-level dedup and mixture design): exact
    // integer dots and norms, one sqrt-based division rounded to 4
    // decimals (the ANN-oracle precedent); #sources² output
    QuerySpec("source_similarity", (s, d) =>
      graft.text.TextAnalysis.sourceSimilarity(docs(s, d)),
      Oracle("""WITH toks AS (SELECT source, u.w AS tok FROM documents,
        |    UNNEST(string_split(lower(text), ' ')) AS u(w) WHERE u.w <> ''),
        |tf AS (SELECT source, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |nn AS (SELECT source, CAST(SUM(tf * tf) AS BIGINT) AS n2
        |  FROM tf GROUP BY 1),
        |d AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, dot,
        |  round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos
        |FROM d JOIN nn na ON src_a = na.source
        |  JOIN nn nb ON src_b = nb.source""".stripMargin)),
    // cross-source vocabulary overlap from mergeable KMV bottom-k
    // signatures — hash-value-selected, so the ESTIMATE itself is
    // value-oracled; merge-exactness property-gated in PipelineSpec
    QuerySpec("source_kmv_jaccard", (s, d) =>
      graft.text.TextAnalysis.sourceKmvJaccard(docs(s, d), 128),
      // KMV replay: bottom-128 distinct md5-60bit hashes per source, the
      // Beyer et al. estimator over the union's bottom-k — all integers
      Oracle("""WITH t AS (SELECT source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |h AS (SELECT DISTINCT source, u.h FROM (
        |  SELECT source, list_transform(generate_series(1, len(ws) - 2),
        |    i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))
        |      AS BIGINT)) AS gh
        |  FROM t WHERE len(ws) >= 3), UNNEST(gh) AS u(h)),
        |sig AS (SELECT source, h FROM (SELECT source, h,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
        |  WHERE rn <= 128),
        |pr AS (SELECT a.source AS sa, b.source AS sb
        |  FROM (SELECT DISTINCT source FROM sig) a
        |  JOIN (SELECT DISTINCT source FROM sig) b ON a.source < b.source),
        |uni AS (SELECT p.sa, p.sb, s.h,
        |    MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ina,
        |    MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS inb
        |  FROM pr p JOIN sig s ON s.source IN (p.sa, p.sb)
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT sa, sb, ina, inb,
        |    ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        |  FROM uni)
        |SELECT sa AS src_a, sb AS src_b,
        |  CAST(COALESCE(SUM(CASE WHEN rn <= 128 AND ina = 1 AND inb = 1
        |    THEN 1 END), 0) AS BIGINT) AS inter_k,
        |  (CAST(COALESCE(SUM(CASE WHEN rn <= 128 AND ina = 1 AND inb = 1
        |    THEN 1 END), 0) AS BIGINT) * 10000)
        |    // LEAST(128, COUNT(*)) AS jaccard_e4
        |FROM rk GROUP BY 1, 2""".stripMargin)),
    // CCNet head/middle/tail selection: per-lang surprisal tertiles
    // via grid-COUNTING thresholds (never a per-lang data-sized sort —
    // the cumulative window runs over the bounded 1e-4 grid table);
    // head = most fluent third, the slice training pipelines keep
    // the perplexity model comes from the STORED bigram-LM artifact
    // (r15 verdict #3); the per-doc scoring pass and the grid-counting
    // tertile selection — the data-sized work — are what this entry
    // prices. Deterministic integer model ⇒ bit-identical to training
    // in-query (the oracle and the always-train twin below).
    QuerySpec("text_ccnet_buckets", (s, d) =>
      graft.text.TextAnalysis.ccnetBucketsWith(docs(s, d),
        graft.text.TextAnalysis.bigramModelArtifact(s, d)),
      // the CCNet bucket replay: same bigram-LM stages, integer-micro
      // mean, counting-based tertile thresholds, value-threshold buckets
      Oracle("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
        |sc AS (SELECT doc_id,
        |    CAST(SUM(length(bin(n1)) - length(bin(n2))) AS BIGINT) * 10000
        |      // count(*) AS mean_e4
        |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY doc_id),
        |sl AS (SELECT sc.doc_id, d.lang, mean_e4
        |  FROM sc JOIN documents d USING (doc_id)),
        |cnts AS (SELECT lang, mean_e4, count(*) AS c FROM sl GROUP BY 1, 2),
        |cum AS (SELECT lang, mean_e4,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY mean_e4) AS cm FROM cnts),
        |nn AS (SELECT lang, count(*) AS n FROM sl GROUP BY 1),
        |th AS (SELECT lang,
        |    MIN(CASE WHEN cm * 3 >= n THEN mean_e4 END) AS t1,
        |    MIN(CASE WHEN cm * 3 >= 2 * n THEN mean_e4 END) AS t2
        |  FROM cum JOIN nn USING (lang) GROUP BY lang)
        |SELECT doc_id, lang, CAST(mean_e4 AS BIGINT) AS mean_e4,
        |  CASE WHEN mean_e4 <= t1 THEN 'head'
        |    WHEN mean_e4 <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM sl JOIN th USING (lang)""".stripMargin)),
    // training-cost observability twin: always trains the bigram LM.
    QuerySpec("text_ccnet_buckets_mine", (s, d) =>
      graft.text.TextAnalysis.ccnetBuckets(docs(s, d)),
      // always-train twin: shares the original's oracle replay verbatim
      Twin("text_ccnet_buckets")),
    // byte-entropy quality signal (the compression-ratio filter):
    // integer bit-length surrogate over the per-doc byte histogram —
    // low bits/byte = repetitive boilerplate; zero shuffle, fully
    // ORACLED (ASCII corpus: DuckDB's codepoint positions == bytes)
    QuerySpec("text_entropy", (s, d) =>
      graft.text.TextAnalysis.byteEntropy(docs(s, d)),
      // per-doc char histogram via generate_series positions (the ASCII
      // corpus makes codepoints == bytes), bit lengths via bin()
      Oracle("""WITH ch AS (
        |  SELECT doc_id, substr(text, i, 1) AS c
        |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
        |hc AS (SELECT doc_id, c, count(*) AS cb FROM ch GROUP BY 1, 2),
        |nn AS (SELECT doc_id, length(text) AS n FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  CAST(SUM(cb * (length(bin(n)) - length(bin(cb)))) AS BIGINT)
        |    AS entropy_sum,
        |  (CAST(SUM(cb * (length(bin(n)) - length(bin(cb)))) AS BIGINT)
        |    * 10000 // n) / 10000.0 AS mean_bits
        |FROM hc JOIN nn USING (doc_id)
        |GROUP BY doc_id, n""".stripMargin)),
    // DSIR importance weights (data selection toward a target domain):
    // bag-of-bigrams log importance surrogate, target = lang'en' docs;
    // exact integer bit-length arithmetic ⇒ fully ORACLED; selecting
    // top-weighted docs is the Xie et al. importance-resampling step
    QuerySpec("text_dsir_weight", (s, d) =>
      graft.text.TextAnalysis.dsirWeights(docs(s, d), col("lang") === "en"),
      // DSIR replayed in SQL: one training pass builds raw + target
      // counts (FILTER), per-gram weight = bit-length of add-one counts
      Oracle("""WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, lang, (lang = 'en') AS is_t,
        |    ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |m AS (
        |  SELECT w1, w2,
        |    length(bin(count(*) FILTER (WHERE is_t) + 1))
        |      - length(bin(count(*) + 1)) AS wgt
        |  FROM big GROUP BY 1, 2)
        |SELECT doc_id, lang, count(*) AS n_bigrams,
        |  CAST(SUM(wgt) AS BIGINT) AS dsir_weight,
        |  (CAST(SUM(wgt) AS BIGINT) * 10000 // count(*)) / 10000.0
        |    AS mean_weight
        |FROM big JOIN m USING (w1, w2)
        |GROUP BY 1, 2""".stripMargin)),
    // the "R" in DSIR — keep the top-32 docs by mean importance weight
    // (deterministic resampling form): bounded TakeOrdered, no full sort
    QuerySpec("dsir_select", (s, d) =>
      graft.text.TextAnalysis.dsirSelect(docs(s, d), col("lang") === "en", 32),
      Oracle("""WITH toks AS (
        |  SELECT doc_id, lang, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, lang, (lang = 'en') AS is_t,
        |    ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |m AS (
        |  SELECT w1, w2,
        |    length(bin(count(*) FILTER (WHERE is_t) + 1))
        |      - length(bin(count(*) + 1)) AS wgt
        |  FROM big GROUP BY 1, 2),
        |w AS (SELECT doc_id, lang, count(*) AS n_bigrams,
        |    CAST(SUM(wgt) AS BIGINT) AS dsir_weight,
        |    (CAST(SUM(wgt) AS BIGINT) * 10000 // count(*)) / 10000.0
        |      AS mean_weight
        |  FROM big JOIN m USING (w1, w2) GROUP BY 1, 2)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY mean_weight DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, lang, n_bigrams, dsir_weight, mean_weight
        |FROM w ORDER BY mean_weight DESC, doc_id LIMIT 32""".stripMargin)),
    // per-source distinct-bigram diversity (templated sources score low)
    QuerySpec("source_diversity", (s, d) =>
      graft.text.TextAnalysis.sourceDiversity(docs(s, d)),
      Oracle("""WITH toks AS (
        |  SELECT source, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT source, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |pc AS (SELECT source, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(c) AS BIGINT) AS n_total,
        |  (CAST(count(*) AS BIGINT) * 10000 // CAST(SUM(c) AS BIGINT)) / 10000.0
        |    AS distinct_ratio
        |FROM pc GROUP BY 1""".stripMargin)),
    // token-unit sliding-window chunking (W=32, stride 16): the
    // overlap-chunking long-doc pretraining/RAG splits with
    QuerySpec("chunk_sliding", (s, d) =>
      graft.text.TextAnalysis.chunkTokens(docs(s, d), 32, 16),
      Oracle("""WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |c AS (SELECT doc_id, ws,
        |    unnest(generate_series(1, len(ws), 16)) AS start
        |  FROM t WHERE len(ws) > 0)
        |SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS chunk_idx,
        |  CAST(start AS BIGINT) AS tok_start,
        |  CAST(len(list_slice(ws, CAST(start AS INTEGER),
        |    CAST(least(start + 31, len(ws)) AS INTEGER))) AS BIGINT) AS n_toks,
        |  array_to_string(list_slice(ws, CAST(start AS INTEGER),
        |    CAST(least(start + 31, len(ws)) AS INTEGER)), ' ') AS chunk_text
        |FROM c""".stripMargin)),
    // fill-in-the-middle (StarCoder code prep): deterministic ~50% of
    // docs reordered as <fim_prefix> P <fim_suffix> S <fim_middle> M
    // at hash-chosen cut points; row-local, zero shuffle
    QuerySpec("fim_transform", (s, d) =>
      graft.text.TextAnalysis.fimTransform(docs(s, d)),
      Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_fim'), 1, 15))
        |      AS BIGINT) % 2 = 0 AS is_fim,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_a'), 1, 15))
        |      AS BIGINT) % (CAST(len(ws) AS BIGINT) + 1) AS a,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_b'), 1, 15))
        |      AS BIGINT) % (CAST(len(ws) AS BIGINT) + 1) AS bb
        |  FROM t WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws, n, is_fim,
        |    least(a, bb) AS s1, greatest(a, bb) AS s2 FROM b)
        |SELECT doc_id, n AS n_tokens, is_fim,
        |  CASE WHEN is_fim THEN s1 END AS s1,
        |  CASE WHEN is_fim THEN s2 END AS s2,
        |  CASE WHEN is_fim THEN '<fim_prefix> ' ||
        |      COALESCE(array_to_string(ws[1:CAST(s1 AS INTEGER)], ' '), '')
        |      || ' <fim_suffix> ' ||
        |      COALESCE(array_to_string(ws[CAST(s2 + 1 AS INTEGER):CAST(n AS INTEGER)], ' '), '')
        |      || ' <fim_middle> ' ||
        |      COALESCE(array_to_string(ws[CAST(s1 + 1 AS INTEGER):CAST(s2 AS INTEGER)], ' '), '')
        |    ELSE array_to_string(ws, ' ') END AS out_text
        |FROM c""".stripMargin)),
    // T5/UL2 span corruption: deterministic md5-hash masking (~15%),
    // adjacent masks merge to sentinel spans, (input, target) pair
    // assembled — seeded-reproducible and fully string-oracled
    QuerySpec("span_corruption", (s, d) =>
      graft.text.TextAnalysis.spanCorruption(docs(s, d)),
      Oracle("""WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
        |  FROM t WHERE len(ws) > 0),
        |f AS (SELECT doc_id, pos, ws[CAST(pos AS INTEGER)] AS tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' ||
        |      CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 20 < 3 AS flag
        |  FROM p),
        |w1 AS (SELECT *, flag AND NOT coalesce(
        |    lag(flag) OVER (PARTITION BY doc_id ORDER BY pos), false)
        |    AS span_start FROM f),
        |w2 AS (SELECT *, SUM(CASE WHEN span_start THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |  FROM w1),
        |pc AS (SELECT doc_id, pos, flag, span_start,
        |    CASE WHEN NOT flag THEN tok
        |      WHEN span_start THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
        |      END AS ip,
        |    CASE WHEN flag THEN
        |      CASE WHEN span_start THEN '<extra_id_' ||
        |        CAST(span_id - 1 AS VARCHAR) || '> ' || tok ELSE tok END
        |      END AS tp
        |  FROM w2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE flag) AS BIGINT) AS n_masked,
        |  CAST(count(*) FILTER (WHERE span_start) AS BIGINT) AS n_spans,
        |  COALESCE(string_agg(ip, ' ' ORDER BY pos), '') AS input_text,
        |  CASE WHEN string_agg(tp, ' ' ORDER BY pos) IS NULL THEN ''
        |    ELSE string_agg(tp, ' ' ORDER BY pos) || ' ' END
        |    || '<extra_id_' ||
        |    CAST(count(*) FILTER (WHERE span_start) AS VARCHAR) || '>'
        |    AS target_text
        |FROM pc GROUP BY doc_id""".stripMargin)),
    // multi-pattern blocklist scan (C4/RefinedWeb badwords shape):
    // ONE Aho-Corasick pass per document for the whole lexicon — the
    // per-byte cost is independent of lexicon size, vs m contains()
    // scans (m full text passes at 100 TB). Per-TERM doc/occurrence
    // counts, leftmost-greedy non-overlapping (= replace-trick
    // semantics, so the oracle is one cheap replace per (doc, term));
    // the lexicon carries prefix-nested terms ("low"/"slow",
    // "can"/"scan" — fail-link paths), a phrase crossing word
    // boundaries, CJK/emoji patterns hitting the planted multilingual
    // rows, and a zero-hit term that must stay in the output
    QuerySpec("text_blocklist", (s, d) =>
      graft.text.TextAnalysis.blocklistTermStats(Fixtures.ml.df(s, d), blocklistTerms),
      // leftmost-greedy non-overlapping occurrence counts are exactly
      // what the replace() trick counts; length()/replace() are
      // codepoint-based in DuckDB, matching the byte-level automaton on
      // any valid UTF-8 (self-synchronizing). FILTER keeps zero-hit
      // lexicon terms in the output like the engine's left join does.
      Oracle({
      val body = s"""t(term) AS (VALUES ${
          graft.functions.AhoCorasick.patternsSqlValues(blocklistTerms)}),
        |h AS (SELECT term,
        |    (length(lower(d.text)) - length(replace(lower(d.text), term, '')))
        |      // length(term) AS cnt
        |  FROM dml d, t)
        |SELECT term, CAST(count(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_docs,
        |  CAST(SUM(cnt) AS BIGINT) AS n_occurrences
        |FROM h GROUP BY term ORDER BY term""".stripMargin
      s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),\n$body"
    })),
    // the cleaning DECISION view of the same one-pass scan: per-source
    // share of documents containing ANY lexicon term, exact 1e-4 grid
    QuerySpec("text_blocklist_share", (s, d) =>
      graft.text.TextAnalysis.blocklistDocShare(Fixtures.ml.df(s, d), blocklistTerms),
      Oracle({
      val lst = blocklistTerms.map(t =>
        "'" + t.replace("'", "''") + "'").mkString("[", ", ", "]")
      val body = s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN len(list_filter($lst,
        |      p -> contains(lower(d.text), p))) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  (CAST(SUM(CASE WHEN len(list_filter($lst,
        |      p -> contains(lower(d.text), p))) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000 // count(*)) / 10000.0 AS flagged_share
        |FROM dml d GROUP BY source ORDER BY source""".stripMargin
      s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql})\n$body"
    })),
    // WORD-BOUNDARY blocklist (the C4 badwords semantic): whole tokens
    // only — the nested substring plants ("low"⊂"slow", "can"⊂"scan")
    // must score ZERO here while the substring scan counts them
    QuerySpec("text_blocklist_words", (s, d) =>
      graft.text.TextAnalysis.blocklistWordStats(Fixtures.ml.df(s, d),
        blocklistTerms.filterNot(_.contains(' '))),
      // whole-token matching: explode tokens, join the lexicon, restore
      // zero-hit terms — the nested plants score 0 here by construction
      Oracle({
      val singles = blocklistTerms.filterNot(_.contains(' '))
      val body = s"""t(term) AS (VALUES ${
          graft.functions.AhoCorasick.patternsSqlValues(singles)}),
        |w AS (SELECT doc_id, u.w FROM dml,
        |  UNNEST(list_filter(string_split(lower(text), ' '), x -> x <> ''))
        |    AS u(w)),
        |h AS (SELECT w AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
        |    CAST(count(*) AS BIGINT) AS no
        |  FROM w JOIN t ON w.w = t.term GROUP BY 1)
        |SELECT t.term, COALESCE(h.nd, CAST(0 AS BIGINT)) AS n_docs,
        |  COALESCE(h.no, CAST(0 AS BIGINT)) AS n_occurrences
        |FROM t LEFT JOIN h USING (term) ORDER BY term""".stripMargin
      s"WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),\n$body"
    })),
    // the packing operator budgeting in SUBWORD tokens — same two-level
    // prefix-sum plan, the count column is the BPE encode
    QuerySpec("pack_sequences_bpe", (s, d) =>
      graft.pipeline.Pipeline.packSequences(
          docs(s, d).select(col("doc_id"), col("source"),
            graft.text.TextAnalysis.bpeTokenCount(col("text")).as("n_tokens")),
          col("source"), col("doc_id"), col("n_tokens"), 2048L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin")),
      Oracle(s"""WITH RECURSIVE ${bpeCte()}
         |SELECT doc_id, source, n_tokens,
         |CAST(FLOOR((CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) - n_tokens) / 2048.0) AS BIGINT) AS bin
         |FROM (SELECT d.doc_id, d.source, COALESCE(b.n_tokens_bpe, 0) AS n_tokens
         |  FROM documents d LEFT JOIN bpe b USING (doc_id))""".stripMargin)),
    // packing-efficiency dashboard: per source, padding waste across
    // COMPLETED bins (the last bin is legitimately partial) and
    // overflow carried by straddling docs — the numbers you tune the
    // token budget against; pure aggregate over the same packing
    QuerySpec("pack_efficiency", (s, d) => {
      val packed = graft.pipeline.Pipeline.packSequences(
        docs(s, d).select(col("doc_id"), col("source"),
          graft.text.TextAnalysis.bpeTokenCount(col("text")).as("n_tokens")),
        col("source"), col("doc_id"), col("n_tokens"), 2048L)
      val bins = packed.groupBy(col("source"), col("bin"))
        .agg(sum(col("n_tokens")).as("fill"))
      val last = bins.groupBy(col("source")).agg(max(col("bin")).as("__last"))
      bins.join(broadcast(last), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("fill")).cast("long").as("total_tokens"),
          sum(when(col("bin") < col("__last"),
            greatest(lit(0L), lit(2048L) - col("fill"))).otherwise(0L))
            .cast("long").as("padding_waste"),
          sum(greatest(lit(0L), col("fill") - lit(2048L)))
            .cast("long").as("overflow_tokens"))
        .select(col("source"), col("n_bins"), col("total_tokens"),
          col("padding_waste"), col("overflow_tokens"),
          when(col("n_bins") > 1L,
            graft.text.TextAnalysis.frac4(col("padding_waste"),
              (col("n_bins") - 1L) * lit(2048L))).as("waste_share"))
    },
      Oracle(s"""WITH RECURSIVE ${bpeCte()},
         |p AS (SELECT doc_id, source, n_tokens,
         |  CAST(FLOOR((CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) - n_tokens) / 2048.0) AS BIGINT) AS bin
         |  FROM (SELECT d.doc_id, d.source, COALESCE(b.n_tokens_bpe, 0) AS n_tokens
         |    FROM documents d LEFT JOIN bpe b USING (doc_id))),
         |bb AS (SELECT source, bin, CAST(SUM(n_tokens) AS BIGINT) AS fill
         |  FROM p GROUP BY 1, 2),
         |m AS (SELECT source, MAX(bin) AS last_bin FROM bb GROUP BY 1)
         |SELECT source, count(*) AS n_bins,
         |  CAST(SUM(fill) AS BIGINT) AS total_tokens,
         |  CAST(SUM(CASE WHEN bin < last_bin THEN GREATEST(0, 2048 - fill)
         |    ELSE 0 END) AS BIGINT) AS padding_waste,
         |  CAST(SUM(GREATEST(0, fill - 2048)) AS BIGINT) AS overflow_tokens,
         |  CASE WHEN count(*) > 1 THEN
         |    (CAST(SUM(CASE WHEN bin < last_bin THEN GREATEST(0, 2048 - fill)
         |      ELSE 0 END) AS BIGINT) * 10000
         |      // ((count(*) - 1) * 2048)) / 10000.0 END AS waste_share
         |FROM bb JOIN m USING (source)
         |GROUP BY source""".stripMargin)),
    // in-engine BPE vocabulary TRAINING (Sennrich): 8 learned merges,
    // each step = one map-side-combined pair-count agg over the
    // vocabulary table + driver argmax + one codegen merge map;
    // deterministic ⇒ fully ORACLED by replaying the 8 stages in SQL
    QuerySpec("bpe_train_merges", (s, d) =>
      graft.text.BpeTrainer.trainedMergesFrame(Fixtures.ml.df(s, d), 8),
      Oracle(withMlDocs(graft.text.BpeTrainer.trainingOracleSql(8, "dml")))),
    // INCREMENTAL vocabulary update: train 4 merges, then CONTINUE
    // with 4 more. r16: the continuation resumes from the first
    // training's LIVE state (word table + pair-count map) instead of
    // replaying the shipped list against a second corpus scan — the
    // merge list is identical either way (deterministic argmax makes
    // continuation a pure suffix; the replay path stays in
    // continueMerges and is spec-gated), so this query still shares the
    // FULL 8-stage training oracle — the oracle itself asserts
    // continue(train(4), +4) == train(8)
    QuerySpec("bpe_train_continue", (s, d) =>
      graft.text.BpeTrainer.mergesFrame(s,
        graft.text.BpeTrainer.trainThenContinueMerges(Fixtures.ml.df(s, d), 4, 4)),
      Oracle(withMlDocs(graft.text.BpeTrainer.trainingOracleSql(8, "dml")))),
    // TRUE merge-order BPE encode under the TRAINED vocabulary: apply
    // the 8 learned merges in rank order (chained codegen maps over
    // the distinct-word table), count final symbols per word, sum per
    // doc — fully ORACLED through the same generated training stages
    // (the greedy trie encoder is the fast approximate path; THIS is
    // the exact BPE semantics). Merges memoize per corpus — the
    // build/serve split: training cost is the declared
    // `bpe_train_merges` entry, this one times the ENCODE (merges are
    // deterministic, so the always-training oracle still matches).
    QuerySpec("bpe_encode_merge_order", (s, d) =>
      graft.text.BpeTrainer.mergeOrderTokenStats(Fixtures.ml.df(s, d),
        trainedMerges(s, d)),
      Oracle(withMlDocs(graft.text.BpeTrainer.mergeOrderEncodeOracleSql(8, "dml")))),
    // the train→encode→budget loop CLOSED: packing bins budgeted in
    // tokens of the in-query-TRAINED vocabulary (merge-order encode
    // under the learned merges), oracled through the same generated
    // training stages — the vocabulary is the budget currency
    // end-to-end, not a shipped literal
    QuerySpec("pack_sequences_trained", (s, d) => {
      val counts = graft.text.BpeTrainer
        .mergeOrderTokenStats(Fixtures.ml.df(s, d), trainedMerges(s, d))
        .select(col("doc_id"), col("n_tokens_merge_order"))
      val budgeted = Fixtures.ml.df(s, d).select(col("doc_id"), col("source"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_tokens_merge_order"), lit(0L)).as("n_tokens"))
      graft.pipeline.Pipeline.packSequences(budgeted,
          col("source"), col("doc_id"), col("n_tokens"), 2048L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
    },
      Oracle(withMlDocs(graft.text.BpeTrainer.packTrainedOracleSql(8, 2048L, "dml")))),
    // the token-ID assignment itself (input_ids): per-doc sequence
    // fingerprint + count, ORACLED — the recursive CTE re-derives the
    // greedy ids (argmax-length vocab index; byte-fallback block) and
    // replays the rolling hash
    QuerySpec("text_tokens_ids", (s, d) =>
      Fixtures.ml.df(s, d).select(col("doc_id"),
          graft.text.TextAnalysis.bpeEncodeIds(col("text")).as("ids"))
        .select(col("doc_id"), size(col("ids")).cast("long").as("n_tokens"),
          graft.text.TextAnalysis.idsFingerprint(col("ids")).as("ids_fp")),
      Oracle(withMlDocs(s"""WITH RECURSIVE ${bpeIdsCte("dml")}
         |SELECT d.doc_id,
         |  CAST(COALESCE(len(b.all_ids), 0) AS BIGINT) AS n_tokens,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    COALESCE(b.all_ids, CAST([] AS BIGINT[]))),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS ids_fp
         |FROM dml d LEFT JOIN docids b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin))),
    // OOV rate under the subword vocabulary: share of byte-fallback
    // tokens (id ≥ |vocab|) per doc — the "does the tokenizer cover
    // this text" quality/routing signal (CJK rows ≈ all-fallback, en
    // rows near zero); same generated-CTE oracle as text_tokens_ids
    QuerySpec("text_oov_rate", (s, d) => {
      val v = graft.functions.BpeTokenizer.defaultVocab.size
      Fixtures.ml.df(s, d).select(col("doc_id"), col("lang"),
          graft.text.TextAnalysis.bpeEncodeIds(col("text")).as("ids"))
        .select(col("doc_id"), col("lang"),
          size(col("ids")).cast("long").as("n_tokens"),
          size(filter(col("ids"), x => x >= lit(v))).cast("long").as("n_oov"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
          when(col("n_tokens") > 0L,
            graft.text.TextAnalysis.frac4(col("n_oov"), col("n_tokens")))
            .as("oov_rate"))
    },
      Oracle({
      val v = graft.functions.BpeTokenizer.defaultVocab.size
      withMlDocs(s"""WITH RECURSIVE ${bpeIdsCte("dml")}
         |SELECT d.doc_id, d.lang,
         |  CAST(COALESCE(len(b.all_ids), 0) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(len(list_filter(b.all_ids, x -> x >= $v)), 0)
         |    AS BIGINT) AS n_oov,
         |  CASE WHEN COALESCE(len(b.all_ids), 0) > 0 THEN
         |    (CAST(len(list_filter(b.all_ids, x -> x >= $v)) AS BIGINT)
         |      * 10000 // CAST(len(b.all_ids) AS BIGINT)) / 10000.0
         |  END AS oov_rate
         |FROM dml d LEFT JOIN docids b USING (doc_id)""".stripMargin)
    })),
    // decode∘encode invertibility as an ORACLED query: every token
    // decodes to its literal text (vocab entry or fallback char), so
    // the round trip equals the input minus the spaces encode drops —
    // the oracle needs no token knowledge at all
    QuerySpec("text_detokenize", (s, d) =>
      Fixtures.ml.df(s, d).select(col("doc_id"),
        graft.functions.BpeTokenizer.bpe_decode(
          graft.functions.BpeTokenizer.bpe_encode(lower(col("text"))))
          .as("detok")),
      Oracle((s"WITH dml AS (${Fixtures.ml.sql}) " +
        "SELECT doc_id, replace(lower(text), ' ', '') AS detok FROM dml"))),
    // byte-level LOSSLESS round trip: byte-alphabet encode → ids →
    // decode → inverse byte map equals the ORIGINAL text bit-exactly —
    // case, spaces, control bytes, multibyte UTF-8 all survive (the
    // word path round-trips only "minus spaces"). The tokenizer
    // invertibility contract every byte-level stack relies on; the
    // oracle needs no token knowledge at all.
    QuerySpec("text_detokenize_bytes", (s, d) =>
      Fixtures.ml.df(s, d).select(col("doc_id"),
        graft.functions.BpeTokenizer.byte_unicode_decode(
          graft.functions.BpeTokenizer.bpe_decode(
            graft.functions.BpeTokenizer.bpe_encode(
              graft.functions.BpeTokenizer.byte_unicode(col("text")),
              graft.functions.BpeTokenizer.byteVocab),
            graft.functions.BpeTokenizer.byteVocab))
          .as("detok")),
      // the byte-level round trip is the IDENTITY — the whole point
      Oracle((s"WITH dml AS (${Fixtures.ml.sql}) " +
        "SELECT doc_id, text AS detok FROM dml"))),
    // MATERIALIZED packed training sequences: per (source, bin) the
    // concatenated input_ids in doc order — the artifact sequence
    // packing exists to produce; ORACLED on the bin geometry and the
    // id-sequence fingerprint
    QuerySpec("pack_sequences_ids", (s, d) =>
      graft.text.TextAnalysis.packedSequenceIds(docs(s, d), 2048L)
        .select(col("source"), col("bin"), col("n_docs"),
          col("total_tokens"),
          graft.text.TextAnalysis.idsFingerprint(col("input_ids"))
            .as("seq_fp"),
          graft.text.TextAnalysis.idsFingerprint(col("doc_offsets"))
            .as("offsets_fp")),
      Oracle(s"""WITH RECURSIVE ${bpeIdsCte()},
         |t AS (SELECT d.doc_id, d.source,
         |    COALESCE(b.all_ids, CAST([] AS BIGINT[])) AS all_ids,
         |    CAST(COALESCE(len(b.all_ids), 0) AS BIGINT) AS n_tokens
         |  FROM documents d LEFT JOIN docids b USING (doc_id)),
         |c AS (SELECT *, CAST(FLOOR((CAST(SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) - n_tokens) / 2048.0) AS BIGINT) AS bin FROM t),
         |c2 AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source, bin
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum2 FROM c)
         |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    flatten(list(all_ids ORDER BY doc_id))),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS seq_fp,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_prepend(CAST(0 AS BIGINT), list(cum2 ORDER BY doc_id))),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS offsets_fp
         |FROM c2 GROUP BY 1, 2""".stripMargin)),
    // token-budget mixing in SUBWORD tokens (budgets ~1.3× the word
    // budgets to hold comparable doc counts)
    QuerySpec("corpus_mix_bpe", (s, d) =>
      graft.pipeline.Pipeline.corpusMix(
        docs(s, d).withColumn("n_toks",
          graft.text.TextAnalysis.bpeTokenCount(col("text"))),
        col("doc_id"), col("source"), col("n_toks"),
        Map("src0" -> 1000L, "src1" -> 800L, "src2" -> 2000000L)),
      Oracle(s"""WITH RECURSIVE ${bpeCte()},
         |t AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
         |    COALESCE(b.n_tokens_bpe, 0) AS n_toks,
         |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM documents d LEFT JOIN bpe b USING (doc_id)
         |  WHERE d.source IN ('src0', 'src1', 'src2')),
         |bb AS (SELECT *, CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 800
         |    ELSE 2000000 END AS bud FROM t),
         |c AS (SELECT *, CAST(sum(n_toks) OVER (PARTITION BY source
         |    ORDER BY h, CAST(doc_id AS VARCHAR)
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM bb)
         |SELECT doc_id, text, lang, source, n_chars, n_toks, cum AS cum_tokens
         |FROM c WHERE cum <= bud""".stripMargin)),
    QuerySpec("text_langid", (s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextAnalysis.langId(col("text")).as("lang_pred")),
      Oracle("""SELECT doc_id, CASE
        |WHEN len(list_filter(string_split(lower(text), ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) >= len(list_filter(string_split(lower(text), ' '), x -> x = 'der' OR x = 'die' OR x = 'das' OR x = 'und'))
        |  AND len(list_filter(string_split(lower(text), ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) >= len(list_filter(string_split(lower(text), ' '), x -> x = 'le' OR x = 'la' OR x = 'les' OR x = 'et'))
        |  AND len(list_filter(string_split(lower(text), ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) > 0 THEN 'en'
        |WHEN len(list_filter(string_split(lower(text), ' '), x -> x = 'der' OR x = 'die' OR x = 'das' OR x = 'und')) >= len(list_filter(string_split(lower(text), ' '), x -> x = 'le' OR x = 'la' OR x = 'les' OR x = 'et'))
        |  AND len(list_filter(string_split(lower(text), ' '), x -> x = 'der' OR x = 'die' OR x = 'das' OR x = 'und')) > 0 THEN 'de'
        |WHEN len(list_filter(string_split(lower(text), ' '), x -> x = 'le' OR x = 'la' OR x = 'les' OR x = 'et')) > 0 THEN 'fr'
        |ELSE 'und' END AS lang_pred FROM documents""".stripMargin)),
    // TRAINED language-ID (the CCNet/fastText classifier step, not the
    // marker heuristic): Naive-Bayes char-bigram model learned from a
    // TRUSTED seed (en-labeled base docs + the planted multilingual
    // rows — the base corpus's non-en labels are synthetic noise, the
    // exact thing a label AUDIT exists to catch), then every doc is
    // scored and its claimed label checked. One scan trains, the
    // vocab-sized model broadcasts, scores are half-bit-resolution
    // integer surrogate sums; planted zh/fr/ru/ko rows must
    // self-classify and mislabeled ASCII docs must flag label_ok=false
    QuerySpec("text_langid_nb", (s, d) =>
      graft.text.TextAnalysis.langidNb(Fixtures.ml.df(s, d),
        col("lang") === "en" || col("source") === "planted_ml"),
      // NB langid: grams → per-lang counts (model) → smoothed bit-length
      // scores → argmax with lang-asc ties; DuckDB range(1, n) is empty
      // when n ≤ 1, so the short-doc guard is implicit on this side
      Oracle(s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
         |g AS MATERIALIZED (SELECT doc_id, lang,
         |    (lang = 'en' OR source = 'planted_ml') AS seed,
         |    unnest([substr(lower(text), CAST(i AS INTEGER), 2)
         |      for i in range(1, length(lower(text)))]) AS g
         |  FROM dml),
         |model AS MATERIALIZED (SELECT lang AS lang2, g,
         |    CAST(count(*) AS BIGINT) AS c FROM g WHERE seed GROUP BY 1, 2),
         |vv AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM model),
         |den AS (SELECT lang2,
         |    CAST(length(bin((tot + v) * (tot + v))) AS BIGINT) AS db
         |  FROM (SELECT lang2, CAST(SUM(c) AS BIGINT) AS tot
         |    FROM model GROUP BY 1) CROSS JOIN vv),
         |sc AS (SELECT doc_id, lang, d.lang2 AS lang2,
         |    CAST(SUM(length(bin((COALESCE(m.c, 0) + 1) * (COALESCE(m.c, 0) + 1)))
         |      - d.db) AS BIGINT) AS score
         |  FROM g CROSS JOIN den d
         |    LEFT JOIN model m ON m.lang2 = d.lang2 AND m.g = g.g
         |  GROUP BY 1, 2, 3),
         |best AS (SELECT doc_id, lang, max(score) AS bs FROM sc GROUP BY 1, 2)
         |SELECT s.doc_id, s.lang, min(s.lang2) AS pred_lang, b.bs AS score,
         |  s.lang = min(s.lang2) AS label_ok
         |FROM sc s JOIN best b ON s.doc_id = b.doc_id AND s.score = b.bs
         |GROUP BY s.doc_id, s.lang, b.bs""".stripMargin)),
    // Unicode script-mix profile (routing prior): literal codepoint
    // ranges read identically by Java regex and RE2; zero shuffle
    QuerySpec("text_scripts", (s, d) =>
      graft.text.TextAnalysis.scriptMix(Fixtures.ml.df(s, d)),
      Oracle(s"""WITH dml AS MATERIALIZED (${Fixtures.ml.sql}),
         |b AS (SELECT doc_id, lower(text) AS t FROM dml),
         |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
         |    CAST(length(t) - length(regexp_replace(t, '[a-z]', '', 'g'))
         |      AS BIGINT) AS n_latin,
         |    CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))
         |      AS BIGINT) AS n_cjk,
         |    CAST(length(t) - length(regexp_replace(t, '[а-яё]', '', 'g'))
         |      AS BIGINT) AS n_cyrillic,
         |    CAST(length(t) - length(regexp_replace(t, '[가-힣]', '', 'g'))
         |      AS BIGINT) AS n_hangul,
         |    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
         |      AS BIGINT) AS n_digit
         |  FROM b)
         |SELECT *, CAST(greatest(n_latin, n_cjk, n_cyrillic, n_hangul)
         |    * 10000 // greatest(n_chars, 1) AS DOUBLE)
         |  / CAST(10000 AS DOUBLE) AS dominant_share
         |FROM c""".stripMargin)),
    // storable langid model: 3 disjoint seed shards fold by exact sum
    // into the batch-equal count table (no rescan of old shards)
    QuerySpec("langid_model_incremental", (s, d) => {
      val dm = Fixtures.ml.df(s, d)
      val seed = col("lang") === "en" || col("source") === "planted_ml"
      val shards = (0 to 2).map(i => graft.text.TextAnalysis
        .langidCountState(dm.filter(pmod(col("doc_id"), lit(3)) === i), seed))
      graft.text.TextAnalysis.langidModelFromStates(
        Seq(shards(2), shards(0), shards(1)))
    },
      // the fold is associative+commutative, so shard-split training
      // equals batch counting over the seed — the oracle is the batch
      Oracle(langidModelTrainSql)),
    // the langid model state as a FOLDED ARTIFACT:
    // the ml corpus materialized once as an input dir, sharded mod 3;
    // base state over shards {0,1}, shard 2's seed counts folded by
    // exact sum; the seed predicate is part of the artifact identity
    // (changing the trust contract re-mines). Fold ≡ batch counting,
    // the langid_model_incremental oracle verbatim
    QuerySpec("langid_model_folded", (s, d) => {
      val shards = graft.dedup.Dedup.ensureDocShards(s, Fixtures.ml.inputDir(s, d), 3)
      val name = "docsml_mod3_" + Integer.toHexString(d.hashCode)
      seededFold(graft.text.TextAnalysis.langidFoldLineage(name, langidSeedSql),
        shards)(graft.text.TextAnalysis.langidStateArtifactFolded(s, name, _,
          langidSeedSql))
    },
      // folded-artifact form: same equality claim, same batch oracle —
      // any fold error (double-counted shard, stale stored state, lost
      // sum key) breaks the hash
      Oracle(langidModelTrainSql)),
    // per-source sequence-length histogram in power-of-2 token buckets
    // — the distribution packing/batching is tuned against
    QuerySpec("seq_len_histogram", (s, d) =>
      graft.text.TextAnalysis.seqLenHistogram(docs(s, d)),
      Oracle("""WITH t AS (SELECT source,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> w <> '')) AS BIGINT) AS n_toks FROM documents),
        |b AS (SELECT source, n_toks,
        |    CAST(length(bin(n_toks)) AS BIGINT) AS bucket_bits
        |  FROM t WHERE n_toks > 0)
        |SELECT source, bucket_bits, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(1 AS BIGINT) << CAST(bucket_bits - 1 AS INTEGER) AS bucket_lo,
        |  (CAST(1 AS BIGINT) << CAST(bucket_bits - 1 AS INTEGER)) * 2 - 1
        |    AS bucket_hi
        |FROM b GROUP BY 1, 2""".stripMargin)),
    // SFT loss-mask prep: 0 through "prompt ### ", 1 over the
    // completion; separator-free docs flag has_pair=false
    QuerySpec("sft_loss_mask", (s, d) =>
      graft.text.TextAnalysis.sftLossMask(Fixtures.sft.df(s, d)),
      Oracle(s"""WITH ds AS MATERIALIZED (${Fixtures.sft.sql}),
         |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    w -> w <> '') AS ws FROM ds),
         |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(nullif(list_position(ws, '###'), 0) AS BIGINT) AS sep_idx
         |  FROM t WHERE len(ws) > 0)
         |SELECT doc_id, n_tokens, sep_idx IS NOT NULL AS has_pair,
         |  COALESCE(sep_idx, n_tokens) AS n_prompt_tokens,
         |  n_tokens - COALESCE(sep_idx, n_tokens) AS n_completion_tokens,
         |  repeat('0', CAST(COALESCE(sep_idx, n_tokens) AS INTEGER)) ||
         |    repeat('1', CAST(n_tokens - COALESCE(sep_idx, n_tokens) AS INTEGER))
         |    AS loss_mask
         |FROM b""".stripMargin)),
    // functional-dependency discovery (TANE level-1 profiling): all
    // ordered pairs from ONE distinct-count pass
    QuerySpec("fd_discovery", (s, d) =>
      graft.operators.DistinctAndFrequency.fdDiscovery(
        Tables.nation(s, d), Seq("n_nationkey", "n_name", "n_regionkey")),
      Oracle("""WITH d AS (SELECT
        |  CAST(count(DISTINCT n_nationkey) AS BIGINT) AS dk,
        |  CAST(count(DISTINCT n_name) AS BIGINT) AS dn,
        |  CAST(count(DISTINCT n_regionkey) AS BIGINT) AS dr,
        |  CAST(count(DISTINCT (n_nationkey, n_name)) AS BIGINT) AS dkn,
        |  CAST(count(DISTINCT (n_nationkey, n_regionkey)) AS BIGINT) AS dkr,
        |  CAST(count(DISTINCT (n_name, n_regionkey)) AS BIGINT) AS dnr
        |  FROM nation)
        |SELECT 'n_nationkey' AS determinant, 'n_name' AS dependent,
        |    dk AS n_classes, dkn AS n_pairs, dkn = dk AS fd_holds,
        |    dkn - dk AS n_violations FROM d
        |UNION ALL SELECT 'n_nationkey', 'n_regionkey', dk, dkr,
        |  dkr = dk, dkr - dk FROM d
        |UNION ALL SELECT 'n_name', 'n_nationkey', dn, dkn,
        |  dkn = dn, dkn - dn FROM d
        |UNION ALL SELECT 'n_name', 'n_regionkey', dn, dnr,
        |  dnr = dn, dnr - dn FROM d
        |UNION ALL SELECT 'n_regionkey', 'n_nationkey', dr, dkr,
        |  dkr = dr, dkr - dr FROM d
        |UNION ALL SELECT 'n_regionkey', 'n_name', dr, dnr,
        |  dnr = dr, dnr - dr FROM d""".stripMargin)),
    // Benford first-digit audit (fabricated-numbers / synthetic-data
    // QA): observed vs log10(1+1/d) shares on the exact grid
    QuerySpec("benford_audit", (s, d) =>
      graft.operators.Stats.benfordAudit(
        Tables.lineitem(s, d), col("l_extendedprice")),
      Oracle("""WITH f AS (SELECT regexp_extract(
        |    CAST(l_extendedprice AS VARCHAR), '[1-9]', 0) AS fd
        |  FROM lineitem WHERE l_extendedprice > 0),
        |c AS (SELECT CAST(fd AS BIGINT) AS first_digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM f WHERE fd <> '' GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM c)
        |SELECT first_digit, n,
        |  (n * 10000 // tt) / 10000.0 AS share,
        |  CASE first_digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
        |    WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
        |    WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
        |    ELSE 457 END / 10000.0 AS expected_share,
        |  abs(n * 10000 // tt - CASE first_digit WHEN 1 THEN 3010
        |    WHEN 2 THEN 1760 WHEN 3 THEN 1249 WHEN 4 THEN 969
        |    WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579
        |    WHEN 8 THEN 511 ELSE 457 END) / 10000.0 AS deviation
        |FROM c CROSS JOIN t""".stripMargin)),
    // RLE sink-layout audit: total run counts of every candidate sort
    // order from ONE distinct-count pass — no sort executed; the
    // ascending-cardinality parquet-sort-key rule, measured
    QuerySpec("sink_rle_layout", (s, d) =>
      graft.engine.Layout.rleLayoutAudit(docs(s, d), Seq(
        "lang" -> col("lang"), "source" -> col("source"),
        "len_bits" -> length(bin(col("n_chars"))).cast("long"))),
      Oracle("""WITH q AS (SELECT lang AS a, source AS b,
        |    CAST(length(bin(n_chars)) AS BIGINT) AS c FROM documents),
        |d AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS da,
        |    CAST(count(DISTINCT b) AS BIGINT) AS db,
        |    CAST(count(DISTINCT c) AS BIGINT) AS dc,
        |    CAST(count(DISTINCT (a, b)) AS BIGINT) AS dab,
        |    CAST(count(DISTINCT (a, c)) AS BIGINT) AS dac,
        |    CAST(count(DISTINCT (b, c)) AS BIGINT) AS dbc,
        |    CAST(count(DISTINCT (a, b, c)) AS BIGINT) AS dabc FROM q),
        |p AS (
        |  SELECT 'lang,source,len_bits' AS sort_key,
        |      da AS r1, dab AS r2, dabc AS r3 FROM d
        |  UNION ALL SELECT 'lang,len_bits,source', da, dac, dabc FROM d
        |  UNION ALL SELECT 'source,lang,len_bits', db, dab, dabc FROM d
        |  UNION ALL SELECT 'source,len_bits,lang', db, dbc, dabc FROM d
        |  UNION ALL SELECT 'len_bits,lang,source', dc, dac, dabc FROM d
        |  UNION ALL SELECT 'len_bits,source,lang', dc, dbc, dabc FROM d)
        |SELECT sort_key, r1 AS runs_c1, r2 AS runs_c2, r3 AS runs_c3,
        |  r1 + r2 + r3 AS total_runs,
        |  row_number() OVER (ORDER BY r1 + r2 + r3, sort_key) = 1
        |    AS is_best
        |FROM p""".stripMargin)),
    // interval-interval OVERLAP join (the missing sibling of the
    // point-in-interval range join): binned co-partition, canonical
    // first-shared-bin emission (no distinct); urgent 7-day windows vs
    // low-priority 10-day windows, aggregated per urgent order
    QuerySpec("interval_overlap_join", (s, d) => {
      val ord = Tables.orders(s, d)
      val base = lit("1970-01-01").cast("date")
      def days(c: Column) = datediff(c.cast("date"), base).cast("long")
      val a = ord.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1996-03-01"))
        .select(col("o_orderkey").as("a_key"),
          days(col("o_orderdate")).as("a_lo"))
        .withColumn("a_hi", col("a_lo") + 7L)
      val b = ord.filter(col("o_orderpriority") === "5-LOW" &&
          col("o_orderdate") >= lit("1995-12-15") &&
          col("o_orderdate") < lit("1996-03-15"))
        .select(col("o_orderkey").as("b_key"),
          days(col("o_orderdate")).as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 10L)
      graft.operators.RangeJoin.intervalOverlap(
          a, col("a_lo"), col("a_hi"), b, col("b_lo"), col("b_hi"), 7L)
        .select(col("a_key"),
          (least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo"))).as("__ov"))
        .groupBy(col("a_key"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("__ov")).as("sum_overlap_days"),
          max(col("__ov")).as("max_overlap_days"))
    },
      Oracle("""WITH a AS (SELECT o_orderkey AS a_key,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS a_lo
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= '1996-01-01'
        |    AND o_orderdate < '1996-03-01'),
        |b AS (SELECT o_orderkey AS b_key,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS b_lo
        |  FROM orders WHERE o_orderpriority = '5-LOW'
        |    AND o_orderdate >= '1995-12-15'
        |    AND o_orderdate < '1996-03-15')
        |SELECT a_key, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  CAST(SUM(least(a_lo + 7, b_lo + 10)
        |    - greatest(a_lo, b_lo)) AS BIGINT) AS sum_overlap_days,
        |  CAST(MAX(least(a_lo + 7, b_lo + 10)
        |    - greatest(a_lo, b_lo)) AS BIGINT) AS max_overlap_days
        |FROM a JOIN b ON a_lo < b_lo + 10 AND b_lo < a_lo + 7
        |GROUP BY 1""".stripMargin)),
    // k-anonymity audit (the microdata-release check beside DP):
    // quasi-ids = (lang, source, log2 length bucket); one hash agg,
    // class-sized output + one-row risk summary joined as columns
    QuerySpec("kanonymity_audit", (s, d) => {
      val q = Seq(col("lang"), col("source"),
        length(bin(col("n_chars"))).cast("long").as("len_bits"))
      graft.security.KAnonymity.classes(docs(s, d), q, 5L)
    },
      Oracle("""SELECT lang, source,
        |  CAST(length(bin(n_chars)) AS BIGINT) AS len_bits,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  count(*) >= 5 AS k_anonymous
        |FROM documents GROUP BY 1, 2, 3""".stripMargin)),
    // l-diversity (Machanavajjhala et al. 2007): the homogeneity-attack
    // audit k-anonymity misses — every (lang, len_bits) class must see
    // >= 2 distinct sources
    QuerySpec("kanonymity_ldiversity", (s, d) => {
      val q = Seq(col("lang"),
        length(bin(col("n_chars"))).cast("long").as("len_bits"))
      graft.security.KAnonymity.lDiversity(docs(s, d), q, col("source"), 2L)
    },
      Oracle("""SELECT lang, CAST(length(bin(n_chars)) AS BIGINT) AS len_bits,
        |  count(*) AS class_size,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT source) >= 2 AS l_diverse
        |FROM documents GROUP BY 1, 2""".stripMargin)),
    // memorization-risk score (Lee et al. 2022 / Carlini et al. 2022):
    // per doc, the share of its 5-gram windows duplicated elsewhere +
    // the df of its most-duplicated gram — the cap/drop signal for
    // extraction-risk-aware training
    QuerySpec("text_memorization_risk", (s, d) =>
      graft.text.TextAnalysis.memorizationRisk(docs(s, d), 5),
      Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 4),
        |    i -> CAST(('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))
        |      AS BIGINT))) AS fp
        |  FROM t WHERE len(ws) >= 5),
        |d AS (SELECT fp, count(DISTINCT doc_id) AS df FROM e GROUP BY fp)
        |SELECT doc_id, count(*) AS n_windows,
        |  count(CASE WHEN df >= 2 THEN 1 END) AS n_dup_windows,
        |  CAST(max(df) AS BIGINT) AS max_df,
        |  (count(CASE WHEN df >= 2 THEN 1 END) * 10000 // count(*)) / 10000.0
        |    AS dup_share
        |FROM e JOIN d USING (fp) GROUP BY doc_id""".stripMargin)),
    // train/test split leakage: near-duplicate pairs ACROSS the hash
    // split (the contamination mode a random split creates silently);
    // banding delta(test)×corpus(train), exact-jaccard verified
    // stable 3-way split (80/10/10): per-(source, split) doc/token
    // accounting — the dataset-card table every release ships with;
    // band assignment from the same md5-60bit hash as hashSplit, so
    // growing the corpus never reassigns an existing row
    QuerySpec("split_summary", (s, d) =>
      graft.pipeline.Pipeline.hashSplit3(docs(s, d), col("doc_id"), 80, 10)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(filter(split(lower(col("text")), " "), w => w =!= ""))
            .cast("long")).as("n_tokens")),
      Oracle("""WITH sp AS (SELECT source, text,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 AS h
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split(lower(text), ' '),
        |    w -> w <> ''))) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY 1, 2""".stripMargin)),
    QuerySpec("split_leakage", (s, d) => {
      val sp = graft.pipeline.Pipeline.hashSplit(docs(s, d), col("doc_id"), 80)
      graft.dedup.Dedup.minhashLshAgainst(
          sp.filter(col("split") === "test"),
          sp.filter(col("split") === "train"), 3, 64, 32, 0.5)
        .select(col("new_id").as("test_id"),
          col("corpus_id").as("train_id"), col("jaccard"))
    },
      Oracle("""WITH sp AS (SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 100 < 80 AS is_train
        |  FROM documents),
        |w AS (SELECT doc_id, is_train, string_split(lower(text), ' ') AS ws FROM sp),
        |sh AS (SELECT DISTINCT doc_id, is_train, shingle FROM
        |  (SELECT doc_id, is_train,
        |     unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws)-1)]) AS shingle
        |   FROM w WHERE len(ws) >= 3)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |shared AS (SELECT a.doc_id AS test_id, b.doc_id AS train_id, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE NOT a.is_train AND b.is_train GROUP BY 1, 2)
        |SELECT test_id, train_id,
        |  round(shared / (sa.sz + sb.sz - shared), 4) AS jaccard
        |FROM shared JOIN sz sa ON test_id = sa.doc_id JOIN sz sb ON train_id = sb.doc_id
        |WHERE round(shared / (sa.sz + sb.sz - shared), 4) >= 0.5""".stripMargin)),
    // DoReMi-shaped mixture reweighting (Xie et al. 2023): integer
    // multiplicative weights on per-source excess proxy loss — the
    // principled replacement for hand-set mixture shares
    QuerySpec("corpus_mix_doremi", (s, d) =>
      graft.pipeline.Pipeline.doremiWeights(docs(s, d), 3, 10000L),
      Oracle("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '),
        |    w -> w <> '') AS ws FROM documents),
        |big AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
        |loss AS (SELECT d.source,
        |    CAST(SUM(length(bin(n1)) - length(bin(n2))) AS BIGINT) * 10000
        |      // count(*) AS loss_e4
        |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  JOIN documents d USING (doc_id)
        |  GROUP BY 1),
        |ex AS (SELECT source, loss_e4,
        |    loss_e4 - (SELECT MIN(loss_e4) FROM loss) AS excess_e4 FROM loss),
        |s1 AS (SELECT *, 1000000 * (10000 + 10000 * excess_e4 // 10000) // 10000 AS w FROM ex),
        |s2 AS (SELECT source, loss_e4, excess_e4,
        |    w * (10000 + 10000 * excess_e4 // 10000) // 10000 AS w FROM s1),
        |s3 AS (SELECT source, loss_e4, excess_e4,
        |    w * (10000 + 10000 * excess_e4 // 10000) // 10000 AS w FROM s2)
        |SELECT source, loss_e4, excess_e4, CAST(w AS BIGINT) AS weight,
        |  CAST(w * 1000000 // (SELECT SUM(w) FROM s3) AS BIGINT) AS share_ppm,
        |  CAST(w * 1000000 // (SELECT SUM(w) FROM s3) AS BIGINT) / 1000000.0
        |    AS mix_share
        |FROM s3""".stripMargin)),
    // t-closeness (Li et al. 2007): the skewness-attack audit — class
    // sensitive-value distribution vs the table's, exact-integer EMD
    // over the ordered len_bits grid on the 1e-4 scale
    QuerySpec("kanonymity_tcloseness", (s, d) =>
      graft.security.KAnonymity.tCloseness(docs(s, d),
        Seq(col("lang"), col("source")),
        length(bin(col("n_chars"))).cast("long"), 2000L),
      Oracle("""WITH base AS (SELECT lang, source,
        |    CAST(length(bin(n_chars)) AS BIGINT) AS sv FROM documents),
        |cells AS (SELECT lang, source, sv, count(*) AS cc FROM base GROUP BY 1, 2, 3),
        |gdist AS (SELECT sv, CAST(SUM(cc) AS BIGINT) AS gc FROM cells GROUP BY 1),
        |cls AS (SELECT lang, source, CAST(SUM(cc) AS BIGINT) AS class_size
        |  FROM cells GROUP BY 1, 2),
        |n AS (SELECT CAST(SUM(gc) AS BIGINT) AS nn FROM gdist),
        |grid AS (SELECT c.lang, c.source, c.class_size, g.sv, g.gc,
        |    COALESCE(ce.cc, 0) AS cc
        |  FROM cls c CROSS JOIN gdist g
        |  LEFT JOIN cells ce ON ce.lang = c.lang AND ce.source = c.source
        |    AND ce.sv = g.sv),
        |cum AS (SELECT lang, source, class_size, gc, cc,
        |    SUM(cc) OVER (PARTITION BY lang, source ORDER BY sv
        |      ROWS UNBOUNDED PRECEDING) AS cumC,
        |    SUM(gc) OVER (PARTITION BY lang, source ORDER BY sv
        |      ROWS UNBOUNDED PRECEDING) AS cumG,
        |    COUNT(*) OVER (PARTITION BY lang, source) AS m
        |  FROM grid),
        |emd AS (SELECT lang, source, class_size,
        |    CASE WHEN m > 1 THEN CAST(
        |      SUM(ABS(nn * cumC - class_size * cumG)) * 10000
        |        // (class_size * nn * (m - 1)) AS BIGINT)
        |    ELSE 0 END AS emd_e4
        |  FROM cum CROSS JOIN n GROUP BY lang, source, class_size, m, nn)
        |SELECT lang, source, class_size, emd_e4, emd_e4 <= 2000 AS t_close
        |FROM emd""".stripMargin)),
    QuerySpec("kanonymity_risk", (s, d) => {
      val q = Seq(col("lang"), col("source"),
        length(bin(col("n_chars"))).cast("long").as("len_bits"))
      graft.security.KAnonymity.riskSummary(docs(s, d), q, 5L)
    },
      Oracle("""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS class_size
        |  FROM documents
        |  GROUP BY lang, source, length(bin(n_chars)))
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(count(*) FILTER (WHERE class_size < 5) AS BIGINT)
        |    AS n_violating_classes,
        |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < 5), 0)
        |    AS BIGINT) AS n_rows_at_risk,
        |  CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < 5), 0)
        |    * 10000 // CAST(SUM(class_size) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS at_risk_share
        |FROM c""".stripMargin)),
    // GPT-2 regex pre-tokenization (the stage before byte-level BPE):
    // the lookahead-free decision procedure as a codegen kernel, one
    // walk + narrow explode, zero shuffle
    QuerySpec("text_pretokenize", (s, d) =>
      graft.text.TextAnalysis.pretokenize(Fixtures.pre.df(s, d)),
      Oracle(s"""WITH RECURSIVE
         |dd AS MATERIALIZED (${Fixtures.pre.sql}),
         |${pretokCtes("dd")}
         |SELECT doc_id, idx - 1 AS idx, tok AS pretoken FROM toks
         |WHERE tok IS NOT NULL""".stripMargin)),
    // the AUTHENTIC GPT-2 composition: BPE token counts over the
    // pretoken stream (contractions and leading-space units tokenize
    // separately, exactly as the real tokenizer segments them);
    // whitespace-only pretokens carry 0 trie tokens — the word-level
    // trie's documented simplification vs byte-level space encoding
    QuerySpec("text_tokens_bpe_pretok", (s, d) =>
      graft.text.TextAnalysis.pretokenize(Fixtures.pre.df(s, d))
        .withColumn("__n",
          graft.text.TextAnalysis.bpeTokenCount(col("pretoken")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pretokens"),
          sum(col("__n")).as("n_tokens_bpe")),
      Oracle(s"""WITH RECURSIVE
         |dd AS MATERIALIZED (${Fixtures.pre.sql}),
         |${pretokCtes("dd")},
         |ptk AS MATERIALIZED (SELECT doc_id, idx, tok FROM toks
         |  WHERE tok IS NOT NULL),
         |pre AS MATERIALIZED (SELECT doc_id * 1000000 + idx AS doc_id,
         |    tok AS text FROM ptk),
         |${bpeCte("pre")},
         |agg AS (SELECT CAST(doc_id // 1000000 AS BIGINT) AS doc_id,
         |    CAST(SUM(n_tokens_bpe) AS BIGINT) AS nb FROM bpe GROUP BY 1),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens
         |  FROM ptk GROUP BY 1)
         |SELECT c.doc_id, c.n_pretokens, COALESCE(a.nb, 0) AS n_tokens_bpe
         |FROM cnt c LEFT JOIN agg a USING (doc_id)""".stripMargin)),
    // the BYTE-LEVEL composition (r13 ask #3): pretokens map through the
    // GPT-2 bytes-to-unicode alphabet, then greedy-match against the
    // byte vocab (word entries + their Ġ-prefixed leading-space merges).
    // " the" is ONE token; whitespace/control runs tokenize authentically
    // (Ġ/Ċ fallback units) instead of the word path's documented 0-token
    // deviation — every byte of the corpus is accounted for.
    QuerySpec("text_tokens_bpe_bytes", (s, d) =>
      graft.text.TextAnalysis.pretokenize(Fixtures.pre.df(s, d))
        .withColumn("__n",
          graft.functions.BpeTokenizer.bpe_count_bytes(col("pretoken")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pretokens"),
          sum(col("__n")).as("n_tokens_bpe_bytes")),
      // byte-level replay: pretokens → per-codepoint UTF-8 byte expansion
      // (pure integer arithmetic) → the 256-entry GPT-2 bytes-to-unicode
      // table as a list literal → greedy longest-match over the byte vocab
      // with the same recursive step CTE the word path uses. Greedy ties
      // can't desync: among prefix-matching entries one is a prefix of the
      // other, so byte-longest ⟺ codepoint-longest.
      Oracle({
      val mapList = graft.functions.BpeTokenizer.bytesToUnicode
        .mkString("[", ", ", "]")
      val bv = graft.functions.BpeTokenizer.vocabSqlList(
        graft.functions.BpeTokenizer.byteVocab)
      s"""WITH RECURSIVE
         |dd AS MATERIALIZED (${Fixtures.pre.sql}),
         |${pretokCtes("dd")},
         |ptk AS MATERIALIZED (SELECT doc_id, idx, tok FROM toks
         |  WHERE tok IS NOT NULL),
         |bm AS MATERIALIZED (SELECT doc_id, idx,
         |  list_aggregate(list_transform(
         |    flatten(list_transform(
         |      list_transform(range(1, length(tok) + 1),
         |        j -> unicode(substr(tok, CAST(j AS INT), 1))),
         |      u -> CASE WHEN u < 128 THEN [u]
         |        WHEN u < 2048 THEN [192 + u // 64, 128 + u % 64]
         |        WHEN u < 65536 THEN [224 + u // 4096, 128 + (u // 64) % 64, 128 + u % 64]
         |        ELSE [240 + u // 262144, 128 + (u // 4096) % 64, 128 + (u // 64) % 64, 128 + u % 64] END)),
         |    b -> chr(($mapList)[CAST(b AS INT) + 1])), 'string_agg', '') AS bw
         |  FROM ptk),
         |ubw AS (SELECT DISTINCT bw FROM bm),
         |step AS (
         |  SELECT bw AS w, CAST(1 AS INTEGER) AS pos, CAST(0 AS BIGINT) AS n FROM ubw
         |  UNION ALL
         |  SELECT w, CAST(pos + GREATEST(m, 1) AS INTEGER), n + 1 FROM (
         |    SELECT w, pos, n,
         |      list_max(list_transform($bv,
         |        v -> CASE WHEN substr(w, pos, len(v)) = v THEN len(v) ELSE 0 END)) AS m
         |    FROM step WHERE pos <= len(w)) s),
         |wt AS (SELECT w, max(n) AS toks FROM step GROUP BY w)
         |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
         |  CAST(sum(wt.toks) AS BIGINT) AS n_tokens_bpe_bytes
         |FROM bm b JOIN wt ON wt.w = b.bw GROUP BY 1""".stripMargin
    })),
    // invisible-char sanitization (Trojan Source / dedup evasion):
    // zero-width + bidi-control counts and the stripped text, one
    // regexp pass per class, zero shuffle
    QuerySpec("text_sanitize_invisible", (s, d) =>
      graft.text.TextAnalysis.sanitizeInvisible(Fixtures.invis.df(s, d)),
      Oracle(s"""WITH dd AS MATERIALIZED (${Fixtures.invis.sql})
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[\\x{200B}-\\x{200F}\\x{2060}-\\x{2064}\\x{FEFF}]'))
         |    AS BIGINT) AS n_zero_width,
         |  CAST(len(regexp_extract_all(text,
         |    '[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]'))
         |    AS BIGINT) AS n_bidi_controls,
         |  regexp_replace(regexp_replace(text,
         |    '[\\x{200B}-\\x{200F}\\x{2060}-\\x{2064}\\x{FEFF}]',
         |    '', 'g'),
         |    '[\\x{202A}-\\x{202E}\\x{2066}-\\x{2069}]', '', 'g')
         |    AS text_clean
         |FROM dd""".stripMargin)),
    // IBAN detection with the real mod-97 checksum (the Luhn posture
    // for bank accounts): one regexp scan, fold only over candidates
    QuerySpec("pii_iban", (s, d) =>
      graft.text.TextAnalysis.piiIban(Fixtures.iban.df(s, d)),
      Oracle(s"""WITH dd AS MATERIALIZED (${Fixtures.iban.sql})
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}')) AS BIGINT)
         |    AS n_iban_candidates,
         |  CAST(len(list_filter(regexp_extract_all(text,
         |    '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}'),
         |    c -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, length(c)), j ->
         |        CASE WHEN ascii(substr(
         |            c || substr(c, 1, 4), CAST(j + 4 AS INT), 1)) >= 65
         |          THEN CAST(100000 + ascii(substr(c || substr(c, 1, 4),
         |            CAST(j + 4 AS INT), 1)) - 55 AS BIGINT)
         |          ELSE CAST(10000 + ascii(substr(c || substr(c, 1, 4),
         |            CAST(j + 4 AS INT), 1)) - 48 AS BIGINT) END)),
         |      (acc, e) -> (acc * CASE WHEN e >= 100000 THEN 100 ELSE 10
         |        END + e % 10000) % 97) = 1)) AS BIGINT) AS n_iban_valid
         |FROM dd""".stripMargin)),
    // sentence-aligned chunking (RAG splitter): fixed-budget
    // cumulative rule, boundaries only between sentences; per-doc
    // windows, no global sort
    QuerySpec("chunk_sentences", (s, d) =>
      graft.text.TextAnalysis.chunkSentences(Fixtures.sent.df(s, d)),
      Oracle(s"""WITH dd AS MATERIALIZED (${Fixtures.sent.sql}),
         |t AS (SELECT doc_id, list_filter(string_split(text, '. '),
         |    x -> x <> '') AS ss FROM dd),
         |s AS (SELECT doc_id, j, ss[CAST(j AS INTEGER)] AS sent,
         |    CAST(len(list_filter(string_split(
         |      lower(ss[CAST(j AS INTEGER)]), ' '), w -> w <> ''))
         |      AS BIGINT) AS n_toks
         |  FROM t, UNNEST(generate_series(1, len(ss))) AS tt(j)),
         |c AS (SELECT doc_id, j, sent, n_toks,
         |    (CAST(SUM(n_toks) OVER (PARTITION BY doc_id ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_toks) // 64 AS chunk_id
         |  FROM s WHERE n_toks > 0)
         |SELECT doc_id, chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  string_agg(sent, '. ' ORDER BY j) AS chunk_text
         |FROM c GROUP BY 1, 2""".stripMargin)),
    // the FULL Gopher repetition table (Rae et al. Table A1): top
    // 2/3/4-gram char fraction + duplicated 5..10-gram char coverage,
    // paper thresholds on the exact grid; one count shuffle total
    QuerySpec("text_rep_gopher", (s, d) =>
      graft.text.TextAnalysis.gopherRepetition(Fixtures.rep.df(s, d)),
      Oracle(gopherRepSql)),
    // mojibake detect+repair (the ftfy CP1252 double-encoding fix):
    // one codegen walk per row, zero shuffle; conservative no-touch
    // on anything not strictly-valid reinterpreted UTF-8
    QuerySpec("text_mojibake", (s, d) =>
      graft.text.TextAnalysis.mojibakeRepair(Fixtures.moji.df(s, d)),
      Oracle(mojibakeSql)),
    // multi-turn chat loss masks (train-on-assistant-turns): the
    // running-role fold is a codegen kernel, every count a codegen
    // builtin; zero shuffle; marker-free corpus docs flow through as
    // all-zero masks
    QuerySpec("chat_loss_mask", (s, d) =>
      graft.text.TextAnalysis.chatLossMask(Fixtures.chat.df(s, d)),
      Oracle(s"""WITH dd AS MATERIALIZED (${Fixtures.chat.sql}),
         |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    w -> w <> '') AS ws FROM dd),
         |e AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n, ws,
         |    unnest(generate_series(1, len(ws))) AS j
         |  FROM t WHERE len(ws) > 0),
         |m AS (SELECT doc_id, n, j,
         |    CASE WHEN ws[CAST(j AS INTEGER)] = '<user>' THEN 0
         |         WHEN ws[CAST(j AS INTEGER)] = '<assistant>' THEN 1
         |    END AS marker FROM e),
         |r AS (SELECT doc_id, n, j, marker,
         |    COALESCE(last_value(marker IGNORE NULLS) OVER (
         |      PARTITION BY doc_id ORDER BY j
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
         |      AS role FROM m)
         |SELECT doc_id, max(n) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE marker IS NOT NULL) AS BIGINT)
         |    AS n_turns,
         |  CAST(count(*) FILTER (WHERE marker = 1) AS BIGINT)
         |    AS n_assistant_turns,
         |  COALESCE(bool_or(marker = 1), false) AS has_dialog,
         |  CAST(count(*) FILTER (WHERE marker IS NULL AND role = 1)
         |    AS BIGINT) AS n_train_tokens,
         |  string_agg(CASE WHEN marker IS NULL AND role = 1
         |    THEN '1' ELSE '0' END, '' ORDER BY j) AS loss_mask
         |FROM r GROUP BY doc_id""".stripMargin)),
    // DPO preference-pair election (UltraFeedback binarization):
    // completions grouped by exact prompt, scored on the 1e-4
    // diversity grid, chosen/rejected elected by struct min/max
    // aggregates — map-side partials, no window; tie rules and
    // zero-margin drops pinned by the planted groups
    QuerySpec("dpo_pairs", (s, d) =>
      graft.pipeline.Pipeline.dpoPairs(Fixtures.dpo.df(s, d)),
      Oracle(s"""WITH dd AS MATERIALIZED (${Fixtures.dpo.sql}),
         |t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
         |    w -> w <> '') AS ws FROM dd),
         |b AS (SELECT doc_id, ws,
         |    nullif(list_position(ws, '###'), 0) AS sep_idx FROM t),
         |c AS (SELECT doc_id,
         |    COALESCE(array_to_string(ws[1:CAST(sep_idx - 1 AS INTEGER)],
         |      ' '), '') AS prompt,
         |    ws[CAST(sep_idx + 1 AS INTEGER):len(ws)] AS comp
         |  FROM b WHERE sep_idx IS NOT NULL),
         |s AS (SELECT doc_id, prompt, CAST(len(comp) AS BIGINT) AS n_comp,
         |    10000 * CAST(len(list_distinct(comp)) AS BIGINT) // len(comp)
         |      AS score
         |  FROM c WHERE len(comp) > 0),
         |ch AS (SELECT prompt, doc_id AS chosen_id, score AS chosen_score,
         |    row_number() OVER (PARTITION BY prompt
         |      ORDER BY score DESC, doc_id ASC) AS rn FROM s),
         |rj AS (SELECT prompt, doc_id AS rejected_id,
         |    score AS rejected_score,
         |    row_number() OVER (PARTITION BY prompt
         |      ORDER BY score ASC, doc_id DESC) AS rn FROM s),
         |g AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM s GROUP BY prompt)
         |SELECT g.prompt, g.n_candidates, ch.chosen_id, ch.chosen_score,
         |  rj.rejected_id, rj.rejected_score,
         |  ch.chosen_score - rj.rejected_score AS margin
         |FROM g JOIN ch ON ch.prompt = g.prompt AND ch.rn = 1
         |JOIN rj ON rj.prompt = g.prompt AND rj.rn = 1
         |WHERE g.n_candidates >= 2
         |  AND ch.chosen_score > rj.rejected_score""".stripMargin)),
    QuerySpec("text_fingerprint", (s, d) => graft.text.TextAnalysis.fingerprints(docs(s, d)),
      Oracle("""SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
        |FROM documents""".stripMargin)),
    QuerySpec("text_rolling_fp", (s, d) => graft.text.TextAnalysis.rollingFingerprints(docs(s, d)),
      Oracle("""SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(lower(text), ' '),
        |      w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT))),
        |  (acc, x) -> (acc * 1000003 + x) % 2147483647) AS rhash
        |FROM documents""".stripMargin)),
    // winnowing (MOSS) fingerprint candidate pairs: window-min selected
    // gram hashes (density ≈ 2/(w+1)) with the w+k−1 shared-run
    // guarantee; md5-60bit gram hashes make the SELECTION itself
    // replayable in SQL — fingerprint values are oracled, not just
    // their artifacts; hot boilerplate prints df-cut before the join
    QuerySpec("text_winnow_pairs", (s, d) =>
      graft.text.TextAnalysis.winnowPairs(docs(s, d)),
      Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
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
    // span-LEVEL exact-substring dedup (Lee et al. 2022 with offsets):
    // one row per maximal duplicated ≥5-token run per doc, boundaries
    // in token coordinates — the md5-60bit gram key replays the whole
    // selection (offsets included) in SQL
    QuerySpec("text_dup_spans", (s, d) =>
      graft.text.TextAnalysis.dupSpans(docs(s, d), 5),
      Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
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
    // tiered maximal-span certification (w, 2w, 4w window hashes): each
    // merged span stamped with the largest tier whose windows DENSELY
    // cover it — a true ≥20-token verbatim duplicate certifies at 20,
    // a chimera of distinct overlapping 5-gram matches stays at 5/0;
    // the full certificate replays in SQL via the md5-60bit grams
    QuerySpec("text_dup_spans_maximal", (s, d) =>
      graft.text.TextAnalysis.dupSpansMaximal(docs(s, d), 5),
      // spans identical to text_dup_spans; certified_tier from dense
      // coverage counts at widths 5/10/20 (expected count in [s, e-t+1]
      // is e-s-t+2; coverage at a longer width implies the shorter ones)
      Oracle("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sall AS (
        |  SELECT doc_id, u.p AS p, u.fp AS fp, width FROM (
        |    SELECT doc_id, width, unnest(list_transform(
        |      generate_series(1, len(ws) - width + 1),
        |      i -> {'p': i, 'fp': CAST(('0x' || substr(md5(
        |        array_to_string(ws[i:i+width-1], ' ')), 1, 15)) AS BIGINT)})) AS u
        |    FROM t CROSS JOIN (VALUES (5), (10), (20)) AS v(width)
        |    WHERE len(ws) >= width)),
        |dups AS (SELECT width, fp FROM sall GROUP BY width, fp
        |  HAVING count(DISTINCT doc_id) >= 2),
        |s AS (SELECT doc_id, p, width FROM sall JOIN dups USING (width, fp)),
        |m AS (SELECT doc_id, p, CASE WHEN p - COALESCE(lag(p) OVER
        |    (PARTITION BY doc_id ORDER BY p), -1000000) > 5 THEN 1 ELSE 0 END AS brk
        |  FROM s WHERE width = 5),
        |isl AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS island FROM m),
        |sp AS (SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
        |    CAST(MAX(p) + 4 AS BIGINT) AS span_end
        |  FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT sp.doc_id, sp.span_start, sp.span_end, w.width,
        |    COALESCE(c.nc, 0) AS nc
        |  FROM sp CROSS JOIN (VALUES (5), (10), (20)) AS w(width)
        |  LEFT JOIN (
        |    SELECT sp2.doc_id, sp2.span_start, sp2.span_end, s.width,
        |      count(*) AS nc
        |    FROM sp sp2 JOIN s ON s.doc_id = sp2.doc_id
        |      AND s.p BETWEEN sp2.span_start AND sp2.span_end - s.width + 1
        |    GROUP BY 1, 2, 3, 4) c
        |  ON c.doc_id = sp.doc_id AND c.span_start = sp.span_start
        |    AND c.span_end = sp.span_end AND c.width = w.width),
        |cert AS (SELECT doc_id, span_start, span_end,
        |    MAX(CASE WHEN span_end - span_start + 1 >= width
        |      AND nc = span_end - span_start - width + 2
        |      THEN width ELSE 0 END) AS certified_tier
        |  FROM cov GROUP BY 1, 2, 3)
        |SELECT sp.doc_id, sp.span_start, sp.span_end,
        |  sp.span_end - sp.span_start + 1 AS n_span_tokens,
        |  CAST(cert.certified_tier AS BIGINT) AS certified_tier,
        |  array_to_string(ws[CAST(sp.span_start AS INT):CAST(sp.span_end AS INT)], ' ')
        |    AS span_text
        |FROM sp JOIN cert USING (doc_id, span_start, span_end)
        |JOIN t USING (doc_id)""".stripMargin)),
    // RAG/context-window prep: 128-char chunks every 64 chars — one
    // narrow explode, no shuffle, partitioning inherited from the scan
    QuerySpec("text_chunks", (s, d) => graft.text.TextAnalysis.chunk(docs(s, d), 128, 64),
      Oracle("""SELECT doc_id, CAST((start - 1) // 64 AS INT) AS chunk_idx,
        |  CAST(start AS INT) AS chunk_start,
        |  substring(text, CAST(start AS INT), 128) AS chunk_text,
        |  CAST(length(substring(text, CAST(start AS INT), 128)) AS INT) AS chunk_len
        |FROM (SELECT doc_id, text, unnest(generate_series(1, length(text), 64)) AS start
        |  FROM documents WHERE length(text) > 0)""".stripMargin)),
    // code-data quality gate (The Stack/StarCoder filters): line-length
    // bounds, alnum fraction, comment share, autogen marker — all on
    // the exact 1e-4 grid, zero shuffle
    QuerySpec("code_quality_rules", (s, d) =>
      graft.text.TextAnalysis.codeQualityRules(Fixtures.code.df(s, d)),
      Oracle(s"""WITH dc AS MATERIALIZED (${Fixtures.code.sql}),
         |t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM dc),
         |m AS (SELECT doc_id,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(list_max(list_transform(ls, l -> length(l))) AS BIGINT)
         |      AS max_line_len,
         |    CAST((length(text) - len(ls) + 1) * 10000 // len(ls) AS DOUBLE)
         |      / CAST(10000 AS DOUBLE) AS mean_line_len,
         |    CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) * 10000
         |      // greatest(length(text), 1) AS DOUBLE) / CAST(10000 AS DOUBLE)
         |      AS alnum_frac,
         |    CAST(len(list_filter(ls, l -> left(trim(l), 1) = '#'
         |      OR left(trim(l), 2) = '//')) * 10000 // len(ls) AS DOUBLE)
         |      / CAST(10000 AS DOUBLE) AS comment_share,
         |    (contains(lower(array_to_string(ls[1:5], chr(10))), 'auto-generated')
         |      OR contains(lower(array_to_string(ls[1:5], chr(10))), 'do not edit'))
         |      AS has_autogen
         |  FROM t)
         |SELECT *, max_line_len <= 120 AND mean_line_len <= 60.0
         |  AND alnum_frac >= 0.25 AND comment_share <= 0.8
         |  AND NOT has_autogen AS passes FROM m""".stripMargin)),
    // ROUGE-L instruction-pool dedup (the Self-Instruct/Alpaca
    // admission filter): max 2·LCS/(n+m) vs a broadcast pool on the
    // exact 1e-4 grid, θ=0.7 verdict; candidates capped at 24 tokens
    // (instructions are short; the cap bounds the oracle's DP width).
    // The codegen LCS kernel runs per (candidate × pool) pair — one
    // corpus scan, no shuffle beyond the per-doc argmax agg.
    QuerySpec("text_rouge_dedup", (s, d) =>
      graft.text.TextAnalysis.rougeDedup(Fixtures.inst.df(s, d), Fixtures.instPool, 24),
      Oracle(rougeSql(Fixtures.instPool, 24, 7000L))),
    // fastText-style linear quality model over a literal vocab: weights
    // are exact dyadic rationals so the fold is bit-identical on any
    // engine (no float-association or libm divergence in the gate)
    QuerySpec("quality_model_score", (s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextAnalysis.modelScore(col("text"),
          modelVocab, -1.0).as("raw_score")),
      Oracle(s"""SELECT doc_id, -1.0 + coalesce(list_sum(
         |  [${modelVocabSqlCase("x")} for x in string_split(lower(text), ' ')]),
         |  0.0) AS raw_score
         |FROM documents""".stripMargin)),
    // exact substring-duplication signal (Lee et al. 2022 shape):
    // positional 5-token windows hashed corpus-wide; per-doc dup fraction
    QuerySpec("dup_passages", (s, d) => graft.text.TextAnalysis.dupPassages(docs(s, d), 5),
      Oracle("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws)-3)]) AS gram
        |  FROM w WHERE len(ws) >= 5),
        |nd AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY 1) WHERE c >= 2),
        |per AS (SELECT doc_id, count(*) AS n FROM g JOIN nd USING (gram) GROUP BY 1)
        |SELECT w.doc_id, CAST(len(ws) - 4 AS BIGINT) AS n_windows,
        |  coalesce(per.n, 0) AS n_dup_windows,
        |  CAST(coalesce(per.n, 0) * 10000 // (len(ws) - 4) AS DOUBLE) / CAST(10000 AS DOUBLE) AS dup_frac
        |FROM w LEFT JOIN per USING (doc_id) WHERE len(ws) >= 5""".stripMargin)),
    // C4-style rule cleaning at sentence granularity (row-local)
    QuerySpec("sentence_filter", (s, d) =>
      docs(s, d).select(col("doc_id"),
        graft.text.TextAnalysis.sentenceFilter(col("text"), 4).as("clean")),
      Oracle("""SELECT doc_id, array_to_string(
        |  [s for s in string_split(text, '. ') if len(string_split(s, ' ')) >= 4 AND len(s) > 0],
        |  '. ') AS clean
        |FROM documents""".stripMargin)),
    // per-source top-5 TF-IDF terms, ranked through the GroupTopK
    // custom plan (bounded heaps below the exchange)
    QuerySpec("tfidf_topterms", (s, d) => graft.text.TextAnalysis.tfidfTopTerms(docs(s, d), 5),
      Oracle("""WITH tok AS (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.source, tf.token, tf.tf, dfq.df,
        |    floor(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df) * 10000) / 10000 AS tfidf
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n)
        |SELECT source, token, tf, df, tfidf, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY tfidf DESC, token) AS INT) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin))
  )
}
