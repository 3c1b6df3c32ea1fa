package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication: exact, n-gram Jaccard, and
  * MinHash-LSH. Parity-plus over the reference (hillview has no dedup
  * operators); designed as the training-data-pipeline layer.
  *
  * Scale posture (100 TB): every path below is join/aggregate shaped —
  * no driver-side loops, no O(n²) crossJoin. The pairwise similarity is
  * computed through an inverted shingle index (join on shingle), which is
  * the standard way to keep near-dup mining linear-ish in corpus size;
  * MinHash-LSH then cuts the candidate space further so the verify join
  * touches only banded collisions. Hot shingles (stopword-ish) are the
  * skew risk — AQE skew-join handles moderate skew, and `maxShingleDocs`
  * drops degenerate ubiquitous shingles (standard df-cut) for the rest.
  *
  * UTF-8 unit contract: shingles are WORD n-grams (space-split), so the
  * comparison unit is the whole word string — identical under UTF-16
  * (Spark) and UTF-8 (DuckDB oracle) views of the text; edit distance is
  * per CODEPOINT (Spark's levenshtein), so a CJK substitution costs one
  * edit, not three (the oracle byte-matches it through an injective
  * codepoint→ascii translate). Oracled end-to-end on mixed-script
  * corpora via the `*_ml` query twins.
  */
object Dedup {

  /** Exact duplicate groups by content hash (hash-groupBy dedup).
    * One shuffle on a 128-bit hash; output is one row per distinct text.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle set, lowercased, one row per distinct
    * (doc_id, shingle).
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    // Materialize the token array once per row first: expressions inside
    // lambda functions are not common-subexpression-eliminated, so
    // referencing split(...) directly in the transform would re-tokenize
    // the document once per shingle (~10× slower at corpus scale).
    val words = col("__words")
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("__words"))
      .filter(size(words) >= n)
      .select(
        col("doc_id"),
        // index-lambda + concat_ws of direct element lookups: ~4× faster
        // than array_join(slice(...)) (no per-shingle sub-array alloc);
        // the when() guard keeps ANSI element_at in bounds (lazy branch)
        explode(
          transform(words, (w, i) => {
            val parts = w +: (1 until n).map(j => element_at(words, i + lit(j + 1)))
            when(i <= size(words) - n, concat_ws(" ", parts: _*))
          })).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()
  }

  /** Exact n-gram Jaccard near-duplicate pairs via inverted shingle
    * index: join on shingle → shared counts → |A∩B|/(|A|+|B|−|A∩B|).
    * `maxShingleDocs` drops shingles occurring in more than that many
    * docs (they can't discriminate and explode the join).
    */
  /** CONTAINMENT pairs (Broder's asymmetric resemblance): the
    * quote-inclusion / excerpt case symmetric Jaccard misses — a short
    * doc fully contained in a long one has tiny Jaccard (|A∩B|/|A∪B|)
    * but containment |A∩B|/|A| ≈ 1. Same inverted-index shape as
    * [[jaccardPairs]] (row-local shingle sets, df-cut, one self-join,
    * one pair groupBy); both directions on the exact 1e-4 grid,
    * emitted when either reaches `thetaE4`. */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      thetaE4: Long = 9000L, maxShingleDocs: Long = 1000000L): DataFrame = {
    val sets = docs
      .select(col("doc_id"),
        graft.functions.MinHashExpression.shingle_set(
          split(lower(col("text")), " "), n).as("shs"))
      .filter(size(col("shs")) > 0)
    val sh0 = sets.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("shingle"))
    val sh =
      if (maxShingleDocs == Long.MaxValue) sh0
      else {
        val hot = sh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDocs)
          .select(col("shingle"))
        sh0.join(hot, Seq("shingle"), "left_anti")
      }
    val f4 = graft.text.TextAnalysis.frac4 _
    sh.as("a").hint("shuffle_merge")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.sz")).as("sza"), min(col("b.sz")).as("szb"))
      .select(col("id_a"), col("id_b"), col("shared"),
        f4(col("shared"), col("sza")).as("cont_a"),
        f4(col("shared"), col("szb")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >=
        lit(thetaE4 / 10000.0))
  }

  def jaccardPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxShingleDocs: Long = 1000000L): DataFrame = {
    // Per-doc distinct shingle set built ROW-LOCALLY (ShingleHashSet —
    // dedup + size computed inside one narrow map), then exploded with
    // the size carried on every index row. Compared to the explode →
    // distinct → window formulation this removes two shuffles (the
    // (doc,shingle) distinct and the doc_id window); the only remaining
    // exchanges are the inverted-index self-join on shingle and the
    // pair groupBy — the irreducible ones.
    val sets = docs
      .select(col("doc_id"),
        graft.functions.MinHashExpression.shingle_set(
          split(lower(col("text")), " "), n).as("shs"))
      .filter(size(col("shs")) > 0)
    val sh0 = sets.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("shingle"))
    // optional df-cut of ubiquitous shingles (skew guard). NOT a window
    // over the shingle key: a ubiquitous shingle ("of the") is exactly
    // the key whose partition won't fit one task — the rows the cut
    // exists to drop would all land in a single window partition. A
    // groupBy fully map-side-combines and the anti-join removes the hot
    // keys with no skewed shuffle. The broadcast decision is left to
    // AQE on purpose: the hot list is tiny for sane thresholds (its
    // size is bounded by N/maxShingleDocs) and AQE broadcasts it
    // post-shuffle, but a FORCED broadcast() would bypass the size
    // check and OOM the driver if a caller passes a tiny threshold
    // over a huge corpus (N/T keys is unbounded in general).
    val sh =
      if (maxShingleDocs == Long.MaxValue) sh0
      else {
        val hot = sh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDocs)
          .select(col("shingle"))
        sh0.join(hot, Seq("shingle"), "left_anti")
      }
    sh.as("a").hint("shuffle_merge")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.sz")).as("sza"), min(col("b.sz")).as("szb"))
      .select(
        col("id_a"), col("id_b"),
        round(col("shared") / (col("sza") + col("szb") - col("shared")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy-dedup exact verify via edit distance: candidate pairs come
    * from an inverted index on positional `w`-token window hashes (a
    * pair is a candidate iff it shares at least one full window — the
    * same banding discipline as the MinHash/SimHash paths: never
    * all-pairs), then each candidate is verified with the exact
    * Levenshtein distance, keeping pairs within `maxDist`.
    *
    * Scale shape: ONE exchange builds the inverted index as posting
    * lists — `groupByKey(window hash)` with a bounded collector
    * ([[graft.functions.BoundedCollect.PostingsAgg]]) that stops
    * growing at `maxWindowDocs + 1` entries, so a boilerplate window
    * shared by millions of docs costs O(cap) state, not O(df), and is
    * dropped in the same shuffle (a window shared by > cap docs can't
    * discriminate — it would contribute df² candidate pairs while any
    * true near-dup pair it witnesses is also witnessed by the pair's
    * rarer windows; same df-cut semantics as `jaccardPairs`'
    * maxShingleDocs, but single-pass instead of count → hot-list →
    * anti-join). Candidate pairs are then generated ROW-LOCALLY from
    * each ≤cap posting list, length-prefiltered (|len_a − len_b| >
    * maxDist already implies distance > maxDist) before the distinct-
    * pair exchange. The quadratic-cost Levenshtein runs once per
    * surviving pair, using Spark's band-limited threshold form
    * (O(len·maxDist), −1 past the bound) so a giant non-dup candidate
    * can't cost len² work.
    */
  def editDistancePairs(docs: DataFrame, w: Int = 5, maxDist: Int = 64,
      maxWindowDocs: Int = 10000): DataFrame = {
    val ws0 = split(lower(col("text")), " ")
    // the token array MUST be projected to an attribute before the
    // window lambda: lambda bodies get no common-subexpression
    // elimination, so `slice(split(...), i, w)` re-splits the whole
    // text once per window — O(L²) per doc, measured 4× on this stage
    val pre = docs.filter(size(ws0) >= w)
      .select(col("doc_id"), ws0.as("__ws"),
        length(lower(col("text"))).cast("int").as("len"))
    val ws = col("__ws")
    // the window hash never leaves the engine (the oracle regenerates
    // candidates from gram strings), so the cheapest 64-bit hash wins:
    // one codegen pass hashing each token once and folding every
    // w-window positionally (TokenWindowHashes) — the interpreted
    // slice+xxhash64 lambda before it allocated a sub-array per window
    // and re-hashed each token w times (0.70 s of the 1.95 s query at
    // sf0.1)
    val windows =
      graft.functions.VectorExpressions.token_window_hashes(ws, w)
    // within-doc dedup is row-local (array_distinct BEFORE the explode)
    // — a .distinct() after the explode would shuffle every (doc, hash)
    // row just to drop within-doc repeats. The lowercase length rides
    // along so the prefilter needs no join back to the text.
    val idx = pre
      .select(col("doc_id"), explode(array_distinct(windows)).as("ghash"),
        col("len"))
    val postings = idx
      .groupBy(col("ghash"))
      .agg(graft.functions.BoundedCollect
        .boundedPostings(col("doc_id"), col("len"), maxWindowDocs).as("ds"))
      .filter(size(col("ds")).between(2, maxWindowDocs))
    // The posting lists arrive (len, doc_id)-sorted from the collector,
    // so the length prefilter runs BEFORE pair materialization: in the
    // sorted suffix y.len ≥ x.len, so the bound is a one-sided check
    // and a far-length pair never becomes a struct, an exploded row, or
    // a shuffle row (the r6 shape emitted every pair and length-filtered
    // after the explode — at heavy duplication most emitted pairs died
    // in that filter). r16: the pair generation is the PostingPairs
    // codegen-free compiled kernel — one primitive walk per list with an
    // early break on the sorted length bound — replacing an interpreted
    // flatten/transform/filter/slice lambda forest (higher-order array
    // functions are CodegenFallback: ~0.5 s of task CPU at sf0.1, and a
    // per-anchor sub-array allocation). Emitted pairs are IDENTICAL (in
    // the same order), so the oracle is unchanged.
    val ds = col("ds")
    val pairsCol = graft.functions.BoundedCollect.postingPairs(ds, maxDist)
    val pairs = postings
      .select(explode(pairsCol).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // Fetch candidate texts with ONE corpus scan: explode each pair
    // into its two member ids, join the corpus text once (AQE
    // broadcasts the small exploded side; at a genuinely huge pair
    // count it degrades to a shuffle join, which is then correct), and
    // regroup by pair — only the involved texts shuffle. The r6 tail
    // joined pairs→corpus→corpus, i.e. two full text scans for a
    // candidate set thousands of times smaller (measured ~2× the whole
    // verify stage at the ×20 probe); a semi-join + localCheckpoint
    // variant was A/B'd and its barrier jobs cost ~0.4 s at sf0.1.
    val sides = pairs.select(col("id_a"), col("id_b"),
        posexplode(array(col("id_a"), col("id_b"))).as(Seq("side", "doc_id")))
      .join(docs.select(col("doc_id"), lower(col("text")).as("__t")), "doc_id")
    sides
      // The per-pair regroup exchange carries ~2 text rows per pair —
      // small BYTES — while the stage after it runs the quadratic-CPU
      // banded Levenshtein, so AQE's byte-based coalescing funnels the
      // whole verify onto ONE task (measured at sf0.1: 0.63 s serial of
      // a 1.38 s query; at corpus scale the same heuristic packs ~2 M
      // pairs of Levenshtein behind one 64 MB advisory partition). An
      // EXPLICIT repartition on the pair keys (user-specified counts
      // are exempt from coalescing) replaces the planner's exchange —
      // the groupBy's required clustering is then already satisfied, so
      // the exchange count is unchanged and the verify runs spread.
      // Rows and results are identical — this only places them.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        max(when(col("side") === 0, col("__t"))).as("__ta"),
        max(when(col("side") === 1, col("__t"))).as("__tb"))
      // single-evaluation verify: `withColumn + filter` lets Catalyst
      // inline the alias into the Filter condition, so the Levenshtein
      // kernel ran TWICE per surviving row (once in the Filter, once in
      // the Project — no cross-operator subexpression elimination). The
      // 1-element explode(filter(array(...))) computes it exactly once
      // per pair and drops the -1 (past-the-band) rows in the same
      // Generate; output rows are identical. The equality fast path
      // matters on real near-dup corpora: candidate pairs are OFTEN
      // byte-identical texts (that is what duplication looks like), and
      // an equality memcmp is ~100× cheaper than the O(len·band) DP it
      // replaces — levenshtein(x, x) = 0 exactly, so results cannot
      // move.
      .select(col("id_a"), col("id_b"),
        explode(filter(
          array(when(col("__ta") === col("__tb"), lit(0L))
            .otherwise(levenshtein(col("__ta"), col("__tb"), maxDist)
              .cast("long"))),
          d => d >= 0L)).as("edit_dist"))
  }

  /** (band, key) explosion of an array signature — the shared banding
    * step of the self-join and cross-corpus LSH variants. 8-byte hashed
    * band keys (cheaper shuffle and comparison than the signature
    * slice); false candidates from 64-bit collisions are removed by
    * exact verification.
    */
  private def bandExplode(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      xxhash64((lit(b) +:
        (b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1))): _*)
    }
    sig.select(
      col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "key")))
  }

  /** LSH banding over array signatures (one row per doc, signature from
    * the MinHashSig expression): explode to (band, key) and self-join.
    */
  def lshCandidatePairsFromSig(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    // no cache: banded is a narrow map over the scan, so the self-join's
    // sides are identical subplans — the exchange materializes once and
    // the other side reads it back (ReusedExchange), cache-free
    val banded = bandExplode(sig, k, bands)
    // Shuffle-join hint: post-explode row count is bands× the planner's
    // pre-explode estimate, so Catalyst may wrongly broadcast-build an
    // exploded corpus-scale side; the equal-sided shuffle join is the
    // only strategy that survives any corpus size. shuffle_merge over
    // shuffle_hash deliberately: A/B at sf0.1 shows no wall-clock
    // difference, and sort-merge spills where a hash build (whose
    // per-partition size is corpus×bands/P) can only grow.
    banded.as("a").hint("shuffle_merge")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH dedup: candidates from banding, then *exact*
    * Jaccard verification restricted to candidate pairs (the reference
    * pattern for heavy hitters too: sketch pass + exact verify pass).
    * Verification makes precision exact; recall is the banding's
    * candidate recall 1-(1-j^rows)^bands. The k=64/bands=32 defaults put
    * the miss probability at the j=0.5 threshold at (1-0.5²)³² ≈ 1e-4
    * per pair (and falling fast above it) — effectively 1, but pairs AT
    * the threshold are still probabilistic, not guaranteed, which is why
    * the k=16/bands=8 defaults (miss ≈ 0.10 at j=0.5) were unsafe
    * against an exact-Jaccard oracle.
    */
  def minhashLshPairs(
      docs: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.5): DataFrame =
    // Signature build is a narrow map (MinHashSig expression) — no
    // shingle explode, no shuffle; the corpus is touched once.
    minhashLshPairsFromSigs(docs, sigFrame(docs, n, k), n, k, bands, threshold)

  /** The (doc_id, sig) MinHash signature frame of a documents table —
    * the narrow map every LSH path starts from, and the per-shard
    * dataset the folded artifact PERSISTS (so a fold never recomputes
    * corpus signatures from text).
    */
  def sigFrame(docs: DataFrame, n: Int = 3, k: Int = 64): DataFrame = {
    val words = split(lower(col("text")), " ")
    docs.select(col("doc_id"),
        graft.functions.MinHashExpression.minhash_sig(words, n, k).as("sig"))
      .filter(size(col("sig")) > 0)
  }

  /** [[minhashLshPairs]] over a PRECOMPUTED signature frame (stored or
    * freshly mapped — bit-identical either way, the expression is
    * deterministic); `docs` is touched only for the candidate-restricted
    * exact verify.
    */
  def minhashLshPairsFromSigs(docs: DataFrame, sig: DataFrame,
      n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    // materialize once: the pair list is consumed three times (two
    // semi-join sides and the verify join) — without it the band
    // self-join re-runs per consumer. Lazy localCheckpoint over cache()
    // so repeated calls (benchmarks, per-batch jobs) can't accrete
    // CacheManager entries: RDD blocks are ContextCleaner-freed once the
    // returned plan is garbage-collected (same reasoning as
    // minhashLshAgainst).
    val cand = lshCandidatePairsFromSig(sig, k, bands)
      .localCheckpoint(eager = false)
    verifyPairs(docs, cand, n, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair list — the shared
    * tail of every LSH mining path. Re-shingles ONLY docs that appear
    * in a banded candidate pair (typically a small fraction of the
    * corpus); no distinct on the id list — the semi-join dedups, and
    * skipping it saves a shuffle. Per-doc sorted distinct shingle-hash
    * ARRAYs are built row-locally (one narrow map — no shingle explode,
    * no distinct shuffle, no sizes window); exact Jaccard is then a
    * sorted-merge intersect on the two arrays. Join strategy is left to
    * AQE: with few candidates it broadcasts at runtime; with
    * corpus-scale candidate sets (where a forced broadcast would OOM
    * the driver) it shuffles — both correct, picked from actual sizes.
    * `cand` must already be materialized (checkpoint/cache) — it is
    * consumed three times here.
    */
  private def verifyPairs(docs: DataFrame, cand: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
    val shs = docs.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.MinHashExpression.shingle_set(
          split(lower(col("text")), " "), n).as("shs"))
      .filter(size(col("shs")) > 0)
      // consumed twice (a-side and b-side of the verify join); lazy
      // localCheckpoint for the same cleaner-managed lifetime as cand
      .localCheckpoint(eager = false)
    cand
      .join(shs.as("a"), col("id_a") === col("a.doc_id"))
      .join(shs.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        // sorted-merge intersect (ShingleHashSet arrays are sorted sets)
        // — allocation-free vs array_intersect's per-pair hash build
        graft.functions.MinHashExpression.sorted_intersect_size(
          col("a.shs"), col("b.shs")).as("shared"),
        size(col("a.shs")).as("sza"), size(col("b.shs")).as("szb"))
      .select(
        col("id_a"), col("id_b"),
        round(col("shared") / (col("sza") + col("szb") - col("shared")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental cross-corpus dedup: which NEW documents near-duplicate
    * something already in the training corpus — the ingestion gate of a
    * data pipeline (dedup the delta against 100 TB of existing data
    * WITHOUT self-joining the corpus). Same banding → candidates →
    * exact-verify shape as [[minhashLshPairs]], but the band join is
    * delta×corpus: candidate volume scales with the delta, and the
    * corpus contributes one narrow banding map plus a semi-join-
    * restricted re-shingle of only its candidate docs — never a square.
    * Returns (new_id, corpus_id, jaccard) for verified pairs.
    */
  def minhashLshAgainst(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      k: Int = 64, bands: Int = 32, threshold: Double = 0.5): DataFrame =
    lshAgainstImpl(newDocs, corpus, n, k, bands, threshold,
      // fire-and-forget callers (benchmarks, probes, one-shot jobs) get
      // RDD-level materialization via localCheckpoint: computed once,
      // shared by the three consumers, and RELEASED by the
      // ContextCleaner when the plan is garbage-collected — repeated
      // calls can't accrete CacheManager entries the way the cached
      // handle (which only a deliberate unpersist() frees) would
      viaCache = false)._1

  /** As [[minhashLshAgainst]], also returning the internally cached
    * candidate frame. The cache serves the returned plan's three
    * consumers within one evaluation; a caller that invokes this
    * repeatedly with a bounded lifetime per call (a per-micro-batch
    * ingest gate, a daily delta job in a long-lived session) MUST
    * `unpersist()` the handle once the verdicts are consumed —
    * otherwise each call pins a new cache entry forever. Callers that
    * won't manage the handle should use [[minhashLshAgainst]], whose
    * materialization is cleaner-managed.
    */
  def minhashLshAgainstWithHandle(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      k: Int = 64, bands: Int = 32, threshold: Double = 0.5): (DataFrame, DataFrame) =
    lshAgainstImpl(newDocs, corpus, n, k, bands, threshold, viaCache = true)

  private def lshAgainstImpl(newDocs: DataFrame, corpus: DataFrame, n: Int,
      k: Int, bands: Int, threshold: Double, viaCache: Boolean): (DataFrame, DataFrame) =
    lshAgainstBandsImpl(newDocs, sigFrame(newDocs, n, k),
      corpus, bandExplode(sigFrame(corpus, n, k), k, bands),
      n, k, bands, threshold, viaCache)

  /** The (doc_id, band, key) LSH band index of a documents table — what
    * the folded artifact PERSISTS per shard: a fold's corpus-side
    * candidate generation is then a flat scan of stored band keys (20
    * bytes a row) instead of decoding signature arrays and re-hashing —
    * let alone re-tokenizing text. This IS the production LSH index.
    */
  def bandFrame(docs: DataFrame, n: Int = 3, k: Int = 64,
      bands: Int = 32): DataFrame =
    bandExplode(sigFrame(docs, n, k), k, bands)

  /** Cross-corpus banding with a PRECOMPUTED corpus band index — the
    * fold path's form. */
  private[graft] def lshAgainstBandsImpl(newDocs: DataFrame, newSig: DataFrame,
      corpus: DataFrame, corpusBands: DataFrame, n: Int,
      k: Int, bands: Int, threshold: Double, viaCache: Boolean,
      broadcastNew: Boolean = false): (DataFrame, DataFrame) = {
    // Default: both sides keep the shuffle_merge guard — post-explode
    // row counts are bands× the planner's estimate, so a "small" side
    // can still be a broadcast OOM at corpus scale. broadcastNew is the
    // FOLD regime's override: there the new side is a delta shard that
    // is by contract ≪ corpus, and broadcasting its exploded bands
    // turns the candidate join into a STREAMED probe of the stored
    // corpus band index — the corpus side is never shuffled or sorted.
    // A delta too large to broadcast fails loudly — the operator's cue
    // to full-mine instead.
    val aSide0 = bandExplode(newSig, k, bands).as("a")
    val aSide = if (broadcastNew) broadcast(aSide0) else aSide0.hint("shuffle_merge")
    val bSide0 = corpusBands.as("b")
    val bSide = if (broadcastNew) bSide0 else bSide0.hint("shuffle_merge")
    val cand0 = aSide
      .join(bSide,
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val cand = if (viaCache) cand0.cache() else cand0.localCheckpoint(eager = false)
    def shs(df: DataFrame, ids: DataFrame) =
      df.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.MinHashExpression.shingle_set(
            split(lower(col("text")), " "), n).as("shs"))
        .filter(size(col("shs")) > 0)
    val newShs = shs(newDocs, cand.select(col("new_id").as("doc_id")))
    val corpusShs = shs(corpus, cand.select(col("corpus_id").as("doc_id")))
    val verdicts = cand
      .join(newShs.as("a"), col("new_id") === col("a.doc_id"))
      .join(corpusShs.as("b"), col("corpus_id") === col("b.doc_id"))
      .select(col("new_id"), col("corpus_id"),
        graft.functions.MinHashExpression.sorted_intersect_size(
          col("a.shs"), col("b.shs")).as("shared"),
        size(col("a.shs")).as("sza"), size(col("b.shs")).as("szb"))
      .select(col("new_id"), col("corpus_id"),
        round(col("shared") / (col("sza") + col("szb") - col("shared")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (verdicts, cand)
  }

  /** Connected components over a near-duplicate pair list → (doc_id,
    * cluster_id) with cluster_id = min doc_id in the component. This is
    * the step that turns pair mining into an actual dedup decision: a
    * duplicate CLUSTER keeps one document, which pairwise output alone
    * can't express (A~B, B~C but A≁C must still collapse to one doc).
    *
    * Iterative min-label propagation WITH pointer halving: every round
    * each node first adopts the smallest label in its 1-hop neighborhood
    * (one join + one groupBy shuffle), then jumps through its own label
    * (label := labelOf(label), one node-sized self-join) — the classic
    * path-halving step, so the label-chain length roughly doubles per
    * round and convergence is O(log diameter) rounds instead of
    * O(diameter). Near-dup components are banding cliques and short
    * chains (2–3 rounds in practice), but link graphs (site→domain
    * chains) can carry long paths, and a silent round cap there would
    * return WRONG labels without saying so. `maxIters` therefore covers
    * diameters up to ~2^maxIters, and exhausting it THROWS rather than
    * returning non-converged labels — a dedup decision or a component
    * census built on partial labels is corrupt, not approximate.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // both edge directions from ONE scan of the pair pipeline (a union of
    // two selects would execute the upstream pair mining twice before the
    // cache fills — at corpus scale that's a second LSH pass)
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache() // read twice per round, every round
    // round 1 fused into initialization: with identity labels, each
    // node's first-round label is just least(self, min direct neighbor) —
    // one aggregate, no join. Banding cliques (diameter 1) then converge
    // after a single confirming loop round instead of three.
    // eager checkpoint: round 1 reads the init labels twice (nbrMin join
    // + carry-forward join); a lazy persist would have both scans racing
    // to populate the same cache blocks (measurably slower), so spend one
    // small job materializing it up front
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("node"), col("label"))
      .localCheckpoint()
    var round = 1
    var converged = false
    // prior-round checkpoint RDDs become unreferenced as `labels` moves
    // on; the ContextCleaner reclaims them (state kept live is O(nodes))
    while (!converged && round <= maxIters) {
      val nbrMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      // step 1 — neighbor min. Persisted because the halving self-join
      // below reads it on both sides; without the persist the nbrMin
      // shuffle would execute twice per round.
      val stepped = labels
        .join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(labels("node"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("l1"),
          col("label").as("l0"))
        .persist()
      // step 2 — pointer halving: label := min(label, labelOf(label)).
      // Labels are always node ids inside the same component (they start
      // as neighbors and only move through other labels), so the lookup
      // side is just `stepped` re-keyed by node; a label that resolves to
      // the component minimum short-circuits the rest of the chain, which
      // is what turns O(diameter) propagation into O(log diameter).
      val lab1 = stepped.select(col("node").as("pn"), col("l1").as("pl"))
      val next = stepped
        .join(lab1, stepped("l1") === lab1("pn"), "left")
        .select(stepped("node"),
          least(col("l1"), coalesce(col("pl"), col("l1"))).as("label"),
          (least(col("l1"), coalesce(col("pl"), col("l1"))) < col("l0")).as("__chg"))
        // LAZY checkpoint materialized BY the convergence count below:
        // the halving join references `stepped` on BOTH sides, so
        // without truncating the lineage the logical plan doubles every
        // round — exponential plan growth that OOMs the driver around
        // round 9 even though execution is cached. The checkpoint caps
        // every round's plan at one join over two leaf scans; making it
        // lazy folds its materialization into the convergence count
        // (one node-sized job per round instead of two — the count is
        // the checkpoint's single first consumer, so there is no
        // double-scan race).
        .localCheckpoint(eager = false)
      converged = next.filter(col("__chg")).count() == 0L
      stepped.unpersist()
      labels = next.drop("__chg")
      round += 1
    }
    edges.unpersist()
    // refuse to hand back partial labels: every caller treats the map as
    // a dedup/census DECISION, and a silently non-converged map is wrong
    // data, not a slower answer (the repo-wide no-silent-caps rule). With
    // halving this fires only past diameter ~2^maxIters.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds " +
          "(component diameter ~2^" + maxIters + "); raise maxIters")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Documents that survive cluster-level dedup: the minimum-id member
    * of every near-duplicate component plus every untouched document.
    * One anti-join against the (small) non-representative id set.
    */
  /** Quality-ranked survivor election — the FineWeb refinement of
    * min-id survivors: within each near-dup cluster keep the HIGHEST-
    * QUALITY copy (ties → lowest doc_id), not the accidentally-first
    * one. `quality` is a per-doc integer grid score frame
    * (doc_id, q_e4). One model-sized join of the cluster map against
    * the scores, one struct-max per cluster — nothing data-sized
    * beyond what clustering already paid. */
  def survivorsByQuality(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q_e4"), (-col("doc_id")).as("ni"))).as("b"))
      .select(col("cluster_id"), col("n_members"),
        (-col("b.ni")).as("survivor_id"),
        (col("b.q_e4") / lit(10000.0)).as("survivor_quality"))

  def survivors(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dupes = connectedComponents(pairs)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    docs.join(dupes, Seq("doc_id"), "left_anti")
  }

  /** [[survivors]] against an already-materialized cluster map (see
    * [[clusterMapArtifact]]) — the decision layer without re-mining. */
  def survivorsFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("cluster_id") =!= col("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** The MinHash+CC cluster map as a WRITE-ONCE ARTIFACT: mine pairs →
    * connected components exactly once per (input, params), persist the
    * (doc_id, cluster_id) map to scratch parquet, and serve every
    * downstream decision query (cluster census, survivor election,
    * quality-ranked election) from the stored map. This is the zone-map/
    * manifest posture and the only sane 100 TB shape — the cluster map is
    * a MODEL of the corpus; re-running LSH banding + label propagation
    * per downstream consumer multiplies the most expensive mining subtree
    * in the whole dedup family by the number of consumers.
    *
    * Input contract: the artifact is ALWAYS mined from the raw documents
    * table of `inputDir`, loaded here — callers cannot hand in a frame at
    * all, so a filtered/transformed view can never silently serve (or be
    * served) the raw-table map. (r14 took a `docs` frame on the honor
    * system; this signature makes the contract structural.)
    *
    * Freshness: the artifact carries a fingerprint of the input table's
    * file listing (name, length, mtime), the mining parameters, and the
    * engine build (an md5 of the mining classes' BYTECODE — a recompile
    * that changes the mining algorithm re-mines even when running from a
    * classes directory whose root mtime never moves). Mismatch ⇒ rebuild;
    * match ⇒ one parquet read, no mining at all. Publication is atomic
    * (fingerprint-addressed data dir, marker written last), so concurrent
    * JVMs (bench + verify, parallel CI) can never observe a half-written
    * map: see [[graft.engine.Artifacts]].
    */
  def clusterMapArtifact(spark: org.apache.spark.sql.SparkSession,
      inputDir: String, n: Int = 3,
      k: Int = 64, bands: Int = 32, threshold: Double = 0.5): DataFrame =
    // freshness re-checked on every call (a file stat + tiny md5 —
    // nanoseconds against any query): an input mutated even mid-session
    // re-mines instead of serving the stale map
    clusterMapLineage(inputDir, n, k, bands, threshold).serve(spark,
        params(n, k, bands, threshold), inputDir, "documents") {
      connectedComponents(minhashLshPairs(
        graft.engine.Tables.documents(spark, inputDir), n, k, bands, threshold))
    }

  /** The lineage of [[clusterMapArtifact]] over `inputDir`. */
  def clusterMapLineage(inputDir: String, n: Int = 3, k: Int = 64,
      bands: Int = 32, threshold: Double = 0.5): graft.engine.Artifacts.Lineage =
    graft.engine.Artifacts.Lineage("cluster_map",
      inputDir + "|" + params(n, k, bands, threshold), miningClasses)

  /** The lineage of [[clusterMapArtifactFolded]] for corpus `name`. */
  def clusterMapFoldLineage(name: String, n: Int = 3, k: Int = 64,
      bands: Int = 32, threshold: Double = 0.5): graft.engine.Artifacts.Lineage =
    graft.engine.Artifacts.Lineage("cluster_map_fold",
      name + "|" + params(n, k, bands, threshold), miningClasses)

  private def params(n: Int, k: Int, bands: Int, threshold: Double): String =
    s"n$n-k$k-b$bands-t$threshold"

  /** INCREMENTAL cluster-map maintenance (r15): the fold step that turns
    * the write-once artifact into a month-over-month subsystem. Given
    * the stored map of an existing corpus and a newly-arrived delta
    * shard, the new map is
    *
    *   CC( storedMapAsEdges ∪ pairs(delta × delta) ∪ pairs(delta × corpus) )
    *
    * — model-sized + delta-sized work, never a corpus re-mine. This is
    * EXACT, not approximate: MinHash signatures are per-document, so the
    * banding candidate set of the union decomposes into corpus×corpus
    * (already summarized by the stored map — star edges to the component
    * minimum preserve connectivity exactly), delta×delta
    * ([[minhashLshPairs]] over the shard), and delta×corpus
    * ([[minhashLshAgainst]], candidate volume scaling with the delta).
    * The folded map is therefore bit-identical to a full re-mine of the
    * union — the equality the `dedup_clusters_incremental` oracle and
    * the fold specs pin.
    */
  def clusterMapFold(storedMap: DataFrame, corpus: DataFrame,
      delta: DataFrame, n: Int = 3, k: Int = 64, bands: Int = 32,
      threshold: Double = 0.5,
      corpusBands: Option[DataFrame] = None,
      deltaSigs: Option[DataFrame] = None): DataFrame = {
    // the artifact passes its STORED corpus band index (and a shared
    // delta signature frame) so a fold never re-tokenizes, re-hashes,
    // or even re-bands corpus content — corpus-side candidate
    // generation is a flat scan of stored (band, key, doc_id) rows.
    // Absent (the bare-function callers, the specs), they're computed
    // fresh — bit-identical, the expressions are deterministic.
    val dSig = deltaSigs.getOrElse(sigFrame(delta, n, k))
    val dd = minhashLshPairsFromSigs(delta, dSig, n, k, bands, threshold)
      .select(col("id_a"), col("id_b"))
    val dc = lshAgainstBandsImpl(delta, dSig,
        corpus, corpusBands.getOrElse(bandFrame(corpus, n, k, bands)),
        n, k, bands, threshold, viaCache = false, broadcastNew = true)._1
      .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
    // consumed three times (two touched-node projections + the CC
    // union); pair volume is delta-scaled, so the checkpoint is small
    val p = dd.union(dc).localCheckpoint(eager = false)
    // Relabel ONLY components the new pairs touch. Two old components
    // can merge only THROUGH a new pair, and a new minimum can only
    // arrive through one — so every component with no member in a new
    // pair keeps its labels verbatim, and the CC runs over (new pairs ∪
    // star edges of touched components): delta-sized, not corpus-sized.
    // The corpus-scale work left in a fold is therefore one narrow
    // banding map over the corpus (candidate generation) and one
    // broadcast-membership pass over the stored map — no iterative
    // corpus-sized relabeling.
    val touchedNodes = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b").as("doc_id"))).distinct()
    // delta-sized; broadcast so the model scan never shuffles
    val touchedClusters = storedMap
      .join(broadcast(touchedNodes), Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val affectedEdges = storedMap
      .join(broadcast(touchedClusters), Seq("cluster_id"), "left_semi")
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("cluster_id").as("id_a"), col("doc_id").as("id_b"))
    // A/B against the naive fold (CC over new pairs ∪ ALL star edges),
    // realistic mostly-novel delta, ×20 probe corpus: naive 8.49 s vs
    // this 9.47 s — the touched-component pass costs ~1 s of broadcast
    // membership scans at probe scale, but the naive CC pays ~3
    // CORPUS-SIZED SHUFFLE rounds (star edges re-keyed per round) where
    // this shape pays corpus-sized broadcast-filter SCANS and a
    // delta-sized CC. At cluster scale shuffle volume is the cost that
    // matters, so the scan-shaped fold is the keeper.
    val relabeled = connectedComponents(p.union(affectedEdges))
    val untouched = storedMap
      .join(broadcast(touchedClusters), Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    untouched.union(relabeled)
  }

  /** The cluster-map artifact over an APPEND-ONLY SHARD LIST — the
    * 100 TB ingestion posture: a corpus arrives as monthly/daily shard
    * directories, and the published map is maintained by FOLDING new
    * shards into the stored map ([[clusterMapFold]]) instead of
    * re-mining the union.
    *
    * The marker records the full shard list with a per-shard file-
    * listing fingerprint (plus params + the bytecode build stamp). On
    * each call:
    *  - exact marker match ⇒ serve the stored map (one parquet read);
    *  - the published shard set is a strict subset of the request, every
    *    published shard unchanged ⇒ FOLD the new shards in (delta-sized
    *    mining + model-sized CC), publish, record `fold` provenance;
    *  - anything else (first build, a mutated/removed shard, changed
    *    params or engine build) ⇒ full mine of the union, `full`
    *    provenance.
    * The serve/fold/full control flow is the generic
    * [[graft.engine.Artifacts.serveFoldedShards]] with the per-shard
    * band index supplied as a
    * [[graft.engine.Artifacts.ShardDataset]] hook; publication is
    * atomic and fingerprint-addressed throughout. `name` scopes the
    * artifact lineage (one lineage per logical corpus).
    * doc_ids must be globally unique across shards — the standard
    * contract of a sharded corpus.
    */
  def clusterMapArtifactFolded(spark: org.apache.spark.sql.SparkSession,
      name: String, shardDirs: Seq[String], n: Int = 3, k: Int = 64,
      bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    import java.nio.file.Paths
    val lineage = clusterMapFoldLineage(name, n, k, bands, threshold)
    val dir = lineage.dir
    def load(sd: String) = graft.engine.Tables.documents(spark, sd)
    val shardFps = graft.engine.Artifacts.shardFingerprints(
      shardDirs, "documents")
    val fpByDir = shardFps.toMap
    // the artifact's LSH BAND INDEX: one IMMUTABLE (doc_id, band, key)
    // dataset PER SHARD, keyed by the shard's own fingerprint — so a
    // fold publishes only the DELTA shards' bands (delta-sized write)
    // and the corpus side of candidate generation is a flat scan of
    // stored 20-byte band rows: no re-tokenize, no re-hash, no
    // signature-array decode. bands·~20 bytes per doc — the standard
    // index storage trade; append-only by construction (a shard's
    // index never rewrites unless the shard's own fingerprint changes).
    // Freshness, fold eligibility, ensure-exists publication, and GC of
    // the index ride the generic's perShard hook.
    def bandPath(sd: String, fp: String) = Paths.get(dir,
      s"bands_${graft.engine.Artifacts.md5Hex(s"$sd|$fp|n$n-k$k-b$bands")}.parquet")
    def bandsOf(dirs: Seq[String]): DataFrame =
      dirs.map(sd => spark.read.parquet(bandPath(sd, fpByDir(sd)).toString))
        .reduce(_ unionByName _)
    val bandIndex = graft.engine.Artifacts.ShardDataset(
      bandPath, sd => bandFrame(load(sd), n, k, bands))
    lineage.serveFolded(spark, params(n, k, bands, threshold), shardFps,
      Seq(bandIndex)) {
      val all = shardDirs.map(load).reduce(_ union _)
      // full mine reuses the published per-shard indexes for candidate
      // generation (a band self-join over the flat band table), so
      // even the full path signature-hashes each shard exactly once —
      // at publish time
      val cand = bandsOf(shardDirs).as("a").hint("shuffle_merge")
        .join(bandsOf(shardDirs).as("b").hint("shuffle_merge"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .localCheckpoint(eager = false)
      connectedComponents(verifyPairs(all, cand, n, threshold))
    } { (oldMap, corpusDirs, deltaDirs) =>
      val delta = deltaDirs.map(load).reduce(_ union _)
      val corpus = corpusDirs.map(load).reduce(_ union _)
      clusterMapFold(oldMap, corpus, delta, n, k, bands, threshold,
        corpusBands = Some(bandsOf(corpusDirs)))
    }
  }

  /** Materialize the documents table of `inputDir` as `parts` scratch
    * shard directories (doc_id mod `parts`), each a `documents.parquet`
    * readable by [[graft.engine.Tables.documents]] — the shard fixture
    * behind the incremental-fold query. Written ONCE per (input
    * fingerprint, parts): the shard set is fingerprint-addressed and
    * published marker-last, so repeated calls are a file stat and
    * re-runs never churn shard mtimes (which would needlessly invalidate
    * downstream folded artifacts). The shard lineage is keyed by the
    * input's stable part ([[graft.engine.Artifacts.stableInput]]), so
    * the shards of a superseded input set are superseded, and collected,
    * with it.
    */
  def ensureDocShards(spark: org.apache.spark.sql.SparkSession,
      inputDir: String, parts: Int): Seq[String] =
    ensureTableShards(spark, inputDir, parts, "documents", "doc_id")

  /** [[ensureDocShards]] for the embeddings table (vec_id residues). */
  def ensureEmbShards(spark: org.apache.spark.sql.SparkSession,
      inputDir: String, parts: Int): Seq[String] =
    ensureTableShards(spark, inputDir, parts, "embeddings", "vec_id")

  private def ensureTableShards(spark: org.apache.spark.sql.SparkSession,
      inputDir: String, parts: Int, table: String,
      idCol: String): Seq[String] = {
    val set = graft.engine.Artifacts.Lineage(
        if (table == "documents") "doc_shards" else s"${table}_shards",
        graft.engine.Artifacts.stableInput(inputDir) + "|p" + parts, Nil)
      .serveSet(s"v1|p$parts", inputDir, table) {
        val rows = graft.engine.Tables.table(spark, inputDir, table)
        (0 until parts).map(i =>
          s"shard_$i/$table.parquet" -> rows.filter(col(idCol) % parts === i))
      }
    (0 until parts).map(i => java.nio.file.Paths.get(set, s"shard_$i").toString)
  }

  /** The MINING CLASSES whose bytecode stamps the cluster-map builds:
    * this object and the MinHash kernels. */
  private val miningClasses: Seq[String] = Seq(
    "/graft/dedup/Dedup$.class", "/graft/dedup/Dedup.class",
    "/graft/functions/MinHashExpression$.class",
    "/graft/functions/MinHashExpression.class")
}
