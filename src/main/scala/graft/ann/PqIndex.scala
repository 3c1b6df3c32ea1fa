package graft.ann

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted PQ / IVF-PQ index: the production split between index
  * BUILD (train codebooks + coarse centroids, encode the corpus to
  * m-byte codes, write everything once) and query SERVE (read the
  * codes table, score a query batch in ONE pass).
  *
  * At 100 TB the build is a one-time batch job whose artifacts — a
  * codes table 32× smaller than the corpus plus kilobytes of
  * codebooks/centroids — are what production actually queries; timing
  * Lloyd training inside every query (as the pre-r7 `pqTopK` bench
  * entry did) measures the wrong thing. Reference analog: hillview
  * loads/indexes a dataset once and then answers per-gesture sketches
  * against the loaded state (`platform/.../IDataSet.java` load vs
  * sketch split).
  *
  * Serve-path plan contract: the codes scan is joined against ONE
  * broadcast frame of queries carrying their ADC lookup tables
  * (`adc_tabs[j][c] = ⟨q_j, codebook_j[c]⟩`, driver-computed) and their
  * probe-cell lists — so the physical plan has a single scan of the
  * codes table and a single broadcast join REGARDLESS of the query
  * batch size (plan-gated in PlanSpec), unlike a per-query
  * `union` whose plan grows linearly in #queries.
  */
object PqIndex {

  /** Side tables (codebooks, coarse centroids) of the most recently
    * built or loaded index in this JVM. The serve-path oracles are
    * rendered from these at Verify dump time — the ann_lsh_topk
    * template: the trained quantizer (deterministic per corpus:
    * hash-strided seeds, lexicographic tie-breaks; run-to-run bit
    * equality is property-gated) is pinned as SQL literals and the
    * WHOLE serve path — normalization, code assignment, ADC tables,
    * scoring, probing, shortlist, exact re-rank — replays
    * independently in DuckDB. Training is the only trusted stage;
    * every downstream decision is re-derived by the oracle.
    */
  @volatile private[graft] var lastSide
      : Option[(Array[Array[Array[Float]]], Array[(Array[Float], Int)])] = None

  /** True once two DIFFERENT side-table sets were stashed in this JVM
    * before an oracle dump — the dumped query results and a
    * last-writer-wins stash could then disagree on which model served,
    * so the render declines the oracle and the property gate takes
    * over (never both, never a wrong-model oracle). Same-model
    * re-stashes (the deterministic re-train) never trip it. */
  @volatile private[graft] var sideConflict: Boolean = false

  private[graft] def stashSide(
      s: (Array[Array[Array[Float]]], Array[(Array[Float], Int)])): Unit =
    this.synchronized {
      if (lastSide.exists(old => !sameSide(old, s))) sideConflict = true
      lastSide = Some(s)
    }

  private def sameSide(
      a: (Array[Array[Array[Float]]], Array[(Array[Float], Int)]),
      b: (Array[Array[Array[Float]]], Array[(Array[Float], Int)])): Boolean =
    a._1.length == b._1.length && a._1.indices.forall(j =>
      a._1(j).length == b._1(j).length && a._1(j).indices.forall(k =>
        java.util.Arrays.equals(a._1(j)(k), b._1(j)(k)))) &&
      a._2.length == b._2.length && a._2.indices.forall(i =>
        a._2(i)._2 == b._2(i)._2 &&
          java.util.Arrays.equals(a._2(i)._1, b._2(i)._1))

  /** Corpus → (vec_id, cell, codes): one narrow encode pass. `cents`
    * None ⇒ flat PQ (cell 0 everywhere, serve scans all codes). */
  private[ann] def encode(normed: DataFrame,
      cents: Option[Array[(Array[Float], Int)]],
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val m = codebooks.length
    // fused PqEncode kernel: cell + all m codes from one loop pass per
    // row (the expression-tree form ran m+1 array_sorts per row and
    // dominated the build's encode half); cell ids are centroid
    // POSITIONS — kmeansCentroids constructs them as such
    val e = graft.functions.VectorExpressions.pq_encode(
      col("embedding"), cents.map(_.map(_._1)), codebooks)
    normed.select(col("vec_id"), e.as("__e"))
      .select(col("vec_id"), col("__e").getItem(0).as("cell"),
        slice(col("__e"), 2, m).as("codes"))
  }

  private val emptySchema = StructType(Seq(
    StructField("query_id", LongType), StructField("rank", IntegerType),
    StructField("neighbor_id", LongType), StructField("cos", DoubleType)))

  /** Single-pass ADC scoring + exact re-rank over an encoded corpus.
    *
    * Queries resolve to unit vectors from `normed`; each becomes ONE
    * row of a broadcast frame: (query_id, adc_tabs, probe_cells). The
    * corpus-side score is m nested element_at lookups into the
    * broadcast row's tables — codegen'd, no per-row vector math, and
    * the plan does not grow with the batch size. Cells are probed by
    * COSINE to the centroid (score/‖c‖ — k-means centroids are not
    * unit-norm), the same metric `encode` assigns with; ranking probes
    * by raw inner product would silently probe different cells than
    * the assignment metric and cost recall.
    *
    * `nprobe <= 0` or no centroids ⇒ flat scan of all codes.
    */
  private[ann] def adcServe(codes: DataFrame, normed: DataFrame,
      queryIds: Seq[Long], cents: Option[Array[(Array[Float], Int)]],
      codebooks: Array[Array[Array[Float]]], k: Int, nprobe: Int,
      refine: Int): DataFrame = {
    val spark = codes.sparkSession
    val m = codebooks.length
    val d = codebooks(0)(0).length
    val qVecs = normed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    // no resolvable query (unknown ids, or all-zero vectors dropped by
    // l2normalize): empty result, same schema as every other topK path
    if (qVecs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], emptySchema)
    val probing = cents.nonEmpty && nprobe > 0
    import spark.implicits._
    val qData: Seq[(Long, Seq[Seq[Double]], Seq[Int])] =
      qVecs.toSeq.map { case (qid, q) =>
        val tabs: Seq[Seq[Double]] = (0 until m).map { j =>
          codebooks(j).map { c =>
            var s = 0.0; var t = 0
            while (t < d) { s += q(j * d + t) * c(t); t += 1 }
            s
          }.toSeq
        }
        val cells: Seq[Int] =
          if (!probing) Seq.empty
          else cents.get.map { case (c, i) =>
            var s = 0.0; var n2 = 0.0; var t = 0
            while (t < q.length) {
              s += q(t) * c(t); n2 += c(t).toDouble * c(t); t += 1
            }
            // cosine (q is unit): the assignment metric of encode()
            (if (n2 > 0) s / math.sqrt(n2) else 0.0, i)
          }.sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2).toSeq
        (qid, tabs, cells)
      }
    val queries = qData.toDF("query_id", "adc_tabs", "probe_cells")
    val cond =
      if (probing)
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("query_id")
      else col("vec_id") =!= col("query_id")
    // the batch's UNION of probe cells is driver-known (no extra job):
    // pre-filtering the scan on it prunes whole cell partitions of a
    // partitioned codes table (PartitionFilters — unprobed cells'
    // files are never opened) BEFORE the per-(row, query)
    // array_contains decides the exact cell set per query
    val scanned =
      if (probing) {
        val unionCells = qData.flatMap(_._3).distinct.sorted
        codes.filter(col("cell").isin(unionCells.map(Integer.valueOf): _*))
      } else codes
    val adc = scanned.join(broadcast(queries), cond)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (0 until m).map(j =>
          element_at(element_at(col("adc_tabs"), j + 1),
            col("codes")(j) + 1)).reduce(_ + _).as("adc"))
    val cand = graft.plans.GroupTopK.groupTopK(adc, Seq("query_id"),
        Seq(("adc", false), ("neighbor_id", true)), refine * k)
      .select(col("query_id"), col("neighbor_id"))
    // exact cosine re-rank of the refine·k shortlist (unit vectors ⇒ dot)
    val q = normed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val exact = broadcast(cand)
      .join(normed, col("neighbor_id") === normed("vec_id"))
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Similarity.dot(col("q_emb"), col("embedding")).as("cos"))
    Similarity.rankNeighbors(exact, k)
  }

  /** Build the index under `dir`: train coarse centroids + PQ
    * codebooks, encode the corpus, persist all three as parquet
    * (codes: the 32×-compressed table; codebooks/centroids: kilobyte
    * side tables a serve session collects once). Returns a one-row
    * stats frame (the build receipt the bench times separately from
    * serving). */
  def build(emb: DataFrame, dir: String, m: Int = 8, ksub: Int = 32,
      refineIters: Int = 1, nlist: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val normed = Similarity.l2normalize(emb).localCheckpoint(eager = false)
    // phase attribution: Lloyd training vs encode+persist are different
    // cost regimes (training ∝ iters × corpus scans, encode is one
    // narrow pass + write) — a regression in the fused number is
    // undiagnosable, so the split lands in a driver-side receipt file
    // the bench surfaces (timings cannot ride in the oracled frame:
    // they are nondeterministic where the geometry columns hash-match)
    // drop any stale receipt first: the scratch dir is fixed per corpus
    // and outlives JVMs, and a leftover receipt must not masquerade as
    // this build's phase attribution if the build dies mid-way
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "build_receipt.json"))
    catch { case _: Throwable => () }
    val t0 = System.nanoTime()
    // the coarse-centroid and codebook trainings are independent jobs
    // over the same checkpointed scan — overlap them so the second's
    // tasks back-fill the first's stragglers (each training is
    // internally unchanged, so both remain run-to-run deterministic);
    // materialize the shared checkpoint once first so the two don't
    // race to populate the same blocks
    normed.count()
    val (cents, cbs) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fc = Future(Similarity.kmeansCentroids(normed, nlist, refineIters))
      val fb = Future(Similarity.pqCodebooks(normed, m, ksub, refineIters))
      (Await.result(fc, scala.concurrent.duration.Duration.Inf),
        Await.result(fb, scala.concurrent.duration.Duration.Inf))
    }
    stashSide((cbs, cents))
    val trainS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val d = cbs(0)(0).length
    // codes PARTITION BY cell: a probed serve reads only its nprobe/
    // nlist partition directories (PartitionFilters pruning — the scan
    // never touches unprobed cells' files), which is the IVF contract
    // made physical; at a billion vectors this is the difference
    // between scanning nprobe shards and scanning the table
    // the two model-sized side writes are independent of the codes
    // write — run all three concurrently (§2.6 back-fill; different
    // output directories, no commit-protocol overlap)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val wCodes = Future(encode(normed, Some(cents), cbs)
        .repartition(nlist, col("cell")) // one clustered file per cell
        .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes"))
      val wCbs = Future(cbs.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("sub", "cell", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks"))
      val wCents = Future(cents.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"))
      Seq(wCodes, wCbs, wCents)
        .foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    }
    val n = spark.read.parquet(s"$dir/codes").count()
    val encodeS = (System.nanoTime() - t1) / 1e9
    // Locale.ROOT: a comma-decimal default locale would write invalid
    // JSON that Bench splices verbatim into bench_out
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "build_receipt.json"),
      "{\"train_s\":" + "%.3f".formatLocal(java.util.Locale.ROOT, trainS) +
        ",\"encode_s\":" + "%.3f".formatLocal(java.util.Locale.ROOT, encodeS) +
        "}\n")
    catch { case _: Throwable => () } // receipt is diagnostics, not data
    Seq((n, m, ksub, nlist, m, m * d * 4))
      .toDF("n_vectors", "m", "ksub", "nlist", "code_bytes", "raw_bytes")
  }

  /** Incrementally index NEW vectors into a prebuilt index: encode the
    * delta with the EXISTING centroids and codebooks (no retraining —
    * the production update path; the quantizer drifts only as the data
    * distribution does, and a periodic [[build]] refreshes it) and
    * append the cell-partitioned codes. Serving immediately sees the
    * union; the delta write touches only the cells the new vectors land
    * in. */
  def append(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    val (cbs, cents) = loadSide(spark, dir)
    val normed = Similarity.l2normalize(emb)
    encode(normed, Some(cents), cbs)
      .repartition(cents.length, col("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/codes")
  }

  /** Side tables of the most recent FOLDED-artifact index serve in
    * this JVM — a SEPARATE stash from [[lastSide]]: the folded
    * quantizer trains on the shard union, whose float means need not
    * be bit-equal to the single-table build's, so each surface renders
    * its own oracle (and declines it on conflict, like lastSide). */
  @volatile private[graft] var lastFoldedSide
      : Option[(Array[Array[Array[Float]]], Array[(Array[Float], Int)])] = None
  @volatile private[graft] var foldedConflict: Boolean = false

  private def stashFoldedSide(
      s: (Array[Array[Array[Float]]], Array[(Array[Float], Int)])): Unit =
    this.synchronized {
      if (lastFoldedSide.exists(old => !sameSide(old, s))) foldedConflict = true
      lastFoldedSide = Some(s)
    }

  /** The PQ index maintained as a FOLDED artifact over an append-only
    * list of EMBEDDINGS shards, the one stored model with a custom
    * layout: the quantizer (one `map_…` side dataset
    * holding codebooks + coarse centroids) trains once per FULL build;
    * each shard's codes are an IMMUTABLE `codes_…` dataset addressed by
    * (shard fingerprint, quantizer identity) and hive-partitioned by
    * cell (probing prunes partitions per shard dataset). A FOLD encodes
    * ONLY the delta shards under the PUBLISHED quantizer — the
    * [[append]] contract, delta-sized work, append-vs-rebuild serve
    * parity spec-gated — while a mutated shard, changed params, or a
    * recompiled build re-trains and re-encodes everything. Marker-last
    * atomic publication throughout; the provenance receipt records
    * which path ran. Serving reads the published side dataset + the
    * per-shard code datasets and runs the standard [[adcServe]].
    *
    * This is deliberately NOT routed through
    * [[graft.engine.Artifacts.serveFoldedShards]]: there the marker
    * head is fixed before the fold decision, but here the head embeds
    * the RESOLVED quantizer identity — the fold decision itself picks
    * which quantizer the per-shard code datasets are addressed by (keep
    * the published one on a fold, content-address a new one on a full
    * build) — so head construction and the fold decision are mutually
    * recursive. It composes the shared codec/decision/publication
    * primitives ([[graft.engine.Artifacts.foldMarkerContent]],
    * [[graft.engine.Artifacts.canFoldShards]], publishDataset) and takes
    * its dir, build stamp, lock, marker and commit from its
    * [[foldedLineage]], so the format and fold rule still cannot drift.
    */
  def foldedIndexServe(spark: SparkSession, name: String,
      shardDirs: Seq[String], queryIds: Seq[Long], k: Int,
      nprobe: Int = 0, refine: Int = 8, m: Int = 8, ksub: Int = 32,
      nlist: Int = 16, refineIters: Int = 1): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.engine.Artifacts
    val params = s"m$m-k$ksub-n$nlist-r$refineIters"
    val lineage = foldedLineage(name, m, ksub, nlist, refineIters)
    val dir = lineage.dir
    def loadEmb(sd: String) =
      graft.engine.Tables.table(spark, sd, "embeddings")
    val shardFps = Artifacts.shardFingerprints(shardDirs, "embeddings")
    val stamp = lineage.buildStamp
    val headPrefix = s"v1 params=$params build=$stamp side="
    def codePath(sd: String, fp: String, side: String) = Paths.get(dir,
      s"codes_${Artifacts.md5Hex(s"$sd|$fp|$side")}.parquet")
    // the serve-side `side` resolves INSIDE the lock (the value this
    // call just published or verified) — re-reading the marker after
    // unlocking could observe a concurrent JVM's publication under a
    // DIFFERENT build stamp, whose head this build cannot parse
    val side = lineage.locked {
      val (oldHead, oldShards) = Artifacts.parseFoldMarker(lineage.marker)
      val oldSide = oldHead
        .filter(_.startsWith(headPrefix)).map(_.stripPrefix(headPrefix))
      def allPublished(side: String, fps: Seq[(String, String)]) =
        Files.exists(Paths.get(dir, side)) &&
          fps.forall { case (sd, f) => Files.exists(codePath(sd, f, side)) }
      val exact = oldSide.exists(side =>
        oldShards == shardFps && allPublished(side, shardFps))
      if (exact) oldSide.get
      else {
        val canFold = oldSide.exists { side =>
          Artifacts.canFoldShards(oldShards, shardFps) &&
            allPublished(side, oldShards)
        }
        val side =
          if (canFold) oldSide.get
          else s"map_${Artifacts.md5Hex(s"side|$params|$stamp|" +
            shardFps.map(_._2).mkString(","))}.parquet"
        // the side name is content-addressed over (params, stamp, shard
        // fingerprints): if the dataset already exists — e.g. a shard
        // list that REGRESSED to a previously-published set — the
        // quantizer is identical by construction; skip the corpus-sized
        // retrain instead of training and discarding
        if (!canFold && !Files.exists(Paths.get(dir, side))) {
          val union = shardDirs.map(loadEmb).reduce(_ unionByName _)
          val normed = Similarity.l2normalize(union)
          val cents = Similarity.kmeansCentroids(normed, nlist, refineIters)
          val cbs = Similarity.pqCodebooks(normed, m, ksub, refineIters)
          import spark.implicits._
          val sideRows =
            (for (j <- cbs.indices; i <- cbs(j).indices)
              yield ("cb", j, i, cbs(j)(i).toSeq)) ++
              cents.map { case (c, i) => ("cent", i, 0, c.toSeq) }
          Artifacts.publishDataset(dir, Paths.get(dir, side),
            sideRows.toDF("kind", "a", "b", "vec"))
        }
        val (cbs, cents) = loadFoldedSide(spark, dir, side)
        // encode every shard missing its code dataset — JUST the delta
        // on the fold path (published shards already have theirs)
        shardFps.foreach { case (sd, f) =>
          val p = codePath(sd, f, side)
          if (!Files.exists(p))
            Artifacts.publishDataset(dir, p,
              encode(Similarity.l2normalize(loadEmb(sd)), Some(cents), cbs),
              partitionBy = Seq("cell"))
        }
        lineage.commit(Artifacts.foldMarkerContent(headPrefix + side, shardFps),
          Paths.get(dir, side) +:
            shardFps.map { case (sd, f) => codePath(sd, f, side) },
          canFold, oldShards.size, shardFps.size)
        side
      }
    }
    val (cbs, cents) = loadFoldedSide(spark, dir, side)
    stashFoldedSide((cbs, cents))
    val codes = shardFps.map { case (sd, f) =>
      spark.read.parquet(codePath(sd, f, side).toString)
    }.reduce(_ unionByName _)
    val emb = shardDirs.map(loadEmb).reduce(_ unionByName _)
    adcServe(codes, Similarity.l2normalize(emb), queryIds,
      if (nprobe > 0) Some(cents) else None, cbs, k, nprobe, refine)
  }

  private def loadFoldedSide(spark: SparkSession, dir: String, side: String)
      : (Array[Array[Array[Float]]], Array[(Array[Float], Int)]) = {
    val rows = spark.read
      .parquet(java.nio.file.Paths.get(dir, side).toString).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Float](3).toArray))
    val cbRows = rows.filter(_._1 == "cb")
    val m = cbRows.map(_._2).max + 1
    val ksub = cbRows.map(_._3).max + 1
    val cbs = Array.ofDim[Array[Float]](m, ksub)
    cbRows.foreach { case (_, j, i, v) => cbs(j)(i) = v }
    val cents = rows.filter(_._1 == "cent")
      .map(r => (r._4, r._2)).sortBy(_._2)
    (cbs.map(_.toArray), cents)
  }

  /** The lineage of [[foldedIndexServe]] for corpus `name`. */
  def foldedLineage(name: String, m: Int = 8, ksub: Int = 32,
      nlist: Int = 16, refineIters: Int = 1): graft.engine.Artifacts.Lineage =
    graft.engine.Artifacts.Lineage("pq_index_fold",
      name + s"|m$m-k$ksub-n$nlist-r$refineIters", Seq(
        "/graft/ann/PqIndex$.class", "/graft/ann/PqIndex.class",
        "/graft/ann/Similarity$.class", "/graft/ann/Similarity.class"))

  /** Load the driver-side index artifacts (kilobytes). */
  private def loadSide(spark: SparkSession, dir: String)
      : (Array[Array[Array[Float]]], Array[(Array[Float], Int)]) = {
    val cbRows = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val ksub = cbRows.map(_._2).max + 1
    val cbs = Array.ofDim[Array[Float]](m, ksub)
    cbRows.foreach { case (j, i, v) => cbs(j)(i) = v }
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getInt(0)))
      .sortBy(_._2)
    stashSide((cbs.map(_.toArray), cents))
    (cbs.map(_.toArray), cents)
  }

  /** Serve a query batch from a prebuilt index: collect the side
    * tables, scan the persisted codes ONCE (probing `nprobe` cells, or
    * all when `nprobe <= 0`), exact re-rank. The corpus frame `emb` is
    * read only for the query vectors and the shortlist re-rank. */
  def serve(emb: DataFrame, dir: String, queryIds: Seq[Long], k: Int,
      nprobe: Int = 0, refine: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val (cbs, cents) = loadSide(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    val normed = Similarity.l2normalize(emb)
    adcServe(codes, normed, queryIds,
      if (nprobe > 0) Some(cents) else None, cbs, k, nprobe, refine)
  }
}
