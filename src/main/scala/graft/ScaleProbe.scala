package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replicated-scale tier in the reference's evaluation style (the
  * Hillview VLDB 2019 paper, §7, replicates its flights data ×5, ×10
  * and ×100): the sf0.1 tables are replicated ×1, ×10 and ×20 into a
  * run-private temp directory, and every named query in [[names]] is
  * timed over each tier — the same `SparkEntry.queries` builder the
  * bench and the oracles run, so a PROBE line always times the query of
  * that name. Wall-clock should grow ~linearly with the tier;
  * superlinear growth is a plan that will not survive a larger corpus.
  *
  * Usage: runMain graft.ScaleProbe [query ...]   (default: all of [[names]])
  *
  * Prints `PROBE <name> x<N> <seconds> s <rows> rows` per (query, tier),
  * min of 2 runs (the first absorbs codegen/JIT warm-up), or
  * `PROBE <name> x<N> FAILED <error>` when the query throws.
  */
object ScaleProbe {
  private val sf = "/root/testdata/sf0.1"
  private val tiers = Seq(1, 10, 20)

  /** Queries timed by default: the operators whose plans make a scaling
    * claim — the dedup, ann, text, events, sketch and multimodal tails
    * and the TPC-H join anchors. */
  val names: Seq[String] = Seq(
    "events_funnel", "range_join_week", "join_skew_salted",
    "sample_weighted", "events_cumulative", "dedup_incremental",
    "corpus_mix", "sketch_heavy_rollup", "sketch_distinct_rollup",
    "multimodal_codec_features", "multimodal_video_meta", "ann_pq_topk",
    "sketch_theta_algebra", "dedup_clusters", "text_remove_dup_spans",
    "dedup_edit_distance", "multimodal_image_neardup",
    "multimodal_audio_dedup", "corpus_mix_temperature", "text_tokens_bpe",
    "text_blocklist", "text_lm_surprisal", "text_dsir_weight",
    "text_ccnet_buckets", "text_winnow_pairs", "text_dup_spans",
    "embedding_domain_score", "source_similarity", "bm25_topk",
    "pack_efficiency", "text_remove_dup_lines", "text_gopher_rules",
    "text_html_extract", "text_url_filter", "text_tokens_unigram",
    "text_tokens_wordpiece", "text_lm_backoff", "unigram_train_costs",
    "unigram_train_pruned", "corpus_filter_funnel", "link_domain_rank",
    "decontam_embedding", "bpe_train_merges", "dynamic_udf_js_loop",
    "pack_sequences_ids", "decontam_overlap", "text_blocklist_words",
    "text_gopher_lines", "lm_model_incremental", "url_canonicalize",
    "source_cap", "wordpiece_train_merges", "text_rarity",
    "text_rouge_dedup", "text_langid_nb", "ann_hard_negatives",
    "ann_triplets", "span_corruption", "fim_transform", "chunk_sliding",
    "source_diversity", "code_quality_rules", "dsir_select",
    "kcenter_coreset", "langid_model_incremental", "seq_len_histogram",
    "sft_loss_mask", "decontam_cut", "vocab_growth", "quality_percentile",
    "corpus_diff", "shard_balance", "text_scripts", "text_ttr",
    "token_zipf", "events_retention", "events_sequences", "events_anomaly",
    "dedup_containment", "events_conversion_time", "tokenizer_compare",
    "dedup_survivors_quality", "dpo_pairs", "chat_loss_mask",
    "text_mojibake", "text_rep_gopher", "bitext_mine", "chunk_sentences",
    "pii_iban", "events_attribution", "interval_overlap_join",
    "kanonymity_audit", "sink_rle_layout", "events_lateness",
    "text_tokens_bpe_pretok", "text_pretokenize", "hybrid_rrf",
    "fd_discovery", "benford_audit", "events_dedup_burst", "icp_order",
    "quality_probe_train", "dedup_embedding_lsh",
    "dedup_embedding_lsh_stress", "q18_large_volume_customer",
    "q13_customer_distribution", "q2_min_cost_supplier",
    "q21_waiting_supplier", "text_memorization_risk", "corpus_mix_doremi",
    "split_leakage", "dedup_minhash_lsh", "text_tokens_ids",
    "text_tokens_bpe_bytes", "text_detokenize_bytes",
    "dedup_jaccard_dfcut", "dedup_cluster_mine", "embedding_kmeans_exact",
    "link_hits", "pipeline_end2end")

  /** Key offsets of replica `r`: each id moves by r × its stride, so
    * cardinalities scale with the tier. */
  private def offset(df: DataFrame, r: Int, strides: (String, Long)*): DataFrame =
    strides.foldLeft(df) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + lit(r * stride))
    }

  /** Replica r ≥ 1 of each fact table (replica 0 is the source itself).
    * Tables without a rule are dimensions and stay fixed. */
  private val replicaRules: Map[String, (DataFrame, Int) => DataFrame] = Map(
    // one orderkey stride for both sides, so the copies stay join-aligned
    "lineitem" -> ((df, r) => offset(df, r, "l_orderkey" -> 100000000L)),
    "orders" -> ((df, r) => offset(df, r, "o_orderkey" -> 100000000L)),
    "events" -> ((df, r) =>
      offset(df, r, "event_id" -> 10000000L, "user_id" -> 1000000L)),
    // per-token salt: replicas are not near-dups of each other, so the
    // duplicate-structure density stays constant while the corpus scales
    // (unsalted copies would measure the ×N² pair blow-up of making
    // every doc an N-way duplicate)
    "documents" -> ((df, r) => offset(df, r, "doc_id" -> 10000000L)
      .withColumn("text", array_join(
        transform(split(col("text"), " "), t => concat(t, lit(s"_$r"))), " "))),
    // per-replica coordinate sign flip, an orthogonal transform: copies
    // are not cos = 1 pairs of each other, while every within-replica
    // cosine (the planted near-dup pairs included) is exactly preserved
    "embeddings" -> ((df, r) => offset(df, r, "vec_id" -> 10000000L)
      .withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> IF(hash($r, i) % 2 = 0, x, -x))"))))

  /** Write the ×`n` tier of every table in `src` as parquet under `out`. */
  private[graft] def writeTier(spark: SparkSession, src: String, n: Int,
      out: String): Unit =
    new java.io.File(src).list().filter(_.endsWith(".parquet")).sorted.foreach { f =>
      val table = f.stripSuffix(".parquet")
      val df =
        if (table == "events") engine.Tables.events(spark, src)
        else engine.Tables.table(spark, src, table)
      val copies = replicaRules.get(table) match {
        case Some(rule) => df +: (1 until n).map(rule(df, _))
        case None => Seq(df)
      }
      copies.reduce(_ union _).write.parquet(s"$out/$f")
    }

  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  def main(args: Array[String]): Unit = {
    val spark = engine.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) names else args.toSeq
    val root = engine.Artifacts.scratchDir("graft_scale_").toFile
    tiers.foreach { n =>
      val dir = s"$root/x$n"
      writeTier(spark, sf, n, dir)
      wanted.foreach { name =>
        val result = try {
          val query = SparkEntry.queries(name)
          val runs = Seq.fill(2) { Bench.quiesce(spark); time(query(spark, dir).count()) }
          f"${runs.map(_._1).min}%7.2f s ${runs.head._2}%9d rows"
        } catch { case e: Throwable => s"FAILED ${e.toString.linesIterator.next()}" }
        println(f"PROBE $name%-28s x$n%-3d $result")
      }
    }
    spark.stop()
  }
}
