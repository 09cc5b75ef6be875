package graft.operators

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Parallelism invariance: the same query must return IDENTICAL rows at
  * different shuffle-partition counts. This is the local stand-in for
  * "same answer on a 10-executor and a 1000-executor cluster" — the
  * failure mode it hunts is partition-order dependence (an unsorted
  * collect_list, a row_number over an under-specified order, an
  * FP accumulation the output rounding doesn't absorb). */
class DeterminismSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/lineitem.parquet").exists

  // every output shape class: rounded FP aggregates, md5-integer ops,
  // window ordinals, top-k with tie-breaks, collected arrays
  private val subset = Seq(
    "q_agg_pricing_summary", "q_agg_collect", "q_agg_argmax",
    "q_window_topk", "q_window_running_sum", "q_window_retention",
    "q_join_interval_overlap", "q_join_tpch_q18",
    "q_dedup_minhash_lsh", "q_dedup_cluster", "q_sim_ivf_topk",
    "q_sim_lsh_bucket", "q_text_fingerprint", "q_scale_zorder",
    "q_reshape_set_ops", "q_scalar_format_keys",
    "q_dedup_semantic", "q_join_interval_stats_bands",
    "q_text_ccnet_buckets",
    "q_graph_pagerank", "q_graph_triangles", "q_text_dsir",
    "q_join_tpch_q10", "q_agg_mode", "q_agg_regression",
    "q_scale_quota_sample", "q_window_gapfill", "q_join_asof_exec",
    "q_dedup_fuzzy",
    "q_graph_lift", "q_sim_kmeans", "q_text_tfidf",
    "q_scale_heavy_hitters", "q_agg_outliers", "q_join_tpch_q15",
    "q_sim_random_projection", "q_scale_priority_sample",
    "q_scale_time_split", "q_window_scd2", "q_window_rfm",
    "q_scale_k_anon", "q_mm_audio_vad",
    "q_join_tpch_q2", "q_join_tpch_q21", "q_scale_range_partition",
    "q_scale_kmv", "q_scale_compaction", "q_sim_maxsim", "q_dedup_soft",
    "q_text_cdc", "q_scale_bloom_join", "q_text_bm25", "q_scale_merkle",
    "q_dedup_incremental", "q_dedup_span_removal", "q_sim_hybrid_rrf",
    "q_sim_hard_negatives", "q_dedup_containment", "q_scale_kmv_intersect",
    "q_scale_token_budget", "q_scale_partition_audit", "q_dedup_lsh_eval",
    "q_mm_cross_modal_dedup", "q_mm_video_neardup", "q_sim_eval_rank",
    "q_ms_tensorize", "q_mm_frame_delta", "q_sim_ivf_incremental",
    "q_scale_temperature_mix", "q_scale_late_data", "q_text_url_dedup",
    "q_text_domain_caps", "q_text_novelty", "q_window_ohlc",
    "q_mm_caption_align", "q_window_attribution", "q_scale_shard_manifest",
    "q_sim_embed_outliers", "q_dedup_keep_list",
    "q_text_classifier", "q_text_pmi", "q_scale_systematic_sample",
    "q_graph_label_prop", "q_sim_mmr", "q_mm_interleave",
    "q_scale_curriculum", "q_graph_jaccard_links",
    "q_text_length_buckets", "q_scale_rendezvous",
    "q_scale_group_split", "q_text_vocab_coverage", "q_window_cusum", "q_scale_gdpr_delete", "q_dedup_lsh_sweep", "q_scale_skew_audit", "q_agg_bitmap_distinct",
    "q_sim_matryoshka", "q_text_fertility",
    "q_sim_binary_hamming", "q_graph_kcore", "q_scale_mv_maintain",
    "q_scale_hilbert",
    "q_window_anomaly", "q_text_lexical", "q_scale_observe",
    "q_window_markov", "q_scale_mv_retract",
    "q_text_unigram_train", "q_text_unigram_encode",
    "q_text_tokenizer_cmp",
    "q_sim_reciprocal_nn", "q_text_kappa",
    "q_graph_ppr", "q_sim_nn_descent", "q_scale_secondary_index",
    "q_graph_sssp", "q_sim_ivf_balance", "q_join_pit",
    "q_dedup_split_leakage",
    "q_text_auc", "q_text_calibration", "q_sim_pca", "q_sim_coreset",
    "q_scale_stratified_split", "q_graph_hits", "q_dedup_ppjoin")

  test("results are identical across shuffle-partition counts") {
    assume(haveData)
    val key = "spark.sql.shuffle.partitions"
    def runAll(n: Int): Map[String, Seq[String]] = {
      spark.conf.set(key, n)
      subset.map { q =>
        q -> SparkEntry.queries(q)(spark, sf).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      }.toMap
    }
    try {
      val at3 = runAll(3)
      val at13 = runAll(13)
      subset.foreach { q =>
        withClue(q) { at13(q) shouldBe at3(q) }
      }
    } finally spark.conf.set(key, 4)
  }

  test("results are identical with adaptive execution disabled") {
    assume(haveData)
    // AQE re-plans at runtime (coalesced partitions, demoted
    // broadcasts, split skew partitions); none of that may change a
    // row. The subset here is the shuffle/join-heaviest shapes — the
    // ones AQE actually rewrites.
    val aqeSensitive = Seq(
      "q_join_tpch_q8", "q_join_tpch_q13", "q_join_tpch_q22",
      "q_dedup_minhash_lsh", "q_dedup_cluster", "q_sim_kmeans",
      "q_scale_salted_join", "q_scale_heavy_hitters", "q_window_rfm",
      "q_graph_pagerank")
    val key = "spark.sql.adaptive.enabled"
    def runAll(): Map[String, Seq[String]] =
      aqeSensitive.map { q =>
        q -> SparkEntry.queries(q)(spark, sf).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
      }.toMap
    val withAqe =
      try { spark.conf.set(key, true); runAll() }
      finally spark.conf.set(key, true)
    val withoutAqe =
      try { spark.conf.set(key, false); runAll() }
      finally spark.conf.set(key, true)
    aqeSensitive.foreach { q =>
      withClue(q) { withoutAqe(q) shouldBe withAqe(q) }
    }
  }
}
