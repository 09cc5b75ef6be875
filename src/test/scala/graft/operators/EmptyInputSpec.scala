package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Degenerate-input robustness: every operator must run (and return an
  * empty or well-defined result) against ZERO-ROW tables — at 100 TB a
  * selective filter, a new tenant, or an empty partition produces
  * exactly this shape, and a driver-side `.head()` on an empty
  * aggregate is the classic way such jobs die at 3am. */
class EmptyInputSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val src = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$src/lineitem.parquet").exists

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  // one or two queries per pack — the shapes most likely to hide a
  // driver-side head()/max() or a divide-by-zero on empty input
  private val representative = Seq(
    "q_agg_pricing_summary", "q_agg_histogram", "q_agg_median",
    "q_join_star", "q_join_interval_lookup", "q_join_interval_overlap",
    "q_join_tpch_q17", "q_join_asof",
    "q_window_retention", "q_window_funnel", "q_window_cycle_binning",
    "q_reshape_set_ops", "q_reshape_pivot",
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_cluster",
    "q_dedup_embedding",
    "q_sim_knn_brute", "q_sim_ivf_topk", "q_sim_lsh_bucket",
    "q_text_quality", "q_text_lm_score", "q_text_vocab",
    "q_mm_features", "q_scale_zorder", "q_scale_salted_join",
    "q_scale_mixture", "q_scalar_fragment_masses",
    "q_text_curation_funnel", "q_agg_topk_per_group",
    "q_window_distribution", "q_sim_ivfpq", "q_dedup_semantic",
    "q_graph_pagerank", "q_graph_triangles", "q_text_dsir",
    "q_join_tpch_q7", "q_join_tpch_q10",
    "q_graph_lift", "q_sim_kmeans", "q_text_tfidf",
    "q_scale_heavy_hitters", "q_agg_outliers",
    "q_join_tpch_q8", "q_join_tpch_q13", "q_join_tpch_q15",
    "q_join_tpch_q19", "q_join_tpch_q22", "q_sim_random_projection",
    "q_scale_priority_sample", "q_scale_time_split",
    "q_window_scd2", "q_window_rfm", "q_scale_k_anon",
    "q_mm_audio_vad", "q_text_bm25", "q_scale_merkle",
    "q_dedup_incremental", "q_dedup_span_removal", "q_sim_hybrid_rrf",
    "q_sim_hard_negatives", "q_dedup_containment", "q_scale_kmv_intersect",
    "q_scale_token_budget", "q_scale_partition_audit", "q_dedup_lsh_eval",
    "q_mm_cross_modal_dedup", "q_mm_video_neardup", "q_ms_tensorize",
    "q_sim_eval_rank", "q_mm_frame_delta", "q_sim_ivf_incremental",
    "q_scale_temperature_mix", "q_scale_late_data", "q_text_url_dedup",
    "q_text_domain_caps", "q_text_novelty", "q_window_ohlc",
    "q_mm_caption_align", "q_window_attribution",
    "q_scale_shard_manifest", "q_sim_embed_outliers",
    "q_dedup_keep_list",
    "q_text_classifier", "q_text_pmi", "q_scale_systematic_sample",
    "q_graph_label_prop", "q_sim_mmr", "q_mm_interleave",
    "q_scale_curriculum", "q_graph_jaccard_links",
    "q_text_length_buckets", "q_scale_rendezvous", "q_scale_group_split",
    "q_text_vocab_coverage", "q_window_cusum", "q_scale_gdpr_delete",
    "q_dedup_lsh_sweep", "q_scale_skew_audit", "q_agg_bitmap_distinct",
    // r6: the oracle-fixture exporters (must write an EMPTY fixture,
    // not die in modelIndex/bestModels on a zero-slice chain) and the
    // BPE pair (zero-word corpus → zero merges → empty encode)
    "q_ms_best_models", "q_ms_sample_modes", "q_ms_spectra_abundance",
    "q_text_bpe_train", "q_text_bpe_encode",
    // the durable band-index stores: a zero-row corpus must still
    // CREATE the store (an append of an empty frame), not die reading
    // a never-written path
    "q_dedup_index_store", "q_sim_index_store",
    // r6b: prefix-cosine rank audit (empty corpus → zero rankings) and
    // the per-lang fertility aggregate (empty group-by → zero rows, the
    // floor-div ratios must never see a zero denominator)
    "q_sim_matryoshka", "q_text_fertility",
    // r6c: sign-bit packing over an empty corpus, a zero-edge peel
    // (every round must emit its (r, 0, 0) row, not die), and a
    // delta-merge where both partial sides are empty
    "q_sim_binary_hamming", "q_graph_kcore", "q_scale_mv_maintain",
    "q_scale_hilbert",
    // r6d: an empty trailing frame must yield zero anomalies (not a
    // div-by-zero on the cleared variance), per-doc lexical ratios on
    // zero docs, and Observation metrics on a zero-row host pass
    // (obs.get returns count 0 / null aggregates — the literal-row
    // build must tolerate nulls)
    "q_window_anomaly", "q_text_lexical", "q_scale_observe",
    "q_window_markov", "q_scale_mv_retract",
    // r7: the unigram tokenizer triple — a zero-word corpus must yield
    // an empty vocab (no unreachable-position require), empty encode,
    // and a zero-row comparison (the div guards on total_words/tokens)
    "q_text_unigram_train", "q_text_unigram_encode",
    "q_text_tokenizer_cmp",
    "q_sim_reciprocal_nn", "q_text_kappa",
    // r7b: seeded-restart PageRank (no seed in an empty node set must
    // yield empty, not a div-by-zero on |S|), the NN-descent round
    // (empty seed graph → empty candidates → zero recall rows), and
    // the posting-list index (empty corpus → empty posting lists AND
    // an empty probe set — the lookup must not die on either)
    "q_graph_ppr", "q_sim_nn_descent", "q_scale_secondary_index",
    // r7c: the Bellman-Ford relax (an empty node set must skip the
    // driver-side min-source read) and the IVF balance audit (its
    // single aggregate row carries NULL min/max on an empty corpus —
    // the integer ratios must tolerate NULL, not throw)
    "q_graph_sssp", "q_sim_ivf_balance",
    // the PIT union+window must tolerate empty spine AND feature legs,
    // and the leakage audit an empty pair store
    "q_join_pit", "q_dedup_split_leakage",
    // r7c: AUC's rank-sum guards (0 positives AND 0 negatives on an
    // empty held-out set), the calibration bins (empty group-by), the
    // stratified rank (no strata), HITS (empty node set must skip all
    // six normalize rounds cleanly), and the prefix join (empty
    // prefix index → empty candidate set, with the hot-list collect
    // returning zero rows)
    "q_text_auc", "q_text_calibration", "q_scale_stratified_split",
    "q_graph_hits", "q_dedup_ppjoin")

  test("representative queries run to completion on zero-row tables") {
    assume(haveData)
    representative.foreach { q =>
      withClue(q) {
        noException should be thrownBy
          SparkEntry.queries(q)(spark, emptyDir).count()
      }
    }
  }

  test("streaming queries run to completion on zero-row sources") {
    assume(haveData)
    // an AvailableNow replay over an empty landing file is exactly the
    // "new tenant / quiet hour" shape — the memory-sink table must
    // exist (and be empty), not throw
    Seq("q_stream_tumbling", "q_stream_sessionize",
      "q_stream_static_join", "q_stream_outer_join",
      "q_stream_admission", "q_stream_video_admission",
      "q_stream_index_upsert", "q_stream_mv_maintain",
      "q_stream_anomaly", "q_stream_mv_retract",
      "q_stream_funnel").foreach { q =>
      withClue(q) {
        noException should be thrownBy
          SparkEntry.queries(q)(spark, emptyDir).count()
      }
    }
  }
}
