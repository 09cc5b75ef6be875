package graft.operators

import graft.{Metrics, SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shuffle-volume guards: print thresholds on the claims COVERAGE.md
  * makes in prose. Run at sf0.01 where the text corpus is ~hundreds of
  * KB — an operator that accidentally shuffles document bodies blows
  * straight through these bounds. */
class ShuffleVolumeSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.01"
  private def haveData = new java.io.File(s"$sf/documents.parquet").exists

  private def shuffleWrite(q: String): Long =
    Metrics.measure(spark) {
      SparkEntry.queries(q)(spark, sf).count()
    }._2.shuffleWrite

  private lazy val textBytes: Long =
    Tables.documents(spark, sf)
      .agg(sum(octet_length(col("text")))).head().getLong(0)

  test("exact dedup shuffles digests, not document bodies") {
    assume(haveData)
    // the shuffle carries (digest, doc_id) rows + partial-agg overhead;
    // the corpus text itself must stay map-side. The lower bound guards
    // the METER: a broken collector reporting 0 would hollow out every
    // assertion in this suite.
    val w = shuffleWrite("q_dedup_exact")
    w should be > 0L
    w should be < textBytes / 2
  }

  test("the bigram LM shuffles counts, not text") {
    assume(haveData)
    // two count-aggregate passes + broadcast scoring: bounded by the
    // (w1, w2, count) domain, far below shipping the corpus twice
    val w = shuffleWrite("q_text_lm_score")
    w should be > 0L
    w should be < textBytes * 2
  }

  test("brute-force kNN never shuffles the vector corpus") {
    assume(haveData)
    // corpus scan + broadcast query batch + per-partition top-k: only
    // the tiny per-partition candidate sets cross the wire
    val corpusBytes = 500L * 64 * 4
    shuffleWrite("q_sim_knn_brute") should be < corpusBytes / 2
  }

  test("k-means rounds shuffle centroid partials, not the corpus") {
    assume(haveData)
    // per Lloyd round the corpus meets the centroids through a
    // BROADCAST; what shuffles is the (cluster, dim) partial-sum grid
    // and the per-vector assignment window rows — both tiny multiples
    // of k·dim — never the 500×64 quantized vectors per branch. The
    // bound is generous (the DAG has two assignment windows and two
    // update aggregations) but shipping the corpus even once per
    // round would exceed it.
    val corpusBytes = 500L * 64 * 8
    val w = shuffleWrite("q_sim_kmeans")
    w should be > 0L
    w should be < corpusBytes * 2
  }

  test("the merkle tree shuffles digests, never documents") {
    assume(haveData)
    // the level-2 rollup carries (bucket, 32-char digest) rows and the
    // upper levels reduce ≤ 256 digest rows — document text must stay
    // in the map-side md5
    val w = shuffleWrite("q_scale_merkle")
    w should be > 0L
    w should be < textBytes / 2
  }

  test("incremental ingestion shuffles digests, bands, and candidate shingles only") {
    assume(haveData)
    // exact stage: digest rows; near stage: 4 band keys per doc plus
    // the shingles of verified CANDIDATE pairs (semi-filtered before
    // the shuffle). Shipping the corpus shingle stream wholesale —
    // ~3× the text volume — is the regression this bounds out.
    val w = shuffleWrite("q_dedup_incremental")
    w should be > 0L
    w should be < textBytes
  }

  test("span removal and containment shuffle linearly in positions, never pairs") {
    assume(haveData)
    // both shuffle the per-position digest stream (inherently ~a few ×
    // the text volume: every word starts a shingle) — LINEAR in corpus
    // size. The failure mode this bounds out is quadratic: pair
    // emission over uncapped posting lists, or the island join
    // fanning out, either of which blows through the bound at once.
    val wSpan = shuffleWrite("q_dedup_span_removal")
    wSpan should be > 0L
    wSpan should be < textBytes * 10
    // containment reads the session-shared shingle cache; when this
    // measure happens to be the cache-building run, the cached source
    // costs a few % extra shuffle vs the direct-scan plan (no exchange
    // reuse across its two aggregate legs) — still LINEAR; a quadratic
    // pair blow-up overshoots by orders of magnitude, not percent.
    val wCont = shuffleWrite("q_dedup_containment")
    wCont should be > 0L
    wCont should be < textBytes * 12
  }

  test("ExactSubstr shuffles 8-byte rolled hashes, never window text") {
    assume(haveData)
    // the KR screen's exchange carries (h64, doc_id, positions) rows —
    // ~24 payload bytes per token position, NOT the 50-token window
    // (≈300 bytes) the per-position md5 form would tempt one to ship,
    // and not the 32-char hex digest either. The md5 confirm leg runs
    // only over the duplicated tail, so its contribution is bounded by
    // the duplicate density, not the corpus. A window-text (or
    // full-digest) shuffle overshoots textBytes several-fold; the
    // rolled screen stays in the same linear-in-positions envelope as
    // span_removal's 8-gram stream.
    val w = shuffleWrite("q_dedup_exact_substr")
    w should be > 0L
    w should be < textBytes * 10
  }

  test("video near-dup shuffle is linear in docs, independent of payloads") {
    assume(haveData)
    // the inverted index carries ≤ 8 (doc_id, 8-byte sig) rows per doc
    // through its stages (distinct, df cap, pair generation, pair
    // count) — a generous ~1 KB/doc covers all of them plus framework
    // row overhead. The failure modes this bounds out are quadratic
    // pair emission (uncapped hot buckets) and shipping frame bytes or
    // text into the shuffle, each of which is super-linear in docs.
    val nDocs = Tables.documents(spark, sf).count()
    val w = shuffleWrite("q_mm_video_neardup")
    w should be > 0L
    w should be < nDocs * 1000L
  }

  test("the count-min sketch aggregates cells, not words") {
    assume(haveData)
    // the sketch side reduces to 4×64 (row, bucket) cells via partial
    // aggregation; the exact top-10 ground-truth pass shuffles
    // (word, count) partials. Together they stay far below the corpus
    // text volume — the failure mode this guards is a lost partial
    // aggregation (map-side combine) on the exploded word stream.
    val w = shuffleWrite("q_scale_heavy_hitters")
    w should be > 0L
    w should be < textBytes
  }

  test("the shard manifest shuffles 64 aggregate rows, not the corpus") {
    assume(haveData)
    // hashing and digesting are map-side; the only exchanges are the
    // 64-group partials and the 1-row total. A lost map-side combine
    // (per-doc rows crossing the wire) blows through this bound.
    val w = shuffleWrite("q_scale_shard_manifest")
    w should be > 0L
    w should be < (128L << 10)
  }

  test("url dedup shuffles canonical keys, never text") {
    assume(haveData)
    // the canonical key is a ≤ 40-char host/path; text never enters
    // the aggregate. Bounded by half the corpus text volume — shipping
    // bodies would exceed it immediately.
    val w = shuffleWrite("q_text_url_dedup")
    w should be > 0L
    w should be < textBytes / 2
  }

  test("the band-index store build shuffles band keys, never shingles or text") {
    assume(haveData)
    // the build path is map-side end-to-end (shingle kernel → minhash →
    // banding → parquet append); the only exchanges are the resume
    // anti-join's doc_id probe and the profile's (band, key) aggregate —
    // 4 band-key rows (~40-char signatures) per doc, which at the test
    // corpus' short documents is the same order as the text itself.
    // The bound excludes the failure modes: the raw shingle stream is
    // ~3× text volume and document bodies more again.
    val w = shuffleWrite("q_dedup_index_store")
    w should be < textBytes
  }

  test("MV maintenance shuffles view partials, never fact rows") {
    assume(haveData)
    // the 1997 cut and the orders join are scan-side (broadcast build);
    // the only exchanges are the two partial aggregates and the final
    // sort — all |groups|-sized ((ym, priority, n, sum) rows). A lost
    // broadcast or a pre-aggregation shuffle of lineitem rows (~MBs at
    // sf0.01) blows through the bound immediately.
    val w = shuffleWrite("q_scale_mv_maintain")
    w should be > 0L
    w should be < (1L << 20)
  }

  test("binary-Hamming stage 1 shuffles top-k survivors, never codes or vectors") {
    assume(haveData)
    // signatures pack map-side and meet the broadcast query batch in
    // place; WindowGroupLimit bounds the per-partition spill to 20
    // candidate triples per query before the single exchange. The
    // bound is half the raw vector corpus (500 × 64 f32) — shipping
    // either the vectors or the full candidate cross-product would
    // exceed it at once.
    val w = shuffleWrite("q_sim_binary_hamming")
    w should be > 0L
    w should be < (500L * 64 * 4) / 2
  }
}
