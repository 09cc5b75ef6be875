package graft.operators

import graft.{SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan-shape regression guards: the properties that make these
  * operators survive a 100 TB cluster are PLAN properties (pruned
  * scans, no accidental cartesian products, bucket-co-located joins),
  * so they are asserted here against the compiled physical plans — a
  * quiet regression (e.g. a lost projection pushdown) fails CI even
  * though results stay correct. */
class PlanGuardSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/lineitem.parquet").exists

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no registry query plans a cartesian product") {
    assume(haveData)
    // the WHOLE registry: a CartesianProduct anywhere is a quiet
    // scale-killer, so compile every query's physical plan and reject
    // it outright. The only intentional cross products are tiny
    // broadcast grids (model_grid), which plan as
    // BroadcastNestedLoopJoin over literal-sized sides — allowed.
    // Streaming queries are excluded only because building their result
    // EXECUTES the stream (their shapes are standard watermarked
    // aggregates; results are oracle-checked).
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream_"))
      .foreach { q =>
        withClue(q) { plan(q) should not include "CartesianProduct" }
      }
  }

  test("video near-dup removes the hot fingerprint set by broadcast anti-join") {
    assume(haveData)
    // the df cap must stay a BROADCAST anti-join — a shuffled anti-join
    // would re-shuffle the whole signature stream just to drop the
    // (tiny by definition) hot set
    val p = plan("q_mm_video_neardup")
    p should include ("BroadcastHashJoin")
    p should include ("LeftAnti")
    p should not include "SortMergeJoin"
  }

  test("rank eval broadcasts nothing corpus-sized and keeps both legs top-k") {
    assume(haveData)
    // both retrieval legs end in a bounded top-k before the metric
    // join: a corpus-wide window (rank over ALL docs in one partition)
    // would appear as a Window with no PartitionBy over the full scan
    val p = plan("q_sim_eval_rank")
    p should not include "CartesianProduct"
  }

  test("text operators prune the documents scan to (doc_id, text)") {
    assume(haveData)
    Seq("q_text_tokens", "q_text_quality", "q_text_gopher",
      "q_text_fingerprint", "q_text_pii", "q_text_chunk").foreach { q =>
      withClue(q) {
        val scans = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(plan(q)).map(_.group(1)).toSeq
        scans should not be empty
        // no scan reads more than the two needed document columns
        scans.foreach(s => s.split(",").length should be <= 2)
      }
    }
  }

  test("mixture sampling is a map-side filter over a pruned scan") {
    assume(haveData)
    val p = plan("q_scale_mixture")
    // only (doc_id, lang) leave the scan, and nothing joins
    p should not include "Join"
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    scans should not be empty
    scans.foreach(s => s.split(",").length should be <= 2)
  }

  test("rerank ANN broadcasts the query side in both stages") {
    assume(haveData)
    val p = plan("q_sim_rerank")
    // the corpus never shuffles for the candidate join: both the
    // quantized prefilter and the full-precision rerank join against a
    // broadcast query batch
    p should include ("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("bucketed join plans with no exchange on either side") {
    assume(haveData)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      // build the bucketed tables, then re-derive the join plan under
      // the no-broadcast conf: bucket co-location must eliminate both
      // shuffle exchanges ahead of the sort-merge join
      SparkEntry.queries("q_scale_bucketed_join")(spark, sf)
      val p = spark.table("graft_ev_bucketed")
        .join(spark.table("graft_users_bucketed"), "user_id")
        .filter(col("value") > col("user_avg"))
        .queryExecution.executedPlan.toString
      p should include ("SortMergeJoin")
      p should not include "Exchange"
    } finally spark.conf.set(key, prev)
  }

  test("merkle fingerprint is a join-free aggregation over a text-only scan") {
    assume(haveData)
    // the whole tree is three stacked aggregations — a join anywhere
    // means a rollup level started moving data it should only digest
    val p = plan("q_scale_merkle")
    p should not include "Join"
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    scans should not be empty
    scans.foreach(s => s.split(",").length should be <= 1)
  }

  test("bm25 broadcasts document frequencies and corpus stats") {
    assume(haveData)
    // df (3 terms) and the 1-row stats must broadcast; a sort-merge
    // join against either would shuffle the postings stream twice
    val p = plan("q_text_bm25")
    p should include ("BroadcastHashJoin")
    p should include ("BroadcastNestedLoopJoin")
  }

  test("span removal windows per-document and scans only (doc_id, text)") {
    assume(haveData)
    // the island merge must partition by doc_id (never a global
    // window), and the documents scan must prune to the two columns
    // the operator reads
    val p = plan("q_dedup_span_removal")
    // every window line must carry a doc_id partition spec — an empty
    // partition list would funnel the corpus through one task
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    windows should not be empty
    windows.foreach(w => w should include ("[doc_id"))
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1))
      .filter(_.contains("text")).foreach { s =>
        s.split(",").length should be <= 2
      }
  }

  test("hybrid RRF takes top-10 per leg without a corpus-wide window") {
    assume(haveData)
    // each leg must reduce via TakeOrderedAndProject before the
    // 10-row rank window; a global row_number over the corpus would
    // single-partition the exchange
    val p = plan("q_sim_hybrid_rrf")
    p should include ("TakeOrderedAndProject")
    p should include ("BroadcastNestedLoopJoin") // 1-row query vector
  }

  test("hard negatives broadcast the anchors; KMV sketch is a top-k take") {
    assume(haveData)
    // anchors are the tiny side of the non-equi label join — the corpus
    // must stream past them, never the reverse; the KMV sketch must
    // come from TakeOrderedAndProject, not a global sort
    val hn = plan("q_sim_hard_negatives")
    hn should include ("BroadcastNestedLoopJoin")
    val kmv = plan("q_scale_kmv_intersect")
    kmv should include ("TakeOrderedAndProject")
  }

  test("interval-lookup join rewrites to a join-free probe") {
    assume(haveData)
    val p = plan("q_join_interval_lookup")
    p should not include "NestedLoop"
    p should include ("graft_interval_index")
  }

  test("salted join keeps the fact side shuffle-free") {
    assume(haveData)
    val p = plan("q_scale_salted_join")
    p should include ("BroadcastHashJoin")
  }

  test("graph queries equi-join — never nested-loop — and DSIR prunes") {
    assume(haveData)
    // The registry entries materialize-and-release (cache hygiene), so
    // their returned frames are LocalTableScans; assert on the LAZY
    // builders — the plans that actually execute — and release the
    // caches the builders pin.
    def lazyPlan(build: (SparkSession, String) => (
        org.apache.spark.sql.DataFrame,
        Seq[org.apache.spark.sql.DataFrame])): String = {
      val (out, caches) = build(spark, sf)
      val p = out.queryExecution.executedPlan.toString
      caches.foreach(_.unpersist())
      p
    }
    // triangles: the adjacency build and the closure's two edge→adj
    // joins must plan as hash (equi) joins — a nested loop there is
    // the O(E·V) trap. The ONLY permitted nested loops are the three
    // 1-row × 1-row stat combines (n_nodes × n_edges × n_wedges ×
    // closure), harmless at any scale.
    val tri = lazyPlan(GraphOps.trianglesPlan)
    "BroadcastNestedLoopJoin".r.findAllIn(tri).size should be <= 3
    (tri should include).regex("(BroadcastHashJoin|SortMergeJoin)")
    lazyPlan(GraphOps.bfsPlan) should not include "NestedLoop"
    lazyPlan(GraphOps.pagerankPlan) should not include "NestedLoop"
    lazyPlan(GraphOps.labelPropPlan) should not include "NestedLoop"
    // link prediction: the 2-hop expansion must stream the edge list
    // against the BROADCAST query adjacency, never shuffle it
    val links = lazyPlan(GraphOps.jaccardLinksPlan)
    links should not include "NestedLoop"
    links should include ("BroadcastHashJoin")
    // DSIR touches only (doc_id, lang, text)
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan("q_text_dsir")).map(_.group(1)).toSeq
    scans should not be empty
    scans.foreach(s => s.split(",").length should be <= 3)
  }

  test("TPC-H Q7/Q10 broadcast every dimension side") {
    assume(haveData)
    Seq("q_join_tpch_q7", "q_join_tpch_q10").foreach { q =>
      withClue(q) {
        val p = plan(q)
        p should include ("BroadcastHashJoin")
        p should not include "NestedLoop"
      }
    }
  }

  test("TPC-H Q8/Q19 extract the equi-key; Q22 plans a broadcast anti join") {
    assume(haveData)
    // Q8: 8-table join — part/nation/region/supplier all broadcast
    // Q19: the OR-of-conjunctions must NOT defeat the p_partkey equi-join
    Seq("q_join_tpch_q8", "q_join_tpch_q19").foreach { q =>
      withClue(q) {
        val p = plan(q)
        p should include ("BroadcastHashJoin")
        p should not include "NestedLoop"
      }
    }
    // Q22's scalar cutoff joins as a 1-row BroadcastNestedLoopJoin (the
    // scalar-broadcast pattern — fine at any scale), so only the anti
    // join's hash plan is pinned here.
    val q22 = plan("q_join_tpch_q22")
    q22 should include regex "BroadcastHashJoin .*LeftAnti"
  }

  test("TPC-H Q6 is a join-free aggregate with every filter at the scan") {
    assume(haveData)
    val p = plan("q_join_tpch_q6")
    p should not include "Join"
    // shipdate + discount + quantity must reach the parquet scan
    p should include regex "PushedFilters: \\[[^\\]]*l_shipdate"
    p should include regex "PushedFilters: \\[[^\\]]*l_discount"
    p should include regex "PushedFilters: \\[[^\\]]*l_quantity"
    // a 4-column projection over an 11-column table must prune the scan
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    scans should not be empty
    scans.foreach(s => s.split(",").length should be <= 4)
  }

  test("new TPC-H shapes broadcast their dimension sides") {
    assume(haveData)
    // Q2/Q9/Q16/Q20: part/supplier/nation/region (and derived per-part
    // minima / totals) all broadcast — the lineitem side only shuffles
    // for its own groupBy keys, never to co-locate with a dimension
    Seq("q_join_tpch_q2", "q_join_tpch_q9", "q_join_tpch_q16",
      "q_join_tpch_q20").foreach { q =>
      withClue(q) {
        val p = plan(q)
        p should include ("BroadcastHashJoin")
        p should not include "NestedLoop"
      }
    }
    // Q4's EXISTS and Q21's EXISTS/NOT-EXISTS plan as semi/anti hash
    // joins — a nested loop on the l_orderkey correlation would be the
    // O(orders·lines) trap
    plan("q_join_tpch_q4") should include regex
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) .*LeftSemi"
    val q21 = plan("q_join_tpch_q21")
    q21 should include regex
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) .*LeftSemi"
    q21 should include regex
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) .*LeftAnti"
    q21 should not include "NestedLoop"
  }

  test("MaxSim broadcasts the query grid; compaction never joins") {
    assume(haveData)
    // the query grid crosses the corpus as a broadcast nested loop (5
    // rows × corpus — the intended all-pairs scorer); any shuffle join
    // here means the corpus moved
    val ms = plan("q_sim_maxsim")
    ms should include ("BroadcastNestedLoopJoin")
    ms should not include "SortMergeJoin"
    // compaction planning is one window + one aggregate over a pruned
    // 3-column listing scan — any join here is a regression
    val cp = plan("q_scale_compaction")
    cp should not include "Join"
    val scans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(cp).map(_.group(1)).toSeq
    scans should not be empty
    scans.foreach(s => s.split(",").length should be <= 3)
  }

  test("bloom semi-join tests both hashes via broadcast, no fact shuffle") {
    assume(haveData)
    val p = plan("q_scale_bloom_join")
    // the bitset joins must both broadcast; a sort-merge join anywhere
    // means the fact side shuffled before the bloom filter could drop it
    p should include ("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("runtime-derived dim injects a dynamic partition-pruning filter") {
    assume(haveData)
    val p = plan("q_scale_dpp")
    p.toLowerCase should include ("dynamicpruning")
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    assume(haveData)
    val p = plan("q_scale_partition_pruning")
    // the selective filter must reach the scan as a partition filter —
    // pruned scans list it under PartitionFilters, not as a row filter
    p should include ("PartitionFilters")
    p should include regex "PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\]"
  }

  test("MV maintenance merges partials without a third exchange") {
    assume(haveData)
    // both partial aggregates hash-partition on the SAME view keys, so
    // the merge aggregate must sit directly on the Union — a third
    // hash exchange would mean the merge re-shuffles |groups| rows it
    // already owns (and at 100 TB, that the maintenance path lost its
    // co-partitioning with the stored view)
    val p = plan("q_scale_mv_maintain")
    p should include ("Union")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 2
    p should not include "SortMergeJoin"
    // same contract for the retraction form: base partials + signed
    // delta partials hash-partition on the view key, the merge sits on
    // the Union (no third view-key exchange), and the change feed is
    // reduced map-side (partial aggregates) before it meets the view
    val pr = plan("q_scale_mv_retract")
    pr should include ("Union")
    "Exchange hashpartitioning".r.findAllIn(pr).size shouldBe 2
    pr should include ("partial_sum")
  }

  test("streaming MV twins merge the store in one map-side-combined exchange") {
    assume(haveData)
    // The read-time merge over the batch_id-partitioned partial store
    // must be a single hash-aggregate pass: partial_sum map-side, ONE
    // hash exchange of |groups|-sized partials, final aggregate — no
    // join, no second view-key exchange. Building the plan executes
    // the stream (sf0.001, a few micro-batches) — the merge plan is
    // only constructible against a populated store.
    Seq("q_stream_mv_maintain", "q_stream_mv_retract").foreach { q =>
      withClue(q) {
        val p = plan(q)
        "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
        p should include ("partial_sum")
        p should not include "Join"
      }
    }
  }

  test("binary-Hamming stage 1 shuffles only the top-k survivors") {
    assume(haveData)
    // sign packing and the Hamming scan are map-side (query batch
    // broadcast); the ONLY hash exchange is the per-query top-k
    // window, and a WindowGroupLimit must bound it map-side first so
    // the shuffle carries candidate triples, not the corpus
    val p = plan("q_sim_binary_hamming")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should include ("WindowGroupLimit")
    p should not include "SortMergeJoin"
  }

  test("anomaly gate plans ONE window operator and one hash exchange") {
    assume(haveData)
    // all three trailing aggregates (count, Σv, Σv²) must share a
    // single Window operator — a second Window means a second pass
    // over every sorted per-user partition; the only hash exchange is
    // the partition-by-user shuffle (the final sort is a range
    // exchange, the output-order contract)
    val p = plan("q_window_anomaly")
    "\\bWindow \\[".r.findAllIn(p).size shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should not include "SortMergeJoin"
  }

  test("lexical diversity is explode + two map-side-combined aggregates") {
    assume(haveData)
    // (doc_id, word) counts must partial-aggregate BEFORE their
    // exchange (a 100 KB doc then costs O(distinct words) shuffled
    // rows); the per-doc rollup is the second hash exchange; no join
    // anywhere
    val p = plan("q_text_lexical")
    p should include ("Generate explode")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 2
    p should include ("partial_count")
    p should not include "Join"
  }

  test("stratified split ranks inside (lang, bucket) partitions with " +
      "broadcast offsets") {
    assume(haveData)
    // the exact-balance rank must come from the two-pass decomposition:
    // the corpus-side window partitions by (lang, b) — never lang
    // alone, which would require the biggest stratum to fit one task —
    // and the prefix offsets arrive as a broadcast, not a shuffle join
    val p = plan("q_scale_stratified_split")
    "hashpartitioning\\(lang[^)]*, b#".r.findAllIn(p).size should be >= 1
    p should include ("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("prefix join plans hash joins only — no cartesian, no " +
      "nested-loop candidate generation") {
    assume(haveData)
    // candidates come from the prefix-token equi-join and verification
    // from the d1/d2 equi-joins; any BroadcastNestedLoopJoin or
    // CartesianProduct here means the prefix filter degenerated into
    // an all-pairs scan (the registry entry materializes, so pin the
    // lazy builder)
    val (out, caches) = Dedup.ppjoinPlan(spark, sf)
    val p = out.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("event-sequence windows prune the events scan to 4 columns") {
    assume(haveData)
    // the per-user window shuffles the whole corpus once — if column
    // pruning regresses, the `props` string (the table's widest
    // column) silently rides that shuffle at ~10× the bytes/row;
    // anomaly needs (user_id, event_id, ts, value), markov
    // (user_id, event_id, ts, event_type)
    Seq("q_window_anomaly", "q_window_markov").foreach { q =>
      withClue(q) {
        val scans = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(plan(q)).map(_.group(1)).toSeq
        scans should not be empty
        scans.foreach { s =>
          s.split(",").length should be <= 4
          s should not include "props"
        }
      }
    }
  }

  test("observe gate reads back as a literal row, never a recompute") {
    assume(haveData)
    // the metrics were accumulated on the host pass inside run();
    // the returned frame must be the one-row literal — if this plans
    // a parquet scan, the "zero extra scans" contract silently became
    // a second full pass
    val p = plan("q_scale_observe")
    p should include ("LocalTableScan")
    p should not include "Scan parquet"
  }

  test("secondary index probes zones by broadcast; NN-descent joins stay equi") {
    assume(haveData)
    // posting-list index: the zone-probe leg is a RANGE join of a
    // tiny probe set against the per-file zone table — it must plan
    // as a broadcast nested-loop of the PROBES (constant-sized), never
    // a shuffle of either side and never a cartesian product
    val (sOut, sCaches) = ScaleOps.secondaryIndexPlan(spark, sf)
    val sp = sOut.queryExecution.executedPlan.toString
    sCaches.foreach(_.unpersist())
    sp should include ("BroadcastNestedLoopJoin")
    sp should not include "CartesianProduct"
    // NN-descent: every pair-generating leg is an EQUI-join (on label
    // for the scoring legs, on the endpoint/pair key for the two-hop
    // expansion and rescore) — a nested-loop anywhere means the
    // bounded-candidate contract silently became all-pairs
    val (nOut, nCaches) = Similarity.nnDescentPlan(spark, sf)
    val np = nOut.queryExecution.executedPlan.toString
    nCaches.foreach(_.unpersist())
    np should not include "BroadcastNestedLoopJoin"
    np should not include "CartesianProduct"
  }

  test("BFS/LPA/link-prediction probe the shared directed edge store") {
    assume(haveData)
    // The both-direction adjacency is a ledgered session store (r8):
    // each consumer's executed plan must PROBE it (InMemoryTableScan)
    // rather than re-derive + re-persist the union per call — the
    // regression this pins is three queries each paying the 2|E|-row
    // build the store exists to amortize.
    def lazyPlan(build: (SparkSession, String) => (
        org.apache.spark.sql.DataFrame,
        Seq[org.apache.spark.sql.DataFrame])): String = {
      val (out, caches) = build(spark, sf)
      val p = out.queryExecution.executedPlan.toString
      caches.foreach(_.unpersist())
      p
    }
    // BFS truncates per round (r11) but its LAST round's relax join
    // still probes the store in the final lazy plan
    val (bfsOut, bfsRdds) = GraphOps.bfsLoop(spark, sf)
    val bfsPlanStr = bfsOut.queryExecution.executedPlan.toString
    bfsOut.collect() // the loop's RDD blocks are live; release below
    bfsRdds.foreach(_.unpersist())
    bfsPlanStr should include ("InMemoryTableScan")
    // LPA truncates per round (r11), so the final plan starts at an
    // RDD scan — the store probe is asserted on the ROUND plan, the
    // unit the loop actually repeats
    GraphOps.lpaRoundPlan(spark, sf).queryExecution.executedPlan
      .toString should include ("InMemoryTableScan")
    lazyPlan(GraphOps.jaccardLinksPlan) should include ("InMemoryTableScan")
  }

  test("LPA rounds are exchange-free: broadcast labels over the partitioned store") {
    assume(haveData)
    // The r10 fix pinned structurally on the ROUND plan (post-r11
    // truncation, the unit the loop repeats): the label frame is the
    // explicit broadcast side and the directed store persists
    // hash-partitioned on src, so HashPartitioning(src) satisfies the
    // round's (src, lbl) mode-aggregate clustering — a round
    // contributes NO hash exchange and NO SortMergeJoin (the
    // regression this kills: labels' size estimate degrading past the
    // broadcast threshold and the whole edge store re-exchanging per
    // round — the 5.25x warm scale cell of BENCH_SCALE_r09). Count
    // ShuffleExchangeExec NODES by tree-walk, not by string (the old
    // "ShuffleExchange" regex was vacuous — ShuffleExchangeExec PRINTS
    // as plain "Exchange", and a string count over this plan also
    // swallows the store's one-time build exchanges, which the
    // InMemoryRelation dump embeds verbatim): the label INIT's
    // distinct is also clustering-satisfied by the store's
    // partitioning, so the round plan must carry ZERO hash exchanges.
    val exec = GraphOps.lpaRoundPlan(spark, sf).queryExecution.executedPlan
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val kids = p match {
        // descend into the AQE wrapper's CURRENT plan (= the initial
        // EnsureRequirements-applied plan before execution); an
        // InMemoryTableScan is a leaf, so the store's cached build
        // plan is correctly NOT counted
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      (p match {
        case _: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => 1
        case _ => 0
      }) + kids.map(shuffles).sum
    }
    val p = exec.toString
    p should not include "SortMergeJoin"
    p should include ("BroadcastHashJoin")
    shuffles(exec) shouldBe 0
  }

  test("iterative graph loops keep their logical plans FLAT per round") {
    assume(haveData)
    // The engine's recurring plan disease: an iterative loop that reads
    // its state frame TWICE per round doubles the LOGICAL plan per
    // round — 2^rounds copies of the base lineage, a data-independent
    // driver-side analysis cost (measured three times now: the
    // DataFrame CC fixpoint, HITS, and round 7's SSSP at 58.8 s cold on
    // a 25-node graph). The cure is per-round truncation (persisted-RDD
    // rewrap). Pin it structurally: the final lazy plan of every
    // fixed-round loop must stay within a SMALL node budget — at
    // Iters = 5, an untruncated double-read loop lands at ≥ 32 copies
    // of its base plan (hundreds of nodes), so these bounds cannot be
    // met by anything but flat (truncated) or strictly single-read
    // (linear) lineage. A fourth iterative op that reintroduces the
    // disease fails here before it ships.
    def nodeCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    // SSSP truncates per round: the final plan starts at the LAST
    // round's RDD scan — constant-sized regardless of Iters
    val (ssspOut, ssspCaches, ssspRdds) = GraphOps.ssspLoop(spark, sf)
    val ssspNodes = nodeCount(ssspOut)
    ssspOut.collect() // the loop's RDD blocks are live; release below
    ssspRdds.foreach(_.unpersist())
    ssspCaches.foreach(_.unpersist())
    ssspNodes should be <= 40
    // PageRank/PPR read their state ONCE per round — lineage grows
    // linearly in Iters (≈ a dozen nodes per round), never doubles
    def lazyNodes(build: (SparkSession, String) => (
        org.apache.spark.sql.DataFrame,
        Seq[org.apache.spark.sql.DataFrame])): Int = {
      val (out, caches) = build(spark, sf)
      val n = nodeCount(out)
      caches.foreach(_.unpersist())
      n
    }
    // measured: pagerank 384 / ppr ~450 / label-prop ~150 nodes at
    // Iters = 5 (resp. 3) — a double-read loop at the same round count
    // multiplies these by ~2^Iters/Iters ≈ 6×, far past the bounds
    lazyNodes(GraphOps.pagerankPlan) should be <= 500
    lazyNodes(GraphOps.pprPlan) should be <= 650
    // label-prop truncates per round (r11): its final lazy plan starts
    // at the LAST round's RDD scan — constant-sized regardless of
    // LpaRounds, like SSSP's
    val (lpaOut, lpaRdds) = GraphOps.lpaLoop(spark, sf)
    val lpaNodes = nodeCount(lpaOut)
    lpaOut.collect() // the loop's RDD blocks are live; release below
    lpaRdds.foreach(_.unpersist())
    lpaNodes should be <= 40
    // kcore truncates per round (r11): every round's survivor-edge
    // plan starts at the previous round's RDD scan, so the probe must
    // see FLAT per-round plan sizes — the pre-r11 shape grew one
    // semi-join pair (≈ +20 logical nodes) per round, and an aged
    // session amplified that data-independent plan-time to 5.5–8.3 s
    // in-bench vs 2.6–2.8 s fresh (the r10 verdict's one `weak`)
    val kcoreRoundNodes = scala.collection.mutable.ArrayBuffer.empty[Int]
    GraphOps.kcorePlan(spark, sf,
      roundProbe = (_, next) => kcoreRoundNodes += nodeCount(next))
    kcoreRoundNodes should have size 3
    // round 1 reads the e0 store through its full LOGICAL build
    // lineage (~68 nodes — caching truncates the physical read, not
    // the logical tree); rounds 2+ start at the previous round's RDD
    // scan (~28). The pin is that post-truncation rounds stay FLAT —
    // the pre-r11 growing chain added ~+20 nodes per round
    kcoreRoundNodes.max should be <= 100
    val postTrunc = kcoreRoundNodes.drop(1)
    (postTrunc.max - postTrunc.min) should be <= 2
    postTrunc.max should be <= kcoreRoundNodes.head
    // BFS truncates per round since r11 (it was the last geometric
    // double-read loop — 399 nodes at 3 rounds before; the final plan
    // now starts at the LAST round's RDD scan plus one relax join over
    // the store lineage). This closes the "every iterative loop in the
    // codebase is pinned" claim: sssp/bfs/kcore/lpa truncate,
    // pagerank/ppr are single-read linear.
    val (bfsOut2, bfsRdds2) = GraphOps.bfsLoop(spark, sf)
    val bfsNodes = nodeCount(bfsOut2)
    bfsOut2.collect() // the loop's RDD blocks are live; release below
    bfsRdds2.foreach(_.unpersist())
    bfsNodes should be <= 80
  }

  test("PIT join enriches all feature groups in one shuffle and one window") {
    assume(haveData)
    // the operator's scale claim IS this plan shape: union-tagged legs
    // → ONE exchange on the user key → ONE Window computing every
    // group's carry-forward — adding a feature group must not add an
    // exchange or a second window (the second Exchange is the
    // presentation orderBy). Two Windows here means the per-group
    // carries stopped fusing and each group pays a redundant sort.
    val p = plan("q_join_pit")
    p.split("Exchange").length - 1 shouldBe 2
    p.split("Window").length - 1 shouldBe 1
    p should not include "SortMergeJoin"
    p should not include "BroadcastHashJoin"
  }

}
