package graft.operators

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Registry queries that persist intermediates must release them before
  * returning: a pipeline invoking a query repeatedly (as
  * q_sim_ivfpq_recall composes q_sim_ivfpq) must not accumulate
  * executor storage across invocations. Only the session stage stores
  * (graft.StoreBuilds) stay persisted. */
class CacheHygieneSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_sim_ivfpq leaves no persisted RDDs behind") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    // drive the BUILD directly, twice — the registry entry memoizes its
    // result per session, so invoking the query twice would compare the
    // memo to itself and never exercise repeat-build hygiene
    val r1 = Similarity.ivfpqBuild(spark, sf).count()
    val r2 = Similarity.ivfpqBuild(spark, sf).count()
    r1 shouldBe r2
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("graph queries release working caches; only the shared edge store stays") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    // The pack keeps THREE session-lifetime stage stores (the
    // co-purchase edge list, shared by triangles/BFS/LPA/links/k-core;
    // its directed both-direction expansion, shared by BFS/LPA/links;
    // and the trade-edge list, shared by pagerank/PPR/SSSP) — so at
    // most three persisted RDDs may remain, and the set may only ever
    // hold those same three across queries: growth means a per-query
    // working cache (degrees, adjacency, frontiers, node flags) leaked.
    var seen: Set[Int] = Set.empty
    Seq("q_graph_pagerank", "q_graph_ppr", "q_graph_sssp",
      "q_graph_triangles", "q_graph_triangles_capped", "q_graph_bfs",
      "q_graph_hits", "q_graph_kcore",
      "q_graph_label_prop", "q_graph_jaccard_links")
      .foreach { q =>
        withClue(q) {
          SparkEntry.queries(q)(spark, sf).count() should be >= 0L
          val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
          persisted.size should be <= 3
          seen ++= persisted
          seen.size should be <= 3
        }
      }
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `pack` twice: the first run leaves exactly `storeRdds` new
    * persisted RDDs (its stage stores), and the second run leaves the
    * same set — a rebuilt store or a leaked working cache would add
    * to it. */
  private def assertStoresStable(pack: Seq[String], storeRdds: Int): Unit = {
    val before = persistedIds
    def runPack(): Set[Int] = {
      pack.foreach { q =>
        withClue(q) {
          SparkEntry.queries(q)(spark, sf).count() should be >= 0L
        }
      }
      persistedIds -- before
    }
    val first = runPack()
    first.size shouldBe storeRdds
    runPack() shouldBe first
  }

  test("dedup queries leave only their stage stores, the same set on a rerun") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    // dedup_shingle_rows, dedup_shingle_sets, dedup_pair_counts,
    // dedup_near_pairs, and dedup_prefix_index (two RDDs: the prefix
    // rows and the per-doc set arrays)
    assertStoresStable(Seq("q_dedup_cluster", "q_dedup_ppjoin",
      "q_dedup_lsh_eval", "q_dedup_keep_list"), 6)
  }

  test("minLabelComponents releases its RDDs when a round throws") {
    import org.apache.spark.sql.functions.{col, udf}
    val boom = udf { (d: Long) =>
      if (d > 1) throw new IllegalStateException("boom"); d
    }
    // a range, not a local Seq: the optimizer would evaluate the udf over
    // local rows while planning, before any RDD is persisted
    val pairs = spark.range(1, 3).select(col("id").as("d1"), boom(col("id") + 1).as("d2"))
    val before = persistedIds
    intercept[Exception](Dedup.minLabelComponents(pairs))
    persistedIds shouldBe before
  }

  test("ms queries leave only their stage stores, the same set on a rerun") {
    assume(new java.io.File(s"$sf/lineitem.parquet").exists)
    // ms_slice_tensors, ms_parafac_models, ms_peak_counts
    assertStoresStable(
      Seq("q_ms_tensorize", "q_ms_decompose", "q_ms_best_models"), 3)
  }

  private def pack(prefix: String): Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted

  test("text queries leave no persisted RDDs of their own, the same on a rerun") {
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    // q_text_curation_funnel reads the dedup pack's dedup_shingle_sets
    // store; resolve it first so it counts in neither run
    Dedup.shingleSetsCached(spark, sf)
    assertStoresStable(pack("q_text_"), 0)
  }

  test("sim queries leave no persisted RDDs, the same on a rerun") {
    assume(new java.io.File(s"$sf/embeddings.parquet").exists)
    assertStoresStable(pack("q_sim_"), 0)
  }

  test("stream queries leave no persisted RDDs, the same on a rerun") {
    assume(new java.io.File(s"$sf/events.parquet").exists)
    assertStoresStable(pack("q_stream_"), 0)
  }
}
