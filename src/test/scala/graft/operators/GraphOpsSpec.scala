package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden checks for the graph pack on hand-built graphs where the
  * answer is known by inspection (the DuckDB oracle checks sf0.01;
  * these pin the algorithms themselves on adversarially tiny inputs). */
class GraphOpsSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** Write a minimal star-schema dir: two nations trading symmetrically
    * (edge 0→1 and 1→0, equal weight) and four orders whose part sets
    * make exactly one co-purchase triangle. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-graph").toString
    Seq((0L, "N_A"), (1L, "N_B")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$d/nation.parquet")
    Seq((10L, 0L), (11L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$d/supplier.parquet")
    Seq((20L, 0L), (21L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$d/customer.parquet")
    // o1: cust in nation1, supplied from nation0; o2: the reverse
    Seq((1L, 21L), (2L, 20L), (3L, 20L), (4L, 21L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    // parts: order 1 = {1,2,3} (triangle), order 2 = {3,4}, order 3 = {1,2}
    Seq(
      (1L, 10L, 1L), (1L, 10L, 2L), (1L, 10L, 3L),
      (2L, 11L, 3L), (2L, 11L, 4L),
      (3L, 11L, 1L), (3L, 11L, 2L))
      .toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("pagerank: symmetric 2-node trade cycle gives equal ranks") {
    val rows = SparkEntry.queries("q_graph_pagerank")(spark, dir).collect()
    rows.length shouldBe 2
    val ranks = rows.map(_.getLong(1))
    ranks(0) shouldBe ranks(1)
    // damped integer PageRank conserves ≈ all mass (integer division
    // only ever loses downward)
    val total = ranks.sum
    total should be <= 1000000000000L
    total should be > (1000000000000L * 95L / 100L)
  }

  test("triangles: one known triangle among the co-purchase edges") {
    val r = SparkEntry.queries("q_graph_triangles")(spark, dir).collect()
    r.length shouldBe 1
    // nodes {1,2,3,4}; edges {12,13,23,34}; the only triangle is 1-2-3
    r(0).getAs[Long]("n_nodes") shouldBe 4L
    r(0).getAs[Long]("n_edges") shouldBe 4L
    r(0).getAs[Long]("n_triangles") shouldBe 1L
  }

  test("capped triangles: both branches of the hub early-out agree with " +
      "hand counts") {
    // nodes {1,2,3,4}; edges {12,13,23,34}; degrees 1:2, 2:2, 3:3, 4:1.
    // cap=2 → node 3 is a hub: every incident edge drops, leaving
    // e1={12} — no wedge, no triangle, one hub dropped (the anti-join
    // branch). Default cap → no hubs: the EARLY-OUT branch must return
    // exactly the uncapped kernel's answer with n_hubs_dropped=0 and
    // WITHOUT the anti-join machinery in its plan (the n_hubs=0 regime
    // measured 1.7× the exact kernel's cost at sf0.1 before the
    // early-out).
    val (capped, cc) = GraphOps.trianglesCappedPlan(spark, dir, cap = 2L)
    val r1 = capped.collect()
    cc.foreach(_.unpersist())
    r1.length shouldBe 1
    r1(0).getAs[Long]("n_nodes") shouldBe 2L
    r1(0).getAs[Long]("n_edges") shouldBe 1L
    r1(0).getAs[Long]("n_wedges") shouldBe 0L
    r1(0).getAs[Long]("n_triangles") shouldBe 0L
    r1(0).getAs[Long]("n_hubs_dropped") shouldBe 1L

    val (eo, ec) = GraphOps.trianglesCappedPlan(spark, dir)
    eo.queryExecution.executedPlan.toString should not include ("LeftAnti")
    val r2 = eo.collect()
    ec.foreach(_.unpersist())
    r2(0).getAs[Long]("n_nodes") shouldBe 4L
    r2(0).getAs[Long]("n_edges") shouldBe 4L
    r2(0).getAs[Long]("n_triangles") shouldBe 1L
    r2(0).getAs[Long]("n_hubs_dropped") shouldBe 0L
  }

  test("label propagation: path-attached triangle converges to one community") {
    // nodes {1,2,3,4}; edges {12,13,23,34}. Hand trace (mode, ties → min):
    // r1: 1→2 (nbr labels {2,3} tie), 2→1, 3→1, 4→3
    // r2: 1→1 (both nbrs now 1), 2→1 (tie {2,1}), 3→1 (tie {2,1,3}), 4→1
    // r3: fixpoint — everyone 1, one community of 4.
    val rows = SparkEntry.queries("q_graph_label_prop")(spark, dir).collect()
    rows.length shouldBe 4
    rows.map(_.getAs[Long]("node")).toSeq shouldBe Seq(1L, 2L, 3L, 4L)
    all(rows.map(_.getAs[Long]("label"))) shouldBe 1L
    all(rows.map(_.getAs[Long]("community_size"))) shouldBe 4L
  }

  test("kcore: hand-traced peel cascade reaches its fixpoint") {
    // nodes {1,2,3,4}; edges {12,13,23,34}. Degrees 1:2, 2:2, 3:3, 4:1.
    // k=2 peel: round 1 drops node 4 (deg 1) and edge 34 → the triangle
    // {1,2,3} (all deg 2) survives rounds 2–3 unchanged (fixpoint).
    val (out, caches) = GraphOps.kcorePlan(spark, dir, k = 2L)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    caches.foreach(_.unpersist())
    rows.toSeq shouldBe Seq((0L, 4L, 4L), (1L, 3L, 3L),
      (2L, 3L, 3L), (3L, 3L, 3L))
  }

  test("kcore registry query: tiny graph peels to empty at k=100") {
    // every degree is far below the registry threshold, so round 1
    // already reaches the empty fixpoint — the budget-cut shape the
    // output encodes must be (n, 0, 0, 0), never an error
    val rows = SparkEntry.queries("q_graph_kcore")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.toSeq shouldBe Seq((0L, 4L, 4L), (1L, 0L, 0L),
      (2L, 0L, 0L), (3L, 0L, 0L))
  }

  /** The same 2-nation trade graph, plus regions: nation 0 is in ASIA
    * (the PPR seed region), nation 1 elsewhere. Edge weights after
    * out-weight normalization are symmetric (each node's whole rank
    * flows to the other), so the PPR recurrence collapses to a scalar
    * pair — mirrored sequentially in-test. */
  private lazy val regionDir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-graph-r").toString
    Seq((0L, "ASIA"), (1L, "EUROPE")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$d/region.parquet")
    Seq((0L, "N_A", 0L), (1L, "N_B", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$d/nation.parquet")
    Seq((10L, 0L), (11L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$d/supplier.parquet")
    Seq((20L, 0L), (21L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$d/customer.parquet")
    Seq((1L, 21L), (2L, 20L), (3L, 20L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    // edge 0→1 carries 3 lineitems, edge 1→0 carries 4 — asymmetric
    // weights that out-weight normalization must cancel exactly
    Seq(
      (1L, 10L, 1L), (1L, 10L, 2L), (1L, 10L, 3L),
      (2L, 11L, 3L), (2L, 11L, 4L),
      (3L, 11L, 1L), (3L, 11L, 2L))
      .toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("ppr: distributed ranks equal the sequential recurrence") {
    // single seed (node 0), full-rank flow both ways: the recurrence is
    // r0' = 15e12/100 + 85*r1/100 ; r1' = 85*r0/100 (integer div) —
    // traced sequentially here, independent of the DataFrame loop
    var (r0, r1) = (1000000000000L, 0L)
    (1 to 5).foreach { _ =>
      val n0 = 150000000000L + 85L * r1 / 100L
      val n1 = 85L * r0 / 100L
      r0 = n0; r1 = n1
    }
    val rows = SparkEntry.queries("q_graph_ppr")(spark, regionDir).collect()
    rows.length shouldBe 2
    val byName = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getInt(2))).toMap
    byName("N_A") shouldBe ((r0, 1))
    byName("N_B") shouldBe ((r1, 0))
  }

  test("hits: weighted star — sole importer is the authority, " +
      "exporters are hubs in weight proportion") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-graph-h").toString
    Seq((0L, "N_A"), (1L, "N_B"), (2L, "N_C"))
      .toDF("n_nationkey", "n_name")
      .write.parquet(s"$d/nation.parquet")
    Seq((10L, 0L), (11L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$d/supplier.parquet")
    Seq((22L, 2L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$d/customer.parquet")
    Seq((1L, 22L), (2L, 22L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    // edge 0→2 carries 2 lineitems, edge 1→2 carries 1
    Seq((1L, 10L, 1L), (1L, 10L, 2L), (2L, 11L, 3L))
      .toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    // trace: a(2) normalizes to 1000 (sole in-node); hub raws are then
    // a(2)·w = (2000, 1000, 0) → h = (1000, 500, 0); fixpoint from
    // round 1 on, so 3 rounds land exactly here
    val rows = SparkEntry.queries("q_graph_hits")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    rows.toSeq shouldBe Seq(
      "N_C" -> ((0L, 1000L)),
      "N_A" -> ((1000L, 0L)),
      "N_B" -> ((500L, 0L)))
  }

  test("sssp: rarity costs from the lowest node, exact integer distances") {
    // source = node 0; cost(0→1) = 1e9 div 3, cost(1→0) = 1e9 div 4
    val rows = SparkEntry.queries("q_graph_sssp")(spark, regionDir).collect()
    rows.map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("N_A", 0L), ("N_B", 333333333L))
  }

  test("lift: hand-computed association lift with the support floor") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-lift").toString
    // 5 orders. Pair (1,2) co-occurs in orders 1,2,3 (c_ab = 3, passes
    // the floor); pair (1,3) only in order 4 (filtered). c_1 = 4,
    // c_2 = 3, N = 5 → lift(1,2) = 5·3 / (4·3) = 1.25 exactly.
    // The duplicate (3, 2) row checks the DISTINCT projection.
    Seq(
      (1L, 1L), (1L, 2L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 2L),
      (4L, 1L), (4L, 3L),
      (5L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    val rows = SparkEntry.queries("q_graph_lift")(spark, d).collect()
    rows.length shouldBe 1
    rows(0).getAs[Long]("u") shouldBe 1L
    rows(0).getAs[Long]("v") shouldBe 2L
    rows(0).getAs[Long]("c_ab") shouldBe 3L
    rows(0).getAs[Double]("lift") shouldBe 1.25
  }
}
