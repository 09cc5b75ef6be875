package graft.operators

import graft.{GraftQuery, QueryPack, Tables}
import graft.sparkutil.ScalableRank.materializeAndRelease
import org.apache.spark.sql.functions._

/** Graph analytics over relationally-derived graphs — the operator class
  * a training-data pipeline needs for link/citation/co-occurrence
  * structure (domain ranking for crawl prioritization, co-purchase /
  * co-citation communities), expressed as iterative DataFrame plans.
  *
  * Both queries keep EVERY quantity in 64-bit integer arithmetic
  * (fixed-point ranks, exact counts) so the result is bit-identical in
  * any engine regardless of join order, partial-aggregation order, or
  * summation tree — the lesson from the round-1 LSH hash fail, applied
  * as a design rule: iterative numeric algorithms over shuffled data
  * must not let IEEE addition order reach the output.
  *
  * Scale notes:
  *  - PageRank: the rank/edge join shuffles on node id with map-side
  *    partial aggregation of contributions; the edge table is built once
  *    (one fact-fact shuffle) and cached. At web scale (billions of
  *    nodes) the identical plan holds — ranks co-partition with edges by
  *    node id and each iteration is one shuffle; nothing here assumes
  *    the node universe fits anywhere.
  *  - Triangles: degree orientation (edges point low→high degree) bounds
  *    every out-neighborhood by O(√m), which bounds the wedge join —
  *    the standard trick that makes distributed triangle counting
  *    feasible on skewed graphs (a celebrity node of degree 10⁶
  *    otherwise emits 10¹² wedges).
  */
object GraphOps extends QueryPack {

  /** Fixed-point scale for PageRank ranks (1.0 == 10¹²). Headroom:
    * rank ≤ SCALE and edge weights ≤ ~10⁶ keep rank·w ≤ 10¹⁸ < 2⁶³−1;
    * beyond that the same plan runs on DECIMAL(38,0). */
  private val Scale = 1000000000000L
  private val Iters = 5

  // Fixed round counts for the remaining iterative ops, each hoisted
  // into ONE definition interpolated into BOTH the Scala loop and the
  // generated oracle SQL — a drift between the two sides would surface
  // as a confusing hash mismatch rather than a clear error, so neither
  // side may carry its own literal (same policy as Iters/KcoreRounds).
  private val HitsRounds = 3
  private val BfsRounds = 3
  private val LpaRounds = 3

  /** Apex-degree ceiling for common-neighbor (wedge) pair emission in
    * link prediction — the graph twin of `Dedup.MaxShingleDf`: a hub
    * apex of degree h emits O(h²) wedge rows with ~no Jaccard signal,
    * so wedges only form through apexes of degree ≤ this. Sits at the
    * co-purchase graph's ~P95 (median ≈ 116, P95 ≈ 155–161 at both
    * test scales) — the cap must clear the TYPICAL degree and cut
    * only the hub tail, or the kernel filters the graph instead of
    * its skew. */
  private[operators] val MaxApexDeg = 160L

  /** Distinct undirected co-purchase edges (u < v): parts appearing in
    * the same order. Per-order item counts are bounded (TPC-H ≤ 7), so
    * the orderkey self-join emits O(k²)-per-order = O(|lineitem|) pairs
    * — no quadratic hazard at any corpus size. */
  private def coPurchaseEdges(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // r11 (guide §2.4): the original orderkey SELF-JOIN scanned lineitem
    // twice and broadcast one full projection (~33 MB at sf0.1) to emit
    // the per-order pairs. Aggregating each order's distinct part set
    // first (collect_set, map-side combinable — ONE scan, one exchange
    // on l_orderkey) and emitting the C(k, 2) in-order pairs with a
    // codegen'd array transform produces the identical pair stream
    // (k ≤ 7 by TPC-H construction bounds the explode exactly like the
    // self-join's per-order fan-out); the cross-order `distinct` is
    // unchanged. Same liftPlan trick; store build measured 9.0 → 6.1 s
    // cold / 2.3 → ~1.6 s in-bench.
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> struct(x AS u, y AS v))))")).as("p"))
      .select(col("p.u"), col("p.v"))
      .distinct()
  }

  // The derived edge list is the graph pack's shared stage boundary —
  // triangles, BFS, label propagation, and link prediction all start
  // from it, and each used to rebuild the fact-fact self-join +
  // distinct (~2–3 s at sf0.1) from scratch. Cache it once per
  // (session, dataset): |E| is two longs per row (~15 MB at sf0.1 —
  // an aggregate-sized intermediate, not data-scale).
  private def coPurchaseEdgesCached(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.StoreBuilds.persisted(s, d, "graph_copurchase_edges")(
      coPurchaseEdges(s, d))

  // The DIRECTED (both-direction) co-purchase adjacency is its own
  // stage store: BFS, label propagation, and link prediction all start
  // from it, and each used to rebuild + persist its own
  // union-of-both-directions per call (~1 s at sf0.1, 2|E| rows of two
  // longs — still aggregate-sized).
  private def directedEdgesCached(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e0 = coPurchaseEdgesCached(s, d)
    graft.StoreBuilds.persisted(s, d, "graph_directed_edges") {
      // persisted HASH-PARTITIONED ON src: every consumer keys on it
      // (label_prop's per-round (src,lbl) mode aggregate, BFS's
      // frontier-relax join, link prediction's adjacency) — paying
      // ONE exchange at build time makes every round's aggregate
      // exchange-free, because HashPartitioning(src) satisfies
      // ClusteredDistribution((src, lbl)) and the broadcast join
      // preserves the streamed side's partitioning (label_prop at
      // sf0.1: 72 MB shuffled per run → per-round zero; only the
      // |V|-sized label broadcast moves). The partition count is
      // EXPLICIT: with a bare repartition(col) AQE is free to
      // coalesce the cached exchange to ~1 partition at this data
      // size and every later round runs single-threaded — the exact
      // pathology the kcore note records for its persisted rounds.
      e0.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e0.select(col("v").as("src"), col("u").as("dst")))
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("src"))
    }
  }

  /** The co-purchase edge list as a DuckDB CTE (mirror of
    * [[coPurchaseEdges]]). */
  private val coPurchaseCte = """
        e0 AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""

  // The weighted trade-edge list (supplier nation → customer nation,
  // w = shipped lineitems) is the SECOND shared stage boundary of this
  // pack: global PageRank, personalized PageRank, and weighted SSSP
  // all start from it, and each used to rebuild the 4-table fact join
  // (~2–3 s at sf0.1) from scratch. |nations|² rows — a
  // constant-sized aggregate at ANY corpus scale.
  private def tradeEdgesCached(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.StoreBuilds.persisted(s, d, "graph_trade_edges") {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("src"),
          col("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
    }

  /** Lazy PageRank plan + the caches it reads (empty if the zero-node
    * guard already released them). */
  private[operators] def pagerankPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val edges = tradeEdgesCached(s, d)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .persist()
    val nNodes = nodes.count()
    if (nNodes == 0) {
      // zero-row guard: an empty edge set must yield an empty result,
      // not a driver-side division by zero in the rank constants
      // (edges is the session-shared trade store — never released here)
      nodes.unpersist()
      (Tables.nation(s, d)
        .select(col("n_name"), lit(0L).as("rank_scaled")).limit(0), Nil)
    } else {
      val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
      val base = lit(15L * Scale / (100L * nNodes))
      var ranks = nodes.withColumn("rank", lit(Scale / nNodes))
      (1 to Iters).foreach { _ =>
        val contrib = ranks
          .join(edges, col("node") === col("src"))
          .join(outw, Seq("src"))
          .select(col("dst"), expr("rank * w div ow").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("inr"))
        ranks = nodes
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (base + expr("85 * coalesce(inr, 0L) div 100")).as("rank"))
      }
      val out = ranks
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("rank").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("n_name"))
      (out, Seq(nodes)) // edges is the session-shared trade store
    }
  }

  /** Lazy personalized-PageRank plan + its caches. Same trade graph and
    * integer fixed-point as [[pagerankPlan]], but the teleport mass
    * restarts ONLY at a seed set (here: the ASIA nations) — the
    * crawl-prioritization / topic-affinity variant: rank measures
    * proximity to the seeds, not global centrality. rank₀ = SCALE/|S|
    * on seeds and 0 elsewhere; each round gives seeds 15·SCALE/(100·|S|)
    * restart mass plus the damped in-flow. Identical overflow envelope
    * to global PageRank (rank ≤ SCALE, rank·w ≤ 10¹⁸); each iteration
    * is one shuffle keyed on node id with map-side partial sums, so the
    * plan holds at web scale exactly like the global loop. */
  private[operators] def pprPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val edges = tradeEdgesCached(s, d)
    val seedKeys = Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey").as("node"), lit(1).as("sd"))
    // node universe + seed flag in one |V|-sized cached frame, read by
    // the seed count, every iteration's restart term, and the output
    val nf = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .join(broadcast(seedKeys), Seq("node"), "left")
      .select(col("node"), coalesce(col("sd"), lit(0)).as("is_seed"))
      .persist()
    val nNodes = nf.count()
    val nSeeds = nf.filter(col("is_seed") === 1).count()
    if (nNodes == 0 || nSeeds == 0) {
      // empty graph or no seed present: empty result, not a div-by-zero
      // (edges is the session-shared trade store — never released here)
      nf.unpersist()
      (Tables.nation(s, d).select(col("n_name"),
        lit(0L).as("rank_scaled"), lit(0).as("is_seed")).limit(0), Nil)
    } else {
      val outw = edges.groupBy("src").agg(sum(col("w")).as("ow"))
      val sbase = lit(15L * Scale / (100L * nSeeds))
      var ranks = nf.select(col("node"),
        when(col("is_seed") === 1, lit(Scale / nSeeds))
          .otherwise(lit(0L)).as("rank"))
      (1 to Iters).foreach { _ =>
        val contrib = ranks
          .join(edges, col("node") === col("src"))
          .join(outw, Seq("src"))
          .select(col("dst"), expr("rank * w div ow").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("inr"))
        ranks = nf
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (when(col("is_seed") === 1, sbase).otherwise(lit(0L)) +
              expr("85 * coalesce(inr, 0L) div 100")).as("rank"))
      }
      val out = ranks
        .join(nf, "node")
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("rank").as("rank_scaled"),
          col("is_seed"))
        .orderBy(col("rank_scaled").desc, col("n_name"))
      (out, Seq(nf)) // edges is the session-shared trade store
    }
  }

  /** Unreachable-distance sentinel for the bounded Bellman-Ford relax:
    * far above any reachable cost (5 rounds × max edge cost 10⁹ =
    * 5·10⁹ ≪ 10¹⁵) yet INF + cost ≤ 10¹⁵ + 10⁹ stays well under 2⁶³ —
    * the relax can add a cost to the sentinel without overflow. */
  private val SsspInf = 1000000000000000L

  /** The Bellman-Ford loop behind [[ssspPlan]], exposed lazily so
    * PlanGuardSpec can pin its LINEAGE SIZE. Returns (lazy output plan,
    * DataFrame caches, per-round truncation RDD handles — still
    * persisted; release them only after materializing the output,
    * because the plan reads them).
    *
    * Bellman-Ford over the trade graph with integer edge costs
    * 10⁹ div w — RARITY cost: heavily-traded lanes are cheap, so the
    * path metric is "how much common trade links these nations", the
    * weighted upgrade over q_graph_bfs's hop count. [[Iters]] fixed
    * relaxation rounds = exact shortest distance over paths of ≤ Iters
    * edges (full convergence needs |V|−1 rounds; the bounded variant
    * is what you run at web scale, where >k-hop influence is noise).
    * Each round is ONE shuffle: frontier ⋈ edges keyed on src with a
    * map-side-combinable min aggregate — same iterative shape as the
    * PageRank loop, exact 64-bit arithmetic throughout.
    *
    * Every round reads `dist` TWICE (the relax join and the union
    * carry), so a plain DataFrame loop doubles the LOGICAL plan per
    * round — 2^Iters copies of the base lineage, a driver-side
    * analysis cost that is data-independent and does not shrink at
    * scale (measured: 58.8 s cold at sf0.1 on a 25-node graph — the
    * same disease hitsPlan and Dedup.minLabelComponents already cure).
    * Truncate per round exactly as [[hitsPlan]] does: materialize the
    * |V|-row frontier as a persisted RDD (blocks stay on executors —
    * nothing |V|-sized crosses the driver) and rewrap it, so each
    * round's plan starts at an RDD scan and analysis cost stays FLAT.
    * Explicit RDD handles (not localCheckpoint) so the blocks actually
    * release afterwards. */
  private[operators] def ssspLoop(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame],
         Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) = {
    // rarity costs derive from the session-shared trade store's weights
    val edges = tradeEdgesCached(s, d)
      .select(col("src"), col("dst"),
        expr("1000000000L div w").as("cost"))
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .persist()
    val nNodes = nodes.count()
    if (nNodes == 0) {
      nodes.unpersist()
      (Tables.nation(s, d)
        .select(col("n_name"), lit(0L).as("dist_cost")).limit(0), Nil, Nil)
    } else {
      // deterministic source: the lowest node id (a bounded aggregate
      // read driver-side, like the greedy MMR steps)
      val srcId = nodes.agg(min(col("node"))).head.get(0)
      val rddCaches =
        scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      var dist = nodes.withColumn("dist",
        when(col("node") === srcId, lit(0L)).otherwise(lit(SsspInf)))
      // a throwing mid-loop count must release the rounds persisted so
      // far AND the node cache — the caller never sees either on throw
      // (the same leak class the collect guards below close; the bench
      // harness swallows query failures and keeps running)
      try (1 to Iters).foreach { _ =>
        // truncate BEFORE the round: both of this round's reads (relax
        // + carry) start from the RDD scan, keeping lineage flat
        val rdd = dist.rdd.persist()
        rddCaches += rdd
        rdd.count()
        val t = s.createDataFrame(rdd, dist.schema)
        val relax = t
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"),
            (col("dist") + col("cost")).as("dist"))
        dist = t.unionByName(relax)
          .groupBy("node").agg(min(col("dist")).as("dist"))
      } catch {
        case t: Throwable =>
          rddCaches.foreach(_.unpersist())
          nodes.unpersist()
          throw t
      }
      val out = dist
        .join(broadcast(Tables.nation(s, d)),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("dist").as("dist_cost"))
        .orderBy(col("dist_cost"), col("n_name"))
      // edges derives from the session-shared trade store (never
      // released per-query); only the node set is this plan's own cache
      (out, Seq(nodes), rddCaches.toSeq)
    }
  }

  /** Bounded weighted shortest-path: materializes [[ssspLoop]]'s
    * output (aggregate-sized — ≤ |nations| rows), releases the
    * per-round truncation RDDs the plan reads, and hands the node
    * cache up for [[ScalableRank.materializeAndRelease]]. */
  private[operators] def ssspPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val (lazyOut, caches, rdds) = ssspLoop(s, d)
    if (caches.isEmpty && rdds.isEmpty) (lazyOut, Nil)
    else {
      // finally: a throwing collect must release the per-round RDDs
      // AND the node cache (the caller never sees `caches` on throw)
      val rows =
        try lazyOut.collect()
        catch {
          case t: Throwable =>
            caches.foreach(_.unpersist())
            throw t
        } finally rdds.foreach(_.unpersist())
      (s.createDataFrame(
        java.util.Arrays.asList(rows: _*), lazyOut.schema), caches)
    }
  }

  /** Lazy HITS (hubs/authorities) plan + its caches. Kleinberg's
    * mutual-reinforcement pair on the weighted trade graph: per round,
    * auth(v) = Σ_{u→v} hub(u)·w then hub(u) = Σ_{u→v} auth(v)·w, each
    * L∞-normalized to the 10³ grid in exact integer arithmetic (all
    * operands non-negative, so floor division agrees across engines;
    * the max comes back as a broadcast 1-row frame, not a driver
    * action). 3 rounds — the fixed generation IS the semantics, like
    * label propagation. Overflow envelope: score ≤ 10³, so a raw sum
    * is ≤ 10³·Σw = 10³·|lineitem| — good to ~9·10¹⁵ lineitems before
    * the normalize multiply (×10³) leaves int64. Each half-round is
    * one shuffle keyed on node id with map-side partial sums — the
    * same per-iteration shape as PageRank, holding at web scale. */
  private[operators] def hitsPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val edges = tradeEdgesCached(s, d)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .persist()
    // each raw half-round is read TWICE (its L∞ max + the normalize
    // join) and feeds every later round, so the LOGICAL tree doubles
    // per half-round — and persist alone doesn't help, because the
    // analyzer/optimizer still re-traverses the full duplicated
    // lineage on every action (measured: minutes at any scale factor,
    // lazy or persisted). Truncate per half-round: materialize the
    // |V|-row frame as a persisted RDD (blocks stay on executors —
    // nothing |V|-sized crosses the driver) and rewrap it, so each
    // round's logical plan starts at an RDD scan and analysis cost is
    // flat. Explicit RDD handles (not localCheckpoint) so the blocks
    // actually RELEASE afterwards — checkpoint storage bypasses the
    // CacheManager and DataFrame.unpersist is a no-op on it.
    val rddCaches =
      scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def normalize(
        raw: org.apache.spark.sql.DataFrame, // (node, r)
        out: String): org.apache.spark.sql.DataFrame = {
      val rdd = raw.rdd.persist()
      rddCaches += rdd // registered BEFORE the count so a throw releases it
      rdd.count()
      val r = s.createDataFrame(rdd, raw.schema)
      val mx = r.agg(max(col("r")).as("mx"))
      nodes.join(r, Seq("node"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          when(col("mx").isNull || col("mx") === 0, lit(0L))
            .otherwise(expr(
              "coalesce(r, CAST(0 AS BIGINT)) * 1000 div mx"))
            .as(out))
    }
    var hub = nodes.withColumn("h", lit(1000L))
    var auth = nodes.withColumn("a", lit(0L))
    // a throwing mid-loop count (inside normalize) must release the
    // half-rounds persisted so far AND the node cache — same leak
    // class as the guarded collect below
    try (1 to HitsRounds).foreach { _ =>
      auth = normalize(
        edges.join(hub, col("node") === col("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("h * w")).as("r")), "a")
      hub = normalize(
        edges.join(auth, col("node") === col("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(expr("a * w")).as("r")), "h")
    } catch {
      case t: Throwable =>
        rddCaches.foreach(_.unpersist())
        nodes.unpersist()
        throw t
    }
    val lazyOut = hub.join(auth, "node")
      .join(broadcast(Tables.nation(s, d)),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("h").as("hub_q"), col("a").as("auth_q"))
      .orderBy(col("auth_q").desc, col("hub_q").desc, col("n_name"))
    // materialize before releasing the round RDDs the plan reads;
    // finally + catch: a throwing collect must release the round RDDs
    // and the node cache (the caller never sees them on throw)
    val rows =
      try lazyOut.collect()
      catch {
        case t: Throwable =>
          nodes.unpersist()
          throw t
      } finally rddCaches.foreach(_.unpersist())
    val out = s.createDataFrame(
      java.util.Arrays.asList(rows: _*), lazyOut.schema)
    (out, Seq(nodes))
  }

  /** Lazy degree-oriented triangle-count plan + its caches. */
  private[graft] def trianglesPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val e0 = coPurchaseEdgesCached(s, d)
    triangleKernel(s, e0)
  }

  /** The degree-oriented adjacency-intersection triangle kernel over
    * an undirected distinct edge list (u, v) — shared by the exact
    * count and the degree-capped variant. */
  private def triangleKernel(
      s: org.apache.spark.sql.SparkSession,
      e0: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val deg = e0.select(col("u").as("x"))
      .unionByName(e0.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("dg"))
      .persist()
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oe = e0
      .join(broadcast(deg.select(col("x").as("u"), col("dg").as("du"))), "u")
      .join(broadcast(deg.select(col("x").as("v"), col("dg").as("dv"))), "v")
      .select(when(lowFirst, col("u")).otherwise(col("v")).as("a"),
        when(lowFirst, col("v")).otherwise(col("u")).as("b"),
        when(lowFirst, col("dv")).otherwise(col("du")).as("db"))
      .persist()
    // Close triangles by ADJACENCY INTERSECTION, not a wedge join: the
    // wedge stream is Θ(Σ outdeg²) ≫ |E| rows on dense graphs (40M at
    // sf0.1), and materializing it — even into a broadcast-hash probe —
    // pays per-row join overhead on every wedge. Instead, group each
    // apex's out-neighbors once into a sorted array (bounded O(√m) by
    // the orientation, so no array is ever skew-sized), then for every
    // oriented edge (a, b) count |N⁺(a) ∩ N⁺(b)| with a codegen'd
    // array_intersect — the same Θ(Σ outdeg²) element comparisons, but
    // executed inside whole-stage codegen over |E| rows with ZERO
    // wedge-row materialization or shuffle. Wedge count is the exact
    // closed form Σ C(outdeg, 2) off the adjacency sizes. Both joins
    // key on vertex id (adj is |V|-sized), so the plan survives any
    // graph size; measured 5.9 s → 1.4 s warm at sf0.1.
    oe.count() // materialize: the adjacency build and the closure's
    // edge stream are sibling branches of ONE job
    val adj = oe.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("nb"))
      .persist()
    // materialize adj with the wedge aggregate itself (r11 — one job
    // instead of a count + a lazy agg leg in the final assembly): the
    // closed form Σ C(|N⁺|, 2) reads every adjacency partition, so it
    // materializes the persist exactly like count() did, and the final
    // plan carries the value as a literal (one fewer crossJoin leg).
    // PLAN-AUDIT NOTE: because of this, the LazyPlans/Explain dump of
    // q_graph_triangles shows n_wedges as a LITERAL, not the wedge
    // aggregate — the wedge computation happens HERE, at plan-build
    // time (this is also why building this plan runs jobs; Explain
    // releases the returned caches afterwards)
    val nWedgesVal = adj
      .select(size(col("nb")).cast("long").as("k"))
      .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)))
      .head.getLong(0)
    // every triangle a→b, a→c, b→c is counted exactly once, at its
    // apex edge (a, b): c ∈ N⁺(a) ∩ N⁺(b). Sinks (no out-list) close
    // nothing — hence the left join + empty-array coalesce.
    // per-edge |N⁺(a) ∩ N⁺(b)| via the native graft_ixcount (fused
    // two-pointer merge over the sorted distinct adjacency arrays —
    // zero allocation inside whole-stage codegen; array_intersect
    // hashed one side and MATERIALIZED the intersection per edge just
    // for `size` to read its length)
    graft.functions.GraftFunctions.register(s)
    val closure = oe.select(col("a"), col("b"))
      .join(adj.select(col("a"), col("nb").as("na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("nb").as("nbb")),
        Seq("b"), "left")
      .select(expr(
        "graft_ixcount(na, coalesce(nbb, array()))").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val out = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closure)
      .withColumn("n_wedges", lit(nWedgesVal))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
    (out, Seq(deg, oe, adj)) // e0 is the session-shared edge cache
  }

  /** Degree ceiling for the CAPPED triangle count: nodes whose
    * (undirected) degree exceeds this are dropped with every incident
    * edge before counting — the standard production knob for the
    * exact count's one super-linear axis. The exact kernel's cost is
    * Θ(Σ outdeg²) after orientation — the steepest measured scale
    * curve in BENCH_SCALE (7.2× warm at 10× data, inherent: real
    * co-purchase density rises with corpus size) — and hubs own that
    * growth while contributing mostly boilerplate-induced triangles
    * (a part in every basket closes a triangle with ANY co-purchased
    * pair, the same no-signal hazard as Dedup.MaxShingleDf's stop
    * shingles). WHEN TO FLIP: keep the exact count while the warm
    * kernel tracks your latency budget; switch to the capped form
    * when Σ outdeg² (reported as n_wedges) grows super-linearly
    * round-over-round — the cap bounds every adjacency list at
    * `cap`, making the kernel Θ(|E|·cap) = linear in edges at fixed
    * cap. Sits at the graph's ~P95 like MaxApexDeg, so it cuts only
    * the hub tail. */
  private[operators] val TriDegreeCap = 160L

  /** Degree-capped triangle count: drop hub nodes (degree > cap) and
    * their edges, then run the SAME exact kernel on the induced
    * subgraph — deterministic (so oracle-checkable: the cap is a
    * degree filter, not a sample) and linear at fixed cap. Output adds
    * the dropped-hub count so a reader sees what the cap removed. */
  private[graft] def trianglesCappedPlan(
      s: org.apache.spark.sql.SparkSession, d: String,
      cap: Long = TriDegreeCap)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val e0 = coPurchaseEdgesCached(s, d)
    val deg0 = e0.select(col("u").as("x"))
      .unionByName(e0.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("dg"))
      .persist()
    // EARLY-OUT: one count against the (|V|-sized, persisted) degree
    // frame decides whether the cap machinery buys anything. When no
    // node clears the cap, e1 ≡ e0, and the anti-join path would pay
    // its full overhead — an extra edge persist, two broadcast
    // anti-joins, and a SECOND degree aggregate (the kernel recomputes
    // degrees on its input) — for an identical answer. MEASURED
    // CROSSOVER (sf0.1, cap=160): the co-purchase degree distribution
    // is near-uniform (max degree 222), so the cap drops 1056/20000
    // nodes = 15% of edges but only 22% of wedges — machinery ≈ 80%
    // of the kernel's own cost buys a 22% smaller closure, and capped
    // runs ~1.8× the exact kernel. The cap pays exactly where it is
    // MEANT to: when density rises with corpus size and the hub tail
    // owns the super-linear wedge share (the 10× replica's 7–9×
    // triangles cell), i.e. when n_wedges grows super-linearly
    // round-over-round — the flip rule on TriDegreeCap. Deterministic
    // either way (the branch replays the same degree filter the
    // oracle does), so the hash is unaffected.
    val nHubs = deg0.filter(col("dg") > cap).count()
    if (nHubs == 0L) {
      val (kOut, kCaches) = triangleKernel(s, e0)
      val out = kOut.withColumn("n_hubs_dropped", lit(0L))
      (out, Seq(deg0) ++ kCaches)
    } else {
      // the hub set is tiny by definition (the tail above ~P95) — both
      // edge-end drops are broadcast anti-joins, the edge list never
      // shuffles for the cap
      val hubs = deg0.filter(col("dg") > cap).select("x")
      val e1 = e0
        .join(broadcast(hubs.select(col("x").as("u"))), Seq("u"), "left_anti")
        .join(broadcast(hubs.select(col("x").as("v"))), Seq("v"), "left_anti")
        .select("u", "v")
        .persist()
      e1.count() // materialize: the kernel reads it through many branches
      val (kOut, kCaches) = triangleKernel(s, e1)
      // nHubs was already computed eagerly for the branch decision —
      // inline it as a literal rather than re-aggregating deg0 through
      // a crossJoin (same deterministic value, one less scan+aggregate
      // in the plan)
      val out = kOut.withColumn("n_hubs_dropped", lit(nHubs))
      (out, Seq(deg0, e1) ++ kCaches)
    }
  }

  /** Bounded-BFS rounds with per-round truncation (r11 — the sixth
    * application of the rewrap cure, standardizing the LAST remaining
    * growth-class loop). Each round reads the frontier TWICE (relax +
    * carry), so the pre-r11 DataFrame persists kept the PHYSICAL reads
    * cached but still doubled the LOGICAL plan per round — 2^BfsRounds
    * copies of the base lineage (measured 399 nodes at 3 rounds), a
    * data-independent analysis+codegen cost that an aged session
    * amplified by ~2.5 s (in-bench 10.45 s vs 3.5 s steady net of the
    * edge-store builds). Truncate exactly as [[ssspLoop]]: the
    * |V|-row frontier materializes as a persisted RDD before the
    * round, both reads start from the RDD scan, and the returned
    * handles release after the output materializes. */
  private[operators] def bfsLoop(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) = {
    val edges = directedEdgesCached(s, d)
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 97 === 0)
      .withColumn("dist", lit(0))
    val rddCaches =
      scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    // a throwing mid-loop count must release the rounds persisted so
    // far — the caller never sees the handles on throw (the leak class
    // the collect guard in bfsPlan closes for the final read)
    try (1 to BfsRounds).foreach { _ =>
      // truncate BEFORE the round: both of this round's reads (relax
      // + carry) start from the RDD scan, keeping lineage flat
      val rdd = dist.rdd.persist()
      rddCaches += rdd
      rdd.count()
      val t = s.createDataFrame(rdd, dist.schema)
      // EXPLICIT broadcast of the frontier (r11 — the same estimate
      // hole the kcore/LPA rounds already plug): an RDD scan carries
      // no size estimate, so static planning defaults it huge and
      // plans SMJ — per-round re-sort of the 2|E| edge store that the
      // hash-partitioned persist exists to avoid. The frontier is
      // ≤ |V| rows of (long, int); the broadcast regime bound is the
      // LPA note's |V|·16 B per executor (~100M nodes) — past it, flip
      // to exchanging the frontier keyed on src, never the edge store.
      dist = edges
        .join(broadcast(t), col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + lit(1)).as("dist"))
        .unionByName(t)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    } catch {
      case t: Throwable =>
        rddCaches.foreach(_.unpersist())
        throw t
    }
    val out = dist.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      .orderBy("dist")
    (out, rddCaches.toSeq) // edges is the session-shared directed store
  }

  /** Materialized BFS result: collects [[bfsLoop]]'s aggregate-sized
    * output and releases the per-round truncation RDDs the final
    * plan reads. */
  private[operators] def bfsPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val (lazyOut, rdds) = bfsLoop(s, d)
    val rows =
      try lazyOut.collect()
      finally rdds.foreach(_.unpersist())
    (s.createDataFrame(
      java.util.Arrays.asList(rows: _*), lazyOut.schema), Nil)
  }

  /** One synchronous LPA round over the partitioned directed store.
    * Mode adoption as an ARGMAX aggregate — max(struct(c, −lbl))
    * picks the most frequent label with smallest-label tie-break in
    * one partial+final hash aggregate; the row_number window this
    * replaces paid a sort + exchange per round (7.7 s → 6.5 s warm at
    * sf0.1), and an aggregate stays map-side combinable at any graph
    * size.
    *
    * GROWTH CLASS (the r9 scale-cell question): per round the work is
    * one join of the persisted edge store against the |V|-sized label
    * frame + the two hash aggregates — LpaRounds × O(|E|) scanned,
    * with shuffled bytes O(post-combine (src,lbl)) ≤ |E|. The labels
    * side must be the EXPLICIT broadcast side: it is |V|-sized by
    * construction (one row per node), but its static size estimate is
    * derived through a round of join+agg lineage (or, post-truncation,
    * an RDD scan with no estimate at all), and past ~|E| ≈ 1M Catalyst
    * planned SMJ — re-exchanging the 2|E| edge store EVERY round
    * (measured at sf0.1: 113 MB shuffle ≈ 3 rounds × the 38 MB store,
    * vs 1.2 MB total at sf0.01 where the store fit the broadcast
    * estimate; AQE converts the join after the store's shuffle write
    * is already paid). That flip — not the aggregate — was the 5.25×
    * warm 10×-scale cell in BENCH_SCALE_r09. With the hint, rounds
    * are map-side over the cached store and the only per-round
    * exchanges are |V|-sized (labels build) + post-combine pairs.
    * REGIME: broadcast holds while |V|·16 B fits an executor
    * (~100M nodes); past that, flip to the edge store persisted
    * hash-partitioned on dst so each round exchanges only the
    * |V|-sized label frame — same trade as kcore's broadcast
    * semi-joins, recorded here like its two-regime note. */
  private def lpaRound(
      dir: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    dir.join(broadcast(labels), col("dst") === col("n"))
      .groupBy(col("src"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("src"))
      .agg(expr("-max(struct(c, -lbl AS nl)).nl").as("lbl"))
      .select(col("src").as("n"), col("lbl"))

  /** ONE round's lazy plan over the session store, exposed so
    * PlanGuardSpec can pin the round's physical shape (store probe,
    * broadcast labels, zero per-round hash exchanges) now that
    * [[lpaLoop]] truncates between rounds and the final plan no longer
    * contains any round. */
  private[operators] def lpaRoundPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val dir = directedEdgesCached(s, d)
    lpaRound(dir, dir.select(col("src").as("n")).distinct()
      .withColumn("lbl", col("n")))
  }

  /** LPA rounds with per-round truncation; returns the lazy output,
    * which reads the LAST round's persisted RDD (release the returned
    * handles only after materializing it).
    *
    * Each round's frame is |V|-sized and feeds the next round's
    * broadcast build, so a plain DataFrame loop grows the LOGICAL plan
    * by a join + two aggregates per round — linear growth, not the
    * 2^rounds double-read disease, but still a per-action re-analysis
    * + codegen cost that an AGED session (the bench replays 48 earlier
    * queries first) amplified to 5.4–6.7 s in-bench vs 2.8 s fresh on
    * identical data (the r10→r11 kcore/LPA plan-time finding).
    * Truncate per round exactly as [[ssspLoop]] does: materialize the
    * |V|-row label frame as a persisted RDD (blocks stay on executors)
    * and rewrap, so every round's plan starts at an RDD scan and
    * plan-time is flat AND session-age-independent. The per-round
    * action this adds (rdd.count) materializes work the single final
    * action would have run anyway — same total execution, flat
    * analysis. */
  private[operators] def lpaLoop(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]) = {
    val dir = directedEdgesCached(s, d)
    var labels = dir.select(col("src").as("n")).distinct()
      .withColumn("lbl", col("n"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] =
      None
    // a throwing mid-loop count must release BOTH live rounds (the
    // one being materialized and the one it reads) — the caller never
    // sees the handles on throw (the q_sim_ivfpq leak class; the
    // bench harness swallows failures and keeps running)
    try for (_ <- 1 to LpaRounds) {
      val next = lpaRound(dir, labels)
      val rdd = next.rdd.persist()
      try rdd.count()
      catch { case t: Throwable => rdd.unpersist(); throw t }
      // round r's blocks are never read once round r+1 materializes —
      // release eagerly so storage holds ONE |V|-sized frame, not
      // LpaRounds of them
      prevRdd.foreach(_.unpersist())
      prevRdd = Some(rdd)
      labels = s.createDataFrame(rdd, next.schema)
    } catch {
      case t: Throwable =>
        prevRdd.foreach(_.unpersist())
        throw t
    }
    // final labels are read twice below (size aggregate + join) — both
    // reads hit the last round's persisted RDD
    val sizes = labels.groupBy("lbl")
      .agg(count(lit(1)).as("community_size"))
    val out = labels.join(broadcast(sizes), "lbl")
      .select(col("n").as("node"), col("lbl").as("label"),
        col("community_size"))
      .orderBy("node")
    (out, prevRdd.toSeq) // dir is the session-shared directed store
  }

  /** Materialized label-propagation result: collects [[lpaLoop]]'s
    * output (|V| rows — the registry query's own contract, exactly
    * what [[ScalableRank.materializeAndRelease]] did before truncation) and
    * releases the last round's RDD blocks. */
  private[operators] def labelPropPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val (lazyOut, rdds) = lpaLoop(s, d)
    val rows =
      try lazyOut.collect()
      finally rdds.foreach(_.unpersist())
    (s.createDataFrame(
      java.util.Arrays.asList(rows: _*), lazyOut.schema), Nil)
  }

  /** Lazy link-prediction plan + its caches. */
  private[operators] def jaccardLinksPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val e = coPurchaseEdgesCached(s, d)
    val nbrs = directedEdgesCached(s, d)
      .select(col("src").as("x"), col("dst").as("y"))
    // |V|-sized and read three times (hub filter + both degree
    // joins) — persist, or each read re-shuffles the edge list
    val deg = nbrs.groupBy("x").agg(count(lit(1)).as("dg")).persist()
    deg.count()
    val qAdj = nbrs.filter(col("x") % 199 === 0)
    val midOk = broadcast(deg.filter(col("dg") <= MaxApexDeg)
      .select(col("x").as("y")))
    // the query batch's (hub-filtered) adjacency is |Q|·d rows —
    // broadcast it so the 2-hop expansion streams the edge list
    // map-side instead of shuffling it
    val cand = broadcast(qAdj.join(midOk, "y")).as("a")
      .join(nbrs.as("b"),
        col("a.y") === col("b.x") && col("a.x") =!= col("b.y"))
      .groupBy(col("a.x").as("qn"), col("b.y").as("cn"))
      .agg(count(lit(1)).as("common"))
    // adjacency check only needs edges TOUCHING a query node
    // (every candidate pair contains one): 1/199th of the edge
    // list → a broadcast anti-join instead of a full-edge shuffle
    val eq = broadcast(e.filter(
      col("u") % 199 === 0 || col("v") % 199 === 0))
    val out = cand
      .join(eq,
        least(col("qn"), col("cn")) === col("u") &&
          greatest(col("qn"), col("cn")) === col("v"), "left_anti")
      .join(broadcast(deg.select(col("x").as("qn"),
        col("dg").as("deg_q"))), "qn")
      .join(broadcast(deg.select(col("x").as("cn"),
        col("dg").as("deg_c"))), "cn")
      .select(col("qn"), col("cn"), col("common"),
        col("deg_q"), col("deg_c"),
        expr("common * 1000000 div (deg_q + deg_c - common)")
          .as("jaccard_ppm"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qn")
          .orderBy(col("jaccard_ppm").desc, col("cn"))))
      .filter(col("rank") <= 3)
      .orderBy("qn", "rank")
    (out, Seq(deg)) // e is the session-shared edge cache
  }

  /** k-core peel threshold. Sits just below the co-purchase graph's
    * median degree (~115 at sf0.01, ~119 at sf0.1) so the peel
    * cascades non-trivially at both test scales: round 1 drops the
    * sub-median tail, the survivors' degrees collapse, rounds 2–3
    * peel the rest (sf0.01 reaches the empty fixpoint by round 3;
    * sf0.1 retains a ~1k-node 100-core). */
  private val KcoreK = 100L
  private val KcoreRounds = 3

  /** Fixed-round k-core peel; returns the per-round count table as a
    * LOCAL frame (every count is an action the loop already ran, so
    * deferring them into a collected plan would only re-execute the
    * whole peel) plus an empty cache list — every per-round cache
    * releases before returning. `k` is a parameter so specs can drive
    * the cascade on hand-built graphs whose degrees sit far below the
    * registry threshold; `roundProbe` receives each round's LAZY
    * survivor-edge plan before materialization so PlanGuardSpec can
    * pin the flat-lineage contract without re-implementing the loop.
    *
    * PER-ROUND TRUNCATION (r11, closing the r10 verdict's one `weak`):
    * each round's survivor edges materialize as a persisted RDD and
    * rewrap, so round r+1's plan starts at an RDD scan — the same cure
    * [[ssspLoop]]/[[hitsPlan]]/[[lpaLoop]] use. The pre-r11 shape
    * recomputed every round from the shared e0 store through a
    * semi-join chain one pair deeper per round: data-wise sound (AQE
    * broadcast semi-joins, one map-side scan of e0 per action) but
    * 2×KcoreRounds round-GROWING plans were analyzed + codegen'd per
    * run, a data-independent driver cost that an aged session (the
    * bench replays 48 alphabetically-earlier queries first) amplified
    * to 5.5–8.3 s in-bench vs 2.6–2.8 s fresh on identical data. The
    * earlier anti-pattern note about persisting the shrinking edge
    * rounds applied to DataFrame persists under AQE (the cached plan's
    * exchange coalesced to ~1 partition and every later round ran
    * single-threaded); the RDD rewrap dodges it structurally — the
    * round plan is broadcast-join-only, so `.rdd` inherits the e0
    * store's partitioning with no exchange for AQE to coalesce.
    *
    * The keep sets stay persisted within their round (read by the
    * count + both semi-join builds) and release as soon as the round's
    * RDD materializes; keeps are tiny (nodes above the degree
    * threshold), so each semi-join is an EXPLICIT broadcast — the RDD
    * scan has no size estimate, and leaving the choice to static
    * planning would re-exchange the survivor edges per round, the
    * estimate-flip class the LPA note documents. At a scale where a
    * keep set outgrows broadcast, the same loop holds with shuffled
    * semi-joins keyed on node id — then size partitions off |e_r|,
    * the standard iterative-graph trade the PageRank loop documents. */
  private[operators] def kcorePlan(
      s: org.apache.spark.sql.SparkSession, d: String,
      k: Long = KcoreK,
      roundProbe: (Int, org.apache.spark.sql.DataFrame) => Unit =
        (_, _) => ())
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val e0 = coPurchaseEdgesCached(s, d)
    var e = e0
    val rows = Seq.newBuilder[(Long, Long, Long)]
    rows += ((0L,
      e0.select(col("u").as("x"))
        .unionByName(e0.select(col("v").as("x"))).distinct().count(),
      e0.count()))
    var prevRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] =
      None
    // failure-path hygiene (the q_sim_ivfpq leak class — the bench
    // harness swallows query failures and keeps running): the keep
    // set releases in a finally (it is consumed within its round
    // either way), the round being materialized has an inner guard,
    // and the outer catch releases the surviving previous round
    try (1 to KcoreRounds).foreach { r =>
      // one map-side-combinable degree aggregate + one semi-join per
      // end, all keyed on node id — the identical round at any size
      val keep = e.select(col("u").as("x"))
        .unionByName(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k)
        .select("x")
        .persist()
      try {
        val nKeep = keep.count()
        val next = e
          .join(broadcast(keep.select(col("x").as("u"))),
            Seq("u"), "left_semi")
          .join(broadcast(keep.select(col("x").as("v"))),
            Seq("v"), "left_semi")
          .select("u", "v")
        roundProbe(r, next)
        // DESERIALIZED persist, measured both ways at sf0.1:
        // MEMORY_ONLY_SER costs +1.2–1.8 s steady per run here (Java
        // serialization walks GenericRowWithSchema's full object
        // graph, schema included, per row), while the deserialized
        // blocks' object overhead (~90 B per 16-B edge) is storage
        // the rounds release eagerly below. At a scale where |E_r|
        // blocks pressure the heap, the right storage is columnar
        // (persist the FRAME, accepting linear lineage) or
        // UnsafeRow-backed — not Row SER.
        val rdd = next.rdd.persist()
        val nEdges =
          try rdd.count()
          catch { case t: Throwable => rdd.unpersist(); throw t }
        // round r−1's blocks are never read again once the survivor
        // RDD materializes — release eagerly so storage holds ONE
        // survivor edge list, not KcoreRounds of them
        prevRdd.foreach(_.unpersist())
        prevRdd = Some(rdd)
        rows += ((r.toLong, nKeep, nEdges))
        e = s.createDataFrame(rdd, next.schema)
      } finally keep.unpersist()
    } catch {
      case t: Throwable =>
        prevRdd.foreach(_.unpersist())
        throw t
    }
    prevRdd.foreach(_.unpersist())
    import s.implicits._
    (rows.result().sortBy(_._1).toDF("round", "n_nodes", "n_edges"), Nil)
  }

  /** Lazy lift (PMI-style association) plan + its caches.
    *
    * r11 (guide §2.4 "remove shuffles outright"): the original shape
    * computed `SELECT DISTINCT l_orderkey, l_partkey` FOUR times (both
    * sides of the pair self-join, the singleton counts, the order
    * count) — four parquet scans, four distinct exchanges, plus the
    * self-join's own two re-exchanges on l_orderkey (the distinct's
    * (okey, pkey) hash partitioning does not satisfy the join's okey
    * clustering). Instead aggregate each order's DISTINCT part set once
    * (`collect_set`, map-side combinable, one exchange on l_orderkey),
    * persist the ~|orders| frame, and derive all three legs from it:
    * pair counts by emitting each order's C(k, 2) in-order pairs with a
    * codegen'd array `transform` (k ≤ 7 by TPC-H construction — the
    * same boundedness argument as coPurchaseEdges), singleton counts by
    * exploding the sets, the order count as a plain aggregate. Plan:
    * 4 scans + 6 exchanges → 1 scan + 3 exchanges (order-set build,
    * pair aggregate, singleton aggregate); measured 2.3–3.2 → ~1.3 s
    * warm at sf0.1. Pair emission is identical to the self-join's
    * (u < v within one order, one row per (order, pair)), so c_ab,
    * c_a, c_b and n_orders are bit-identical — oracle unchanged. */
  private[graft] def liftPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val parts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .persist()
    val pairCnt = parts
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps) - i - 1), " +
          "y -> struct(x AS u, y AS v))))")).as("p"))
      .select(col("p.u"), col("p.v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    val single = parts
      .select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
    val nOrders = parts.agg(count(lit(1)).as("n_orders"))
    val out = pairCnt
      .join(broadcast(single.select(col("p").as("u"), col("c").as("c_a"))), "u")
      .join(broadcast(single.select(col("p").as("v"), col("c").as("c_b"))), "v")
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("c_ab"),
        round(col("n_orders") * col("c_ab") /
          (col("c_a") * col("c_b")).cast("double"), 4).as("lift"))
      .orderBy(col("lift").desc, col("u"), col("v"))
      .limit(20)
    (out, Seq(parts))
  }

  val queries: Map[String, GraftQuery] = Map(

    // -------------------------------------------------- weighted PageRank
    // Nation-level trade graph: supplier nation → customer nation,
    // weighted by shipped lineitems. 5 damped iterations (d=0.85) in
    // fixed-point: contrib(u→v) = rank(u)·w div out_w(u);
    // rank'(v) = 15·SCALE div (100·N) + 85·Σcontrib div 100.
    "q_graph_pagerank" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = pagerankPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def iter(prev: String, cur: String) = s"""
        $cur AS (
          SELECT b.node,
                 p.base + (85 * coalesce(s.inr, 0)) // 100 AS rank
          FROM nodes b CROSS JOIN params p
          LEFT JOIN (SELECT e.dst,
                            CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inr
                     FROM $prev r JOIN edges e ON e.src = r.node
                          JOIN outw o ON o.src = e.src
                     GROUP BY e.dst) s ON s.dst = b.node)"""
        s"""
        WITH edges AS (
          SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        params AS (SELECT count(*) AS n,
                          (15 * ${Scale}) // (100 * count(*)) AS base
                   FROM nodes),
        outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
                 FROM edges GROUP BY src),
        it0 AS (SELECT node, ${Scale} // p.n AS rank
                FROM nodes CROSS JOIN params p),
        ${(1 to Iters).map(i => iter(s"it${i - 1}", s"it$i"))
          .mkString(",").replaceFirst("^,?\\s*", "")}
        SELECT n_name, rank AS rank_scaled
        FROM it$Iters JOIN nation ON n_nationkey = node
        ORDER BY rank_scaled DESC, n_name"""
      }),

    // ------------------------------------------- personalized PageRank
    // Teleport restarts only at the ASIA seed nations: rank is
    // proximity-to-seeds (crawl prioritization, topic affinity), not
    // global centrality. Same integer fixed-point and per-iteration
    // shuffle shape as q_graph_pagerank.
    "q_graph_ppr" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = pprPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def iter(prev: String, cur: String) = s"""
        $cur AS (
          SELECT b.node, b.is_seed,
                 CASE WHEN b.is_seed = 1 THEN p.sbase ELSE 0 END
                   + (85 * coalesce(s.inr, 0)) // 100 AS rank
          FROM nf b CROSS JOIN params p
          LEFT JOIN (SELECT e.dst,
                            CAST(sum((r.rank * e.w) // o.ow) AS BIGINT) AS inr
                     FROM $prev r JOIN edges e ON e.src = r.node
                          JOIN outw o ON o.src = e.src
                     GROUP BY e.dst) s ON s.dst = b.node)"""
        s"""
        WITH edges AS (
          SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        seeds AS (SELECT n_nationkey AS node
                  FROM nation JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'ASIA'
                    AND n_nationkey IN (SELECT node FROM nodes)),
        nf AS (SELECT node,
                      CASE WHEN node IN (SELECT node FROM seeds)
                           THEN 1 ELSE 0 END AS is_seed
               FROM nodes),
        params AS (SELECT count(*) AS ns,
                          (15 * ${Scale}) // (100 * count(*)) AS sbase
                   FROM seeds),
        outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
                 FROM edges GROUP BY src),
        it0 AS (SELECT node, is_seed,
                       CASE WHEN is_seed = 1 THEN ${Scale} // p.ns
                            ELSE 0 END AS rank
                FROM nf CROSS JOIN params p),
        ${(1 to Iters).map(i => iter(s"it${i - 1}", s"it$i"))
          .mkString(",").replaceFirst("^,?\\s*", "")}
        SELECT n_name, rank AS rank_scaled, is_seed
        FROM it$Iters JOIN nation ON n_nationkey = node
        ORDER BY rank_scaled DESC, n_name"""
      }),

    // ------------------------- bounded weighted shortest path (rarity)
    // Bellman-Ford with integer rarity costs (10⁹ div trade volume)
    // from the lowest node, Iters relaxation rounds = exact over paths
    // of ≤ Iters edges. Unreached nodes keep the 10¹⁵ sentinel.
    "q_graph_sssp" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = ssspPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def iter(prev: String, cur: String) = s"""
        $cur AS (
          SELECT n.node,
                 least(p.dist, coalesce(r.md, ${SsspInf})) AS dist
          FROM nodes n JOIN $prev p ON p.node = n.node
          LEFT JOIN (SELECT c.dst, min(q.dist + c.cost) AS md
                     FROM $prev q JOIN costs c ON c.src = q.node
                     GROUP BY c.dst) r ON r.dst = n.node)"""
        s"""
        WITH costs AS (
          SELECT s_nationkey AS src, c_nationkey AS dst,
                 1000000000 // count(*) AS cost
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        nodes AS (SELECT src AS node FROM costs
                  UNION SELECT dst FROM costs),
        d0 AS (SELECT node,
                      CASE WHEN node = (SELECT min(node) FROM nodes)
                           THEN 0 ELSE ${SsspInf} END AS dist
               FROM nodes),
        ${(1 to Iters).map(i => iter(s"d${i - 1}", s"d$i"))
          .mkString(",").replaceFirst("^,?\\s*", "")}
        SELECT n_name, dist AS dist_cost
        FROM d$Iters JOIN nation ON n_nationkey = node
        ORDER BY dist_cost, n_name"""
      }),

    // ------------------------------- HITS hubs & authorities (Kleinberg)
    // The directed-graph complement to PageRank's single score: on the
    // trade graph, a high HUB is a supplier nation whose exports feed
    // the big importers, a high AUTHORITY a customer nation fed by the
    // big exporters — the two sides PageRank's one number conflates.
    // 3 mutual-reinforcement rounds, L∞-normalized to the 10³ grid,
    // exact integer arithmetic end to end (see hitsPlan's envelope).
    "q_graph_hits" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = hitsPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def round(k: Int) = s"""
        a${k}r AS (SELECT e.dst AS node, sum(h${k - 1}.h * e.w) AS r
                   FROM edges e JOIN h${k - 1} ON h${k - 1}.node = e.src
                   GROUP BY 1),
        a${k}m AS (SELECT max(r) AS mx FROM a${k}r),
        a$k AS (SELECT n.node,
                       CASE WHEN m.mx IS NULL OR m.mx = 0 THEN 0
                            ELSE coalesce(r.r, 0) * 1000 // m.mx
                       END AS a
                FROM nodes n LEFT JOIN a${k}r r ON r.node = n.node
                CROSS JOIN a${k}m m),
        h${k}r AS (SELECT e.src AS node, sum(a$k.a * e.w) AS r
                   FROM edges e JOIN a$k ON a$k.node = e.dst
                   GROUP BY 1),
        h${k}m AS (SELECT max(r) AS mx FROM h${k}r),
        h$k AS (SELECT n.node,
                       CASE WHEN m.mx IS NULL OR m.mx = 0 THEN 0
                            ELSE coalesce(r.r, 0) * 1000 // m.mx
                       END AS h
                FROM nodes n LEFT JOIN h${k}r r ON r.node = n.node
                CROSS JOIN h${k}m m)"""
        s"""
        WITH edges AS MATERIALIZED (
          SELECT s_nationkey AS src, c_nationkey AS dst, count(*) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        h0 AS (SELECT node, 1000 AS h FROM nodes),
        ${(1 to HitsRounds).map(round).mkString(",")}
        SELECT n_name,
               CAST(h$HitsRounds.h AS BIGINT) AS hub_q,
               CAST(a$HitsRounds.a AS BIGINT) AS auth_q
        FROM h$HitsRounds JOIN a$HitsRounds
             ON a$HitsRounds.node = h$HitsRounds.node
             JOIN nation ON n_nationkey = h$HitsRounds.node
        ORDER BY auth_q DESC, hub_q DESC, n_name"""
      }),

    // ------------------------------------- degree-oriented triangle count
    // Co-purchase graph: parts co-occurring in an order are linked.
    // Orientation by (degree, id) bounds out-neighborhoods; each triangle
    // is counted exactly once at its lowest-rank apex.
    "q_graph_triangles" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = trianglesPlan(s, d)
        materializeAndRelease(s, out, caches)
      },
      oracle = Some(s"""
        WITH $coPurchaseCte,
        deg AS (SELECT x, count(*) AS dg FROM (
                  SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
                GROUP BY x),
        oe AS (
          SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                      THEN u ELSE v END AS a,
                 CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                      THEN v ELSE u END AS b
          FROM e0 JOIN deg du ON du.x = e0.u JOIN deg dv ON dv.x = e0.v),
        oed AS (SELECT oe.a, oe.b, deg.dg AS db
                FROM oe JOIN deg ON deg.x = oe.b),
        w AS (SELECT e1.b AS x, e2.b AS y
              FROM oed e1 JOIN oed e2
                ON e1.a = e2.a AND (e1.db < e2.db OR
                   (e1.db = e2.db AND e1.b < e2.b)))
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM e0) AS n_edges,
               (SELECT count(*) FROM w) AS n_wedges,
               (SELECT count(*) FROM w JOIN oed e3
                  ON e3.a = w.x AND e3.b = w.y) AS n_triangles""")),

    // --------------------------- degree-capped triangle count (knob)
    // The capped form of q_graph_triangles (see TriDegreeCap's
    // when-to-flip note): hubs above the degree ceiling drop with
    // their edges, the SAME exact kernel runs on the induced
    // subgraph — deterministic, so the oracle replays the cap as a
    // degree filter and the hash must match exactly.
    "q_graph_triangles_capped" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = trianglesCappedPlan(s, d)
        materializeAndRelease(s, out, caches)
      },
      oracle = Some(s"""
        WITH $coPurchaseCte,
        deg0 AS (SELECT x, count(*) AS dg FROM (
                   SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
                 GROUP BY x),
        hubs AS (SELECT x FROM deg0 WHERE dg > $TriDegreeCap),
        e1 AS (SELECT u, v FROM e0
               WHERE u NOT IN (SELECT x FROM hubs)
                 AND v NOT IN (SELECT x FROM hubs)),
        deg AS (SELECT x, count(*) AS dg FROM (
                  SELECT u AS x FROM e1 UNION ALL SELECT v FROM e1)
                GROUP BY x),
        oe AS (
          SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                      THEN u ELSE v END AS a,
                 CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                      THEN v ELSE u END AS b
          FROM e1 JOIN deg du ON du.x = e1.u JOIN deg dv ON dv.x = e1.v),
        oed AS (SELECT oe.a, oe.b, deg.dg AS db
                FROM oe JOIN deg ON deg.x = oe.b),
        w AS (SELECT e1.b AS x, e2.b AS y
              FROM oed e1 JOIN oed e2
                ON e1.a = e2.a AND (e1.db < e2.db OR
                   (e1.db = e2.db AND e1.b < e2.b)))
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM e1) AS n_edges,
               (SELECT count(*) FROM w) AS n_wedges,
               (SELECT count(*) FROM w JOIN oed e3
                  ON e3.a = w.x AND e3.b = w.y) AS n_triangles,
               (SELECT count(*) FROM hubs) AS n_hubs_dropped""")),

    // --------------------------- market-basket lift (association rules)
    // Co-occurrence lift over the order/part bipartite relation:
    // lift(a,b) = N·c_ab / (c_a·c_b) with a support floor — the
    // classic association-rule screen. All counts are exact integers
    // (distinct order sets), the ranking cut is on the ROUNDED lift
    // with a (u, v) tie-break, and nothing here is quadratic: pair
    // counts come from the bounded per-order self-join, singleton
    // counts from one aggregate, N from a scalar.
    "q_graph_lift" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = liftPlan(s, d)
        materializeAndRelease(s, out, caches)
      },
      oracle = Some("""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pc AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS c_ab
               FROM li a JOIN li b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 3),
        sc AS (SELECT l_partkey AS p, count(*) AS c FROM li GROUP BY 1),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
        SELECT u, v, c_ab,
               round(n_orders * c_ab / CAST(ca.c * cb.c AS DOUBLE), 4)
                 AS lift
        FROM pc JOIN sc ca ON ca.p = u JOIN sc cb ON cb.p = v CROSS JOIN n
        ORDER BY lift DESC, u, v LIMIT 20""")),

    // --------------------------------- bounded multi-source BFS frontier
    // 3 rounds of min-distance propagation from a deterministic seed set
    // (node id ≡ 0 mod 97) over the undirected co-purchase graph —
    // the "how far does influence spread" primitive (and the building
    // block of hop-bounded joins). Distances are exact integers; each
    // round is one shuffle on node id, the identical plan at any graph
    // size. Output: node count per distance.
    "q_graph_bfs" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = bfsPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def round(prev: String, cur: String) = s"""
        $cur AS (
          SELECT node, min(dist) AS dist FROM (
            SELECT e.dst AS node, p.dist + 1 AS dist
            FROM $prev p JOIN edges e ON e.src = p.node
            UNION ALL SELECT node, dist FROM $prev)
          GROUP BY node)"""
        s"""
        WITH $coPurchaseCte,
        edges AS (SELECT u AS src, v AS dst FROM e0
                  UNION ALL SELECT v, u FROM e0),
        d0 AS (SELECT DISTINCT src AS node, 0 AS dist FROM edges
               WHERE src % 97 = 0),
        ${(1 to BfsRounds).map(i => round(s"d${i - 1}", s"d$i"))
          .mkString(",")}
        SELECT dist, count(*) AS n_nodes FROM d$BfsRounds
        GROUP BY dist ORDER BY dist"""
      }),

    // ------------------------- label-propagation community detection
    // Three synchronous LPA rounds over the undirected co-purchase
    // graph: every node starts as its own community, then repeatedly
    // adopts the most frequent label among its neighbors (mode), ties
    // broken by smallest label — the deterministic variant of
    // Raghavan-style LPA, distinct from min-label CC (q_dedup_cluster's
    // kernel): mode-adoption finds dense communities, min-label finds
    // connectivity. Scale shape: each round is ONE shuffle keyed on
    // node id (neighbor-label counting is a partial+final hash
    // aggregate) plus a per-node mode window bounded by the node's
    // OWN distinct neighbor labels (≤ degree, orientation-free) —
    // never a global window. Community sizes come from an O(#labels)
    // aggregate joined back. Fixed 3 rounds keeps both engines'
    // fixpoints aligned (LPA oscillates on bipartite-ish structure, so
    // synchronized round counts ARE the semantics).
    "q_graph_label_prop" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = labelPropPlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def round(prev: String, cur: String) = s"""
        c$cur AS (
          SELECT ed.src, l.lbl, count(*) AS c
          FROM ed JOIN $prev l ON l.n = ed.dst GROUP BY 1, 2),
        $cur AS (
          SELECT src AS n, lbl FROM (
            SELECT src, lbl, row_number() OVER (
              PARTITION BY src ORDER BY c DESC, lbl) AS rn
            FROM c$cur) WHERE rn = 1)"""
        s"""
        WITH $coPurchaseCte,
        ed AS (SELECT u AS src, v AS dst FROM e0
               UNION ALL SELECT v, u FROM e0),
        l0 AS (SELECT DISTINCT src AS n, src AS lbl FROM ed),
        ${(1 to LpaRounds).map(i => round(s"l${i - 1}", s"l$i"))
          .mkString(",")},
        sz AS (SELECT lbl, count(*) AS community_size
               FROM l$LpaRounds GROUP BY 1)
        SELECT l$LpaRounds.n AS node, l$LpaRounds.lbl AS label,
               sz.community_size
        FROM l$LpaRounds JOIN sz ON sz.lbl = l$LpaRounds.lbl
        ORDER BY node"""
      }),

    // --------------------- link prediction (common-neighbor Jaccard)
    // Top-3 predicted co-purchase links per QUERY node: non-adjacent
    // pairs ranked by neighbor Jaccard (ppm integers). Candidates
    // come from 2-hop expansion of a deterministic query batch
    // (node ≡ 0 mod 199) — the production recommender shape: cost is
    // O(|Q|·d²), never all-pairs, so the SAME query scales to any
    // graph by sizing the batch. Intermediate hops through hub nodes
    // are capped (degree ≤ MaxApexDeg, the wedge twin of
    // Dedup.MaxShingleDf): a celebrity intermediate of degree h emits
    // h candidate rows per query containing it while carrying ~no
    // Jaccard signal (it inflates every union it touches); the cap
    // bounds per-(query, hop) emission and is mirrored exactly in the
    // oracle's metric. Denominators use FULL degrees.
    "q_graph_jaccard_links" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = jaccardLinksPlan(s, d)
        materializeAndRelease(s, out, caches)
      },
      oracle = Some(s"""
        WITH $coPurchaseCte,
        nbrs AS (SELECT u AS x, v AS y FROM e0
                 UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT x, count(*) AS dg FROM nbrs GROUP BY 1),
        cand AS (SELECT a.x AS qn, b.y AS cn, count(*) AS common
                 FROM nbrs a
                 JOIN deg dm ON dm.x = a.y AND dm.dg <= $MaxApexDeg
                 JOIN nbrs b ON a.y = b.x AND a.x <> b.y
                 WHERE a.x % 199 = 0
                 GROUP BY 1, 2),
        nonadj AS (SELECT * FROM cand
                   WHERE NOT EXISTS (SELECT 1 FROM e0
                     WHERE u = least(qn, cn) AND v = greatest(qn, cn))),
        scored AS (
          SELECT qn, cn, common, dq.dg AS deg_q, dc.dg AS deg_c,
                 common * 1000000 // (dq.dg + dc.dg - common)
                   AS jaccard_ppm
          FROM nonadj JOIN deg dq ON dq.x = nonadj.qn
                      JOIN deg dc ON dc.x = nonadj.cn)
        SELECT qn, cn, common, deg_q, deg_c, jaccard_ppm, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY qn
                      ORDER BY jaccard_ppm DESC, cn) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY qn, rank""")),

    // ------------------------------------ fixed-round k-core peeling
    // The graph-curation primitive (keep only densely-connected
    // entities — spam/fringe removal before ranking): repeatedly drop
    // nodes of degree < k and the edges touching them. Fixed
    // KcoreRounds synchronous rounds keep both engines aligned the
    // same way the PageRank/BFS/LPA unrolls do — the round-R
    // truncation IS the semantics, and the output row for the last
    // round shows whether the fixpoint was reached (n_nodes stable)
    // or the peel was budget-cut. Each round costs one map-side-
    // combinable degree aggregate plus two semi-joins, all keyed on
    // node id; no step materializes anything bigger than the
    // surviving edge list, so the plan survives any graph size.
    "q_graph_kcore" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = kcorePlan(s, d)
        if (caches.isEmpty) out else materializeAndRelease(s, out, caches)
      },
      oracle = Some {
        def peel(prevE: String, r: Int) = s"""
        k$r AS (SELECT x FROM (
                  SELECT x, count(*) AS dg FROM (
                    SELECT u AS x FROM $prevE
                    UNION ALL SELECT v FROM $prevE) GROUP BY x)
                WHERE dg >= $KcoreK),
        e$r AS (SELECT $prevE.u, $prevE.v FROM $prevE
                JOIN k$r a ON a.x = $prevE.u
                JOIN k$r b ON b.x = $prevE.v)"""
        s"""
        WITH $coPurchaseCte,
        ${(1 to KcoreRounds.toInt).map(r => peel(s"e${r - 1}", r))
          .mkString(",")}
        SELECT CAST(0 AS BIGINT) AS round,
               (SELECT count(DISTINCT x) FROM
                 (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0))
                 AS n_nodes,
               (SELECT count(*) FROM e0) AS n_edges
        ${(1 to KcoreRounds.toInt).map(r => s"""
        UNION ALL SELECT $r,
               (SELECT count(*) FROM k$r),
               (SELECT count(*) FROM e$r)""").mkString}
        ORDER BY round"""
      })
  )
}
