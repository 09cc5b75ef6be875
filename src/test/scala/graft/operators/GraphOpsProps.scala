package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Randomized cross-checks for the graph pack: encode seeded random
  * graphs as 2-item orders (so the co-purchase derivation reproduces
  * exactly the generated edge set) and compare the distributed results
  * against brute-force references computed in plain Scala. Catches the
  * class of bug a single golden graph can miss (orientation ties,
  * dangling nodes, unreachable components). */
class GraphOpsProps extends AnyFunSuite with Matchers with SparkSuite {

  /** Random undirected simple graph on node ids 0..n-1 (NOT all
    * multiples of 97 — seeds for BFS are the 0-node only, plus any
    * larger multiples if n > 97). */
  private def randomEdges(n: Int, m: Int, seed: Long): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      if (a < b) (a, b) else (b, a)
    }.filter { case (a, b) => a != b }.take(m * 2).toSet.take(m)
  }

  /** Write the edge set as a lineitem table of 2-item orders. */
  private def writeGraph(edges: Set[(Long, Long)]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-gprops").toString
    edges.toSeq.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((i.toLong, 0L, u), (i.toLong, 0L, v))
    }.toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  private def bruteTriangles(edges: Set[(Long, Long)]): Long = {
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val nodes = adj.keys.toSeq.sorted
    // yield the distinct (a,b,c) triple, NOT a constant — a constant
    // yielded through Set generators dedups to one element
    (for {
      a <- nodes; b <- adj.getOrElse(a, Set.empty[Long]).toSeq if b > a
      c <- adj.getOrElse(b, Set.empty[Long]).toSeq if c > b
      if adj(a).contains(c)
    } yield (a, b, c)).size.toLong
  }

  private def bruteBfs(edges: Set[(Long, Long)], hops: Int): Map[Int, Long] = {
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val seeds = adj.keySet.filter(_ % 97 == 0)
    var dist: Map[Long, Int] = seeds.map(_ -> 0).toMap
    (1 to hops).foreach { k =>
      val frontier = dist.collect { case (n, d) if d == k - 1 => n }
      val reached = frontier.flatMap(n => adj.getOrElse(n, Set.empty[Long]))
        .filterNot(dist.contains)
      dist = dist ++ reached.map(_ -> k)
    }
    dist.groupBy(_._2).map { case (d, m) => d -> m.size.toLong }
  }

  test("triangle count matches brute force on random graphs") {
    Seq((12, 25, 1L), (20, 60, 2L), (30, 90, 3L), (8, 28, 4L))
      .foreach { case (n, m, seed) =>
        val edges = randomEdges(n, m, seed)
        val dir = writeGraph(edges)
        withClue(s"n=$n m=${edges.size} seed=$seed") {
          val r = SparkEntry.queries("q_graph_triangles")(spark, dir)
            .collect()(0)
          r.getAs[Long]("n_edges") shouldBe edges.size.toLong
          r.getAs[Long]("n_triangles") shouldBe bruteTriangles(edges)
        }
      }
  }

  /** Write a random trade schema: suppliers/customers spread over
    * `nNations` nations, orders with 1–3 lineitems each. */
  private def writeTrade(nNations: Int, nOrders: Int, seed: Long): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val d = Files.createTempDirectory("graft-trade").toString
    val nations = (0 until nNations).map(i => (i.toLong, s"N_$i"))
    nations.toDF("n_nationkey", "n_name").write.parquet(s"$d/nation.parquet")
    val supps = (0 until 20).map(i => (i.toLong, rnd.nextInt(nNations).toLong))
    supps.toDF("s_suppkey", "s_nationkey").write.parquet(s"$d/supplier.parquet")
    val custs = (0 until 20).map(i => (i.toLong, rnd.nextInt(nNations).toLong))
    custs.toDF("c_custkey", "c_nationkey").write.parquet(s"$d/customer.parquet")
    val orders = (0 until nOrders).map(i => (i.toLong, rnd.nextInt(20).toLong))
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    val lines = orders.flatMap { case (ok, _) =>
      (0 to rnd.nextInt(3)).map(_ => (ok, rnd.nextInt(20).toLong, 1L))
    }
    lines.toDF("l_orderkey", "l_suppkey", "l_partkey")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  /** Brute integer PageRank with EXACTLY the query's formulas. */
  private def brutePagerank(d: String): Map[String, Long] = {
    val Scale = 1000000000000L
    val li = spark.read.parquet(s"$d/lineitem.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ords = spark.read.parquet(s"$d/orders.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cn = spark.read.parquet(s"$d/customer.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sn = spark.read.parquet(s"$d/supplier.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nn = spark.read.parquet(s"$d/nation.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = li.map { case (ok, sk) => (sn(sk), cn(ords(ok))) }
      .groupBy(identity).map { case (e, xs) => e -> xs.length.toLong }
    val nodes = (edges.keys.map(_._1) ++ edges.keys.map(_._2)).toSet
    val n = nodes.size.toLong
    val outw = edges.groupBy(_._1._1)
      .map { case (s, es) => s -> es.values.sum }
    val base = 15L * Scale / (100L * n)
    var rank: Map[Long, Long] = nodes.map(_ -> Scale / n).toMap
    (1 to 5).foreach { _ =>
      val in = edges.toSeq
        .map { case ((s, c), w) => c -> (rank(s) * w / outw(s)) }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
      rank = nodes.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L))
        .toMap
    }
    rank.map { case (k, v) => nn(k) -> v }
  }

  test("integer PageRank matches brute force on random trade graphs") {
    Seq((5, 60, 11L), (8, 120, 12L), (3, 40, 13L)).foreach {
      case (nNations, nOrders, seed) =>
        val d = writeTrade(nNations, nOrders, seed)
        withClue(s"nations=$nNations orders=$nOrders seed=$seed") {
          val got = SparkEntry.queries("q_graph_pagerank")(spark, d)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          got shouldBe brutePagerank(d)
        }
    }
  }

  test("BFS distance histogram matches brute force on random graphs") {
    Seq((150, 200, 5L), (120, 150, 6L), (200, 260, 7L))
      .foreach { case (n, m, seed) =>
        val edges = randomEdges(n, m, seed)
        val dir = writeGraph(edges)
        val expected = bruteBfs(edges, 3)
        withClue(s"n=$n m=${edges.size} seed=$seed") {
          val got = SparkEntry.queries("q_graph_bfs")(spark, dir)
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          got shouldBe expected
        }
      }
  }

  /** Fixed-round peel in plain Scala — the sequential mirror of
    * kcorePlan's synchronous rounds. */
  private def brutePeel(edges: Set[(Long, Long)], k: Long,
      rounds: Int): Seq[(Long, Long, Long)] = {
    var e = edges
    val nodes0 = e.flatMap { case (u, v) => Seq(u, v) }
    val out = scala.collection.mutable.ArrayBuffer(
      (0L, nodes0.size.toLong, e.size.toLong))
    (1 to rounds).foreach { r =>
      val deg = e.toSeq.flatMap { case (u, v) => Seq(u, v) }
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.collect { case (n, d) if d >= k => n }.toSet
      e = e.filter { case (u, v) => keep(u) && keep(v) }
      out += ((r.toLong, keep.size.toLong, e.size.toLong))
    }
    out.toSeq
  }

  test("k-core round table matches brute force on random graphs") {
    Seq((40, 120, 11L, 4L), (60, 200, 12L, 5L), (80, 160, 13L, 3L),
      (50, 400, 14L, 8L))
      .foreach { case (n, m, seed, k) =>
        val edges = randomEdges(n, m, seed)
        val dir = writeGraph(edges)
        val expected = brutePeel(edges, k, 3)
        withClue(s"n=$n m=${edges.size} seed=$seed k=$k") {
          val (out, caches) = GraphOps.kcorePlan(spark, dir, k = k)
          val got = out.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
          caches.foreach(_.unpersist())
          got shouldBe expected
        }
      }
  }
}
