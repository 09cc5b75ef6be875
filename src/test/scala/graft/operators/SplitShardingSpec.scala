package graft.operators

import graft.{SparkEntry, SparkSuite, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Invariants for the sharding/split/batching operators: each is
  * cross-checked against an independent JVM-side recomputation
  * (java.security MD5 + plain Scala argmax/folds — not Spark's md5/conv
  * expressions), so an expression-level regression (hex-parse width,
  * argmax tie order, bucket boundary) fails here without DuckDB.
  */
class SplitShardingSpec extends AnyFunSuite with Matchers with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sf/documents.parquet").exists

  /** First 8 hex chars of md5(s) as an unsigned Long — the repo's
    * md5-integer idiom, recomputed off the Spark expression stack. */
  private def md5h(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  private def hrwShard(docId: Long, n: Int): Int =
    (0 until n).maxBy(sh => (md5h(s"$docId:$sh"), sh))

  test("rendezvous churn audit matches a JVM HRW recomputation; " +
    "moved docs move ONLY to the new shard") {
    assume(haveData)
    val docIds = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val expected = docIds
      .map(id => (hrwShard(id, 8), hrwShard(id, 9)))
    // minimal disruption: any doc whose assignment changes when shard 8
    // joins the fleet must land ON shard 8 (all other weights are
    // unchanged, so only a new max can move a doc)
    expected.filter { case (s8, s9) => s9 != s8 }
      .foreach { case (_, s9) => s9 shouldBe 8 }
    val expectedRows = expected.groupBy(_._1).toSeq
      .map { case (shard, xs) =>
        val moved = xs.count { case (s8, s9) => s9 != s8 }
        (shard.toLong, xs.length.toLong, moved.toLong,
          moved.toLong * 1000000L / xs.length)
      }.sortBy(_._1)
    val got = SparkEntry.queries("q_scale_rendezvous")(spark, sf)
      .collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toSeq
    got shouldBe expectedRows
  }

  test("gdpr delete audit: shard layout identical to the rendezvous " +
    "audit, deletion set exact, amplification identity holds") {
    assume(haveData)
    val got = SparkEntry.queries("q_scale_gdpr_delete")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // same layout as q_scale_rendezvous: per-shard doc counts agree
    val rdv = SparkEntry.queries("q_scale_rendezvous")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    got.foreach { case (shard, nDocs, _, _, _, _) =>
      nDocs shouldBe rdv(shard)
    }
    // the deletion set is exactly doc_id % 131 == 0, shard-assigned
    // by the independent JVM HRW recomputation
    val docs = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val expDeleted = docs.filter(_ % 131 == 0)
      .groupBy(id => hrwShard(id, 8)).view.mapValues(_.length.toLong).toMap
    got.foreach { case (shard, nDocs, nDel, _, rewrite, amp) =>
      nDel shouldBe expDeleted.getOrElse(shard, 0L)
      rewrite shouldBe (if (nDel > 0) 1L else 0L)
      amp shouldBe (if (nDel > 0) nDocs * 1000000L / nDel else 0L)
    }
    got.map(_._3).sum shouldBe docs.count(_ % 131 == 0).toLong
  }

  test("length buckets: doc totals conserved, batch count is the exact " +
    "ceil-div, waste consistent with real vs padded") {
    assume(haveData)
    val rows = SparkEntry.queries("q_text_length_buckets")(spark, sf)
      .collect()
    val totalDocs = Tables.documents(spark, sf).count()
    rows.map(_.getLong(2)).sum shouldBe totalDocs
    rows.foreach { r =>
      val (bucket, nDocs, nBatches) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      val (real, padded, waste) =
        (r.getLong(4), r.getLong(5), r.getLong(6))
      Seq(16L, 32L, 64L, 128L, 256L, 512L) should contain(bucket)
      val b = 4096L / bucket
      nBatches shouldBe (nDocs + b - 1) / b
      padded shouldBe nDocs * bucket
      real should be <= padded
      waste shouldBe (padded - real) * 1000000L / padded
    }
  }

  test("group split: the group scheme leaks nothing, both schemes " +
    "conserve the doc count, and pair counting matches brute force") {
    assume(haveData)
    val rows = SparkEntry.queries("q_scale_group_split")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
      .toMap
    val totalDocs = Tables.documents(spark, sf).count()
    val (gt, gv, gs, gGroups, gLeak) = rows("by_group")
    gt + gv + gs shouldBe totalDocs
    gGroups shouldBe 0L
    gLeak shouldBe 0L
    val (dt, dv, ds, _, dLeak) = rows("by_doc")
    dt + dv + ds shouldBe totalDocs
    // brute-force the doc-scheme leakage: every unordered intra-group
    // pair whose two docs hash to different splits
    def splitOf(key: String): Int = {
      val h = md5h(key) % 10
      if (h < 8) 0 else if (h == 8) 1 else 2
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = docs.groupBy(_._2).values.map { grp =>
      val ids = grp.map(_._1)
      (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        if splitOf(ids(i).toString) != splitOf(ids(j).toString)
      } yield 1).size.toLong
    }.sum
    dLeak shouldBe brute
  }

  test("stratified k-fold: two-pass rank equals a JVM global rank; " +
      "per-stratum fold balance within 1") {
    assume(haveData)
    // independent reference: full md5 string via MessageDigest, global
    // per-lang sort, fold = (rank-1) % 5 — no Spark expressions, no
    // bucket decomposition
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ref = docs.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      rows.sortBy(r => (md5hex(s"fold_${r._1}"), r._1)).zipWithIndex
        .map { case ((_, _, nc), idx) => (idx.toLong % 5, lang, nc) }
    }.groupBy(t => (t._1, t._2))
      .map { case ((f, l), rs) =>
        (f, l) -> (rs.size.toLong, rs.map(_._3).sum)
      }

    val got = SparkEntry.queries("q_scale_stratified_split")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    got shouldBe ref
    // the stratification guarantee: within each lang, fold sizes
    // differ by at most 1
    got.keys.map(_._2).toSet.foreach { lang: String =>
      val sizes = got.collect { case ((_, l), (n, _)) if l == lang => n }
      (sizes.max - sizes.min) should be <= 1L
    }
  }
}
