package graft.operators

import graft.{Metrics, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Hot-key stress: drive the two inverted-index pair kernels with a
  * single key at 100× the df cap and prove — as a failing test, not
  * prose — that (a) the hot posting list emits ZERO pairs while normal
  * buckets still pair, and (b) shuffle volume stays orders of magnitude
  * under the O(df²) emission an uncapped kernel would produce. This is
  * the 100 TB claim for `Dedup.pairCounts` and `Multimodal.framePairs`
  * in executable form.
  */
class HotKeyStressSpec extends AnyFunSuite with Matchers with SparkSuite {

  // one shingle/fingerprint shared by 100×cap docs + two rare pairs
  private val Cap = 20
  private val HotDf = Cap * 100

  test("pairCounts drops the hot shingle and keeps rare-pair signal") {
    import spark.implicits._
    val hot = (0L until HotDf).map(i => (i, "the quick fox"))
    val rare = Seq((1L, "rare shingle one"), (3L, "rare shingle one"),
      (5L, "rare shingle two"), (7L, "rare shingle two"),
      (9L, "solo shingle"))
    val sh = (hot ++ rare).toDF("doc_id", "s")

    val (pairs, m) = Metrics.measure(spark) {
      Dedup.pairCounts(spark, sh, maxDf = Cap)
        .select("d1", "d2").as[(Long, Long)].collect().sorted
    }
    // only the two rare co-occurrences survive; none of the ~2M
    // hot-bucket pairs exist
    pairs shouldBe Array((1L, 3L), (5L, 7L))
    // an uncapped kernel would shuffle HotDf²/2 = 2M pair rows
    // (≥ 32 MB of (long, long) tuples); the capped kernel's whole run
    // — posting lists + df agg + pair agg — stays under 1 MB
    m.shuffleWrite should be < (1L << 20)
  }

  test("framePairs drops the hot fingerprint and keeps rare-pair signal") {
    import spark.implicits._
    val hotSig = 0xDEADL
    val hot = (0L until HotDf).map(i => (i, hotSig))
    val rare = Seq((2L, 7001L), (4L, 7001L), (2L, 7002L), (4L, 7002L),
      (6L, 8001L), (8L, 8001L))
    val sigs = (hot ++ rare).toDF("doc_id", "sig")

    val (pairs, m) = Metrics.measure(spark) {
      Multimodal.framePairs(spark, sigs, maxDf = Cap)
        .select("d1", "d2", "n_shared").as[(Long, Long, Long)]
        .collect().sorted
    }
    pairs shouldBe Array((2L, 4L, 2L), (6L, 8L, 1L))
    m.shuffleWrite should be < (1L << 20)
  }

  test("bandPairs degrades an oversized bucket to star edges, keeping connectivity") {
    import spark.implicits._
    // one band bucket with 100×cap members (a mega-cluster of
    // near-identical docs) + one normal bucket
    val hot = (0L until HotDf).map(i => (i, 0, "HOTKEY"))
    val normal = Seq((5000L, 1, "NK"), (5001L, 1, "NK"), (5002L, 1, "NK"))
    val bands = (hot ++ normal).toDF("doc_id", "band", "key")

    val (pairs, m) = Metrics.measure(spark) {
      Dedup.bandPairs(bands, maxBucket = Cap)
        .as[(Long, Long)].collect()
    }
    // normal bucket: full clique (3 pairs)
    pairs.filter(_._1 >= 5000L).sorted shouldBe
      Array((5000L, 5001L), (5000L, 5002L), (5001L, 5002L))
    // hot bucket: star on the min doc id — O(k) edges, NOT k²/2, and
    // every member still reachable from the representative
    val hotEdges = pairs.filter(_._1 < 5000L)
    hotEdges.length shouldBe (HotDf - 1)
    hotEdges.foreach(_._1 shouldBe 0L)
    hotEdges.map(_._2).sorted shouldBe (1L until HotDf).toArray
    // the clique would emit ~2M pair rows; the star stays tiny
    m.shuffleWrite should be < (1L << 20)
  }

  test("domainCapKept: salted two-phase equals naive top-K on a 100×-hot domain") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cap = 10
    val salts = 16
    // one domain with 100·cap docs + one small domain
    val hot = (0L until (cap * 100L)).map(i =>
      (i, "hotdomain", (i * 37 % 5000).toInt))
    val small = (10000L until 10005L).map(i =>
      (i, "smalldomain", (i % 100).toInt))
    val docs = (hot ++ small).toDF("doc_id", "source", "n_chars")

    val kept = TextAnalysis.domainCapKept(docs, cap, salts)
    // equivalence: identical rows to the naive one-window plan
    val naive = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= cap).drop("rk")
    kept.select("doc_id").as[Long].collect().sorted shouldBe
      naive.select("doc_id").as[Long].collect().sorted
    // the salting must actually be IN the plan: phase 1's window keys
    // (source, salt), so no reducer ever sorts more than domain/salts
    // rows — removing the salt column makes this fail before any
    // at-scale run would
    val plan = kept.queryExecution.optimizedPlan.toString
    plan should include("salt")
  }

  test("ivf_balance flags a 100×-hot inverted list (the re-train trigger)") {
    import spark.implicits._
    // The within-list pair kernels (reciprocal-NN, NN-descent seed /
    // truth legs) are Σ|list|² by design — bounded only while list
    // sizes are. There is deliberately NO per-list cap (capping a k-NN
    // list corrupts recall silently); the operational guard is the
    // balance AUDIT firing, which is what this stresses: one list at
    // 100× the others must show up in every skew metric.
    val d = java.nio.file.Files.createTempDirectory("graft-hot-ivf").toString
    val hot = (0L until 2000L).map(i => (i, 0))
    val cold = (0 until 9).flatMap(l =>
      (0L until 20L).map(i => (10000L + l * 100 + i, l + 1)))
    (hot ++ cold).toDF("vec_id", "label")
      .write.parquet(s"$d/embeddings.parquet")
    val r = graft.SparkEntry.queries("q_sim_ivf_balance")(spark, d).head()
    r.getAs[Long]("n_lists") shouldBe 10L
    r.getAs[Long]("max_list") shouldBe 2000L
    // 2000·10/2180 ≈ 9.2× imbalance, top list holds ~92% of the corpus
    r.getAs[Long]("imbalance_pct") should be >= 900L
    r.getAs[Long]("top1_share_ppm") should be >= 900000L
    r.getAs[Long]("hot_lists") shouldBe 1L
  }

  test("urlDedupGroups: a 100×-hot canonical URL collapses map-side") {
    import spark.implicits._
    val hotN = 50000L
    // hotN raw variants of ONE page (scheme/www/utm drift) + two rare
    // re-crawl pairs + a singleton (must not appear: n_docs < 2).
    // Born distributed via range — a local-Seq + repartition input
    // would charge its own shuffle to the meter.
    val hot = spark.range(hotN)
      .select(col("id").as("doc_id"),
        concat(
          expr("CASE id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://' " +
            "ELSE 'HTTPS://' END"),
          expr("CASE WHEN id % 2 = 0 THEN 'www.' ELSE '' END"),
          lit("example.com/hotpage"),
          expr("CASE WHEN id % 2 = 1 THEN '?utm_source=feed' ELSE '' END"))
          .as("url"))
    val rare = Seq(
      (100000L, "https://example.com/rare1"),
      (100001L, "http://www.example.com/rare1/"),
      (100002L, "https://example.com/solo")).toDF("doc_id", "url")
    val docs = hot.unionByName(rare)

    val (groups, m) = Metrics.measure(spark) {
      TextAnalysis.urlDedupGroups(docs)
        .select("canon", "n_docs", "keep_doc")
        .as[(String, Long, Long)].collect().sortBy(_._1)
    }
    groups shouldBe Array(
      ("example.com/hotpage", hotN, 0L),
      ("example.com/rare1", 2L, 100000L))
    // ONE map-side-combinable hash aggregate: each task ships at most
    // one partial row per distinct canonical key, so the 50k-row hot
    // key crosses the wire as ~4 partial rows, not 50k canon strings
    // (~2 MB). A non-combinable rewrite (window/collect) breaks this.
    m.shuffleWrite should be < (64L << 10)
  }

  test("noveltyFromGrams: a gram in every doc stays linear and digest-sized") {
    import spark.implicits._
    val nDocs = 20000L
    // every doc shares the trigram "alpha beta gamma" and carries
    // doc-unique tail words — the Zipf-head gram at 100× any cap
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma u"), col("id"),
          lit(" v"), col("id"), lit(" w"), col("id")).as("text"))
      .as[(Long, String)]

    val (rows, m) = Metrics.measure(spark) {
      TextAnalysis.noveltyFromGrams(TextAnalysis.gramDigests(docs))
        .select("doc_id", "n_grams", "n_novel", "novelty_ppm")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    }
    rows.length shouldBe nDocs
    // 6 words → 4 trigrams; the shared head gram is novel only for the
    // smallest doc_id, the 3 doc-unique grams always are
    rows.foreach { case (id, nGrams, nNovel, ppm) =>
      nGrams shouldBe 4L
      nNovel shouldBe (if (id == 0L) 4L else 3L)
      ppm shouldBe (if (id == 0L) 1000000L else 750000L)
    }
    // the hot gram contributes O(n_docs) 8-byte digest rows — linear,
    // never pairwise (df² would be 4·10⁸ rows), and the shuffle
    // carries digests, not gram strings
    m.shuffleWrite should be < (16L << 20)
  }

  test("no real band bucket approaches the star-edge cap at test scale") {
    import spark.implicits._
    // The LSH oracles (lsh_eval, lsh_sweep) emit the FULL clique per
    // band bucket while the Spark side degrades buckets above
    // MaxBandBucket to star edges — a documented asymmetry that is
    // sound only while no real bucket reaches the cap. Pin that
    // precondition on the actual corpus: if the data ever grows a
    // mega-bucket, this fails before the oracle silently diverges.
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val maxBucket = Dedup.minhashBandRows(
        Dedup.shingleSets(docs).as[(Long, Seq[String])])
      .toDF("doc_id", "band", "key")
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    maxBucket should be < (Dedup.MaxBandBucket / 10L)
    // The SWEEP bands the same signature three ways; the 8×2 config's
    // 2-hash keys are the weakest (most collision-prone) banding in the
    // registry — if a mega-bucket ever forms, it forms there first. Pin
    // every sweep config, not just the 4×4 the eval query uses.
    val sweepMax = Dedup.minhashBandRowsSweep(
        Dedup.shingleSets(docs).as[(Long, Seq[String])],
        Seq((8, 2), (4, 4), (2, 8)))
      .toDF("doc_id", "cfg", "band", "key")
      .groupBy("cfg", "band", "key").agg(count(lit(1)).as("n"))
      .groupBy("cfg").agg(max(col("n")).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sweepMax.keySet shouldBe Set("8x2", "4x4", "2x8")
    sweepMax.foreach { case (cfg, mx) =>
      withClue(s"config $cfg: ") {
        mx should be < (Dedup.MaxBandBucket / 10L)
      }
    }
  }

  test("MV retraction keeps the merge shuffle bounded under a 100× hot view key") {
    import spark.implicits._
    // One (ym, priority) group carries 100× the rows of every other
    // group — the Black-Friday month of a revenue view. The signed
    // per-row contributions MUST reduce map-side: the merge shuffle
    // then carries O(partitions × |groups|) partial rows, not the
    // hot group's row count. 200k hot + 2k cold input rows, every
    // third row a delete/update; an unreduced shuffle would carry
    // ≥ 200k × ~40 B ≈ 8 MB — assert the whole run stays under 1 MB.
    val n = 202000L
    val fact = spark.range(n).select(
      when(col("id") < 200000L, lit("1997-11"))
        .otherwise(concat(lit("1998-"),
          lpad((col("id") % 9 + 1).cast("string"), 2, "0"))).as("ym"),
      (col("id") % 2).cast("string").as("o_orderpriority"),
      (col("id") % 1000 + 1).as("rev"),
      (col("id") % 3 === 0).as("is_del"),
      (col("id") % 3 === 1).as("is_upd"))
    val (out, m) = Metrics.measure(spark) {
      ScaleOps.retractMaintain(fact).collect()
    }
    // correctness under skew: the hot group survives with the exact
    // post-CDC count (2/3 of its rows deleted... is_del drops 1/3)
    val hot = out.filter(r => r.getString(0) == "1997-11")
    hot.length shouldBe 2 // two priorities
    hot.map(_.getLong(2)).sum shouldBe (200000L * 2 / 3) +- 2
    m.shuffleWrite should be > 0L
    m.shuffleWrite should be < (1L << 20)
  }

  test("pair emission is bounded by cap² per bucket, not df²") {
    import spark.implicits._
    // every bucket exactly at the cap: emission = buckets · cap·(cap−1)/2
    val atCap = (0 until 10).flatMap { b =>
      (0 until Cap).map(i => (b * 1000L + i, b.toLong))
    }.toDF("doc_id", "sig")
    val n = Multimodal.framePairs(spark, atCap, maxDf = Cap)
      .agg(sum(lit(1L))).head().getLong(0)
    n shouldBe 10L * Cap * (Cap - 1) / 2
  }

  test("prefix join: a template-boilerplate corpus emits no candidates " +
      "through the template, and true pairs survive") {
    import spark.implicits._
    // 400 docs share a 10-shingle template (df 400 — far under the
    // 1000 stop-shingle cap, i.e. the MID-df adversary the 10× scale
    // run exposed) and each carries a 15-shingle unique tail, so
    // pairwise template Jaccard ≈ 10/40 < 0.5. The rarity prefix
    // (n − ⌈n/2⌉ + 1 = 13 of 25) is filled entirely by the df-1
    // unique tail, so NO candidate forms through the template — the
    // naive inverted index would emit 400²/2 = 80k pairs per template
    // shingle. Two planted near-dup pairs (shared tails) must
    // survive with exact scores.
    // 10 template words → 8 pure-template shingles per doc; 17-word
    // unique tails → pairwise template Jaccard 8/42 ≈ 0.19 < τ
    val template = (0 until 10).map(i => s"tmpl$i").mkString(" ")
    def tail(seed: Long) = (0 until 17)
      .map(i => s"u${seed}x$i").mkString(" ")
    val docs =
      (0L until 400L).map(i => (i, s"$template ${tail(i)}")) ++
        Seq((1000L, s"near dup pair one ${tail(9001)}"),
          (1001L, s"near dup pair one ${tail(9001)} extra"),
          (1002L, s"second planted duplicate body ${tail(9002)}"),
          (1003L, s"second planted duplicate body ${tail(9002)}"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ppj-hot").toString
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"),
        org.apache.spark.sql.functions.length(col("text"))
          .cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")

    val (got, m) = Metrics.measure(spark) {
      graft.SparkEntry.queries("q_dedup_ppjoin")(spark, dir)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    got shouldBe Array((1000L, 1001L), (1002L, 1003L))
    // the whole run — store build (df agg, rank windows, id arrays)
    // plus candidate join and verification — must stay far under the
    // ~1.3 MB of (long, long) rows a per-template-shingle all-pairs
    // emission would shuffle
    m.shuffleWrite should be < (4L << 20)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
