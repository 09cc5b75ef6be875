package graft.operators

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five strategies over the `documents` / `embeddings` tables, each the
  * standard algorithm used for web-scale corpus dedup:
  *
  *  - exact:        hash-groupBy on md5(text) — the shuffle key is the
  *                  32-char digest, never the document body, so at 100 TB
  *                  the exchange carries ~48 bytes/doc.
  *  - n-gram Jaccard: word-3-shingle inverted-index join; quadratic in
  *                  the worst case, kept as the exact-verification kernel
  *                  that the LSH variants feed their candidates into.
  *  - MinHash+LSH:  16 md5-derived min-hashes per doc computed map-side
  *                  with array transforms (NO shuffle to build
  *                  signatures), banded 4×4; only the tiny
  *                  (band, key) → candidate-pair join shuffles.
  *  - SimHash:      32-bit count-weighted signature; byte-banded
  *                  candidate generation (pigeonhole: hamming ≤ 3 ⇒ one
  *                  of 4 bytes equal), popcount(xor) verification.
  *  - embedding cosine: pairwise near-dup over `Array[Float]` vectors;
  *                  brute block here, LSH-bucketed variant in
  *                  [[Similarity]] is the scale path.
  *
  * All hash functions are md5-derived (`conv(substr(md5(x),1,8),16,10)`)
  * so the DuckDB oracle computes the IDENTICAL signature — LSH candidate
  * sets match across engines bit-for-bit, making even the probabilistic
  * operators hash-checkable, not just rows-only.
  */
/** One packed block of embedding vectors for the block-matrix similarity
  * join: `data` is row-major (ids.length × dim). */
final case class EmbBlock(
    blk: Long, ids: Array[Long], dim: Int, data: Array[Double],
    norms: Array[Double])

object Dedup extends QueryPack {

  /** doc_id + distinct word-3-gram shingle stream — per-row, map-side,
    * no shuffle. Produced by a typed JIT'd kernel rather than the
    * transform/array_distinct higher-order-function chain: HOF
    * expressions are CodegenFallback (interpreted per row), and their
    * cold first execution dominated the pair-generation queries
    * (measured ~4× the warm cost); a compiled loop is fast from the
    * first row. Semantics identical to the HOF form: split on single
    * spaces keeping empties, 3-gram windows, per-document distinct. */
  private def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val ws = text.split(" ", -1)
            if (ws.length < 3) Iterator.empty
            else {
              val seen = new java.util.LinkedHashSet[String]()
              var i = 0
              while (i + 2 < ws.length) {
                seen.add(ws(i) + " " + ws(i + 1) + " " + ws(i + 2))
                i += 1
              }
              scala.jdk.CollectionConverters
                .IteratorHasAsScala(seen.iterator()).asScala
                .map(sh => (id, sh))
            }
          }
        }
      }.toDF("doc_id", "s")
  }

  // The shingle kernel output is the dedup pack's shared stage
  // boundary — ~7 queries (jaccard, containment, minhash/LSH, eval,
  // sweep, keep-list, contamination) all start from it, and each used
  // to recompute it from raw text (first-run codegen of the typed
  // kernel was the dominant repeated cost at bench). Cache both forms
  // once per (session, dataset) — the exploded (doc_id, shingle)
  // stream and the per-doc set rows. Both are computed
  // map-side from documents with no shuffle, so the cache trades a
  // bounded executor-storage footprint for the repeated scan+kernel
  // cost; SUBSET calls (incremental admission's survivors/corpus
  // split) still compute directly, keyed as they are to per-query
  // filters.
  private[operators] def shinglesCached(s: SparkSession, d: String): DataFrame =
    graft.StoreBuilds.persisted(s, d, "dedup_shingle_rows")(shingles(s, d))

  private[operators] def shingleSetsCached(
      s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[(Long, Seq[String])] = {
    import s.implicits._
    graft.StoreBuilds.persisted(s, d, "dedup_shingle_sets")(
      shingleSets(Tables.documents(s, d)).as[(Long, Seq[String])])
  }

  /** DuckDB mirror of [[shingles]] (window-function formulation —
    * semantically identical shingle set). */
  private val shinglesCte = """
    shingles AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS s
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w,
                     generate_subscripts(string_split(text,' '),1) AS i
              FROM documents)
        WINDOW win AS (PARTITION BY doc_id ORDER BY i))
      WHERE s IS NOT NULL)"""

  /** 32-bit unsigned int from the first 8 hex chars of md5 — identical in
    * Spark (`conv`) and DuckDB (`('0x'||…)::BIGINT`). */
  private def md5h(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 8), 16, 10) AS BIGINT)"

  private val jaccardVerifySql = """
    ns AS (SELECT doc_id, count(*) AS nsh FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM cand JOIN shingles a ON a.doc_id = cand.d1
                JOIN shingles b ON b.doc_id = cand.d2 AND b.s = a.s
      GROUP BY 1, 2)"""

  /** Shingle document-frequency ceiling (stop-shingle removal): a
    * shingle present in more docs than this is dropped from the Jaccard
    * space entirely — it carries no near-dup signal (like stop-words)
    * and its posting list would otherwise emit O(df²) pairs, the
    * quadratic blow-up that kills inverted-index dedup at 100 TB. */
  private[operators] val MaxShingleDf = 1000

  /** Shared-shingle pair counts (d1 < d2, c, nsh1, nsh2) over the
    * df-capped shingle space, via inverted-list pair generation (one
    * pass over the capped shingle stream). The hot set (df > maxDf) is
    * tiny by definition, so removing it is a broadcast anti-join — the
    * shingle stream itself never shuffles for the filter; pair emission
    * per posting list is then provably ≤ maxDf² and in practice
    * Zipf-small. Feeds both the Jaccard and the containment scorers. */
  private[operators] def pairCounts(
      s: SparkSession, sh: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame =
    pairCountsGiven(s, sh, hotSet(sh, maxDf), maxDf)

  /** The stop-shingle set (df > maxDf) — one full-corpus aggregate. */
  private def hotSet(sh: DataFrame, maxDf: Int): DataFrame =
    sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")

  /** [[pairCounts]] with the hot set supplied by the caller: the hot
    * aggregate appears in BOTH the ns and the pair-generation lineage,
    * so an eager caller (the session store below) persists it and pays
    * the corpus aggregate once instead of twice. */
  private def pairCountsGiven(
      s: SparkSession, sh: DataFrame, hot: DataFrame,
      maxDf: Int): DataFrame = {
    import s.implicits._
    val capped = sh.join(broadcast(hot), Seq("s"), "left_anti")
      .select(col("doc_id"), col("s")) // anti-join puts the key first
    val ns = capped.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    capped.as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._1).toArray
        if (ids.length > maxDf) Iterator.empty // hard bound; hot set is gone
        else {
          java.util.Arrays.sort(ids)
          // flat while-loop emission: the for-comprehension's nested
          // iterator wrappers allocated per element on the hottest
          // path of the kernel (millions of pairs per corpus)
          new Iterator[(Long, Long)] {
            private var i = 0
            private var j = 1
            def hasNext: Boolean = ids.length > 1 && i < ids.length - 1
            def next(): (Long, Long) = {
              val p = (ids(i), ids(j))
              j += 1
              if (j >= ids.length) { i += 1; j = i + 1 }
              p
            }
          }
        }
      }
      .toDF("d1", "d2")
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      .join(ns.as("na"), col("na.doc_id") === col("d1"))
      .join(ns.as("nb"), col("nb.doc_id") === col("d2"))
      .select(col("d1"), col("d2"), col("c"),
        col("na.nsh").as("nsh1"), col("nb.nsh").as("nsh2"))
  }

  /** All (d1 < d2) pairs with Jaccard ≥ `threshold` over the df-capped
    * shingle space — see [[pairCounts]] for the kernel. */
  private[operators] def jaccardPairs(
      s: SparkSession, sh: DataFrame, threshold: Double,
      maxDf: Int = MaxShingleDf): DataFrame =
    pairCounts(s, sh, maxDf)
      .withColumn("jaccard",
        col("c").cast("double") / (col("nsh1") + col("nsh2") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))

  // The shared-shingle pair-count table (d1, d2, c, nsh1, nsh2) over
  // the default-capped shingle space feeds BOTH near-dup scorers
  // (Jaccard and containment) — "one pair-count computation feeds both"
  // is a session stage store, not just a comment. Bounded: distinct
  // doc pairs sharing ≥ 1 capped shingle, ≤ Σ C(df,2) with df ≤ maxDf.
  private[operators] def pairCountsCached(
      s: SparkSession, d: String): DataFrame = {
    val sh = shinglesCached(s, d)
    graft.StoreBuilds.cached(s, d, "dedup_pair_counts") {
      // hot set persisted for the materialization (it sits in both the
      // ns and pair-gen lineage — unpersisted, the corpus-wide df
      // aggregate ran twice per build), released right after
      val hot = hotSet(sh, MaxShingleDf).persist()
      try {
        val r = pairCountsGiven(s, sh, hot, MaxShingleDf).persist()
        r.count()
        r
      } finally hot.unpersist()
    }
  }

  // The prefix index — each doc's rarity PREFIX rows carrying the
  // (rank, set size) the PPJoin filters need, per-doc capped set
  // sizes, and each doc's capped set as a SORTED INTEGER-ID ARRAY —
  // is a session stage store like the shingle and band stores: at
  // 100 TB the prefix index is exactly the artifact an exact-SSJoin
  // pipeline materializes once per ingestion batch and probes
  // thereafter. ONE full-vocabulary df aggregate feeds the hot cut,
  // the rarity order, and the id assignment. The integer ids replace
  // shingle STRINGS in verification: an id is the injective pack
  // (crc32 bucket << 40 | rank-within-bucket) — unique without any
  // global window (different buckets differ in the high bits, ranks
  // are unique inside each), exact by bijection with the capped
  // vocabulary — so the verify join ships
  // ~8 bytes per token instead of a ~20-char string and intersects
  // longs (measured at the 10× replica: the string-array verify was
  // 72 s of payload shuffle for 1.25M candidates).
  private[operators] def ppjoinStagesCached(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sh = shinglesCached(s, d)
    graft.StoreBuilds.cached(s, d, "dedup_prefix_index") {
      val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
      val ids = dfreq.filter(col("df") <= MaxShingleDf)
        // injective pack (crc32-bucket << 40 | rank-within-bucket):
        // unique without a global window — different buckets differ in
        // the high bits, ranks are unique inside each — and the ~2²⁰
        // buckets keep every rank window partition vocabulary/2²⁰ small
        .withColumn("bkt", expr("crc32(s) % 1048576"))
        .withColumn("rkb", row_number().over(
          Window.partitionBy(col("bkt")).orderBy(col("s"))))
        .withColumn("tid", col("bkt") * lit(1L << 40) + col("rkb"))
        .select(col("s"), col("df"), col("tid"))
      // r12 (guide §2.4): the capped stream used to be consumed by
      // THREE separate subplans (ns aggregate, prefix window, tid-array
      // aggregate), each re-running the sh⋈ids join and paying its own
      // doc_id exchange. One rarity-rank window now establishes the
      // doc_id clustering once (persisted for the build), and both
      // per-doc aggregates and the prefix cut derive from it — the
      // sets/nsh aggregate is a single pass sharing the window's
      // partitioning, and the old standalone `ns` frame (never read by
      // ppjoinPlan — pref carries nsh) is a projection, not a store.
      val ranked = sh.join(ids, "s")
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
        .persist()
      try {
        val setsNs = ranked.groupBy("doc_id")
          .agg(count(lit(1)).as("nsh"),
            sort_array(collect_list(col("tid"))).as("tids"))
          .persist()
        val pref = ranked
          .join(setsNs.select(col("doc_id"), col("nsh")), "doc_id")
          .filter(col("rk") <=
            // the base prefix DERIVES from PpjoinBaseTauPpm (the τ₀
            // ceil-form n − ⌈τ₀·n⌉ + 1, here ⌈n/2⌉ at τ₀ = 0.5) — one
            // definition, so lowering the base threshold automatically
            // widens the stored prefix instead of silently breaking
            // ppjoinPlan's "the store covers every τ ≥ τ₀" guarantee
            col("nsh") - expr(
              s"($PpjoinBaseTauPpm * nsh + 999999) div 1000000") + 1)
          .select("doc_id", "s", "rk", "nsh")
          .persist()
        // one action materializes ranked, setsNs (via the join's build
        // side) and pref; the window stage cache releases after
        pref.count()
        setsNs.count()
        (pref, setsNs.select(col("doc_id"), col("nsh")),
          setsNs.select(col("doc_id"), col("tids")))
      } finally ranked.unpersist()
    }
  }

  /** ExactSubstr threshold (tokens): a span is removed when a verbatim
    * copy of ≥ this many tokens occurs anywhere else in the corpus —
    * 50, the Lee et al. 2022 setting. Position-marking with L-grams is
    * exact at this threshold (see q_dedup_exact_substr), so the knob
    * trades nothing: lower L = stricter dedup, higher = only long
    * boilerplate, always the literature's semantics. */
  private[operators] val ExactSubstrMinTokens = 50

  /** The base threshold the prefix-index store is built at: the store
    * keeps each doc's first n − ⌈τ₀·n⌉ + 1 rarity-ordered tokens, and
    * since the prefix SHRINKS as τ grows, the τ₀ = 0.5 store serves
    * every τ ≥ 0.5 by an extra rank filter — one store, any
    * production threshold. */
  private[operators] val PpjoinBaseTauPpm = 500000L

  /** Lazy prefix-filtered similarity-join plan over the session
    * prefix-index store (see q_dedup_ppjoin), τ-PARAMETRIC in exact
    * ppm (`tauPpm` = τ·10⁶; any τ ∈ [0.5, 1) — the store's base
    * prefix covers it, see [[PpjoinBaseTauPpm]]). Exposed lazily so
    * PlanGuardSpec pins the REAL join shapes.
    *
    * Candidate generation applies all three PPJoin-family filters in
    * the prefix self-join itself, each in τ-generic integer form:
    *  - PREFIX: rank ≤ n − ⌈τ·n⌉ + 1 per side (⌈τn⌉ =
    *    (τppm·n + 10⁶−1) div 10⁶);
    *  - SIZE: jac ≥ τ forces τ·max(n₁,n₂) ≤ min(n₁,n₂), i.e.
    *    n·10⁶ ≥ m·τppm both ways;
    *  - POSITIONAL: the overlap still reachable after the colliding
    *    rank, min(n₁−rk₁, n₂−rk₂)+1, must reach the overlap floor
    *    α = ⌈τ/(1+τ)·(n₁+n₂)⌉ = (τppm·(n₁+n₂) + τppm + 10⁶ − 1)
    *    div (τppm + 10⁶).
    * Each is false-negative-free at every τ: a qualifying pair's
    * overlap is ≥ ⌈τ·nᵢ⌉ on each side (via the size bound), so its
    * EARLIEST common token sits inside both prefixes and that
    * collision passes the positional bound (PrefixJoinSpec re-proves
    * completeness against brute force across τ ∈ {0.5, 0.7, 0.8,
    * 0.9}). At τ = 0.5 every bound reduces EXACTLY to the original
    * hardcoded forms (2·min ≥ max, α = ⌈(n₁+n₂)/3⌉), so the base
    * query's output is bit-identical. Verification then touches only
    * survivors: one doc-keyed join per side against the store's
    * sorted INTEGER-ID arrays (bijective with the capped vocabulary,
    * so the count is exact), intersection counted in-task on longs —
    * ~8 bytes per token through the shuffle instead of a shingle
    * string. The final cut c·10⁶ ≥ τppm·(n₁+n₂−c) (expressed as
    * jac_ppm ≥ τppm, exactly equivalent for integer τppm) is exact
    * rational jac ≥ τ — no float anywhere. */
  private[operators] def ppjoinPlan(
      s: SparkSession, d: String,
      tauPpm: Long = PpjoinBaseTauPpm): (DataFrame, Seq[DataFrame]) = {
    require(tauPpm >= PpjoinBaseTauPpm && tauPpm < 1000000L,
      s"tauPpm $tauPpm outside the store's base-prefix coverage " +
        s"[$PpjoinBaseTauPpm, 1000000)")
    graft.functions.GraftFunctions.register(s) // graft_ixcount below
    val (pref0, ns, setsInt) = ppjoinStagesCached(s, d)
    // tighter-τ prefixes are a SUBSET of the stored base prefix rows
    val pref =
      if (tauPpm == PpjoinBaseTauPpm) pref0
      else pref0.filter(col("rk") <=
        col("nsh") - expr(s"($tauPpm * nsh + 999999) div 1000000") + 1)
    val alpha = s"($tauPpm * (a.nsh + b.nsh) + ${tauPpm + 999999L}) " +
      s"div ${tauPpm + 1000000L}"
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id") &&
          expr(s"a.nsh * 1000000 >= b.nsh * $tauPpm") &&
          expr(s"b.nsh * 1000000 >= a.nsh * $tauPpm") &&
          expr(s"least(a.nsh - a.rk, b.nsh - b.rk) + 1 >= $alpha"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.nsh").as("nsh1"), col("b.nsh").as("nsh2"))
      .distinct()
    val out = cand
      .join(setsInt.select(col("doc_id").as("d1"), col("tids").as("t1")),
        Seq("d1"))
      .join(setsInt.select(col("doc_id").as("d2"), col("tids").as("t2")),
        Seq("d2"))
      // native fused merge-count over the store's sorted distinct
      // integer-id arrays (see graft.functions.SortedIntersectCount):
      // same exact count as size(array_intersect), no per-pair hash
      // set or materialized intersection array
      .withColumn("c", expr("graft_ixcount(t1, t2)"))
      .select(col("d1"), col("d2"), col("c"),
        expr("c * 1000000 div (nsh1 + nsh2 - c)").as("jac_ppm"))
      .filter(col("jac_ppm") >= tauPpm)
      .orderBy("d1", "d2")
    (out, Nil)
  }

  // The verified ≥ 0.5 near-dup pair set over the full corpus is read
  // by five queries (ngram_jaccard, lsh_eval, lsh_sweep, cluster,
  // keep_list) and each paid the posting-list pair kernel again. The
  // result is Zipf-small (hundreds of rows at test scale, bounded by
  // real duplication at any scale).
  private def jaccardPairsHalfCached(
      s: SparkSession, d: String): DataFrame = {
    val pc = pairCountsCached(s, d)
    graft.StoreBuilds.persisted(s, d, "dedup_near_pairs")(pc
      .withColumn("jaccard",
        col("c").cast("double") / (col("nsh1") + col("nsh2") - col("c")))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard")))
  }

  /** DuckDB mirror of the stop-shingle removal: the capped shingle
    * stream `shc` feeds ns/common in the capped-Jaccard oracles. */
  private val cappedShinglesCte = s"""
    hot AS (SELECT s FROM shingles GROUP BY s
            HAVING count(*) > $MaxShingleDf),
    shc AS (SELECT doc_id, s FROM shingles
            WHERE s NOT IN (SELECT s FROM hot))"""

  /** Min-label connected components over undirected (d1, d2) pairs:
    * pointer-jumped label propagation, shared by the near-dup cluster
    * query and the consensus keep-list. Returns (doc_id, canonical_id)
    * for every node appearing in a pair; canonical_id = component min.
    * The returned RDD is persisted: the caller releases it after its
    * terminal action.
    *
    * Runs the fixpoint on the RDD API — the one iterative loop in the
    * engine where DataFrames are the WRONG tool: every label
    * generation is a NEW logical plan, so the DataFrame loop paid
    * whole-stage-codegen compilation per round regardless of data size
    * (measured ~2 s of a ~6 s cluster query on a 512-edge graph),
    * while RDD closures compile once and the hash partitioning set on
    * the edge list is REUSED by every round's join — one shuffle of
    * the label table per round, zero recompilation. This is exactly
    * the shape GraphX runs on; at a billion-edge scale the same loop
    * holds with a larger partitioner.
    *
    * Convergence is O(log diameter) via pointer jumping
    * (canonical := canonical(canonical) each round), probed by the
    * strictly-decreasing Σ canonical_id (min-label only ever lowers a
    * label; BigInt — no overflow at any corpus size). */
  private[operators] def minLabelComponents(rawPairs: DataFrame)
      : org.apache.spark.rdd.RDD[(Long, Long)] = {
    val s = rawPairs.sparkSession
    import s.implicits._
    val nParts = 8 // label tables are O(near-dup docs) — tiny vs corpus
    val part = new org.apache.spark.HashPartitioner(nParts)
    val edges = rawPairs
      .select(col("d1").cast("long"), col("d2").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist()
    // Seed each node with min(SELF, neighbors) — the first propagation
    // round fused into initialization (min-of-neighbors alone costs one
    // extra confirmation round: the component-min node only learns its
    // own id back from a neighbor). mapPartitions with
    // preservesPartitioning: keys are untouched, so the reduce is
    // shuffle-free on `part` and labels are co-partitioned with edges
    // from the start.
    var labels = edges
      .mapPartitions(
        _.map { case (u, v) => (u, math.min(u, v)) },
        preservesPartitioning = true)
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      .persist()
    def labelSum(r: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      r.map(kv => BigInt(kv._2)).fold(BigInt(0))(_ + _)
    var prevSum = labelSum(labels)
    if (sys.env.contains("GRAFT_CC_TRACE"))
      println(f"[cc] init done at ${System.nanoTime() / 1e9}%.2f")
    var changed = true
    while (changed) {
      // one-hop min-label propagation: edges ⋈ labels is a one-side
      // shuffle-free join (both sides carry `part`), then the min
      // fold shuffles only the |labels|-sized candidate stream
      val prop = edges.join(labels)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .union(labels)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .persist()
      val propSum = labelSum(prop)
      if (propSum == prevSum) {
        // fixpoint: skip the pointer-jump join entirely (the common
        // case — near-dup families have tiny diameters, so init
        // usually converges and one confirmation round lands here)
        changed = false
        labels.unpersist()
        labels = prop
      } else {
        // POINTER JUMPING: canonical := canonical(canonical). Without
        // it the loop runs once per component DIAMETER — a 1000-link
        // near-dup chain costs 1000 shuffle rounds at 100 TB; with it,
        // O(log diameter). The lookup join always matches (labels
        // cover every graph node) and only ever lowers a label, so
        // the fixpoint (component min) is unchanged.
        val next = prop
          .map { case (n, l) => (l, n) }
          .join(prop)
          .map { case (_, (n, l2)) => (n, l2) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
          .persist()
        prevSum = labelSum(next)
        prop.unpersist()
        labels.unpersist()
        labels = next
      }
      if (sys.env.contains("GRAFT_CC_TRACE"))
        println(f"[cc] round done at ${System.nanoTime() / 1e9}%.2f")
    }
    edges.unpersist()
    labels
  }

  /** (doc_id, distinct word-3-shingle set) — stateless map-side prep
    * shared by the batch LSH query and the streaming near-dup variant
    * (works on both static and streaming DataFrames). */
  private[graft] def shingleSets(df: DataFrame): DataFrame =
    df.withColumn("ws", split(col("text"), " "))
      .withColumn(
        "sh",
        when(size(col("ws")) >= 3,
          expr("transform(sequence(0, size(ws)-3), " +
            "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .select(col("doc_id"), array_distinct(col("sh")).as("dsh"))

  /** MinHash band rows (doc_id, band, key): one md5 per shingle, then 16
    * affine permutations of the base hash (the classic a·h+b mod p
    * family): minhash_i = min((2i+3)·h + 12289i + 1 mod 2^31−1), banded
    * 4×4. Computed in a typed kernel: higher-order-function expressions
    * are interpreted per-row, a JIT'd loop over the shingle set is ~10×
    * faster and stays map-side either way. */
  private[graft] def minhashBandRows(
      docs: org.apache.spark.sql.Dataset[(Long, Seq[String])])
      : org.apache.spark.sql.Dataset[(Long, Int, String)] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, dsh) =>
        if (dsh.isEmpty) Iterator.empty
        else {
          val mins = Array.fill(16)(Long.MaxValue)
          dsh.foreach { sh =>
            val dg = md.digest(sh.getBytes("UTF-8"))
            val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
              ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
            var i = 0
            while (i < 16) {
              val v = ((2L * i + 3L) * h + 12289L * i + 1L) % 2147483647L
              if (v < mins(i)) mins(i) = v
              i += 1
            }
          }
          (0 until 4).iterator.map { b =>
            (id, b,
              s"${mins(4 * b)},${mins(4 * b + 1)},${mins(4 * b + 2)},${mins(4 * b + 3)}")
          }
        }
      }
    }
  }

  /** Band rows for SEVERAL (bands × rows) configurations from ONE pass
    * over the shingle sets: the 16 affine minhashes are computed once
    * per doc (identical family to [[minhashBandRows]]) and regrouped
    * per config — config (b, r) with b·r = 16 EXACTLY (the full
    * signature is consumed; the sweep oracle regroups all 16 seeds via
    * seed div r, so a b·r < 16 config would band extra seeds on the
    * oracle side) bands mins[r·j .. r·j+r−1] into band j. Emits
    * (doc_id, cfg, band, key); one corpus scan serves every
    * configuration in the sweep. */
  private[operators] def minhashBandRowsSweep(
      docs: org.apache.spark.sql.Dataset[(Long, Seq[String])],
      cfgs: Seq[(Int, Int)])
      : org.apache.spark.sql.Dataset[(Long, String, Int, String)] = {
    import docs.sparkSession.implicits._
    // fail fast on the driver at plan construction, not per document
    // inside the executor-side kernel
    cfgs.foreach { case (b, r) =>
      require(b * r == 16, s"sweep config ${b}x$r must use the " +
        "full 16-seed signature (b*r = 16)")
    }
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, dsh) =>
        if (dsh.isEmpty) Iterator.empty
        else {
          val mins = Array.fill(16)(Long.MaxValue)
          dsh.foreach { sh =>
            val dg = md.digest(sh.getBytes("UTF-8"))
            val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
              ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
            var i = 0
            while (i < 16) {
              val v = ((2L * i + 3L) * h + 12289L * i + 1L) % 2147483647L
              if (v < mins(i)) mins(i) = v
              i += 1
            }
          }
          cfgs.iterator.flatMap { case (b, r) =>
            (0 until b).iterator.map { j =>
              (id, s"${b}x$r", j,
                (0 until r).map(k => mins(r * j + k)).mkString(","))
            }
          }
        }
      }
    }
  }

  /** Band-bucket clique ceiling. A bucket BELOW this emits its full
    * pair clique; an oversized bucket — a mega-cluster of
    * near-identical docs (boilerplate pages, templated spam) — is the
    * band analog of the hot shingle, EXCEPT that a shared band
    * signature is signal, not noise, so dropping it would lose real
    * duplicates. See [[bandPairs]] for the degradation. */
  private[operators] val MaxBandBucket = 1000

  /** Candidate pairs (d1 < d2) from the band inverted index. Buckets at
    * or below `maxBucket` emit the full clique; an oversized bucket
    * degrades to STAR edges (every member → the bucket's min doc id):
    * emission drops from O(k²) to O(k) per bucket while every member
    * stays connected — downstream Jaccard verification and
    * connected-components clustering see the same clusters. Never
    * triggers below corpus sizes of `maxBucket` near-identical docs;
    * the hot-bucket stress spec exercises it synthetically. */
  private[operators] def bandPairs(
      bands: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame = {
    import bands.sparkSession.implicits._
    bands.select(col("doc_id").cast("long"), col("band").cast("int"),
        col("key"))
      .as[(Long, Int, String)]
      .groupByKey { case (_, b, k) => (b, k) }
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._1).toArray
        java.util.Arrays.sort(ids)
        if (ids.length > maxBucket) {
          val rep = ids(0)
          ids.iterator.drop(1).map(i => (rep, i))
        } else
          for { i <- ids.indices.iterator; j <- (i + 1) until ids.length }
            yield (ids(i), ids(j))
      }
      .toDF("d1", "d2")
      .distinct()
  }

  /** Snakemake-parity resumable band-index store — the dedup analog of
    * the ms chain's tensor/model/count stores: band rows persist as
    * parquet at `storePath`; a resumed run anti-joins the doc set
    * against the store's doc_ids, bands ONLY the missing documents, and
    * appends. At 100 TB this is how the signature index actually lives —
    * materialized once per ingestion batch, never recomputed for the
    * docs already indexed; each day's work is O(batch). Returns the full
    * store. */
  private[graft] def bandIndexResumable(
      s: SparkSession, docs: DataFrame, storePath: String): DataFrame = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fresh =
      if (!fs.exists(p)) docs
      else {
        val done = s.read.parquet(storePath).select("doc_id").distinct()
        docs.join(done, Seq("doc_id"), "left_anti")
      }
    // WITHIN-batch dedup too: a re-delivered file landing next to the
    // original before the trigger fires puts the same doc in one batch
    // twice; the store anti-join can't see that, and a double-banded doc
    // would corrupt the profile permanently
    val todo = fresh.dropDuplicates("doc_id")
    minhashBandRows(shingleSets(todo).as[(Long, Seq[String])])
      .toDF("doc_id", "band", "key")
      .write.mode("append").parquet(storePath)
    s.read.parquet(storePath)
  }

  /** The per-band index profile (rows, distinct keys, largest bucket)
    * over band rows — ONE implementation consumed by both the batch
    * store query and the streaming upsert, so the "batch and streaming
    * converge on one artifact" claim stays enforced by construction. */
  private[graft] def bandIndexProfile(store: DataFrame): DataFrame =
    store.groupBy("band", "key").agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("c")).as("max_bucket"))
      .orderBy("band")

  /** DuckDB mirror of [[bandIndexProfile]] (composes after `bands` from
    * [[minhashBandsCte]]) — shared by the same two oracles. */
  private[graft] val bandIndexProfileSql = """
        b2 AS (SELECT band, key, count(*) AS c FROM bands GROUP BY 1, 2)
        SELECT CAST(band AS INT) AS band,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(c) AS BIGINT) AS max_bucket
        FROM b2 GROUP BY band ORDER BY band"""

  // Registry wiring for the store: one fresh temp store per (session,
  // dataset) so the query is deterministic and re-runnable; the RESUME
  // semantics (second run appends only missing docs) are proven by
  // DedupResumeSpec against explicit partial stores, the same split as
  // the ms chain (in-memory caches in the registry, disk stores in the
  // resumable API + specs).
  private def bandStorePath(s: SparkSession, d: String): String =
    graft.StoreBuilds.scratchDir(s, d, "graft-band-index") + "/store"

  /** DuckDB mirror of [[minhashBandRows]] (expects `shingles` in scope —
    * compose with [[docShinglesCte]]). */
  private[graft] val minhashBandsCte = """
    mh AS (SELECT doc_id, seed,
                  min(((2*seed+3) * ('0x'||substr(md5(s),1,8))::BIGINT
                       + 12289*seed + 1) % 2147483647) AS h
           FROM shingles, generate_series(0,15) t(seed)
           GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed//4 AS band,
                     string_agg(h::VARCHAR, ',' ORDER BY seed) AS key
              FROM mh GROUP BY doc_id, seed//4)"""

  /** [[shinglesCte]] exposed for cross-pack oracle composition. */
  private[graft] def docShinglesCte: String = shinglesCte

  /** Exact Jaccard over the shingle sets of candidate pairs (d1, d2).
    * The candidate set is small by construction (LSH output) — broadcast
    * it so the shingle stream is filtered map-side, never shuffled. */
  private def jaccardVerify(sh: DataFrame, cand: DataFrame): DataFrame = {
    val ns = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    // shingles of candidate right-side docs only (map-side semi filter)
    val shB = sh.join(
      broadcast(cand.select(col("d2").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    broadcast(cand)
      .join(sh.as("a"), col("a.doc_id") === col("d1"))
      .join(shB.as("b"), col("b.doc_id") === col("d2") && col("b.s") === col("a.s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      .join(broadcast(ns).as("na"), col("na.doc_id") === col("d1"))
      .join(broadcast(ns).as("nb"), col("nb.doc_id") === col("d2"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na.nsh") + col("nb.nsh") - col("c")))
  }

  val queries: Map[String, GraftQuery] = Map(

    // ---------------------------------------------------------------- exact
    "q_dedup_exact" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id"),
      oracle = Some("""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ------------------------------------------- benchmark decontamination
    // The eval-leakage guard every training pipeline runs: flag corpus
    // documents sharing ≥ 3 shingles with any "benchmark" document
    // (here: source = 'src0' stands in for the held-out eval set).
    // Shape: inverted index on the (small) benchmark side, broadcast
    // semi-style join against the corpus shingle stream — the corpus
    // never shuffles; overlap counting aggregates (doc, bench) pairs
    // that share at least one indexed shingle.
    "q_dedup_contamination" -> GraftQuery(
      run = (s, d) => {
        val sh = shinglesCached(s, d)
        val benchIds = Tables.documents(s, d)
          .filter(col("source") === "src0")
          .select(col("doc_id").as("bench_id"))
        // ONLY the (small) benchmark id list is ever broadcast: semi for
        // the benchmark shingles, anti for the corpus stream — the
        // unbounded corpus side never ships anywhere
        val bench = sh.join(broadcast(benchIds),
            col("doc_id") === col("bench_id"))
          .select(col("bench_id"), col("s"))
        val corpus = sh.join(broadcast(benchIds),
            col("doc_id") === col("bench_id"), "left_anti")
          .select(col("doc_id").as("cand_id"), col("s"))
        corpus.join(bench, "s")
          .groupBy("cand_id", "bench_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .groupBy(col("cand_id").as("doc_id"))
          .agg(count(lit(1)).as("n_bench_hits"),
            max(col("n_shared")).as("max_shared"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        src AS (SELECT doc_id, source FROM documents),
        bench AS (SELECT sh.doc_id AS bench_id, sh.s
                  FROM shingles sh JOIN src ON src.doc_id = sh.doc_id
                  WHERE src.source = 'src0'),
        corpus AS (SELECT sh.doc_id AS cand_id, sh.s
                   FROM shingles sh JOIN src ON src.doc_id = sh.doc_id
                   WHERE src.source <> 'src0'),
        pairs AS (SELECT cand_id, bench_id, count(*) AS n_shared
                  FROM corpus JOIN bench ON bench.s = corpus.s
                  GROUP BY 1, 2)
        SELECT cand_id AS doc_id, count(*) AS n_bench_hits,
               max(n_shared) AS max_shared
        FROM pairs WHERE n_shared >= 3
        GROUP BY cand_id ORDER BY doc_id""")),

    // ------------------------------------- deterministic corpus splitting
    // Train/val/test assignment by content-independent hash of the key:
    // stable across runs and machines, no RNG state to ship. Split
    // boundaries use integer bucket compares (md5-derived bucket in
    // 0..99: <80 train, <90 val, else test).
    "q_dedup_hash_split" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("bucket",
            expr(s"${md5h("CAST(doc_id AS STRING)")} % 100"))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val").otherwise("test"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "split"),
      oracle = Some("""
        SELECT source,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM (SELECT source,
                     ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 100 AS b
              FROM documents)
        GROUP BY 1, 2 ORDER BY source, split""")),

    // ----------------------------------- split leakage audit (near-dup)
    // The eval-integrity check behind every train/test split: a test
    // document with a NEAR-DUPLICATE in train is contamination the
    // exact-hash split cannot see (hash splitting is content-blind by
    // design — near-dups land on opposite sides at the base near-dup
    // rate). Pairs = the verified capped-Jaccard ≥ 0.5 set (the same
    // session store q_dedup_cluster and the keep-list consume — zero
    // extra pair computation); each side is tagged with its
    // q_dedup_hash_split assignment and pair counts group by unordered
    // split combination. The (test, train) row IS the leakage number
    // that inflates evals. One broadcast-sized join onto the bounded
    // pair set — nothing here rescans the corpus.
    "q_dedup_split_leakage" -> GraftQuery(
      run = (s, d) => {
        val pairs = jaccardPairsHalfCached(s, d).select("d1", "d2")
        val bucket = s"${md5h("CAST(doc_id AS STRING)")} % 100"
        val splits = Tables.documents(s, d).select(col("doc_id"),
          when(expr(bucket) < 80, "train")
            .when(expr(bucket) < 90, "val")
            .otherwise("test").as("split"))
        pairs
          .join(splits.select(col("doc_id").as("d1"),
            col("split").as("s1")), "d1")
          .join(splits.select(col("doc_id").as("d2"),
            col("split").as("s2")), "d2")
          .groupBy(least(col("s1"), col("s2")).as("split_a"),
            greatest(col("s1"), col("s2")).as("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("split_a", "split_b")
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT d1, d2 FROM common
          JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
          WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5),
        splits AS (
          SELECT doc_id,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id,
                       ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT
                         % 100 AS b
                FROM documents))
        SELECT least(sa.split, sb.split) AS split_a,
               greatest(sa.split, sb.split) AS split_b,
               count(*) AS n_pairs
        FROM truth JOIN splits sa ON sa.doc_id = d1
                   JOIN splits sb ON sb.doc_id = d2
        GROUP BY 1, 2 ORDER BY split_a, split_b""")),

    // --------------------------------------------- paragraph-level dedup
    // The CCNet/RefinedWeb boilerplate pass: split each document into
    // sentences, hash them, and flag sentences that appear in more than
    // one document. Per-doc output = boilerplate fraction. The shuffle
    // key is the sentence HASH (32 hex chars), never the sentence text —
    // at 100 TB the exchange carries fixed-width digests, and the df
    // count is a plain aggregate (partial map-side combine).
    "q_dedup_paragraph" -> GraftQuery(
      run = (s, d) => {
        val sent = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("s0"))
          .withColumn("s", trim(col("s0")))
          .filter(col("s") =!= "")
          .select(col("doc_id"), md5(col("s")).as("h"))
        val df_ = sent.distinct()
          .groupBy("h").agg(count(lit(1)).as("docs_with"))
        sent.join(df_, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sentences"),
            count(when(col("docs_with") >= 2, 1)).as("n_boilerplate"))
          .withColumn("boilerplate_frac",
            round(col("n_boilerplate").cast("double") / col("n_sentences"), 4))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH sent AS (
          SELECT doc_id, md5(trim(s)) AS h
          FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s
                FROM documents)
          WHERE trim(s) <> ''),
        df AS (SELECT h, count(*) AS docs_with
               FROM (SELECT DISTINCT doc_id, h FROM sent) GROUP BY h)
        SELECT doc_id, count(*) AS n_sentences,
               count(CASE WHEN docs_with >= 2 THEN 1 END) AS n_boilerplate,
               round(CAST(count(CASE WHEN docs_with >= 2 THEN 1 END) AS DOUBLE)
                     / count(*), 4) AS boilerplate_frac
        FROM sent JOIN df ON df.h = sent.h
        GROUP BY doc_id ORDER BY doc_id""")),

    // ------------------------------------- duplicated-span measurement
    // Corpus-level substring dedup (the Lee et al. 2022 "Deduplicating
    // Training Data" family, word-granular): every 8-word shingle is
    // hashed map-side (`sequence` + `slice` + md5, no shuffle), then one
    // count keyed by digest finds shingles occurring more than once in
    // the corpus; per-doc output is the duplicated-span fraction — the
    // removal signal. Scale shape: the exchange carries 32-hex digests
    // with map-side partial counts, the duplicated subset (tot > 1) is
    // Zipf-small relative to the corpus, and the stats join keys on the
    // digest — never all-pairs, never text.
    "q_dedup_spans" -> GraftQuery(
      run = (s, d) => {
        val sh = Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .filter(size(col("ws")) >= 8)
          .select(col("doc_id"),
            explode(expr("transform(sequence(1, size(ws) - 7), " +
              "i -> md5(array_join(slice(ws, i, 8), ' ')))")).as("h"))
        val dup = sh.groupBy("h")
          .agg(count(lit(1)).as("tot"),
            countDistinct(col("doc_id")).as("nd"))
          .filter(col("tot") > 1)
        sh.join(dup, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("tot").isNotNull, 1).otherwise(0)).as("n_dup"),
            sum(when(col("nd") > 1, 1).otherwise(0)).as("n_xdoc"))
          .withColumn("dup_frac",
            round(col("n_dup").cast("double") / col("n_shingles"), 4))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        s AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i,
                     unnest(ws) AS w
              FROM t),
        g AS (SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS h
              FROM s WHERE i + 7 <= len(ws)),
        c AS (SELECT h, count(*) AS tot, count(DISTINCT doc_id) AS nd
              FROM g GROUP BY h HAVING count(*) > 1)
        SELECT g.doc_id AS doc_id, count(*) AS n_shingles,
               CAST(sum(CASE WHEN c.tot IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup,
               CAST(sum(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_xdoc,
               round(CAST(sum(CASE WHEN c.tot IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 4) AS dup_frac
        FROM g LEFT JOIN c ON c.h = g.h
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // ------------------------------------- duplicated-span REMOVAL plan
    // The second half of exact substring dedup (Lee et al. 2022): where
    // q_dedup_spans MEASURES the duplicated fraction, this emits the
    // actual removal plan — corpus-duplicated 8-word shingle positions
    // merged into maximal word intervals (gaps-and-islands over the
    // covered ranges), with the per-document span count, words removed,
    // and retained fraction. Scale shape: the only corpus-wide exchange
    // carries (digest, partial count); the island merge is a window over
    // each document's OWN duplicated positions (partitioned by doc_id,
    // Zipf-small), never cross-document. All integers until the final
    // ratio, which both engines compute with the same IEEE op sequence.
    // Deliberately KEEPS the per-position md5 screen (measured, r10):
    // the graft_roll64 two-phase form (rolled screen + md5 confirm,
    // q_dedup_exact_substr's shape) was tried here and is 3× SLOWER at
    // this granularity — 0.25 s → 0.80 s steady at sf0.1 — because at
    // L=8 the Θ(L) digest is already cheap and the confirm leg's extra
    // join + second digest exchange dominate. The crossover is L:
    // rolling pays at exact_substr's L=50 (3.4 s → 1.8 s), not at 8.
    "q_dedup_span_removal" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .select(col("doc_id"), col("ws"),
            size(col("ws")).cast("long").as("n_words"))
        val sh = t.filter(col("n_words") >= 8)
          .select(col("doc_id"),
            explode(expr("transform(sequence(1, size(ws) - 7), i -> " +
              "struct(i AS i, md5(array_join(slice(ws, i, 8), ' ')) AS h))"))
              .as("x"))
          .select(col("doc_id"), col("x.i").as("st"),
            (col("x.i") + 7).as("en"), col("x.h").as("h"))
        val dup = sh.groupBy("h").agg(count(lit(1)).as("tot"))
          .filter(col("tot") > 1)
        val w = Window.partitionBy("doc_id").orderBy("st")
        val spans = sh.join(dup, "h")
          .select(col("doc_id"), col("st"), col("en"))
          .withColumn("pmax", max(col("en"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("pmax").isNull || col("st") > col("pmax") + 1, 1)
              .otherwise(0))
          .withColumn("isl",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "isl")
          .agg(min(col("st")).as("s0"), max(col("en")).as("e0"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e0") - col("s0") + 1).as("words_removed"))
        t.select("doc_id", "n_words").join(spans, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_words"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("words_removed"), lit(0L)).as("words_removed"),
            (col("n_words") - coalesce(col("words_removed"), lit(0L)))
              .as("words_kept"),
            // same floor-half-up form as q_dedup_semantic: identical
            // IEEE ops on exact-integer operands in both engines
            when(col("n_words") === 0, lit(1.0d)).otherwise(
              expr("floor((n_words - coalesce(words_removed, 0L)) * 1e4" +
                " / n_words + 5e-1) / 1e4")).as("kept_frac"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM t),
        g AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+7], ' ')) AS h
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
                    FROM t WHERE len(ws) >= 8)),
        c AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
        pos AS (SELECT g.doc_id, g.i AS st, g.i + 7 AS en
                FROM g JOIN c ON c.h = g.h),
        m AS (SELECT doc_id, st, en,
                     max(en) OVER (PARTITION BY doc_id ORDER BY st
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS pmax
              FROM pos),
        isl AS (SELECT doc_id, st, en,
                       sum(CASE WHEN pmax IS NULL OR st > pmax + 1
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY st
                               ROWS UNBOUNDED PRECEDING) AS g_id
                FROM m),
        sp AS (SELECT doc_id, g_id, min(st) AS s0, max(en) AS e0
               FROM isl GROUP BY 1, 2),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                       CAST(sum(e0 - s0 + 1) AS BIGINT) AS words_removed
                FROM sp GROUP BY 1)
        SELECT n.doc_id AS doc_id, n.n_words AS n_words,
               coalesce(agg.n_spans, 0) AS n_spans,
               coalesce(agg.words_removed, 0) AS words_removed,
               n.n_words - coalesce(agg.words_removed, 0) AS words_kept,
               CASE WHEN n.n_words = 0 THEN 1.0 ELSE
                 floor((n.n_words - coalesce(agg.words_removed, 0)) * 1e4
                       / n.n_words + 5e-1) / 1e4 END AS kept_frac
        FROM n LEFT JOIN agg ON agg.doc_id = n.doc_id
        ORDER BY n.doc_id""")),

    // --------------------------- ExactSubstr dedup (suffix granularity)
    // The Lee et al. 2022 curation primitive: every maximal token span
    // of length ≥ ExactSubstrMinTokens that appears verbatim at least
    // twice in the corpus (any second occurrence — cross-doc or
    // within-doc), emitted span-by-span with a content fingerprint.
    // The literature computes this over a suffix array of the
    // concatenated corpus — inherently sequential/RAM-bound. The
    // distributed form here needs no suffix structure because
    // position-marking is EXACT at threshold L, not an approximation:
    //   a repeat of length M ≥ L contains a duplicated L-gram at every
    //   one of its M−L+1 offsets, and a duplicated L-gram IS a repeat
    //   of length L — so the union of [p, p+L) over duplicated-L-gram
    //   positions p equals the union of all ≥L-token repeat spans.
    // That turns ExactSubstr into the engine's standard bounded shape:
    // corpus-linear gram stream (map-side, zero shuffle to build), ONE
    // exchange on the gram hash for the tot>1 screen (partial
    // aggregate — no posting lists, no pair materialization, so a
    // boilerplate gram shared by a million docs costs one count, never
    // Σdf² pairs), one hash-keyed join back, and a gaps-and-islands
    // window over each doc's OWN duplicated positions (Zipf-small,
    // never cross-document).
    //
    // SCREEN (r10, the r9 "honest debt" paid): the gram hash is the
    // native Karp-Rabin rolling hash `graft_roll64` — Θ(1) per
    // position and an 8-byte exchange key, replacing the Θ(L) md5
    // that re-serialized the full 50-token window at every position
    // (3.4 s → see bench; ~50× fewer hashed bytes map-side, 4×
    // narrower screen exchange). The rolled screen is a SUPERSET of
    // the true duplicated-gram set (equal windows always hash equal;
    // unequal collide at ~2^-64), so the Zipf-small survivors are
    // RE-SCREENED with md5 — the oracle's own digest — which restores
    // bit-exact DuckDB agreement: for any truly duplicated gram, all
    // of its occurrences survive the rolling screen, so the md5
    // re-count over candidates equals the corpus-wide count; false
    // candidates md5-count to 1 and drop. Θ(L) md5 is paid only on
    // candidate positions (the duplicated tail), never the corpus.
    // The gram stream is computed TWICE (once under the tot>1
    // aggregate, once as the join probe — the plan shows two scans)
    // BY DESIGN: at corpus scale the alternatives are worse —
    // persisting a corpus-sized gram intermediate is the
    // cache-what-you-can-recompute anti-pattern, and the recompute is
    // pure map-side work while the shuffle (the scarce resource)
    // still carries each gram row exactly once. Distinct from q_dedup_span_removal, which
    // runs the same island kernel at 8-gram granularity for per-doc
    // removal STATS: this is the ≥L-token span inventory itself —
    // span bounds, length, and removed-text md5 (equal spans across
    // docs carry equal fingerprints, the clustering handle).
    "q_dedup_exact_substr" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        graft.functions.GraftFunctions.register(s) // graft_roll64 below
        val L = ExactSubstrMinTokens
        val t = Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .filter(size(col("ws")) >= L)
          .select(col("doc_id"), col("ws"))
        val sh = t.select(col("doc_id"),
            posexplode(expr(s"graft_roll64(ws, $L)")).as(Seq("p", "h64")))
          .select(col("doc_id"), (col("p") + 1).as("st"),
            (col("p") + L).as("en"), col("h64"))
        val dup64 = sh.groupBy("h64").agg(count(lit(1)).as("tot"))
          .filter(col("tot") > 1)
        // md5 confirm over the rolled screen's survivors only — joined
        // back to ws so the window text exists just for candidates
        val cand = sh.join(dup64.select("h64"), "h64")
          .join(t, Seq("doc_id"))
          .select(col("doc_id"), col("st"), col("en"),
            expr(s"md5(array_join(slice(ws, st, $L), ' '))").as("h"))
        val dup = cand.groupBy("h").agg(count(lit(1)).as("tot"))
          .filter(col("tot") > 1)
        val w = Window.partitionBy("doc_id").orderBy("st")
        val spans = cand.join(dup.select("h"), "h")
          .select(col("doc_id"), col("st"), col("en"))
          .withColumn("pmax", max(col("en"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("pmax").isNull || col("st") > col("pmax") + 1, 1)
              .otherwise(0))
          .withColumn("isl",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("isl"))
          .agg(min(col("st")).as("sp_s"), max(col("en")).as("sp_e"))
        spans.join(t, Seq("doc_id"))
          .select(col("doc_id"),
            col("sp_s").cast("long").as("span_start"),
            col("sp_e").cast("long").as("span_end"),
            (col("sp_e") - col("sp_s") + 1).cast("long").as("n_tokens"),
            expr("md5(array_join(slice(ws, sp_s, sp_e - sp_s + 1), ' '))")
              .as("span_md5"))
          .orderBy("doc_id", "span_start")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        tt AS (SELECT doc_id, ws FROM t
               WHERE len(ws) >= $ExactSubstrMinTokens),
        g AS (SELECT doc_id, i AS st,
                     i + ${ExactSubstrMinTokens - 1} AS en,
                     md5(array_to_string(
                       ws[i:i+${ExactSubstrMinTokens - 1}], ' ')) AS h
              FROM (SELECT doc_id, ws,
                           unnest(range(1,
                             len(ws) - ${ExactSubstrMinTokens - 2})) AS i
                    FROM tt)),
        c AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
        pos AS (SELECT g.doc_id, g.st, g.en FROM g JOIN c ON c.h = g.h),
        m AS (SELECT doc_id, st, en,
                     max(en) OVER (PARTITION BY doc_id ORDER BY st
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS pmax
              FROM pos),
        isl AS (SELECT doc_id, st, en,
                       sum(CASE WHEN pmax IS NULL OR st > pmax + 1
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY st
                               ROWS UNBOUNDED PRECEDING) AS gid
                FROM m),
        sp AS (SELECT doc_id, gid, min(st) AS sp_s, max(en) AS sp_e
               FROM isl GROUP BY 1, 2)
        SELECT sp.doc_id AS doc_id,
               CAST(sp_s AS BIGINT) AS span_start,
               CAST(sp_e AS BIGINT) AS span_end,
               CAST(sp_e - sp_s + 1 AS BIGINT) AS n_tokens,
               md5(array_to_string(tt.ws[sp_s:sp_e], ' ')) AS span_md5
        FROM sp JOIN tt ON tt.doc_id = sp.doc_id
        ORDER BY doc_id, span_start""")),

    // ------------------------------------------------- exact n-gram Jaccard
    // Inverted-index pair generation over the stop-shingle-removed
    // stream: group by shingle, emit co-occurring doc pairs from each
    // (df-capped) posting list, count shared shingles per pair — one
    // pass, no quadratic blow-up on hot shingles.
    "q_dedup_ngram_jaccard" -> GraftQuery(
      run = (s, d) =>
        jaccardPairsHalfCached(s, d)
          .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("d1", "d2"),
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2,
               round(CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c), 6) AS jaccard
        FROM common JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
        WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5
        ORDER BY d1, d2""")),

    // ----------------------- prefix-filtered set-similarity join (SSJoin)
    // The EXACT-guarantee counterpart to MinHash: ALL pairs with
    // Jaccard ≥ τ (τ = 0.5 — the pack's near-dup threshold, so this
    // and q_dedup_ngram_jaccard must find the SAME pairs through two
    // unrelated kernels) over the df-capped shingle space, found
    // without scanning full posting lists. Tokens get a global rarity
    // order (df asc, shingle asc); each doc keeps only its PREFIX —
    // the first n − ⌈τ·n⌉ + 1 tokens — and candidates are pairs
    // sharing a prefix token: the classical SSJoin prefix bound (two
    // sets with Jaccard ≥ τ must collide inside their prefixes under
    // any common total order), so there are NO false negatives — the
    // oracle runs the exhaustive join and must agree exactly, and
    // PrefixJoinSpec proves completeness on adversarial corpora.
    // Exact-Jaccard verification touches candidates only. Scale
    // shape: the prefix is the RARE end of the df order, so candidate
    // posting lists are short by construction (stop-shingle cap as
    // the hard ceiling); the rank window partitions per doc (bounded
    // by doc length); all scores are exact integer ppm. τ matters at
    // scale: measured at a 10× replica, τ = 0.3 prefixes (0.7·n, weak
    // size/positional bounds) grew candidate volume super-linearly
    // through corpus-shared mid-frequency shingles — loose-τ exact
    // SSJoin is inherently Σdf²; at 0.5 the three filters hold the
    // candidate set near the true pair set.
    "q_dedup_ppjoin" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = ppjoinPlan(s, d)
        // output pairs are Zipf-small (bounded by real duplication at
        // any scale) — materialize and release, like the graph pack
        graft.sparkutil.ScalableRank.materializeAndRelease(s, out, caches)
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, CAST(c AS BIGINT) AS c,
               CAST(c * 1000000 // (na.nsh + nb.nsh - c) AS BIGINT)
                 AS jac_ppm
        FROM common JOIN ns na ON na.doc_id = d1
             JOIN ns nb ON nb.doc_id = d2
        WHERE c * 1000000 // (na.nsh + nb.nsh - c) >= 500000
        ORDER BY d1, d2""")),

    // ----------------------- prefix SSJoin at a production threshold
    // The same kernel at τ = 0.8 — the "near-exact duplicates only"
    // setting a pretraining pipeline actually ships — exercising the
    // τ-parametric bounds (prefix n − ⌈0.8n⌉ + 1, size 0.8·max ≤ min,
    // α = ⌈4(n₁+n₂)/9⌉) against the SAME base-τ session store: no
    // second index build, just a tighter rank filter. Tighter τ means
    // shorter prefixes and harder size/positional cuts, so candidate
    // volume FALLS as the threshold rises — the property that makes
    // exact SSJoin usable at scale exactly where loose-τ is hopeless
    // (the measured Σdf² hazard documented on the base query).
    "q_dedup_ppjoin_t80" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = ppjoinPlan(s, d, tauPpm = 800000L)
        graft.sparkutil.ScalableRank.materializeAndRelease(s, out, caches)
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, CAST(c AS BIGINT) AS c,
               CAST(c * 1000000 // (na.nsh + nb.nsh - c) AS BIGINT)
                 AS jac_ppm
        FROM common JOIN ns na ON na.doc_id = d1
             JOIN ns nb ON nb.doc_id = d2
        WHERE c * 1000000 // (na.nsh + nb.nsh - c) >= 800000
        ORDER BY d1, d2""")),

    // ------------------------------------------- containment dedup
    // One-sided shingle containment c / min(|A|, |B|): the symmetric
    // Jaccard score misses the short-document-inside-long-document
    // case (a quoted article, a boilerplate-wrapped reprint — Jaccard
    // dilutes toward the LONG doc's size, containment of the short doc
    // stays ≈ 1). Same df-capped inverted-index kernel as the Jaccard
    // pass (one pair-count computation feeds both scorers), threshold
    // on the max directional containment.
    "q_dedup_containment" -> GraftQuery(
      run = (s, d) =>
        pairCountsCached(s, d)
          .withColumn("cont1",
            col("c").cast("double") / col("nsh1"))
          .withColumn("cont2",
            col("c").cast("double") / col("nsh2"))
          .filter(greatest(col("cont1"), col("cont2")) >= 0.8)
          .select(col("d1"), col("d2"), col("c").as("shared"),
            col("nsh1"), col("nsh2"),
            round(col("cont1"), 6).as("cont1"),
            round(col("cont2"), 6).as("cont2"),
            when(col("nsh1") <= col("nsh2"), col("d1")).otherwise(col("d2"))
              .as("contained_doc"))
          .orderBy("d1", "d2"),
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, c AS shared, na.nsh AS nsh1, nb.nsh AS nsh2,
               round(CAST(c AS DOUBLE)/na.nsh, 6) AS cont1,
               round(CAST(c AS DOUBLE)/nb.nsh, 6) AS cont2,
               CASE WHEN na.nsh <= nb.nsh THEN d1 ELSE d2 END
                 AS contained_doc
        FROM common JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
        WHERE greatest(CAST(c AS DOUBLE)/na.nsh, CAST(c AS DOUBLE)/nb.nsh)
              >= 0.8
        ORDER BY d1, d2""")),

    // ---------------------------------------------------------- MinHash+LSH
    // Signatures are built per-row with array ops (no shuffle); only the
    // banded candidate join and the verification of the (few) candidates
    // touch the network. 16 hashes, 4 bands × 4 rows.
    "q_dedup_minhash_lsh" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val bands = minhashBandRows(
          shingleSetsCached(s, d))
          .toDF("doc_id", "band", "key")
        val cand = bandPairs(bands)
        jaccardVerify(shinglesCached(s, d), cand)
          .filter(col("jaccard") >= 0.5)
          .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("d1", "d2")
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $minhashBandsCte,
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        $jaccardVerifySql
        SELECT d1, d2,
               round(CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c), 6) AS jaccard
        FROM common JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
        WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5
        ORDER BY d1, d2""")),

    // ------------------------------------- LSH banding quality, measured
    // Precision/recall of the MinHash band CANDIDATE set against the
    // exact df-capped Jaccard ≥ 0.5 ground truth — the dedup analogue
    // of q_sim_recall: banding quality is measured, not assumed. Recall
    // misses are pairs no band caught (the 4×4 banding's S-curve tail);
    // precision misses are band collisions the verification step
    // discards — this query quantifies how much verification work the
    // banding actually saves. Single-row integer ppm output.
    "q_dedup_lsh_eval" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val truth = jaccardPairsHalfCached(s, d)
          .select(col("d1"), col("d2"))
        val bands = minhashBandRows(
            shingleSetsCached(s, d))
          .toDF("doc_id", "band", "key")
        val cand = bandPairs(bands)
        val hits = cand.join(truth, Seq("d1", "d2"))
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          .select(col("n_truth"), col("n_candidates"), col("n_hits"),
            expr("n_hits * 1000000 div n_truth").as("recall_ppm"),
            expr("n_hits * 1000000 div n_candidates").as("precision_ppm"))
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $minhashBandsCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT d1, d2 FROM common
          JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
          WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key
                      AND a.doc_id < b.doc_id),
        sel AS (SELECT (SELECT count(*) FROM truth) AS t,
                       (SELECT count(*) FROM cand) AS c,
                       (SELECT count(*)
                        FROM cand JOIN truth
                          ON truth.d1 = cand.d1 AND truth.d2 = cand.d2)
                         AS h)
        SELECT CAST(t AS BIGINT) AS n_truth,
               CAST(c AS BIGINT) AS n_candidates,
               CAST(h AS BIGINT) AS n_hits,
               CAST(h * 1000000 // t AS BIGINT) AS recall_ppm,
               CAST(h * 1000000 // c AS BIGINT) AS precision_ppm
        FROM sel""")),

    // ------------------------------------------------- incremental ingestion
    // The daily-crawl admission gate: dedup a NEW batch (doc_id % 5 = 4
    // stands in for today's arrivals) against the EXISTING corpus
    // without ever re-processing corpus-vs-corpus pairs — the property
    // that makes ingestion O(batch), not O(corpus), per day. Stage 1:
    // batch digests probe the corpus digest set (exact). Stage 2: the
    // survivors' minhash bands probe the corpus band index — at 100 TB
    // that index is a precomputed bucketed table, so the probe touches
    // only the batch's buckets — and candidates verify by exact
    // Jaccard ≥ 0.5. Batch-internal duplicates are out of scope here
    // by design (q_dedup_exact / q_dedup_minhash_lsh is the intra-batch
    // pass); each batch doc gets a disposition and its matched corpus
    // doc. Only digests, band keys, and candidate shingles shuffle.
    "q_dedup_incremental" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("doc_id") % 5 === 4)
        val corpus = docs.filter(col("doc_id") % 5 =!= 4)
        val cdig = corpus.groupBy(md5(col("text")).as("dig"))
          .agg(min(col("doc_id")).as("exact_id"))
        val ex = batch.select(col("doc_id"), md5(col("text")).as("dig"))
          .join(cdig, Seq("dig"), "left").select("doc_id", "exact_id")
        val survivors = batch.join(
          ex.filter(col("exact_id").isNotNull).select("doc_id"),
          Seq("doc_id"), "left_anti")
        val bBands = minhashBandRows(
          shingleSets(survivors).as[(Long, Seq[String])])
          .toDF("doc_id", "band", "key")
        val cBands = minhashBandRows(
          shingleSets(corpus).as[(Long, Seq[String])])
          .toDF("doc_id", "band", "key")
        val cand = bBands.as("x").join(cBands.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .distinct()
        val near = jaccardVerify(shinglesCached(s, d), cand)
          .filter(col("jaccard") >= 0.5)
          .groupBy("d1").agg(min(col("d2")).as("near_id"))
          .withColumnRenamed("d1", "doc_id")
        batch.select(col("doc_id"))
          .join(ex, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_id").isNotNull, lit("duplicate_exact"))
              .when(col("near_id").isNotNull, lit("duplicate_near"))
              .otherwise(lit("admitted")).as("status"),
            coalesce(col("exact_id"), col("near_id")).as("match_id"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $minhashBandsCte,
        cdig AS (SELECT md5(text) AS dig, min(doc_id) AS exact_id
                 FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1),
        ex AS (SELECT b.doc_id, cdig.exact_id
               FROM documents b LEFT JOIN cdig ON cdig.dig = md5(b.text)
               WHERE b.doc_id % 5 = 4),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key
                 WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
                   AND a.doc_id NOT IN (SELECT doc_id FROM ex
                                        WHERE exact_id IS NOT NULL)),
        $jaccardVerifySql,
        near AS (SELECT d1 AS doc_id, min(d2) AS near_id
                 FROM common
                 JOIN ns na ON na.doc_id = common.d1
                 JOIN ns nb ON nb.doc_id = common.d2
                 WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5
                 GROUP BY d1)
        SELECT ex.doc_id,
               CASE WHEN ex.exact_id IS NOT NULL THEN 'duplicate_exact'
                    WHEN near.near_id IS NOT NULL THEN 'duplicate_near'
                    ELSE 'admitted' END AS status,
               coalesce(ex.exact_id, near.near_id) AS match_id
        FROM ex LEFT JOIN near ON near.doc_id = ex.doc_id
        ORDER BY ex.doc_id""")),

    // -------------------------------------------------------------- SimHash
    // 32-bit count-weighted simhash; candidates share ≥1 of 4 bytes
    // (full recall for hamming ≤ 3); verified with popcount(xor).
    "q_dedup_simhash" -> GraftQuery(
      run = (s, d) => {
        val wc = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
          .withColumn("h", expr(md5h("w")))
        val bitSums = (0 until 32).map(j =>
          sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), col("cnt"))
            .otherwise(-col("cnt"))).as(s"b$j"))
        val sig = wc.groupBy("doc_id")
          .agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"),
            (0 until 32).map(j =>
              when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _).as("sig"))
        val bytes = sig.select(col("doc_id"), col("sig"),
          explode(array((0 until 4).map(k =>
            struct(lit(k).as("k"),
              expr(s"shiftright(sig, ${8 * k}) & 255").as("byte"))): _*)).as("kb"))
          .select(col("doc_id"), col("sig"), col("kb.k").as("k"), col("kb.byte").as("byte"))
        bytes.as("x").join(bytes.as("y"),
            col("x.k") === col("y.k") && col("x.byte") === col("y.byte") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
            expr("bit_count(x.sig ^ y.sig)").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("d1", "d2")
      },
      oracle = Some("""
        WITH wc AS (
          SELECT doc_id, w, count(*) AS cnt FROM (
            SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
          WHERE w <> '' GROUP BY doc_id, w),
        wh AS (SELECT doc_id, cnt,
                      ('0x'||substr(md5(w),1,8))::BIGINT AS h FROM wc),
        bitsum AS (
          SELECT doc_id, j,
                 sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS bs
          FROM wh, generate_series(0,31) t(j) GROUP BY doc_id, j),
        sig AS (
          SELECT doc_id,
                 sum(CASE WHEN bs > 0 THEN (1::BIGINT << j) ELSE 0 END) AS sig
          FROM bitsum GROUP BY doc_id),
        bytes AS (
          SELECT doc_id, sig, k, (sig >> (8*k)) & 255 AS byte
          FROM sig, generate_series(0,3) t(k)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                 bit_count(xor(a.sig, b.sig)) AS hamming
          FROM bytes a JOIN bytes b
            ON a.k = b.k AND a.byte = b.byte AND a.doc_id < b.doc_id)
        SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3
        ORDER BY d1, d2""")),

    // ------------------------------------------------ near-dup clustering
    // Connected components over the shingle-Jaccard pair graph by
    // iterative min-label propagation; canonical doc = component min.
    // Each iteration is one broadcast join over the (tiny) edge set; the
    // loop runs to fixpoint, bounded by component diameter — the
    // standard large-graph CC shape (at 100 TB the edge join shuffles
    // by label instead of broadcasting, same loop).
    "q_dedup_cluster" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val labels = minLabelComponents(
          jaccardPairsHalfCached(s, d).select(col("d1"), col("d2")))
        // one row per doc in a near-dup pair (Zipf-small): collect,
        // then release the label RDD
        val rows =
          try labels.collect()
          finally labels.unpersist()
        rows.sortBy(_._1).toSeq.toDF("doc_id", "canonical_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT d1, d2 FROM common
          JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
          WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5),
        edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                  UNION ALL SELECT d2, d1 FROM pairs),
        walk(src, dst) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT w.src, e.dst FROM walk w JOIN edges e ON e.src = w.dst)
        SELECT src AS doc_id, min(dst) AS canonical_id
        FROM walk GROUP BY src ORDER BY doc_id""")),

    // ---------------------------------------------- embedding-cosine near-dup
    // Exact all-pairs cosine via the block-matrix similarity join: vectors
    // pack into ~1024-row blocks, the (tiny) block Dataset self-joins on
    // the upper triangle, and a tight JIT'd loop scores each block pair.
    // This is the shape that scales — at 100 TB block pairs are uniform
    // tasks and an LSH pre-filter (see Similarity pack) prunes the
    // triangle; per-pair lambda evaluation over a 12M-row cross join is
    // what it replaces.
    "q_dedup_embedding" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val blockSize = 1024L
        val vecs = Tables.embeddings(s, d)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .as[(Long, Array[Double])]
        val blocks = vecs
          .groupByKey(_._1 / blockSize)
          .mapGroups { (blk, it) =>
            val rows = it.toArray.sortBy(_._1)
            val n = rows.length
            val dim = if (n > 0) rows(0)._2.length else 0
            val data = new Array[Double](n * dim)
            var i = 0
            while (i < n) {
              System.arraycopy(rows(i)._2, 0, data, i * dim, dim); i += 1
            }
            val norms = Array.tabulate(n) { r =>
              var acc = 0.0; var k = 0
              while (k < dim) { val x = data(r * dim + k); acc += x * x; k += 1 }
              math.sqrt(acc)
            }
            EmbBlock(blk, rows.map(_._1), dim, data, norms)
          }
        val pairs = blocks.alias("b1")
          .joinWith(blocks.alias("b2"), col("b1.blk") <= col("b2.blk"))
          .flatMap { case (x, y) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            val dim = x.dim
            var i = 0
            while (i < x.ids.length) {
              var j = 0
              while (j < y.ids.length) {
                if (x.blk != y.blk || x.ids(i) < y.ids(j)) {
                  var dot = 0.0; var k = 0
                  while (k < dim) { dot += x.data(i * dim + k) * y.data(j * dim + k); k += 1 }
                  val cos = dot / (x.norms(i) * y.norms(j))
                  if (cos >= 0.4) out += ((x.ids(i), y.ids(j), cos))
                }
                j += 1
              }
              i += 1
            }
            out
          }
        pairs.toDF("v1", "v2", "cosine")
          .select(col("v1"), col("v2"), round(col("cosine"), 4).as("cosine"))
          .orderBy("v1", "v2")
      },
      oracle = Some("""
        WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                          generate_subscripts(embedding,1) AS i FROM embeddings),
        nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM u GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS v1, b.vec_id AS v2, sum(a.x*b.x) AS dot
                 FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
                 GROUP BY 1, 2)
        SELECT v1, v2, round(dot/(na.nrm*nb.nrm), 4) AS cosine
        FROM dots JOIN nrm na ON na.vec_id = v1 JOIN nrm nb ON nb.vec_id = v2
        WHERE dot/(na.nrm*nb.nrm) >= 0.4
        ORDER BY v1, v2""")),

    // --------------------------- blocked fuzzy matching (edit distance)
    // Entity-resolution shape: near-identical NAMES (typos, variants)
    // found by prefix blocking + Levenshtein verification — over the
    // DISTINCT value domain, which is the scalable form (the value
    // domain is Zipf-small relative to the row count; id-level pairs
    // explode combinatorially for popular values). Blocking bounds the
    // candidate set like LSH bands do for shingles; a production pass
    // adds more blocking keys for recall, same plan shape.
    "q_dedup_fuzzy" -> GraftQuery(
      run = (s, d) => {
        val names = Tables.part(s, d)
          .select(lower(col("p_name")).as("n")).distinct()
          .withColumn("blk", substring(col("n"), 1, 3))
        names.as("a")
          .join(names.as("b"),
            col("a.blk") === col("b.blk") && col("a.n") < col("b.n"))
          .select(col("a.n").as("n1"), col("b.n").as("n2"),
            levenshtein(col("a.n"), col("b.n")).as("lev"))
          .filter(col("lev") <= 3)
          .orderBy("n1", "n2")
      },
      oracle = Some("""
        WITH names AS (
          SELECT DISTINCT lower(p_name) AS n FROM part),
        blocked AS (SELECT n, substr(n, 1, 3) AS blk FROM names)
        SELECT a.n AS n1, b.n AS n2, levenshtein(a.n, b.n) AS lev
        FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 3
        ORDER BY n1, n2""")),

    // ------------------------------------------------------- soft dedup
    // SoftDeDup-style duplicate DOWN-WEIGHTING instead of dropping:
    // documents sharing a 32-char prefix (template/boilerplate families
    // — the cheap high-precision cluster key) keep ALL members but each
    // carries sampling weight 1/n_copies, so the family contributes one
    // document's worth of probability mass to training. Weights in
    // exact ppm integers (1e6 div n). The cluster stage is the same
    // digest-only shuffle as exact dedup — 32 bytes/doc — and the
    // weight joins back via the md5 key, so full text never shuffles.
    "q_dedup_soft" -> GraftQuery(
      run = (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), md5(substring(col("text"), 1, 32)).as("pk"))
        val fam = docs.groupBy("pk")
          .agg(min(col("doc_id")).as("family_id"),
            count(lit(1)).as("n_copies"))
        docs.join(fam, Seq("pk"))
          .select(col("doc_id"), col("family_id"), col("n_copies"),
            expr("1000000 div n_copies").as("weight_ppm"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH docs AS (SELECT doc_id, md5(substr(text, 1, 32)) AS pk
                      FROM documents),
        fam AS (SELECT pk, min(doc_id) AS family_id, count(*) AS n_copies
                FROM docs GROUP BY pk)
        SELECT doc_id, family_id, n_copies,
               CAST(1000000 // n_copies AS BIGINT) AS weight_ppm
        FROM docs JOIN fam USING (pk)
        ORDER BY doc_id""")),

    // --------------------------------------- consensus keep-list (final verdict)
    // The dedup pipeline's ANSWER: one row per document with its
    // keep/drop disposition after ALL evidence is combined — exact
    // content digests, capped near-dup Jaccard pairs, and the re-crawl
    // key (the lead-64-chars digest q_text_url_dedup canonicalizes to).
    // Equality-keyed groups contribute STAR edges ((group min, member)
    // — connectivity-preserving, O(k) edges per group, computed with
    // groupBy+join rather than a per-group window so a megagroup of
    // identical docs never sits on one sorted reducer); the near-dup
    // leg reuses the df-capped pair kernel. The union feeds the shared
    // pointer-jumped CC, and the keep rule is canonical-min. This is
    // the table the corpus is anti-joined against before training.
    "q_dedup_keep_list" -> GraftQuery(
      run = (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        // star edges + per-doc membership flag for an equality key
        def starPairs(keyed: DataFrame): (DataFrame, DataFrame) = {
          val grp = keyed.groupBy("k")
            .agg(min(col("doc_id")).as("mn"), count(lit(1)).as("n"))
          val joined = keyed.join(grp, Seq("k"))
          (joined.filter(col("doc_id") =!= col("mn"))
            .select(col("mn").as("d1"), col("doc_id").as("d2")),
            joined.select(col("doc_id"),
              (col("n") > 1).cast("long").as("flag")))
        }
        val (exPairs, exFlag) =
          starPairs(docs.select(col("doc_id"), md5(col("text")).as("k")))
        val (urlPairs, urlFlag) = starPairs(
          docs.select(col("doc_id"),
            md5(substring(col("text"), 1, 64)).as("k")))
        val nearPairs = jaccardPairsHalfCached(s, d)
          .select(col("d1"), col("d2"))
        val nearFlag = nearPairs.select(col("d1").as("doc_id"))
          .unionByName(nearPairs.select(col("d2").as("doc_id")))
          .distinct().withColumn("flag", lit(1L))
        // Deliberately LAZY: the edge union is read twice inside the
        // CC's first job (the two direction branches), but measured
        // A/B (r7), persist+count here was 2.5 s SLOWER than the
        // duplicate compute — materializing this cache inside the CC's
        // 8-partition window serializes the md5 groupBys onto 8 tasks,
        // while the lazy branches pipeline at full width
        val edges = exPairs.unionByName(urlPairs).unionByName(nearPairs)
          .distinct()
        import s.implicits._
        val labels = minLabelComponents(edges).toDF("doc_id", "canonical_id")
        val comp = labels.groupBy(col("canonical_id").as("cid"))
          .agg(count(lit(1)).as("nc"))
        docs.select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("canonical_id",
            coalesce(col("canonical_id"), col("doc_id")))
          .join(comp, col("canonical_id") === col("cid"), "left")
          .join(exFlag.withColumnRenamed("flag", "in_exact"),
            Seq("doc_id"), "left")
          .join(urlFlag.withColumnRenamed("flag", "in_recrawl"),
            Seq("doc_id"), "left")
          .join(nearFlag.withColumnRenamed("flag", "in_near"),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).cast("long").as("kept"),
            coalesce(col("nc"), lit(1L)).as("n_component"),
            coalesce(col("in_exact"), lit(0L)).as("in_exact"),
            coalesce(col("in_recrawl"), lit(0L)).as("in_recrawl"),
            coalesce(col("in_near"), lit(0L)).as("in_near"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE $shinglesCte,
        $cappedShinglesCte,
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        npairs AS (
          SELECT d1, d2 FROM common
          JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
          WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5),
        ex AS (SELECT doc_id, md5(text) AS k FROM documents),
        exg AS (SELECT k, min(doc_id) AS mn, count(*) AS n FROM ex
                GROUP BY k),
        expairs AS (SELECT g.mn AS d1, e.doc_id AS d2
                    FROM ex e JOIN exg g USING (k)
                    WHERE e.doc_id <> g.mn),
        ur AS (SELECT doc_id, md5(substr(text, 1, 64)) AS k
               FROM documents),
        urg AS (SELECT k, min(doc_id) AS mn, count(*) AS n FROM ur
                GROUP BY k),
        urpairs AS (SELECT g.mn AS d1, u.doc_id AS d2
                    FROM ur u JOIN urg g USING (k)
                    WHERE u.doc_id <> g.mn),
        ap AS (SELECT d1, d2 FROM expairs
               UNION SELECT d1, d2 FROM urpairs
               UNION SELECT d1, d2 FROM npairs),
        edges AS (SELECT d1 AS src, d2 AS dst FROM ap
                  UNION ALL SELECT d2, d1 FROM ap),
        walk(src, dst) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT w.src, e.dst FROM walk w JOIN edges e ON e.src = w.dst),
        lab AS (SELECT src AS doc_id, min(dst) AS canonical_id
                FROM walk GROUP BY src),
        comp AS (SELECT canonical_id AS cid, count(*) AS nc
                 FROM lab GROUP BY 1),
        nearf AS (SELECT DISTINCT doc_id FROM (
                    SELECT d1 AS doc_id FROM npairs
                    UNION ALL SELECT d2 FROM npairs))
        SELECT d.doc_id,
               coalesce(lab.canonical_id, d.doc_id) AS canonical_id,
               CAST(CASE WHEN coalesce(lab.canonical_id, d.doc_id)
                              = d.doc_id THEN 1 ELSE 0 END AS BIGINT)
                 AS kept,
               coalesce(comp.nc, 1) AS n_component,
               CAST(CASE WHEN exg2.n > 1 THEN 1 ELSE 0 END AS BIGINT)
                 AS in_exact,
               CAST(CASE WHEN urg2.n > 1 THEN 1 ELSE 0 END AS BIGINT)
                 AS in_recrawl,
               CAST(CASE WHEN nearf.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS in_near
        FROM documents d
        LEFT JOIN lab ON lab.doc_id = d.doc_id
        LEFT JOIN comp ON comp.cid = coalesce(lab.canonical_id, d.doc_id)
        LEFT JOIN (SELECT e.doc_id, g.n FROM ex e JOIN exg g USING (k))
          exg2 ON exg2.doc_id = d.doc_id
        LEFT JOIN (SELECT u.doc_id, g.n FROM ur u JOIN urg g USING (k))
          urg2 ON urg2.doc_id = d.doc_id
        LEFT JOIN nearf ON nearf.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ----------------------- LSH banding parameter sweep (S-curve tuning)
    // q_dedup_lsh_eval measures ONE banding; this sweeps the (bands ×
    // rows) grid {8×2, 4×4, 2×8} over the SAME 16 minhashes — the
    // tuning table that decides the S-curve operating point at 100 TB:
    // more bands / shorter keys catch lower-similarity pairs (recall ↑,
    // precision ↓ → more verification work), fewer bands / longer keys
    // invert the trade. All three configs band the same per-doc
    // signature from ONE corpus pass ([[minhashBandRowsSweep]]); each
    // config's candidates come from the shared capped pair generator
    // and score against the same exact-Jaccard ≥ 0.5 truth. The output
    // is 3 rows, materialized so the band/truth caches release.
    "q_dedup_lsh_sweep" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val cfgs = Seq((8, 2), (4, 4), (2, 8))
        val truth = jaccardPairsHalfCached(s, d)
          .select(col("d1"), col("d2")).persist()
        val rowsAll = minhashBandRowsSweep(
            shingleSetsCached(s, d),
            cfgs)
          .toDF("doc_id", "cfg", "band", "key").persist()
        rowsAll.count() // one materialization serves all three configs
        val perCfg = cfgs.map { case (b, r) =>
          val cand = bandPairs(
            rowsAll.filter(col("cfg") === s"${b}x$r")
              .select("doc_id", "band", "key"))
          val hits = cand.join(truth, Seq("d1", "d2"))
          truth.agg(count(lit(1)).as("n_truth"))
            .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
            .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
            .select(lit(s"${b}x$r").as("config"),
              lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
              col("n_truth"), col("n_candidates"), col("n_hits"),
              // both ratios zero-guarded: ANSI div-by-zero throws on an
              // empty corpus (the EmptyInputSpec shape)
              when(col("n_truth") > 0L,
                expr("n_hits * 1000000 div n_truth")).otherwise(0L)
                .as("recall_ppm"),
              when(col("n_candidates") > 0L,
                expr("n_hits * 1000000 div n_candidates")).otherwise(0L)
                .as("precision_ppm"))
        }.reduce(_.unionByName(_)).orderBy("config")
        // 3-row output: shared helper releases both caches in finally
        // even if the collect throws (the heavy_hitters leak class)
        graft.sparkutil.ScalableRank.materializeAndRelease(
          s, perCfg, Seq(truth, rowsAll))
      },
      oracle = Some(s"""
        WITH $shinglesCte,
        $cappedShinglesCte,
        mh AS (SELECT doc_id, seed,
                      min(((2*seed+3) * ('0x'||substr(md5(s),1,8))::BIGINT
                           + 12289*seed + 1) % 2147483647) AS h
               FROM shingles, generate_series(0,15) t(seed)
               GROUP BY doc_id, seed),
        ns AS (SELECT doc_id, count(*) AS nsh FROM shc GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT d1, d2 FROM common
          JOIN ns na ON na.doc_id = d1 JOIN ns nb ON nb.doc_id = d2
          WHERE CAST(c AS DOUBLE)/(na.nsh + nb.nsh - c) >= 0.5),
        cfg(config, n_bands, rows_per_band) AS (VALUES
          ('2x8', CAST(2 AS BIGINT), CAST(8 AS BIGINT)),
          ('4x4', 4, 4), ('8x2', 8, 2)),
        bnd AS (SELECT cfg.config, mh.doc_id,
                       seed // rows_per_band AS band,
                       string_agg(h::VARCHAR, ',' ORDER BY seed) AS key
                FROM mh CROSS JOIN cfg
                WHERE seed < n_bands * rows_per_band
                GROUP BY 1, 2, 3),
        cand AS (SELECT DISTINCT a.config, a.doc_id AS d1, b.doc_id AS d2
                 FROM bnd a JOIN bnd b
                   ON a.config = b.config AND a.band = b.band
                      AND a.key = b.key AND a.doc_id < b.doc_id),
        sel AS (
          SELECT cfg.config, cfg.n_bands, cfg.rows_per_band,
                 (SELECT count(*) FROM truth) AS t,
                 (SELECT count(*) FROM cand c
                  WHERE c.config = cfg.config) AS c,
                 (SELECT count(*) FROM cand c JOIN truth
                    ON truth.d1 = c.d1 AND truth.d2 = c.d2
                  WHERE c.config = cfg.config) AS h
          FROM cfg)
        SELECT config, n_bands, rows_per_band,
               CAST(t AS BIGINT) AS n_truth,
               CAST(c AS BIGINT) AS n_candidates,
               CAST(h AS BIGINT) AS n_hits,
               CAST(CASE WHEN t > 0 THEN h * 1000000 // t ELSE 0 END
                    AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN c > 0 THEN h * 1000000 // c ELSE 0 END
                    AS BIGINT) AS precision_ppm
        FROM sel ORDER BY config""")),

    // ------------------------------ durable band-index store (resume)
    // The signature index as an ON-DISK artifact: band rows append to a
    // parquet store via [[bandIndexResumable]] (anti-join resume — only
    // un-indexed docs are ever banded), and the query reports the
    // per-band index profile (rows, distinct keys, largest bucket) —
    // the table an operator reads before choosing nprobe/cap settings.
    // The oracle recomputes the same profile from documents; equality
    // proves the store holds exactly the full corpus banding, however
    // many increments built it.
    "q_dedup_index_store" -> GraftQuery(
      run = (s, d) => bandIndexProfile(
        bandIndexResumable(s,
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          bandStorePath(s, d))),
      oracle = Some(s"""
        WITH $shinglesCte,
        $minhashBandsCte,
        $bandIndexProfileSql"""))
  )
}
