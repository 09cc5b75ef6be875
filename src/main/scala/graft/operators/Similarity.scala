package graft.operators

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: Array[Float]`, 64-dim).
  *
  * Three tiers, mirroring a production ANN stack:
  *
  *  - brute-force top-k: the exactness baseline. The (small) query batch
  *    is broadcast against the corpus scan — the corpus never shuffles;
  *    the only exchange is the per-query top-k, which Spark computes
  *    with partial top-k under the window when k is small.
  *  - IVF: corpus is pre-clustered (here: by the `label` column, whose
  *    centroid is the positional mean — deterministic, so the oracle can
  *    reproduce it); a query probes its nearest centroid and scans only
  *    that inverted list. At 100 TB the lists are parquet partitions and
  *    partition pruning turns the probe into a fractional scan.
  *  - hyperplane LSH: 8 md5-derived ±1 hyperplanes → 8-bit bucket key;
  *    candidates = bucket-mates, ranked by exact cosine. Bucketing is
  *    map-side; only bucket-key equi-joins shuffle.
  *
  * Dot products run through `zip_with` + `aggregate` in double precision
  * (codegen'd, no UDF).
  */
object Similarity extends QueryPack {

  // Fixed iteration counts shared VERBATIM by the Scala loop and the
  // generated oracle SQL of each iterative op — one definition per
  // family so the two sides cannot drift into a hash mismatch (same
  // policy as GraphOps.Iters/KcoreRounds).
  private val PowerRounds = 5 // q_sim_pca power-iteration rounds
  private val CoresetSteps = 7 // q_sim_coreset greedy picks after the seed

  /** Vectors cast to double with their L2 norm. */
  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x*x))"))
  }

  /** Native codegen'd cosine (graft.functions.CosineSim) — bit-identical
    * to the composable aggregate(zip_with(...)) fold, minus the
    * interpreted per-element lambdas. */
  private val cosExpr = expr("graft_cosine(q.v, c.v)")

  private val unnestCte = """
    u AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding,1) AS i FROM embeddings),
    nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM u GROUP BY vec_id)"""


  /** IVF search: assign each query to its `nprobe` nearest per-label
    * centroids, scan only those inverted lists. */
  private def ivfRun(
      s: SparkSession, d: String, nprobe: Int,
      includeProbeLabel: Boolean = false): DataFrame = {
    require(!(includeProbeLabel && nprobe > 1),
      "probe_label is ambiguous when a candidate is reachable via several probes")
    val all = vecs(s, d)
    val comp = all.select(col("vec_id"), col("label"), col("nrm"),
      posexplode(col("v")).as(Seq("i", "x")))
    val cent = comp.groupBy(col("label").as("c_label"), col("i"))
      .agg(avg(col("x")).as("cx"))
    val centNrm = cent.groupBy("c_label")
      .agg(expr("sqrt(sum(cx*cx))").as("c_nrm"))
    val qComp = comp.filter(col("vec_id") < 10)
    val assign = qComp.join(cent, "i")
      .groupBy(col("vec_id").as("q_id"), col("c_label"))
      .agg(sum(col("x") * col("cx")).as("dot"),
        first(col("nrm")).as("q_nrm"))
      .join(centNrm, "c_label")
      .withColumn("ccos", col("dot") / (col("q_nrm") * col("c_nrm")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("ccos").desc, col("c_label"))))
      .filter(col("crank") <= nprobe)
      .select(col("q_id"), col("c_label").as("probe_label"))
    val q = broadcast(all.filter(col("vec_id") < 10).as("q")
      .join(assign, col("q.vec_id") === col("q_id")))
    val scored = q.join(all.as("c"),
        col("c.label") === col("probe_label") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q_id"), col("probe_label"), col("c.vec_id").as("n_id"),
        cosExpr.as("cosine"))
    val deduped = // with one probe every candidate is unique already
      if (nprobe > 1) scored.drop("probe_label").distinct() else scored
    val ranked = deduped
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
    val out =
      if (includeProbeLabel)
        ranked.select(col("q_id"), col("probe_label"), col("rank"),
          col("n_id"), round(col("cosine"), 4).as("cosine"))
      else
        ranked.select(col("q_id"), col("rank"), col("n_id"),
          round(col("cosine"), 4).as("cosine"))
    out.orderBy("q_id", "rank")
  }

  /** IVF-PQ oracle CTE chain (expects `u` from the unnest CTE in
    * scope); ends with `rk(q_id, n_id, approx_dot, rank)`. Shared by the
    * index query and its recall measurement so the two cannot drift. */
  private val ivfpqCtes = """
        xq AS (SELECT vec_id, i, floor(x * 1000000.0 + 0.5)::BIGINT AS xq
               FROM u),
        cent AS (SELECT label AS c_label, i,
                        sum(floor(x * 1000000.0 + 0.5)::BIGINT) // count(*)
                          AS cq
                 FROM u GROUP BY label, i),
        asg AS (SELECT vec_id, c_label AS list FROM (
                  SELECT xq.vec_id, cent.c_label,
                         row_number() OVER (PARTITION BY xq.vec_id
                           ORDER BY sum((xq.xq - cent.cq)*(xq.xq - cent.cq)),
                                    cent.c_label) AS rn
                  FROM xq JOIN cent ON cent.i = xq.i
                  GROUP BY xq.vec_id, cent.c_label) WHERE rn = 1),
        res AS (SELECT xq.vec_id AS vec_id, asg.list AS list, xq.i AS i,
                       (xq.i - 1) // 8 AS sub, xq.xq - cent.cq AS r
                FROM xq JOIN asg ON asg.vec_id = xq.vec_id
                        JOIN cent ON cent.c_label = asg.list
                                 AND cent.i = xq.i),
        quad AS (SELECT vec_id, sub,
                        2 * max(CASE WHEN (i - 1) % 8 = 0
                                     THEN CASE WHEN r > 0 THEN 1 ELSE 0 END
                                     ELSE 0 END)
                        + max(CASE WHEN (i - 1) % 8 = 1
                                   THEN CASE WHEN r > 0 THEN 1 ELSE 0 END
                                   ELSE 0 END) AS code
                 FROM res GROUP BY vec_id, sub),
        cb AS (SELECT res.list AS list, res.sub AS sub, quad.code AS code,
                      res.i AS i, sum(res.r) // count(*) AS cmean
               FROM res JOIN quad ON quad.vec_id = res.vec_id
                                 AND quad.sub = res.sub
               GROUP BY res.list, res.sub, quad.code, res.i),
        sel AS (SELECT vec_id, sub, code FROM (
                  SELECT res.vec_id, res.sub, cb.code,
                         row_number() OVER (PARTITION BY res.vec_id, res.sub
                           ORDER BY sum((res.r - cb.cmean)*(res.r - cb.cmean)),
                                    cb.code) AS rn
                  FROM res JOIN cb ON cb.list = res.list AND cb.i = res.i
                  GROUP BY res.vec_id, res.sub, cb.code) WHERE rn = 1),
        qc AS (SELECT xq.vec_id AS q_id, asg.list AS probe,
                      sum(xq.xq * cent.cq) AS qcdot
               FROM xq JOIN asg ON asg.vec_id = xq.vec_id
                       JOIN cent ON cent.c_label = asg.list AND cent.i = xq.i
               WHERE xq.vec_id < 10 GROUP BY 1, 2),
        qtab AS (SELECT xq.vec_id AS q_id, cb.sub AS sub, cb.code AS code,
                        sum(xq.xq * cb.cmean) AS t
                 FROM xq JOIN asg ON asg.vec_id = xq.vec_id
                         JOIN cb ON cb.list = asg.list AND cb.i = xq.i
                 WHERE xq.vec_id < 10 GROUP BY 1, 2, 3),
        sc AS (SELECT qc.q_id AS q_id, s2.vec_id AS n_id,
                      CAST(qc.qcdot + sum(qtab.t) AS BIGINT) AS approx_dot
               FROM sel s2
               JOIN asg ON asg.vec_id = s2.vec_id
               JOIN qc ON qc.probe = asg.list
               JOIN qtab ON qtab.q_id = qc.q_id AND qtab.sub = s2.sub
                        AND qtab.code = s2.code
               WHERE s2.vec_id <> qc.q_id
               GROUP BY qc.q_id, s2.vec_id, qc.qcdot),
        rk AS (SELECT q_id, n_id, approx_dot,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY approx_dot / (na.nrm * nb.nrm) DESC, n_id)
                        AS rank
               FROM sc JOIN nrm na ON na.vec_id = sc.q_id
                       JOIN nrm nb ON nb.vec_id = sc.n_id)"""

  // ------------------------------------------------------------------
  // Durable IVF-assignment store — the vector-index twin of the dedup
  // pack's band-index store: (vec_id, list) assignments persist as
  // append-mode parquet with anti-join resume, so indexing a new
  // embedding batch is O(batch), never a rebuild. Centroids are the
  // integer-grid label means over the FULL corpus (the same
  // deterministic quantizer q_sim_ivfpq uses), so the assignment is
  // increment-independent: however many batches built the store, it
  // equals a from-scratch assignment — which is exactly what the
  // oracle recomputes.
  private def ivfStorePath(s: SparkSession, d: String): String =
    graft.StoreBuilds.scratchDir(s, d, "graft-ivf-index") + "/store"

  /** Resumable assignment upsert: anti-join against the store's
    * vec_ids (plus WITHIN-batch dedup — a re-delivered vector must not
    * be assigned twice), assign only the missing vectors to their
    * nearest integer-grid centroid (L2 on the 1e-6 grid, ties to the
    * smaller label), append, return the full store
    * ([[graft.StoreBuilds.resumable]]). `allVecs` supplies the centroid
    * basis and must be the full corpus; `batch` is the increment to
    * index. */
  private[operators] def ivfAssignResumable(
      s: SparkSession, allVecs: DataFrame, batch: DataFrame,
      storePath: String): DataFrame =
    graft.StoreBuilds.resumable(s, storePath, ivfSchema, Seq("vec_id")) { done =>
      ivfAssign(allVecs,
        done.fold(batch)(batch.join(_, Seq("vec_id"), "left_anti")).dropDuplicates("vec_id"))
    }

  /** (vec_id, list): each vector of `todo` assigned to its nearest
    * integer-grid centroid of `allVecs`. */
  private def ivfAssign(allVecs: DataFrame, todo: DataFrame): DataFrame = {
    def grid(df: DataFrame, key: String) =
      df.select(col(key), posexplode(col("v")).as(Seq("i", "x")))
        .select(col(key), col("i"),
          expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)").as("xq"))
    val cent = grid(allVecs, "label")
      .groupBy(col("label").as("c_label"), col("i").as("ci"))
      .agg(expr("sum(xq) div count(1)").as("cq"))
    // argmin as a min(struct) aggregate, not a row_number window (r11,
    // guide §2.4/§4): same (d2 asc, c_label asc) total order, but
    // map-side combinable with no per-partition sort — the window paid
    // an exchange + sort over every (vec, list) distance row
    grid(todo, "vec_id").join(broadcast(cent), col("i") === col("ci"))
      .groupBy(col("vec_id"), col("c_label"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq")))
        .as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("c_label"))).as("m"))
      .select(col("vec_id"), col("m.c_label").cast("int").as("list"))
  }

  /** The IVF-assignment store's rows: (vec_id, list). */
  private val ivfSchema = StructType.fromDDL("vec_id BIGINT, list INT")

  /** Per-list index profile over store rows (vec_id, list) — the
    * index-health table an operator reads before sizing nprobe. */
  private[operators] def ivfIndexProfile(store: DataFrame): DataFrame =
    store.groupBy("list")
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy("list")

  /** The IVF-PQ index build + top-3 ADC search, materialized to a
    * local frame with its working caches released — memoized per
    * (session, dataset); see the q_sim_ivfpq registry comment. */
  private[operators] def ivfpqBuild(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val all = vecs(s, d)
        def grid(df: org.apache.spark.sql.DataFrame, key: String) =
          df.select(col(key), posexplode(col("v")).as(Seq("i", "x")))
            .select(col(key), col("i"),
              expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)").as("xq"))
        val uq = grid(all, "vec_id")
        val cent = grid(all, "label")
          .groupBy(col("label").as("c_label"), col("i").as("ci"))
          .agg(expr("sum(xq) div count(1)").as("cq"))
        // argmin via min(struct) — identical (d2, c_label) total order,
        // map-side combinable, no window sort (r11, guide §2.4/§4)
        val assign = uq.join(broadcast(cent), col("i") === col("ci"))
          .groupBy(col("vec_id"), col("c_label"))
          .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq")))
            .as("d2"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("c_label"))).as("m"))
          .select(col("vec_id"), col("m.c_label").as("list"))
        // the residual stream feeds four downstream branches (quadrant
        // codes, codebook means, code selection, and the query tables);
        // Spark does not common-subexpression-eliminate across joins, so
        // without a cache the scan→explode→assign subtree runs 4× — the
        // cache holds (vec, dim) Longs, ~vectors·64·24 B, trivially
        // executor-resident at any probe-able list size
        val resid = uq.join(assign, "vec_id")
          .join(broadcast(cent),
            col("list") === col("c_label") && col("i") === col("ci"))
          .select(col("vec_id"), col("list"), col("i"),
            expr("i div 8").as("sub"), (col("xq") - col("cq")).as("r"))
          .persist()
        // codebook keyed by residual QUADRANT (signs of the first two
        // subspace coordinates): a deterministic one-step clustering
        // that correlates with residual geometry — an id-keyed grouping
        // averages each code to ~0 and the codes carry no signal
        val quad = resid
          .groupBy("vec_id", "sub")
          .agg((lit(2) * max(when(expr("i % 8 = 0") && col("r") > 0, 1)
              .otherwise(0)) +
            max(when(expr("i % 8 = 1") && col("r") > 0, 1).otherwise(0)))
            .as("code"))
        // the codebook feeds two consumers (code selection + the query
        // ADC tables); it is tiny (lists·subs·codes·dims rows) but its
        // lineage re-runs the quad groupBy over the full residual stream
        // — persist the result, not the recompute
        val cb = resid
          .join(quad, Seq("vec_id", "sub"))
          .groupBy("list", "sub", "code", "i")
          .agg(expr("sum(r) div count(1)").as("cmean"))
          .persist()
        val sel = resid.join(broadcast(cb.withColumnRenamed("i", "cbi")),
            Seq("list", "sub")).filter(col("i") === col("cbi"))
          .groupBy(col("vec_id"), col("sub"), col("code"))
          .agg(sum((col("r") - col("cmean")) * (col("r") - col("cmean")))
            .as("d2"))
          .groupBy(col("vec_id"), col("sub"))
          .agg(min(struct(col("d2"), col("code"))).as("m"))
          .select(col("vec_id"), col("sub"), col("m.code").as("code"))
        val qAssign = assign.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("list").as("probe"))
        val qs = uq.filter(col("vec_id") < 10)
          .withColumnRenamed("vec_id", "q_id").join(broadcast(qAssign), "q_id")
        val qc = qs.join(broadcast(cent),
            col("probe") === col("c_label") && col("i") === col("ci"))
          .groupBy(col("q_id"), col("probe"))
          .agg(sum(col("xq") * col("cq")).as("qcdot"))
        val qtab = qs.join(broadcast(cb.withColumnRenamed("i", "cbi")),
            col("probe") === col("list") && col("i") === col("cbi"))
          .groupBy(col("q_id"), col("probe"), col("sub"), col("code"))
          .agg(sum(col("xq") * col("cmean")).as("t"))
        val out = sel.join(assign, "vec_id")
          .join(broadcast(qtab),
            col("list") === qtab("probe") &&
              sel("sub") === qtab("sub") && sel("code") === qtab("code") &&
              col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id").as("n_id"))
          .agg(sum(col("t")).as("adc"))
          .join(broadcast(qc.drop("probe")), "q_id")
          .select(col("q_id"), col("n_id"),
            (col("qcdot") + col("adc")).as("approx_dot"))
          // rank by the NORMALIZED score so the approximation targets
          // the same cosine ordering the brute-force baseline uses (a
          // raw-dot ranking would conflate norm variation with
          // quantization loss in the recall measurement); the division
          // of an exact Long by two exact norms is a single deterministic
          // FP op — same value in both engines
          .join(broadcast(all.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("nrm").as("q_nrm"))),
            "q_id")
          .join(all.select(col("vec_id").as("n_id"),
            col("nrm").as("n_nrm")), "n_id")
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy((col("approx_dot") / (col("q_nrm") * col("n_nrm")))
                .desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select("q_id", "rank", "n_id", "approx_dot")
          .orderBy("q_id", "rank")
        // materialize the ≤ k·queries result rows, then RELEASE both
        // caches — returning the lazy plan instead would pin resid+cb
        // in executor storage for the session (every re-invocation,
        // e.g. by q_sim_ivfpq_recall, stacking another copy)
        val rows = out.collect()
        resid.unpersist()
        cb.unpersist()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Lazy NN-descent plan + its caches (exposed so `PlanGuardSpec` can
    * pin the physical shape — every pair leg must be an EQUI-join on
    * label or on the candidate pair key, never a nested-loop scan). */
  private[operators] def nnDescentPlan(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val K = 4
    val all = vecs(s, d).persist()
    all.count() // read by both scoring legs + both rescore joins
    val wl = all.as("q").join(all.as("c"),
      col("q.label") === col("c.label") &&
        col("q.vec_id") =!= col("c.vec_id"))
    val seed = wl.select(col("q.vec_id").as("a"),
        col("c.vec_id").as("b"),
        expr("graft_cosine(slice(q.v, 1, 8), c.v)").as("pcos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(col("pcos").desc, col("b"))))
      .filter(col("rk") <= K).select("a", "b")
      .persist() // read by the two-hop self-join, cand, and hits
    seed.count()
    val non = seed.as("g1").join(seed.as("g2"),
        col("g1.b") === col("g2.a") && col("g2.b") =!= col("g1.a"))
      .select(col("g1.a").as("a"), col("g2.b").as("b"))
    val cand = seed.unionByName(non).distinct()
    // full-dim rescore of ONLY the bounded candidate set
    val ref = cand
      .join(all.select(col("vec_id").as("a"), col("v").as("av")), "a")
      .join(all.select(col("vec_id").as("b"), col("v").as("bv")), "b")
      .select(col("a"), col("b"),
        expr("graft_cosine(av, bv)").as("fcos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(col("fcos").desc, col("b"))))
      .filter(col("rk") <= K).select("a", "b")
    // measurement leg: exact full-dim within-list truth
    val truth = wl.select(col("q.vec_id").as("a"),
        col("c.vec_id").as("b"), cosExpr.as("fcos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(col("fcos").desc, col("b"))))
      .filter(col("rk") <= K).select("a", "b")
      .persist() // read by the base count + both hit joins
    truth.count()
    def hits(g: DataFrame, nm: String) =
      truth.join(g, Seq("a", "b"))
        .groupBy("a").agg(count(lit(1)).as(nm))
    val out = truth.groupBy("a").agg(count(lit(1)).as("tk"))
      .join(hits(seed, "sh"), Seq("a"), "left")
      .join(hits(ref, "nh"), Seq("a"), "left")
      .join(all.select(col("vec_id").as("a"), col("label")), "a")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("tk")).as("tp"),
        sum(coalesce(col("sh"), lit(0L))).as("s_h"),
        sum(coalesce(col("nh"), lit(0L))).as("n_h"))
      .select(col("label"), col("n_nodes"),
        expr("s_h * 1000000 div tp").as("seed_recall_ppm"),
        expr("n_h * 1000000 div tp").as("nnd_recall_ppm"))
      .orderBy("label")
    (out, Seq(all, seed, truth))
  }

  val queries: Map[String, GraftQuery] = Map(

    // ------------------------------------------------ brute-force cosine kNN
    "q_sim_knn_brute" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d)
        val q = broadcast(all.filter(col("vec_id") < 10))
        q.as("q").join(all.as("c"), col("q.vec_id") =!= col("c.vec_id"))
          .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            cosExpr.as("cosine"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cosine").desc, col("n_id"))))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("n_id"),
            round(col("cosine"), 4).as("cosine"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        dots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                 FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
                 WHERE a.vec_id < 10 GROUP BY 1, 2),
        ranked AS (
          SELECT q_id, n_id, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, rank, n_id, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""")),

    // ---------------------------------- reciprocal nearest neighbors
    // Mutual-top-1 pair mining with the Artetxe-Schwenk-style margin
    // (top-1 cosine over the mean of the top-3) — the bitext-mining /
    // alignment primitive: a pair is trusted when each side is the
    // OTHER's nearest neighbor and the margin shows the match stands
    // out from the local density. Neighborhoods are computed within
    // coarse lists (the label column, standing in for IVF
    // assignments), so the pair volume is Σ|list|² — the bounded
    // lists-as-partitions shape, never a corpus cross join; one
    // shuffle on the list key, pairs close in-partition.
    "q_sim_reciprocal_nn" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val all = vecs(s, d)
        val pairs = all.as("q").join(all.as("c"),
            col("q.label") === col("c.label") &&
              col("q.vec_id") =!= col("c.vec_id"))
          .select(col("q.vec_id").as("a"), col("c.vec_id").as("b"),
            col("q.label").as("label"), cosExpr.as("cosine"))
        val ranked = pairs.withColumn("rank", row_number().over(
            Window.partitionBy("a").orderBy(col("cosine").desc, col("b"))))
          .filter(col("rank") <= 3)
        val agg = ranked.groupBy(col("a"), col("label"))
          .agg(max(when(col("rank") === 1, col("b"))).as("nn"),
            max(when(col("rank") === 1, col("cosine"))).as("cos1"),
            (sum(col("cosine")) / count(lit(1))).as("denom"))
        agg.as("x").join(agg.as("y"),
            col("x.nn") === col("y.a") && col("y.nn") === col("x.a") &&
              col("x.a") < col("y.a"))
          .select(col("x.a").as("v1"), col("y.a").as("v2"),
            col("x.label").as("label"),
            round(col("x.cos1"), 4).as("cosine"),
            round(col("x.cos1") / col("x.denom"), 4).as("margin1"),
            round(col("y.cos1") / col("y.denom"), 4).as("margin2"))
          .orderBy("v1")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        dots AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                        min(a.label) AS label, sum(a.x*b.x) AS dot
                 FROM u a JOIN u b ON b.i = a.i AND b.label = a.label
                                      AND b.vec_id <> a.vec_id
                 GROUP BY a.vec_id, b.vec_id),
        cosd AS (SELECT qa, qb, label, dot/(na.nrm*nb.nrm) AS cosine
                 FROM dots JOIN nrm na ON na.vec_id = qa
                           JOIN nrm nb ON nb.vec_id = qb),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY qa
                     ORDER BY cosine DESC, qb) AS rank FROM cosd),
        agg AS (SELECT qa, min(label) AS label,
                       max(CASE WHEN rank = 1 THEN qb END) AS nn,
                       max(CASE WHEN rank = 1 THEN cosine END) AS cos1,
                       sum(cosine)/count(*) AS denom
                FROM ranked WHERE rank <= 3 GROUP BY qa)
        SELECT x.qa AS v1, y.qa AS v2, x.label AS label,
               round(x.cos1, 4) AS cosine,
               round(x.cos1/x.denom, 4) AS margin1,
               round(y.cos1/y.denom, 4) AS margin2
        FROM agg x JOIN agg y ON x.nn = y.qa AND y.nn = x.qa AND x.qa < y.qa
        ORDER BY v1""")),

    // ----------------------------------------------------------- IVF top-k
    // Coarse quantizer = per-label positional-mean centroids; each query
    // probes its nearest centroid's list only.
    "q_sim_ivf_topk" -> GraftQuery(
      run = (s, d) => ivfRun(s, d, nprobe = 1, includeProbeLabel = true),
      oracle = Some(s"""
        WITH $unnestCte,
        cent AS (SELECT label AS c_label, i, avg(x) AS cx
                 FROM u GROUP BY label, i),
        centnrm AS (SELECT c_label, sqrt(sum(cx*cx)) AS c_nrm
                    FROM cent GROUP BY c_label),
        assign AS (
          SELECT q_id, c_label AS probe_label FROM (
            SELECT a.vec_id AS q_id, cent.c_label,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY sum(a.x*cent.cx)/(min(na.nrm)*min(cn.c_nrm)) DESC,
                              cent.c_label) AS crank
            FROM u a JOIN cent ON a.i = cent.i
                     JOIN nrm na ON na.vec_id = a.vec_id
                     JOIN centnrm cn ON cn.c_label = cent.c_label
            WHERE a.vec_id < 10
            GROUP BY a.vec_id, cent.c_label)
          WHERE crank = 1),
        dots AS (SELECT a.vec_id AS q_id, min(probe_label) AS probe_label,
                        b.vec_id AS n_id, sum(a.x*b.x) AS dot
                 FROM u a JOIN assign ON assign.q_id = a.vec_id
                          JOIN u b ON b.i = a.i AND b.label = assign.probe_label
                                      AND b.vec_id <> a.vec_id
                 GROUP BY a.vec_id, b.vec_id),
        ranked AS (
          SELECT q_id, probe_label, n_id, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, probe_label, rank, n_id, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ---------------------------------------------------- hyperplane LSH ANN
    // 8 deterministic ±1 hyperplanes (sign of an md5 bit per (plane, dim))
    // → 8-bit bucket; rank bucket-mates of each query by exact cosine.
    "q_sim_lsh_bucket" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        // plane j, dim i: +1 if lowest bit of md5("j_i")'s leading word
        // is 0 else -1 — precomputed ONCE here (the expression form
        // re-derived 8×64 md5s per row, interpreted)
        val planes: Array[Array[Double]] = Array.tabulate(8, 64) { (j, i) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val dg = md.digest(s"${j}_$i".getBytes("UTF-8"))
          val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
            ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
          if (h % 2 == 0) 1.0 else -1.0
        }
        // Projection accumulated over a 1e-6 integer grid (Long adds are
        // order-independent) so the sign test is bit-identical to the
        // oracle no matter the summation order — a double accumulation
        // near 0 flipped bucket bits between engines (r1 hash fail).
        val bucketed = vecs(s, d).as[(Long, Int, Array[Double], Double)]
          .mapPartitions(_.map { case (id, label, v, nrm) =>
            var bucket = 0
            var j = 0
            while (j < 8) {
              var dot = 0L
              var i = 0
              val p = planes(j)
              val n = math.min(v.length, 64)
              while (i < n) {
                val q = math.floor(v(i) * 1e6 + 0.5).toLong
                dot += (if (p(i) > 0) q else -q)
                i += 1
              }
              if (dot > 0) bucket |= 1 << j
              j += 1
            }
            (id, label, v, nrm, bucket)
          })
          .toDF("vec_id", "label", "v", "nrm", "bucket")
        val q = broadcast(bucketed.filter(col("vec_id") < 10))
        q.as("q").join(bucketed.as("c"),
            col("q.bucket") === col("c.bucket") &&
              col("q.vec_id") =!= col("c.vec_id"))
          .select(col("q.vec_id").as("q_id"), col("q.bucket").as("bucket"),
            col("c.vec_id").as("n_id"), cosExpr.as("cosine"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cosine").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("bucket"), col("rank"), col("n_id"),
            round(col("cosine"), 4).as("cosine"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        planes AS (SELECT j, i,
                          CASE WHEN ('0x'||substr(md5(j::VARCHAR || '_' || i::VARCHAR),1,8))::BIGINT % 2 = 0
                               THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS p
                   FROM generate_series(0,7) tj(j), generate_series(0,63) ti(i)),
        sig AS (SELECT vec_id,
                       CAST(sum(CASE WHEN s > 0 THEN (1 << j) ELSE 0 END)
                            AS BIGINT) AS bucket
                FROM (SELECT u.vec_id AS vec_id, planes.j AS j,
                             sum(floor(u.x * 1000000.0 + 0.5)::BIGINT *
                                 CASE WHEN planes.p > 0 THEN 1 ELSE -1 END) AS s
                      FROM u JOIN planes ON planes.i = u.i - 1
                      GROUP BY u.vec_id, planes.j)
                GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS q_id, min(sa.bucket) AS bucket,
                        b.vec_id AS n_id, sum(a.x*b.x) AS dot
                 FROM u a JOIN sig sa ON sa.vec_id = a.vec_id
                          JOIN sig sb ON sb.bucket = sa.bucket
                          JOIN u b ON b.vec_id = sb.vec_id AND b.i = a.i
                                      AND b.vec_id <> a.vec_id
                 WHERE a.vec_id < 10
                 GROUP BY a.vec_id, b.vec_id),
        ranked AS (
          SELECT q_id, bucket, n_id, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, bucket, rank, n_id, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ---------------------------------------- int8 scalar-quantized top-k
    // The vector-DB memory trick: each coordinate quantizes to an int in
    // [-127, 127] with a per-vector scale (4× smaller vectors than f32,
    // integer dot products, SIMD-friendly). Quantized dots and norms are
    // exact integer arithmetic, so the ranking is bit-identical across
    // engines — no FP-margin hash hazard by construction — and the
    // quantized top-k closely tracks the exact-cosine ranking.
    "q_sim_quantized_topk" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val quant = vecs(s, d).select(col("vec_id"), col("v"))
          .as[(Long, Array[Double])]
          .map { case (id, v) =>
            var m = 0.0
            v.foreach(x => { val a = math.abs(x); if (a > m) m = a })
            val scale = if (m == 0.0) 0.0 else 127.0 / m
            (id, v.map(x => math.floor(x * scale + 0.5).toLong))
          }
          .toDF("vec_id", "q")
        // scoring via the native graft_qcos expression: fused integer
        // dot+norms loop inside whole-stage codegen (the typed-kernel
        // form forced a serialization boundary around the join)
        broadcast(quant.filter(col("vec_id") < 10)).as("a")
          .join(quant.as("c"), col("a.vec_id") =!= col("c.vec_id"))
          .select(col("a.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            expr("graft_qcos(a.q, c.q)").as("qcos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("qcos").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("n_id"),
            round(col("qcos"), 4).as("qcos"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        ma AS (SELECT vec_id, max(abs(x)) AS m FROM u GROUP BY vec_id),
        q AS (SELECT u.vec_id AS vec_id, u.i AS i,
                     floor(u.x * (127.0::DOUBLE / ma.m) + 0.5)::BIGINT AS qx
              FROM u JOIN ma ON ma.vec_id = u.vec_id),
        qn AS (SELECT vec_id, sum(qx*qx) AS qn FROM q GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                        sum(a.qx*b.qx) AS qdot
                 FROM q a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
                 WHERE a.vec_id < 10
                 GROUP BY 1, 2),
        ranked AS (
          SELECT q_id, n_id,
                 qdot::DOUBLE / (sqrt(qna.qn::DOUBLE) * sqrt(qnb.qn::DOUBLE))
                   AS qcos,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY qdot::DOUBLE
                            / (sqrt(qna.qn::DOUBLE) * sqrt(qnb.qn::DOUBLE))
                            DESC, n_id) AS rank
          FROM dots JOIN qn qna ON qna.vec_id = q_id
                    JOIN qn qnb ON qnb.vec_id = n_id)
        SELECT q_id, rank, n_id, round(qcos, 4) AS qcos
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ------------------------------------------- two-stage rerank ANN
    // The production serving shape: a cheap compressed-domain pass
    // (int8 quantized cosine, exact integer arithmetic → deterministic
    // candidate set) keeps the top-20 per query, then ONLY those
    // candidates fetch their full vectors for an exact-cosine rerank to
    // top-3. At 100 TB stage 1 reads the 4×-compressed codes for the
    // whole corpus while stage 2 touches 20 full vectors per query —
    // the full-precision column is never scanned corpus-wide.
    "q_sim_rerank" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val all = vecs(s, d)
        val quant = all.select(col("vec_id"), col("v"))
          .as[(Long, Array[Double])]
          .map { case (id, v) =>
            var m = 0.0
            v.foreach(x => { val a = math.abs(x); if (a > m) m = a })
            val scale = if (m == 0.0) 0.0 else 127.0 / m
            (id, v.map(x => math.floor(x * scale + 0.5).toLong))
          }
          .toDF("vec_id", "q")
        val cand = broadcast(quant.filter(col("vec_id") < 10)).as("a")
          .join(quant.as("c"), col("a.vec_id") =!= col("c.vec_id"))
          .select(col("a.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            expr("graft_qcos(a.q, c.q)").as("qcos"))
          .withColumn("crank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("qcos").desc, col("n_id"))))
          .filter(col("crank") <= 20)
          .select("q_id", "n_id")
        cand
          .join(all.as("c"), col("n_id") === col("c.vec_id"))
          .join(broadcast(all.filter(col("vec_id") < 10)).as("q"),
            col("q_id") === col("q.vec_id"))
          .select(col("q_id"), col("n_id"), cosExpr.as("cosine"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cosine").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("n_id"),
            round(col("cosine"), 4).as("cosine"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        ma AS (SELECT vec_id, max(abs(x)) AS m FROM u GROUP BY vec_id),
        q AS (SELECT u.vec_id AS vec_id, u.i AS i,
                     floor(u.x * (127.0::DOUBLE / ma.m) + 0.5)::BIGINT AS qx
              FROM u JOIN ma ON ma.vec_id = u.vec_id),
        qn AS (SELECT vec_id, sum(qx*qx) AS qn FROM q GROUP BY vec_id),
        qdots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         sum(a.qx*b.qx) AS qdot
                  FROM q a JOIN q b ON b.i = a.i AND b.vec_id <> a.vec_id
                  WHERE a.vec_id < 10
                  GROUP BY 1, 2),
        cand AS (SELECT q_id, n_id FROM (
                   SELECT q_id, n_id,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY qdot::DOUBLE
                                     / (sqrt(qna.qn::DOUBLE)
                                        * sqrt(qnb.qn::DOUBLE)) DESC,
                                     n_id) AS crank
                   FROM qdots JOIN qn qna ON qna.vec_id = q_id
                              JOIN qn qnb ON qnb.vec_id = n_id)
                 WHERE crank <= 20),
        dots AS (SELECT cand.q_id AS q_id, cand.n_id AS n_id,
                        sum(a.x*b.x) AS dot
                 FROM cand JOIN u a ON a.vec_id = cand.q_id
                           JOIN u b ON b.vec_id = cand.n_id AND b.i = a.i
                 GROUP BY 1, 2),
        ranked AS (
          SELECT q_id, n_id, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, rank, n_id, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // --------------------------------- binary (sign) quantization ANN
    // The compression tier below PQ: each 64-dim vector keeps ONE sign
    // bit per coordinate — 8 bytes instead of 256 (f32), a 32×
    // reduction — packed into two 32-bit words held in Longs. Stage 1
    // ranks the corpus by Hamming distance (XOR + popcount, pure
    // integer → deterministic, and for mean-centered data Hamming is
    // a monotone proxy of angular distance); stage 2 reranks the
    // top-20 survivors by exact cosine. At 100 TB stage 1 scans
    // 8-byte codes corpus-wide inside whole-stage codegen while the
    // full-precision column is fetched for 20 rows per query — the
    // same never-scan-wide-columns shape as q_sim_rerank one tier
    // cheaper. Packing is map-side (transform + OR-fold, codegen'd);
    // the only shuffles are the broadcast-probe top-k windows.
    "q_sim_binary_hamming" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d)
        // two 32-bit words, not one 64-bit: bit 63 would force
        // sign-bit arithmetic through shiftleft(1L, 63) = MinValue on
        // the Spark side and an out-of-range 1<<63 on the oracle side
        val sig = all.select(col("vec_id"),
          expr("""aggregate(
                    transform(v, (x, i) ->
                      IF(x > 0D AND i < 32, shiftleft(1L, i), 0L)),
                    0L, (a, b) -> a | b)""").as("w0"),
          expr("""aggregate(
                    transform(v, (x, i) ->
                      IF(x > 0D AND i >= 32, shiftleft(1L, i - 32), 0L)),
                    0L, (a, b) -> a | b)""").as("w1"))
        val cand = broadcast(sig.filter(col("vec_id") < 10)).as("a")
          .join(sig.as("c"), col("a.vec_id") =!= col("c.vec_id"))
          .select(col("a.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            (bit_count(col("a.w0").bitwiseXOR(col("c.w0"))) +
              bit_count(col("a.w1").bitwiseXOR(col("c.w1"))))
              .cast("long").as("hamming"))
          .withColumn("crank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("hamming"), col("n_id"))))
          .filter(col("crank") <= 20)
          .select("q_id", "n_id", "hamming")
        cand
          .join(all.as("c"), col("n_id") === col("c.vec_id"))
          .join(broadcast(all.filter(col("vec_id") < 10)).as("q"),
            col("q_id") === col("q.vec_id"))
          .select(col("q_id"), col("n_id"), col("hamming"),
            cosExpr.as("cosine"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("cosine").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("n_id"), col("hamming"),
            round(col("cosine"), 4).as("cosine"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        sig AS (SELECT vec_id,
                  CAST(sum(CASE WHEN x > 0 AND i <= 32
                           THEN (1::BIGINT << (i - 1)) ELSE 0 END)
                       AS BIGINT) AS w0,
                  CAST(sum(CASE WHEN x > 0 AND i > 32
                           THEN (1::BIGINT << (i - 33)) ELSE 0 END)
                       AS BIGINT) AS w1
                FROM u GROUP BY vec_id),
        hd AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                      CAST(bit_count(xor(a.w0, b.w0)) AS BIGINT)
                      + CAST(bit_count(xor(a.w1, b.w1)) AS BIGINT)
                        AS hamming
               FROM sig a JOIN sig b ON b.vec_id <> a.vec_id
               WHERE a.vec_id < 10),
        cand AS (SELECT q_id, n_id, hamming FROM (
                   SELECT q_id, n_id, hamming,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY hamming, n_id) AS crank
                   FROM hd)
                 WHERE crank <= 20),
        dots AS (SELECT cand.q_id AS q_id, cand.n_id AS n_id,
                        min(cand.hamming) AS hamming, sum(a.x*b.x) AS dot
                 FROM cand JOIN u a ON a.vec_id = cand.q_id
                           JOIN u b ON b.vec_id = cand.n_id AND b.i = a.i
                 GROUP BY 1, 2),
        ranked AS (
          SELECT q_id, n_id, hamming, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, rank, n_id, hamming, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ------------------------------------- product quantization + ADC
    // The vector-DB compression tier below int8: vectors factor into 8
    // subspaces of 8 dims, each encoded as its nearest per-label
    // centroid (the codebook) — 8 small codes per vector instead of 64
    // floats. Queries score candidates by Asymmetric Distance
    // Computation: a per-(query, subspace, centroid) lookup table of
    // partial dots, so scoring a candidate is 8 table lookups + adds,
    // never a full dot product. Codebook entries, encodings, and ADC
    // sums all live on a 1e-6 integer grid (Long arithmetic), so code
    // assignment and ranking are bit-identical across engines.
    // Scale shape: the codebook is tiny (labels × 64) and broadcast;
    // encoding is map-side; scoring joins the (tiny) query tables
    // against codes — candidates never ship their vectors.
    "q_sim_pq_adc" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val all = vecs(s, d)
        // codebook = integer mean of pre-quantized coordinates: quantize
        // each x to the grid FIRST, then sum-div as Longs — a float avg
        // quantized after the fact would inherit the engine's summation
        // order at the grid boundary (the ulp hazard the grid exists to
        // kill). Both engines truncate integer division toward zero.
        val centRows = all
          .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
          .select(col("label"), col("i"),
            expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)").as("xq"))
          .groupBy("label", "i")
          .agg(expr("sum(xq) div count(1)").as("cq"))
          .collect()
        val labels = centRows.map(_.getInt(0)).distinct.sorted
        val centOf: Map[Int, Array[Long]] = centRows.groupBy(_.getInt(0))
          .map { case (l, rows) =>
            val arr = new Array[Long](64)
            rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
            l -> arr
          }
        val quantized = all.select(col("vec_id"), col("v"))
          .as[(Long, Array[Double])]
          .map { case (id, v) =>
            (id, v.map(x => math.floor(x * 1e6 + 0.5).toLong))
          }
        // encode: nearest centroid per subspace by integer L2; labels
        // iterate ascending with a strict <, so ties pick the smallest
        val codes = quantized.flatMap { case (id, xq) =>
          (0 until 8).map { sub =>
            var bestL = -1
            var bestD = Long.MaxValue
            labels.foreach { l =>
              val c = centOf(l)
              var d2 = 0L
              var k = 0
              while (k < 8) {
                val diff = xq(sub * 8 + k) - c(sub * 8 + k)
                d2 += diff * diff
                k += 1
              }
              if (d2 < bestD) { bestD = d2; bestL = l }
            }
            (id, sub, bestL)
          }
        }.toDF("vec_id", "sub", "code")
        // ADC lookup tables for the query batch
        val qtab = quantized.filter(_._1 < 10).flatMap { case (qid, xq) =>
          for { sub <- 0 until 8; l <- labels } yield {
            val c = centOf(l)
            var t = 0L
            var k = 0
            while (k < 8) { t += xq(sub * 8 + k) * c(sub * 8 + k); k += 1 }
            (qid, sub, l, t)
          }
        }.toDF("q_id", "qsub", "c_label", "t")
        codes.join(broadcast(qtab),
            col("sub") === col("qsub") && col("code") === col("c_label") &&
              col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id").as("n_id"))
          .agg(sum(col("t")).as("score"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("score").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("n_id"),
            expr("floor(score / 1e12 * 1e4 + 5e-1) / 1e4")
              .as("approx_dot"))
          .orderBy("q_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        xq AS (SELECT vec_id, i, floor(x * 1000000.0 + 0.5)::BIGINT AS xq
               FROM u),
        cent AS (SELECT label AS c_label, i,
                        sum(floor(x * 1000000.0 + 0.5)::BIGINT) // count(*)
                          AS cq
                 FROM u GROUP BY label, i),
        dist AS (SELECT xq.vec_id AS vec_id, (xq.i - 1) // 8 AS sub,
                        cent.c_label AS c_label,
                        sum((xq.xq - cent.cq) * (xq.xq - cent.cq)) AS d2
                 FROM xq JOIN cent ON cent.i = xq.i
                 GROUP BY 1, 2, 3),
        codes AS (SELECT vec_id, sub, c_label AS code FROM (
                    SELECT vec_id, sub, c_label,
                           row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2, c_label) AS rn
                    FROM dist) WHERE rn = 1),
        qtab AS (SELECT xq.vec_id AS q_id, (xq.i - 1) // 8 AS sub,
                        cent.c_label AS c_label, sum(xq.xq * cent.cq) AS t
                 FROM xq JOIN cent ON cent.i = xq.i
                 WHERE xq.vec_id < 10
                 GROUP BY 1, 2, 3),
        scores AS (SELECT qtab.q_id AS q_id, codes.vec_id AS n_id,
                          sum(qtab.t) AS score
                   FROM codes JOIN qtab
                     ON qtab.sub = codes.sub AND qtab.c_label = codes.code
                   WHERE codes.vec_id <> qtab.q_id
                   GROUP BY 1, 2),
        ranked AS (SELECT q_id, n_id, score,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, n_id) AS rank
                   FROM scores)
        SELECT q_id, rank, n_id,
               -- e-notation literals: DuckDB parses 10000.0 as DECIMAL,
               -- which would silently switch the arithmetic (and the
               -- result dtype) off IEEE doubles
               floor(score / 1e12 * 1e4 + 5e-1) / 1e4 AS approx_dot
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // -------------------------------------------------- IVF-PQ composite
    // The canonical billion-scale index shape (FAISS IVFPQ): a coarse
    // quantizer routes each vector to its nearest centroid's inverted
    // list, the RESIDUAL (vector − centroid) is product-quantized with
    // per-(list, subspace) codebooks, and search scores candidates by
    // integer ADC: ⟨q, x̂⟩ = ⟨q, c_list⟩ + Σ_sub ⟨q_sub, code_vec⟩. At
    // 100 TB: lists ≙ partitions (probe = partition pruning), codes are
    // 8 bytes/vector, and the ADC tables are a 320-row broadcast. Every
    // quantity lives on the 1e-6 integer grid (codebook means are
    // integer sum-div), so scores are exact Longs — the oracle compare
    // has no FP margin anywhere. Codebook structure: 4 deterministic
    // codes per (list, subspace), membership keyed by vec_id % 4.
    "q_sim_ivfpq" -> GraftQuery(
      // The materialized top-3 table is the session's INDEX-SEARCH
      // artifact (≤ 3·queries local rows): q_sim_ivfpq_recall re-invokes
      // this query to compare against brute force, and without the memo
      // it paid the whole index build again. Working caches inside the
      // build are still released per run (CacheHygieneSpec).
      run = (s, d) =>
        graft.StoreBuilds.cached(s, d, "sim_ivfpq_index")(ivfpqBuild(s, d)),
      oracle = Some(s"""
        WITH $unnestCte,
        $ivfpqCtes
        SELECT q_id, rank, n_id, approx_dot
        FROM rk WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ----------------------------------------------- IVF-PQ recall@3
    // The compression loss, measured: overlap of the IVF-PQ top-3 with
    // the exact brute-force top-3 per query. Approximation quality is a
    // MEASURED number here, never an assumption — same discipline as
    // q_sim_recall for IVF/LSH. On the synthetic near-random embeddings
    // the nprobe=1 COARSE routing is the binding constraint (q_sim_recall
    // measures the same ceiling for exact-scored IVF); the PQ stage adds
    // ~no further loss at that ceiling. nprobe and codes/subspace are the
    // recall knobs, exactly as in the un-quantized IVF pair.
    "q_sim_ivfpq_recall" -> GraftQuery(
      run = (s, d) => {
        val b = queries("q_sim_knn_brute").run(s, d)
          .filter(col("rank") <= 3).select(col("q_id"), col("n_id"))
        val p = queries("q_sim_ivfpq").run(s, d)
          .select(col("q_id"), col("n_id"))
        b.groupBy("q_id").agg(count(lit(1)).as("brute_k"))
          .join(
            b.join(p, Seq("q_id", "n_id")).groupBy("q_id")
              .agg(count(lit(1)).as("ivfpq_hits")),
            Seq("q_id"), "left")
          .select(col("q_id"), col("brute_k"),
            coalesce(col("ivfpq_hits"), lit(0L)).as("ivfpq_hits"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        $ivfpqCtes,
        bdots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                         sum(a.x*b.x) AS dot
                  FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10 GROUP BY 1, 2),
        btop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM bdots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        pqtop AS (SELECT q_id, n_id FROM rk WHERE rank <= 3),
        hits AS (SELECT btop.q_id AS q_id, count(*) AS ivfpq_hits
                 FROM btop JOIN pqtop ON pqtop.q_id = btop.q_id
                                     AND pqtop.n_id = btop.n_id
                 GROUP BY 1)
        SELECT b.q_id AS q_id, count(*) AS brute_k,
               CAST(coalesce(min(h.ivfpq_hits), 0) AS BIGINT) AS ivfpq_hits
        FROM btop b LEFT JOIN hits h ON h.q_id = b.q_id
        GROUP BY b.q_id ORDER BY q_id""")),

    // -------------------------------------------- IVF multi-probe (nprobe=2)
    // The recall knob demonstrated: probing the 2 nearest centroids'
    // lists roughly doubles the scanned fraction and recovers strictly
    // more of the ground truth than single-probe.
    "q_sim_ivf_probe2" -> GraftQuery(
      run = (s, d) => ivfRun(s, d, nprobe = 2),
      oracle = Some(s"""
        WITH $unnestCte,
        cent AS (SELECT label AS c_label, i, avg(x) AS cx
                 FROM u GROUP BY label, i),
        centnrm AS (SELECT c_label, sqrt(sum(cx*cx)) AS c_nrm
                    FROM cent GROUP BY c_label),
        assign AS (
          SELECT q_id, c_label AS probe_label FROM (
            SELECT a.vec_id AS q_id, cent.c_label,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY sum(a.x*cent.cx)/(min(na.nrm)*min(cn.c_nrm)) DESC,
                              cent.c_label) AS crank
            FROM u a JOIN cent ON a.i = cent.i
                     JOIN nrm na ON na.vec_id = a.vec_id
                     JOIN centnrm cn ON cn.c_label = cent.c_label
            WHERE a.vec_id < 10
            GROUP BY a.vec_id, cent.c_label)
          WHERE crank <= 2),
        dots AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id,
                        sum(a.x*b.x) AS dot
                 FROM u a JOIN assign ON assign.q_id = a.vec_id
                          JOIN u b ON b.i = a.i AND b.label = assign.probe_label
                                      AND b.vec_id <> a.vec_id
                 GROUP BY a.vec_id, b.vec_id),
        ranked AS (
          SELECT q_id, n_id, dot/(na.nrm*nb.nrm) AS cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
        SELECT q_id, rank, n_id, round(cosine, 4) AS cosine
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ------------------------------------------ semantic dedup (SemDeDup)
    // Embedding-space near-dup removal (the SemDeDup shape: cluster the
    // corpus in embedding space, then drop within-cluster semantic
    // duplicates — redundancy lexical shingle dedup cannot see). The
    // clustering bounds the pairwise work exactly like LSH bands bound
    // the MinHash join: scoring never crosses cluster boundaries.
    //  - codebook: integer mean of grid-quantized coords per label
    //    (same deterministic construction as q_sim_pq_adc; at 100 TB the
    //    codebook comes from sampled k-means and is broadcast either way)
    //  - assignment: nearest centroid by exact integer L2 (ties → lowest
    //    label), so both engines place every vector identically
    //  - pair scores: graft_qcos (native codegen'd integer fold) over the
    //    quantized vectors — all inputs are exact integers < 2^53, so the
    //    cosine doubles are BIT-IDENTICAL across engines and the
    //    keep/drop threshold compare is exact, never FP-marginal
    // Output: one row per vector — cluster, count of lower-id near-dups
    // (cos ≥ 0.4), keep flag, max similarity to any lower-id cluster-mate
    // (−1 for the cluster's first member). Keep-lowest-id is the
    // deterministic canonical-document rule from the dedup pack.
    "q_dedup_semantic" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d).withColumn("vq",
          expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
        val comp = all.select(col("vec_id"),
          posexplode(col("vq")).as(Seq("i", "xq")))
        val cent = all.select(col("label"), posexplode(col("vq")).as(Seq("i", "xq")))
          .groupBy(col("label").as("c_label"), col("i"))
          .agg(expr("sum(xq) div count(1)").as("cq"))
        val assign = comp.join(broadcast(cent), Seq("i"))
          .groupBy(col("vec_id"), col("c_label"))
          .agg(sum(expr("(xq - cq) * (xq - cq)")).as("d2"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("c_label"))).as("m"))
          .select(col("vec_id"), col("m.c_label").as("list"))
        val m = all.join(assign, "vec_id")
          .select(col("vec_id"), col("list"), col("vq"))
        val sims = m.as("a").join(m.as("b"),
            col("a.list") === col("b.list") &&
              col("a.vec_id") > col("b.vec_id"))
          .select(col("a.vec_id").as("vec_id"),
            expr("graft_qcos(a.vq, b.vq)").as("cos"))
        val agg = sims.groupBy("vec_id")
          .agg(sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("n_close_prev"),
            max(col("cos")).as("max_cos"))
        assign.join(agg, Seq("vec_id"), "left")
          .select(col("vec_id"), col("list"),
            coalesce(col("n_close_prev"), lit(0L)).as("n_close_prev"),
            when(coalesce(col("n_close_prev"), lit(0L)) > 0, 0).otherwise(1)
              .as("keep"),
            // floor-based half-up rounding, NOT round(): Spark's round is
            // BigDecimal HALF_UP on the exact binary value while DuckDB
            // rounds via double multiply — the two disagree when a
            // (bit-identical) cosine lands near a 1e-4 midpoint. The floor
            // form is the same IEEE op sequence in both engines.
            expr("floor(coalesce(max_cos, -1e0) * 1e4 + 5e-1) / 1e4")
              .as("max_sim_prev"))
          .orderBy("vec_id")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        xq AS (SELECT vec_id, i, floor(x * 1000000.0 + 0.5)::BIGINT AS xq
               FROM u),
        cent AS (SELECT label AS c_label, i,
                        sum(floor(x * 1000000.0 + 0.5)::BIGINT) // count(*)
                          AS cq
                 FROM u GROUP BY label, i),
        asg AS (SELECT vec_id, c_label AS list FROM (
                  SELECT xq.vec_id, cent.c_label,
                         row_number() OVER (PARTITION BY xq.vec_id
                           ORDER BY sum((xq.xq - cent.cq)*(xq.xq - cent.cq)),
                                    cent.c_label) AS rn
                  FROM xq JOIN cent ON cent.i = xq.i
                  GROUP BY xq.vec_id, cent.c_label) WHERE rn = 1),
        sq AS (SELECT vec_id, sum(xq*xq) AS s2 FROM xq GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS vec_id, b.vec_id AS prev_id,
                        CAST(sum(a.xq*b.xq) AS DOUBLE) AS dot
                 FROM xq a JOIN asg aa ON aa.vec_id = a.vec_id
                           JOIN asg ab ON ab.list = aa.list
                           JOIN xq b ON b.vec_id = ab.vec_id AND b.i = a.i
                 WHERE a.vec_id > b.vec_id
                 GROUP BY 1, 2),
        sims AS (SELECT dots.vec_id AS vec_id,
                        dot / (sqrt(CAST(sa.s2 AS DOUBLE))
                               * sqrt(CAST(sb.s2 AS DOUBLE))) AS cos
                 FROM dots JOIN sq sa ON sa.vec_id = dots.vec_id
                           JOIN sq sb ON sb.vec_id = dots.prev_id),
        agg AS (SELECT vec_id,
                       CAST(sum(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_close_prev,
                       max(cos) AS max_cos
                FROM sims GROUP BY vec_id)
        SELECT asg.vec_id AS vec_id, asg.list AS list,
               coalesce(n_close_prev, CAST(0 AS BIGINT)) AS n_close_prev,
               CASE WHEN coalesce(n_close_prev, CAST(0 AS BIGINT)) > 0
                    THEN 0 ELSE 1 END AS keep,
               floor(coalesce(max_cos, -1e0) * 1e4 + 5e-1) / 1e4
                 AS max_sim_prev
        FROM asg LEFT JOIN agg ON agg.vec_id = asg.vec_id
        ORDER BY asg.vec_id""")),

    // --------------------------------- hard-negative mining
    // Contrastive-training data prep: for each anchor vector, the
    // hardest negatives are the most-similar vectors of a DIFFERENT
    // label — the examples a contrastive loss learns most from
    // (easy negatives contribute ~zero gradient). Top-3 cross-label
    // neighbors per anchor on the 1e-6 integer grid (bit-identical
    // cosines in both engines), anchors broadcast, ties → lowest id.
    // At 100 TB the anchor set is a sampled minibatch stream and the
    // candidate side routes through the IVF lists exactly like
    // q_sim_ivf_topk — the per-pair scoring shape is unchanged.
    "q_sim_hard_negatives" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d).withColumn("vq",
          expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
          .select(col("vec_id"), col("label"), col("vq"))
        val anchors = broadcast(all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("a_id"), col("label").as("a_label"),
            col("vq").as("aq")))
        anchors.join(all.as("c"), col("label") =!= col("a_label"))
          .select(col("a_id"), col("vec_id").as("n_id"),
            expr("graft_qcos(aq, vq)").as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("a_id")
              .orderBy(col("cos").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("a_id"), col("rank"), col("n_id"),
            expr("floor(cos * 1e4 + 5e-1) / 1e4").as("cos"))
          .orderBy("a_id", "rank")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        xq AS (SELECT vec_id, label, i,
                      CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS xq
               FROM u),
        sq AS (SELECT vec_id, sum(xq*xq) AS s2 FROM xq GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS a_id, b.vec_id AS n_id,
                        CAST(sum(a.xq * b.xq) AS DOUBLE) AS dot
                 FROM xq a JOIN xq b ON b.i = a.i AND b.label <> a.label
                 WHERE a.vec_id < 10 GROUP BY 1, 2),
        cosv AS (SELECT a_id, n_id,
                        dot / (sqrt(CAST(sa.s2 AS DOUBLE))
                               * sqrt(CAST(sb.s2 AS DOUBLE))) AS cos
                 FROM dots JOIN sq sa ON sa.vec_id = a_id
                           JOIN sq sb ON sb.vec_id = n_id),
        ranked AS (SELECT a_id, n_id, cos,
                          CAST(row_number() OVER (PARTITION BY a_id
                            ORDER BY cos DESC, n_id) AS INT) AS rank
                   FROM cosv)
        SELECT a_id, rank, n_id,
               floor(cos * 1e4 + 5e-1) / 1e4 AS cos
        FROM ranked WHERE rank <= 3 ORDER BY a_id, rank""")),

    // --------------------------------- hybrid retrieval (RRF fusion)
    // Reciprocal-rank fusion of a SPARSE (lexical BM25 via the shared
    // [[TextAnalysis.bm25Top10]] leg — one explicit corpus scan,
    // the same code q_text_bm25 runs so the retrievers cannot
    // drift) and a DENSE
    // (quantized-cosine top-k against document 0's embedding) ranking —
    // the standard hybrid-search shape for RAG/retrieval pipelines.
    // Each leg is a top-10 via TakeOrderedAndProject (no global window
    // over the corpus); rank assignment runs over ≤10 rows. Fusion is
    // pure integer arithmetic (1e6 div (60 + rank)) so the oracle is an
    // exact hash match. Docs appearing in only one leg contribute one
    // reciprocal term — the canonical RRF treatment.
    "q_sim_hybrid_rrf" -> GraftQuery(
      run = (s, d) => {
        val sparse = TextAnalysis.bm25Top10(s, d)
          .select(col("doc_id"), col("bm25_micro"))
          .withColumn("s_rank", row_number().over(
            Window.orderBy(col("bm25_micro").desc, col("doc_id"))))
          .select(col("doc_id"), col("s_rank"))
        val all = vecs(s, d).withColumn("vq",
          expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
        val qv = all.filter(col("vec_id") === 0).select(col("vq").as("qv"))
        val dense = all.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            expr("graft_qcos(vq, qv)").as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(10)
          .withColumn("d_rank", row_number().over(
            Window.orderBy(col("cos").desc, col("doc_id"))))
          .select(col("doc_id"), col("d_rank"))
        sparse.join(dense, Seq("doc_id"), "outer")
          .select(col("doc_id"), col("s_rank"), col("d_rank"),
            (coalesce(expr("1000000 div (60 + s_rank)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + d_rank)"), lit(0L)))
              .as("rrf_micro"))
          .orderBy(col("rrf_micro").desc, col("doc_id"))
      },
      oracle = Some(s"""
        WITH $unnestCte,
        words AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
        posts AS (SELECT doc_id, w FROM words
                  WHERE w IN ('spark', 'join', 'hash')),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM posts GROUP BY 1, 2),
        df AS (SELECT w, count(DISTINCT doc_id) AS df FROM posts GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs,
                         (1000 * sum(dl)) // count(*) AS avgdl_milli
                  FROM dl),
        scored AS (
          SELECT tf.doc_id,
                 ((1000000 * n_docs) // df.df) *
                 ((tf.tf * 2200 * 1000000) //
                  (tf.tf * 1000 +
                   (1200 * (250 + (750 * ((dl.dl * 1000000) // avgdl_milli))
                            // 1000)) // 1000)) // 1000000 AS term_score
          FROM tf JOIN df ON df.w = tf.w
                  JOIN dl ON dl.doc_id = tf.doc_id
                  CROSS JOIN stats),
        bm AS (SELECT doc_id, sum(term_score) AS bm25_micro
               FROM scored GROUP BY doc_id
               ORDER BY bm25_micro DESC, doc_id LIMIT 10),
        sparse AS (SELECT doc_id,
                          CAST(row_number() OVER (
                            ORDER BY bm25_micro DESC, doc_id) AS INT)
                            AS s_rank
                   FROM bm),
        xq AS (SELECT vec_id, i,
                      CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS xq
               FROM u),
        sq AS (SELECT vec_id, sum(xq*xq) AS s2 FROM xq GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS doc_id,
                        CAST(sum(a.xq * b.xq) AS DOUBLE) AS dot
                 FROM xq a JOIN xq b ON b.i = a.i AND b.vec_id = 0
                 WHERE a.vec_id <> 0 GROUP BY 1),
        cosv AS (SELECT dots.doc_id,
                        dot / (sqrt(CAST(sa.s2 AS DOUBLE))
                               * sqrt(CAST(sb.s2 AS DOUBLE))) AS cos
                 FROM dots JOIN sq sa ON sa.vec_id = dots.doc_id
                           JOIN sq sb ON sb.vec_id = 0),
        dtop AS (SELECT doc_id, cos FROM cosv
                 ORDER BY cos DESC, doc_id LIMIT 10),
        dense AS (SELECT doc_id,
                         CAST(row_number() OVER (
                           ORDER BY cos DESC, doc_id) AS INT) AS d_rank
                  FROM dtop)
        SELECT coalesce(sparse.doc_id, dense.doc_id) AS doc_id,
               s_rank, d_rank,
               CAST(coalesce(1000000 // (60 + s_rank), 0) +
                    coalesce(1000000 // (60 + d_rank), 0) AS BIGINT)
                 AS rrf_micro
        FROM sparse FULL OUTER JOIN dense ON dense.doc_id = sparse.doc_id
        ORDER BY rrf_micro DESC, doc_id""")),

    // ------------------------------- incremental IVF index maintenance
    // The ANN twin of q_dedup_incremental: a NEW vector batch
    // (vec_id % 5 = 4 — today's arrivals) is routed into an EXISTING
    // index whose centroids were built from the corpus alone. The
    // corpus is touched only for the (aggregated) per-list sizes; the
    // batch meets the centroid table through a BROADCAST — maintenance
    // is O(batch) per day, never a full index rebuild. Output = per-
    // list growth plus a needs_rebalance flag (arrivals > 20% of the
    // list), the signal that schedules centroid re-training for
    // drifting lists. At 100 TB lists are partitions and this query is
    // the nightly index-health report.
    "q_sim_ivf_incremental" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d)
        val corpus = all.filter(col("vec_id") % 5 =!= 4)
        val batch = all.filter(col("vec_id") % 5 === 4)
        val cent = corpus
          .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("label").as("c_label"), col("i"))
          .agg(avg(col("x")).as("cx"))
        val centNrm = cent.groupBy("c_label")
          .agg(expr("sqrt(sum(cx*cx))").as("c_nrm"))
        val assign = batch
          .select(col("vec_id"), col("nrm"),
            posexplode(col("v")).as(Seq("i", "x")))
          .join(broadcast(cent), "i")
          .groupBy(col("vec_id"), col("c_label"))
          .agg(sum(col("x") * col("cx")).as("dot"),
            first(col("nrm")).as("v_nrm"))
          .join(broadcast(centNrm), "c_label")
          .withColumn("ccos", col("dot") / (col("v_nrm") * col("c_nrm")))
          .withColumn("crank", row_number().over(
            Window.partitionBy("vec_id")
              .orderBy(col("ccos").desc, col("c_label"))))
          .filter(col("crank") === 1)
          .select(col("vec_id"), col("c_label"))
        val oldSizes = corpus.groupBy(col("label").as("c_label"))
          .agg(count(lit(1)).as("old_size"))
        val arrivals = assign.groupBy("c_label")
          .agg(count(lit(1)).as("n_new"))
        oldSizes.join(arrivals, Seq("c_label"), "left")
          .select(col("c_label").as("list"), col("old_size"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("growth_ppm", expr("n_new * 1000000 div old_size"))
          .withColumn("needs_rebalance",
            (col("growth_ppm") > 200000L).cast("int"))
          .orderBy("list")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        cu AS (SELECT * FROM u WHERE vec_id % 5 <> 4),
        bu AS (SELECT * FROM u WHERE vec_id % 5 = 4),
        cent AS (SELECT label AS c_label, i, avg(x) AS cx
                 FROM cu GROUP BY 1, 2),
        centnrm AS (SELECT c_label, sqrt(sum(cx*cx)) AS c_nrm
                    FROM cent GROUP BY 1),
        assign AS (
          SELECT vec_id, c_label FROM (
            SELECT b.vec_id AS vec_id, cent.c_label,
                   row_number() OVER (PARTITION BY b.vec_id
                     ORDER BY sum(b.x*cent.cx)/(min(nb.nrm)*min(cn.c_nrm))
                              DESC, cent.c_label) AS crank
            FROM bu b JOIN cent ON cent.i = b.i
                      JOIN nrm nb ON nb.vec_id = b.vec_id
                      JOIN centnrm cn ON cn.c_label = cent.c_label
            GROUP BY b.vec_id, cent.c_label)
          WHERE crank = 1),
        old AS (SELECT label AS c_label, count(DISTINCT vec_id) AS old_size
                FROM cu GROUP BY 1),
        arr AS (SELECT c_label, count(*) AS n_new FROM assign GROUP BY 1)
        SELECT old.c_label AS list,
               CAST(old_size AS BIGINT) AS old_size,
               CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
               CAST(coalesce(n_new, 0) * 1000000 // old_size AS BIGINT)
                 AS growth_ppm,
               CAST(CASE WHEN coalesce(n_new, 0) * 1000000 // old_size
                              > 200000 THEN 1 ELSE 0 END AS INT)
                 AS needs_rebalance
        FROM old LEFT JOIN arr ON arr.c_label = old.c_label
        ORDER BY list""")),

    // ---------------------------- durable IVF-assignment store (resume)
    // The vector index as an ON-DISK artifact: q_sim_ivf_incremental
    // measures the in-plan O(batch) admission math; this persists the
    // assignments through [[ivfAssignResumable]] — the query itself
    // indexes the corpus in TWO increments (the 80% "existing" corpus,
    // then everything) through one store, and the oracle's from-scratch
    // assignment must equal the result, proving increment-independence
    // on every run. Output = the per-list index-health profile.
    "q_sim_index_store" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d).select(col("vec_id"), col("label"), col("v"))
        val store = ivfStorePath(s, d)
        ivfAssignResumable(s, all,
          all.filter(col("vec_id") % 5 =!= 4), store)
        ivfIndexProfile(ivfAssignResumable(s, all, all, store))
      },
      oracle = Some(s"""
        WITH $unnestCte,
        xq AS (SELECT vec_id, i, floor(x * 1000000.0 + 0.5)::BIGINT AS xq
               FROM u),
        cent AS (SELECT label AS c_label, i,
                        sum(floor(x * 1000000.0 + 0.5)::BIGINT) // count(*)
                          AS cq
                 FROM u GROUP BY label, i),
        asg AS (SELECT vec_id, c_label AS list FROM (
                  SELECT xq.vec_id, cent.c_label,
                         row_number() OVER (PARTITION BY xq.vec_id
                           ORDER BY sum((xq.xq - cent.cq)*(xq.xq - cent.cq)),
                                    cent.c_label) AS rn
                  FROM xq JOIN cent ON cent.i = xq.i
                  GROUP BY xq.vec_id, cent.c_label) WHERE rn = 1)
        SELECT list, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(vec_id) AS BIGINT) AS min_vec,
               CAST(max(vec_id) AS BIGINT) AS max_vec
        FROM asg GROUP BY list ORDER BY list""")),

    // ------------------------------------- measured rank quality (MRR/NDCG)
    // Beyond set-overlap recall: POSITION-aware retrieval quality of the
    // IVF tier — reciprocal rank of the first relevant hit and NDCG@3
    // with graded relevance (brute-force rank r in the top-5 ⇒ gain
    // 6−r). The log₂ position discounts are embedded as PRE-COMPUTED
    // integer micro-weights (⌊10⁶/log₂(p+1)⌋ = 1000000, 630929, 500000)
    // in both engines: no libm call ever reaches the scoring, so the
    // metric is exact integer arithmetic and hash-checks. IDCG is the
    // constant ideal 5·w₁+4·w₂+3·w₃ = 9 023 716 (the brute top-5 always
    // exists), making NDCG a pure integer ratio. The retrieval-eval
    // harness shape every RAG/embedding pipeline needs next to recall.
    "q_sim_eval_rank" -> GraftQuery(
      run = (s, d) => {
        val brute = queries("q_sim_knn_brute").run(s, d)
          .select(col("q_id"), col("n_id"), col("rank").as("brute_rank"))
        val ivf = queries("q_sim_ivf_topk").run(s, d)
          .select(col("q_id"), col("rank"), col("n_id"))
        ivf.join(brute, Seq("q_id", "n_id"), "left")
          .select(col("q_id"), col("rank"),
            coalesce(lit(6) - col("brute_rank"), lit(0)).as("rel"))
          .groupBy("q_id")
          .agg(
            expr("CAST(coalesce(max(CASE WHEN rel > 0 " +
              "THEN 1000000 div rank END), 0) AS BIGINT)").as("rr_micro"),
            expr("CAST(sum(rel * CASE rank WHEN 1 THEN 1000000 " +
              "WHEN 2 THEN 630929 ELSE 500000 END) AS BIGINT)")
              .as("dcg_micro"),
            expr("CAST((sum(rel * CASE rank WHEN 1 THEN 1000000 " +
              "WHEN 2 THEN 630929 ELSE 500000 END) * 1000000) " +
              "div 9023716 AS BIGINT)").as("ndcg_ppm"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        bdots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                  FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10 GROUP BY 1, 2),
        brk AS (SELECT q_id, n_id, rank FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM bdots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 5),
        cent AS (SELECT label AS c_label, i, avg(x) AS cx
                 FROM u GROUP BY label, i),
        centnrm AS (SELECT c_label, sqrt(sum(cx*cx)) AS c_nrm
                    FROM cent GROUP BY c_label),
        assign AS (
          SELECT q_id, c_label AS probe_label FROM (
            SELECT a.vec_id AS q_id, cent.c_label,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY sum(a.x*cent.cx)/(min(na.nrm)*min(cn.c_nrm)) DESC,
                              cent.c_label) AS crank
            FROM u a JOIN cent ON a.i = cent.i
                     JOIN nrm na ON na.vec_id = a.vec_id
                     JOIN centnrm cn ON cn.c_label = cent.c_label
            WHERE a.vec_id < 10
            GROUP BY a.vec_id, cent.c_label)
          WHERE crank = 1),
        idots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                  FROM u a JOIN assign ON assign.q_id = a.vec_id
                           JOIN u b ON b.i = a.i AND b.label = assign.probe_label
                                       AND b.vec_id <> a.vec_id
                  GROUP BY 1, 2),
        irk AS (SELECT q_id, n_id, rank FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM idots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        g AS (SELECT i.q_id AS q_id, i.rank AS rank,
                     coalesce(6 - b.rank, 0) AS rel
              FROM irk i LEFT JOIN brk b
                ON b.q_id = i.q_id AND b.n_id = i.n_id)
        SELECT q_id,
               CAST(coalesce(max(CASE WHEN rel > 0
                 THEN 1000000 // rank END), 0) AS BIGINT) AS rr_micro,
               CAST(sum(rel * CASE rank WHEN 1 THEN 1000000
                 WHEN 2 THEN 630929 ELSE 500000 END) AS BIGINT)
                 AS dcg_micro,
               CAST((sum(rel * CASE rank WHEN 1 THEN 1000000
                 WHEN 2 THEN 630929 ELSE 500000 END) * 1000000)
                 // 9023716 AS BIGINT) AS ndcg_ppm
        FROM g GROUP BY q_id ORDER BY q_id""")),

    // ----------------------------------------------- measured ANN recall
    // Recall@3 of the IVF and LSH tiers against the brute-force ground
    // truth — ANN quality is measured, not assumed. Composes the three
    // sibling pipelines (resolved lazily from the registry at run time).
    // On this synthetic corpus the numbers are intentionally honest and
    // low: the vectors are near-orthogonal random draws (max pairwise
    // cosine ≈ 0.5), so "nearest neighbors" are noise and single-probe
    // partitions can't recover them. On clustered real embeddings the
    // same pipelines recover structure; the tuning knobs are nprobe > 1
    // (IVF) and more/multi-probed hyperplanes (LSH).
    "q_sim_recall" -> GraftQuery(
      run = (s, d) => {
        val b = queries("q_sim_knn_brute").run(s, d)
          .filter(col("rank") <= 3).select(col("q_id"), col("n_id"))
        val l = queries("q_sim_lsh_bucket").run(s, d)
          .select(col("q_id"), col("n_id"))
        val i = queries("q_sim_ivf_topk").run(s, d)
          .select(col("q_id"), col("n_id"))
        val base = b.groupBy("q_id").agg(count(lit(1)).as("brute_k"))
        val lh = b.join(l, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("lsh_hits"))
        val ih = b.join(i, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("ivf_hits"))
        base.join(lh, Seq("q_id"), "left").join(ih, Seq("q_id"), "left")
          .select(col("q_id"), col("brute_k"),
            coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
            coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        bdots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                  FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
                  WHERE a.vec_id < 10 GROUP BY 1, 2),
        btop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM bdots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        cent AS (SELECT label AS c_label, i, avg(x) AS cx
                 FROM u GROUP BY label, i),
        centnrm AS (SELECT c_label, sqrt(sum(cx*cx)) AS c_nrm
                    FROM cent GROUP BY c_label),
        assign AS (
          SELECT q_id, c_label AS probe_label FROM (
            SELECT a.vec_id AS q_id, cent.c_label,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY sum(a.x*cent.cx)/(min(na.nrm)*min(cn.c_nrm)) DESC,
                              cent.c_label) AS crank
            FROM u a JOIN cent ON a.i = cent.i
                     JOIN nrm na ON na.vec_id = a.vec_id
                     JOIN centnrm cn ON cn.c_label = cent.c_label
            WHERE a.vec_id < 10
            GROUP BY a.vec_id, cent.c_label)
          WHERE crank = 1),
        idots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                  FROM u a JOIN assign ON assign.q_id = a.vec_id
                           JOIN u b ON b.i = a.i AND b.label = assign.probe_label
                                       AND b.vec_id <> a.vec_id
                  GROUP BY 1, 2),
        itop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM idots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        planes AS (SELECT j, i,
                          CASE WHEN ('0x'||substr(md5(j::VARCHAR || '_' || i::VARCHAR),1,8))::BIGINT % 2 = 0
                               THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS p
                   FROM generate_series(0,7) tj(j), generate_series(0,63) ti(i)),
        sig AS (SELECT vec_id,
                       sum(CASE WHEN s > 0 THEN (1 << j) ELSE 0 END) AS bucket
                FROM (SELECT u.vec_id AS vec_id, planes.j AS j,
                             sum(floor(u.x * 1000000.0 + 0.5)::BIGINT *
                                 CASE WHEN planes.p > 0 THEN 1 ELSE -1 END) AS s
                      FROM u JOIN planes ON planes.i = u.i - 1
                      GROUP BY u.vec_id, planes.j)
                GROUP BY vec_id),
        ldots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x*b.x) AS dot
                  FROM u a JOIN sig sa ON sa.vec_id = a.vec_id
                           JOIN sig sb ON sb.bucket = sa.bucket
                           JOIN u b ON b.vec_id = sb.vec_id AND b.i = a.i
                                       AND b.vec_id <> a.vec_id
                  WHERE a.vec_id < 10
                  GROUP BY 1, 2),
        ltop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM ldots JOIN nrm na ON na.vec_id = q_id
                     JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        base AS (SELECT q_id, count(*) AS brute_k FROM btop GROUP BY q_id),
        lh AS (SELECT b.q_id AS q_id, count(*) AS lsh_hits FROM btop b
               JOIN ltop l ON l.q_id = b.q_id AND l.n_id = b.n_id GROUP BY 1),
        ih AS (SELECT b.q_id AS q_id, count(*) AS ivf_hits FROM btop b
               JOIN itop i ON i.q_id = b.q_id AND i.n_id = b.n_id GROUP BY 1)
        SELECT base.q_id, brute_k,
               coalesce(lsh_hits, 0) AS lsh_hits,
               coalesce(ivf_hits, 0) AS ivf_hits
        FROM base LEFT JOIN lh ON lh.q_id = base.q_id
                  LEFT JOIN ih ON ih.q_id = base.q_id
        ORDER BY base.q_id""")),

    // ------------------------------- Matryoshka truncation recall audit
    // Matryoshka-style embeddings are consumed at a PREFIX of their full
    // dimension (serve at 16/32 dims, rerank at 64) — the audit that
    // justifies the truncation is exact top-k recall of each prefix
    // against the full-dim ranking. One broadcast of the 10 query
    // vectors against one corpus scan computes all three rankings:
    // graft_cosine folds over min(len(a), len(b)) elements, so slicing
    // ONLY the broadcast side to 16/32 dims yields the prefix cosine
    // (prefix dot over prefix norms of BOTH sides) without copying or
    // re-normalizing the corpus arrays — at 100 TB the corpus column is
    // read once and never materialized in truncated form. Hit counts
    // are integers, so the oracle compare is an exact hash match.
    "q_sim_matryoshka" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d)
        val q = broadcast(all.filter(col("vec_id") < 10))
        val scored = q.as("q")
          .join(all.as("c"), col("q.vec_id") =!= col("c.vec_id"))
          .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
            cosExpr.as("cos64"),
            expr("graft_cosine(slice(q.v, 1, 32), c.v)").as("cos32"),
            expr("graft_cosine(slice(q.v, 1, 16), c.v)").as("cos16"))
        def top(c: String): DataFrame = scored
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col(c).desc, col("n_id"))))
          .filter(col("rank") <= 3).select(col("q_id"), col("n_id"))
        val full = top("cos64")
        val base = full.groupBy("q_id").agg(count(lit(1)).as("brute_k"))
        def hits(c: String, as: String): DataFrame =
          full.join(top(c), Seq("q_id", "n_id"))
            .groupBy("q_id").agg(count(lit(1)).as(as))
        base.join(hits("cos32", "mrl32_hits"), Seq("q_id"), "left")
          .join(hits("cos16", "mrl16_hits"), Seq("q_id"), "left")
          .select(col("q_id"), col("brute_k"),
            coalesce(col("mrl32_hits"), lit(0L)).as("mrl32_hits"),
            coalesce(col("mrl16_hits"), lit(0L)).as("mrl16_hits"))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH $unnestCte,
        n32 AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM u
                WHERE i <= 32 GROUP BY vec_id),
        n16 AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM u
                WHERE i <= 16 GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                        sum(a.x*b.x) AS dot,
                        sum(CASE WHEN a.i <= 32 THEN a.x*b.x ELSE 0 END)
                          AS dot32,
                        sum(CASE WHEN a.i <= 16 THEN a.x*b.x ELSE 0 END)
                          AS dot16
                 FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id
                 WHERE a.vec_id < 10 GROUP BY 1, 2),
        t64 AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN nrm na ON na.vec_id = q_id
                    JOIN nrm nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        t32 AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY dot32/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN n32 na ON na.vec_id = q_id
                    JOIN n32 nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        t16 AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY dot16/(na.nrm*nb.nrm) DESC, n_id) AS rank
          FROM dots JOIN n16 na ON na.vec_id = q_id
                    JOIN n16 nb ON nb.vec_id = n_id)
          WHERE rank <= 3),
        base AS (SELECT q_id, count(*) AS brute_k FROM t64 GROUP BY q_id),
        h32 AS (SELECT b.q_id AS q_id, count(*) AS mrl32_hits FROM t64 b
                JOIN t32 t ON t.q_id = b.q_id AND t.n_id = b.n_id
                GROUP BY 1),
        h16 AS (SELECT b.q_id AS q_id, count(*) AS mrl16_hits FROM t64 b
                JOIN t16 t ON t.q_id = b.q_id AND t.n_id = b.n_id
                GROUP BY 1)
        SELECT base.q_id, brute_k,
               coalesce(mrl32_hits, 0) AS mrl32_hits,
               coalesce(mrl16_hits, 0) AS mrl16_hits
        FROM base LEFT JOIN h32 ON h32.q_id = base.q_id
                  LEFT JOIN h16 ON h16.q_id = base.q_id
        ORDER BY base.q_id""")),

    // ------------------------------ NN-descent round (k-NN graph refine)
    // One round of NN-descent (Dong et al., WWW'11) — the standard way
    // to BUILD the k-NN graph that HNSW/NSG-style ANN serving indexes
    // start from: seed a cheap approximate graph, then improve it by
    // checking neighbors-of-neighbors, exploiting that "a neighbor of a
    // neighbor is likely a neighbor". Concretely:
    //  - seed graph: per-node top-4 by PREFIX-8 cosine (the Matryoshka
    //    trick — an 8-dim fold is ~8× cheaper than the full 64-dim one)
    //    within the node's coarse list (`label`, standing in for IVF
    //    assignments as in q_sim_reciprocal_nn);
    //  - one refine round: candidates = seed edges ∪ two-hop edges
    //    (seed ⋈ seed on the shared endpoint) — ≤ k + k² = 20 per node,
    //    NEVER an all-pairs blowup — rescored at FULL dimension by
    //    joining the candidate pairs back to the vector table, keep
    //    top-4;
    //  - audit: exact recall@4 of the seed and refined graphs against
    //    the full-dim within-list truth, aggregated per list in integer
    //    ppm (hits·10⁶ div truth-pairs), so the oracle compare is an
    //    exact hash match.
    // The truth leg is MEASUREMENT-ONLY overhead (like
    // q_sim_ivfpq_recall's brute-force leg): the production path is
    // prefix-seed → bounded candidates → full-dim rescore of n·(k+k²)
    // pairs, one shuffle on the pair key per stage. Within-list pair
    // volume is Σ|list|² — the bounded lists-as-partitions shape; at
    // corpus scale the lists are the IVF partitions and each refine
    // round stays per-partition-local.
    "q_sim_nn_descent" -> GraftQuery(
      run = (s, d) => {
        val (out, caches) = nnDescentPlan(s, d)
        val rows = out.collect()
        caches.foreach(_.unpersist())
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      oracle = Some(s"""
        WITH $unnestCte,
        p8 AS (SELECT vec_id, sqrt(sum(x*x)) AS pn FROM u
               WHERE i <= 8 GROUP BY vec_id),
        d AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                     sum(a.x*b.x) AS dot,
                     sum(CASE WHEN a.i <= 8 THEN a.x*b.x ELSE 0 END)
                       AS dot8
              FROM u a JOIN u b ON b.i = a.i AND b.label = a.label
                                   AND b.vec_id <> a.vec_id
              GROUP BY 1, 2),
        seedg AS (SELECT qa, qb FROM (
            SELECT qa, qb, row_number() OVER (PARTITION BY qa
                     ORDER BY dot8/(pa.pn*pb.pn) DESC, qb) AS rk
            FROM d JOIN p8 pa ON pa.vec_id = qa
                   JOIN p8 pb ON pb.vec_id = qb)
          WHERE rk <= 4),
        truth AS (SELECT qa, qb FROM (
            SELECT qa, qb, row_number() OVER (PARTITION BY qa
                     ORDER BY dot/(na.nrm*nb.nrm) DESC, qb) AS rk
            FROM d JOIN nrm na ON na.vec_id = qa
                   JOIN nrm nb ON nb.vec_id = qb)
          WHERE rk <= 4),
        cand AS (SELECT qa, qb FROM seedg
                 UNION
                 SELECT g1.qa, g2.qb FROM seedg g1
                 JOIN seedg g2 ON g2.qa = g1.qb AND g2.qb <> g1.qa),
        ref AS (SELECT qa, qb FROM (
            SELECT c.qa, c.qb, row_number() OVER (PARTITION BY c.qa
                     ORDER BY d.dot/(na.nrm*nb.nrm) DESC, c.qb) AS rk
            FROM cand c JOIN d ON d.qa = c.qa AND d.qb = c.qb
                 JOIN nrm na ON na.vec_id = c.qa
                 JOIN nrm nb ON nb.vec_id = c.qb)
          WHERE rk <= 4),
        base AS (SELECT qa, count(*) AS tk FROM truth GROUP BY qa),
        sh AS (SELECT t.qa, count(*) AS h FROM truth t
               JOIN seedg g ON g.qa = t.qa AND g.qb = t.qb GROUP BY 1),
        nh AS (SELECT t.qa, count(*) AS h FROM truth t
               JOIN ref r ON r.qa = t.qa AND r.qb = t.qb GROUP BY 1)
        SELECT e.label, count(*) AS n_nodes,
               (CAST(sum(coalesce(sh.h, 0)) AS BIGINT) * 1000000)
                 // CAST(sum(base.tk) AS BIGINT) AS seed_recall_ppm,
               (CAST(sum(coalesce(nh.h, 0)) AS BIGINT) * 1000000)
                 // CAST(sum(base.tk) AS BIGINT) AS nnd_recall_ppm
        FROM base
        JOIN (SELECT vec_id, label FROM embeddings) e
          ON e.vec_id = base.qa
        LEFT JOIN sh ON sh.qa = base.qa
        LEFT JOIN nh ON nh.qa = base.qa
        GROUP BY e.label
        ORDER BY e.label""")),

    // --------------------------------------- IVF list-balance audit
    // The operational health check behind every IVF deployment: probe
    // latency is governed by the LARGEST inverted list (a probe scans
    // whole lists), so list-size skew — not average size — is what
    // degrades an index as the corpus drifts. One map-side-combinable
    // count per list, then one tiny aggregate: list count, min/max
    // size, imbalance factor (max·nlists/total, 100 = perfectly
    // balanced, in integer percent), the biggest list's corpus share
    // (ppm), and how many lists run hot (> 2× the mean — the re-train
    // trigger). All integers — exact hash compare; at 100 TB this is
    // one scan of the assignment column, no vector data touched.
    "q_sim_ivf_balance" -> GraftQuery(
      run = (s, d) => {
        val sizes = Tables.embeddings(s, d)
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
        sizes.agg(
            count(lit(1)).as("n_lists"),
            sum(col("n")).as("total"),
            min(col("n")).as("min_list"),
            max(col("n")).as("max_list"))
          .crossJoin(sizes.agg(count(lit(1)).as("nl2"),
              sum(col("n")).as("t2"))
            .join(sizes, expr("n * nl2 > 2 * t2"))
            .agg(count(lit(1)).as("hot_lists")))
          .select(col("n_lists"), col("total"), col("min_list"),
            col("max_list"),
            expr("max_list * n_lists * 100 div total")
              .as("imbalance_pct"),
            expr("max_list * 1000000 div total").as("top1_share_ppm"),
            col("hot_lists"))
      },
      oracle = Some("""
        WITH sizes AS (SELECT label, count(*) AS n
                       FROM embeddings GROUP BY label),
        tot AS (SELECT count(*) AS n_lists,
                       CAST(sum(n) AS BIGINT) AS total,
                       min(n) AS min_list, max(n) AS max_list
                FROM sizes),
        hot AS (SELECT count(*) AS hot_lists
                FROM sizes, tot WHERE n * n_lists > 2 * total)
        SELECT n_lists, total, min_list, max_list,
               (max_list * n_lists * 100) // total AS imbalance_pct,
               (max_list * 1000000) // total AS top1_share_ppm,
               hot_lists
        FROM tot, hot""")),

    // --------------------------------------- Lloyd k-means (2 iterations)
    // Distributed k-means over the quantized embeddings — the clustering
    // primitive under SemDeDup-style corpus curation (q_dedup_semantic
    // borrows its codebook from the label column; this is the real
    // iterative algorithm that would PRODUCE such a codebook). Per Lloyd
    // round: assignment is one broadcast of the k×64 centroid table
    // against the corpus scan (the corpus never shuffles for assignment),
    // and the centroid update is one (cluster, dim) aggregation — the
    // canonical scale shape; at 100 TB only k·dim·partitions partial
    // rows cross the wire per round.
    // Everything is exact 64-bit integer arithmetic on the 1e-6 grid
    // (quantize → seed → squared-L2 assignment with lowest-cluster
    // tie-break → floor-div centroid update), so both engines trace the
    // identical trajectory and the oracle is an exact hash match, not an
    // FP-tolerance compare:
    //  - seeds: the k = 4 lowest vec_ids (cluster id ≡ seed vec_id);
    //    deterministic stand-in for a sampled k-means|| init
    //  - 2 full rounds: assign → update → assign → update
    // Output per surviving cluster: member count, inertia (sum of the
    // round-2 assignment distances, wrt the round-1 centroids), and the
    // round-2 centroid coordinate sum as an exact checksum.
    "q_sim_kmeans" -> GraftQuery(
      run = (s, d) => {
        val k = 4
        val all = vecs(s, d).select(col("vec_id"),
          expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
            .as("vq"))
        val seeds = all.orderBy("vec_id").limit(k)
          .select(col("vec_id").as("c"), col("vq").as("cq"))
        // one Lloyd assignment: nearest centroid by exact integer L2,
        // ties to the lowest cluster id
        // nearest-centroid argmin via min_by on the (d2, c) total order
        // — map-side combinable, no window sort (r11, guide §2.4/§4);
        // ties impossible past c (cluster ids unique)
        def assign(cent: DataFrame): DataFrame =
          all.crossJoin(broadcast(cent))
            .withColumn("d2", expr(
              "aggregate(zip_with(vq, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
            .groupBy(col("vec_id"))
            .agg(min_by(struct(col("c"), col("d2"), col("vq")),
              struct(col("d2"), col("c"))).as("m"))
            .select(col("vec_id"), col("m.c").as("c"),
              col("m.d2").as("d2"), col("m.vq").as("vq"))
        // one centroid update: per-dimension integer mean (sum div count)
        def update(asg: DataFrame): DataFrame =
          asg.select(col("c"), posexplode(col("vq")).as(Seq("i", "xq")))
            .groupBy("c", "i")
            .agg(expr("sum(xq) div count(1)").as("cqi"))
            .groupBy("c")
            .agg(expr("transform(array_sort(collect_list(struct(i, cqi))), e -> e.cqi)")
              .as("cq"))
        val a2 = assign(update(assign(seeds)))
        val c2 = update(a2)
        a2.groupBy("c")
          .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
          .join(c2.select(col("c"),
            expr("aggregate(cq, 0L, (a, x) -> a + x)").as("cent_sum")), "c")
          .orderBy("c")
      },
      oracle = Some("""
        WITH xq AS (SELECT vec_id,
                           generate_subscripts(embedding, 1) AS i,
                           floor(CAST(unnest(embedding) AS DOUBLE)
                                 * 1000000.0 + 0.5)::BIGINT AS xq
                    FROM embeddings),
        seeds AS (SELECT vec_id AS c FROM embeddings ORDER BY vec_id LIMIT 4),
        c0 AS (SELECT s.c, x.i, x.xq AS cq
               FROM seeds s JOIN xq x ON x.vec_id = s.c),
        a1 AS (SELECT vec_id, c FROM (
                 SELECT x.vec_id, c0.c,
                        row_number() OVER (PARTITION BY x.vec_id
                          ORDER BY sum((x.xq - c0.cq)*(x.xq - c0.cq)), c0.c)
                          AS rn
                 FROM xq x JOIN c0 ON c0.i = x.i
                 GROUP BY x.vec_id, c0.c) WHERE rn = 1),
        c1 AS (SELECT a1.c, x.i, sum(x.xq) // count(*) AS cq
               FROM a1 JOIN xq x ON x.vec_id = a1.vec_id
               GROUP BY a1.c, x.i),
        a2 AS (SELECT vec_id, c, d2 FROM (
                 SELECT x.vec_id, c1.c,
                        sum((x.xq - c1.cq)*(x.xq - c1.cq)) AS d2,
                        row_number() OVER (PARTITION BY x.vec_id
                          ORDER BY sum((x.xq - c1.cq)*(x.xq - c1.cq)), c1.c)
                          AS rn
                 FROM xq x JOIN c1 ON c1.i = x.i
                 GROUP BY x.vec_id, c1.c) WHERE rn = 1),
        c2 AS (SELECT a2.c, x.i, sum(x.xq) // count(*) AS cq
               FROM a2 JOIN xq x ON x.vec_id = a2.vec_id
               GROUP BY a2.c, x.i)
        SELECT a2.c AS c, count(*) AS n_members,
               CAST(sum(a2.d2) AS BIGINT) AS inertia,
               min(cs.cent_sum) AS cent_sum
        FROM a2 JOIN (SELECT c, CAST(sum(cq) AS BIGINT) AS cent_sum
                      FROM c2 GROUP BY c) cs ON cs.c = a2.c
        GROUP BY a2.c
        ORDER BY a2.c""")),

    // ------------------- PCA top component (integer power iteration)
    // The embedding-whitening / drift-explanation primitive: the
    // dominant principal axis of the corpus, end-to-end in exact
    // integer arithmetic so DuckDB replays it bit-for-bit. Pipeline:
    // quantize to the 1e-3 grid → per-dim means (sign-split floor
    // division: both engines floor-divide non-negative operands only)
    // → centered second-moment matrix C — computed WITHOUT a self-join:
    // each row's d² products come from two chained generators over its
    // own centered array, all inside one codegen stage, partial-
    // aggregated map-side so the only shuffle is the d²-row key space
    // — → 5 L∞-normalized power-iteration rounds on the collected
    // d² = 4,096-entry matrix (driver-side by design: the matrix is
    // dimension-bounded, independent of corpus size — same contract as
    // the other tiny-broadcast collects). Sign convention: each round
    // flips so the largest-|w| component (smallest index on ties) is
    // positive — deterministic across engines. Output: the loading
    // vector (×10³), the Rayleigh-quotient eigenvalue on the quantized
    // grid, and explained variance vs trace in ppm. Overflow envelope:
    // |e| ≤ 2·10³, C ≤ d·4·10⁶, |w| ≤ d·C·10³ ≈ 2.6·10¹¹, the
    // normalize multiply ≤ 2.6·10¹⁴ — 4 decades inside int64; the
    // per-(i,j) product SUM before the //n is the binding term at
    // ~4·10⁶·n, good to n ≈ 2·10¹² vectors.
    "q_sim_pca" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val qarr = Tables.embeddings(s, d).select(
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)" +
            " * 1000.0 + 0.5) AS BIGINT))").as("xq"))
        val comp = qarr.select(posexplode(col("xq")).as(Seq("i", "xv")))
        val meansRow = comp.groupBy("i")
          .agg(sum(col("xv")).as("sx"), count(lit(1)).as("n"))
          .select(col("i"), expr(
            "CASE WHEN sx >= 0 THEN sx div n ELSE -((-sx) div n) END")
            .as("m"))
          .agg(expr("transform(sort_array(collect_list(struct(i, m)))," +
            " s -> s.m)").as("marr"))
        val cen = qarr.crossJoin(broadcast(meansRow))
          .select(expr("zip_with(xq, marr, (x, m) -> x - m)").as("e"))
        val cov = cen
          .select(posexplode(col("e")).as(Seq("i", "ei")), col("e"))
          .select(col("i"), col("ei"),
            posexplode(col("e")).as(Seq("j", "ej")))
          .groupBy("i", "j")
          .agg(sum(col("ei") * col("ej")).as("sij"),
            count(lit(1)).as("cn"))
          .select(col("i"), col("j"), expr(
            "CASE WHEN sij >= 0 THEN sij div cn ELSE -((-sij) div cn) END")
            .as("c"))
        val entries = cov.collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        val out: Seq[(Long, Long, Long, Long)] =
          if (entries.isEmpty) Seq.empty
          else {
            val dim = entries.map(_._1).max + 1
            val cm = Array.ofDim[Long](dim, dim)
            entries.foreach { case (i, j, c) => cm(i)(j) = c }
            def matvec(v: Array[Long]): Array[Long] =
              Array.tabulate(dim) { i =>
                var acc = 0L; var j = 0
                while (j < dim) { acc += cm(i)(j) * v(j); j += 1 }; acc
              }
            var v = Array.fill(dim)(1000L)
            for (_ <- 1 to PowerRounds) {
              val w = matvec(v)
              val mx = w.map(math.abs).max
              v =
                if (mx == 0L) Array.fill(dim)(0L)
                else {
                  val jstar = w.indices.find(j => math.abs(w(j)) == mx).get
                  val sg = if (w(jstar) >= 0L) 1L else -1L
                  w.map { wi =>
                    val t = sg * wi
                    if (t >= 0L) t * 1000L / mx else -((-t) * 1000L / mx)
                  }
                }
            }
            val w = matvec(v)
            val num = v.indices.map(i => v(i) * w(i)).sum
            val den = v.indices.map(i => v(i) * v(i)).sum
            val lambda =
              if (den == 0L) 0L
              else if (num >= 0L) num / den
              else -((-num) / den)
            val trace = (0 until dim).map(i => cm(i)(i)).sum
            val ev =
              if (trace <= 0L) 0L
              else if (lambda >= 0L) lambda * 1000000L / trace
              else -((-lambda) * 1000000L / trace)
            v.indices.map(i => (i.toLong, v(i), lambda, ev))
          }
        out.toDF("dim", "loading", "lambda_q", "ev_ppm").orderBy("dim")
      },
      oracle = Some {
        def iter(prev: String, k: Int) = s"""
        w$k AS (SELECT c.i, sum(c.c * $prev.v) AS w
                FROM cov c JOIN $prev ON $prev.i = c.j GROUP BY c.i),
        m$k AS (SELECT max(abs(w)) AS mx FROM w$k),
        s$k AS (SELECT sg FROM (
                  SELECT CASE WHEN w >= 0 THEN 1 ELSE -1 END AS sg,
                         row_number() OVER (ORDER BY i) AS rn
                  FROM w$k, m$k WHERE abs(w) = m$k.mx) WHERE rn = 1),
        v$k AS (SELECT w$k.i,
                       CASE WHEN m$k.mx = 0 THEN 0
                            WHEN s$k.sg * w$k.w >= 0
                              THEN (s$k.sg * w$k.w * 1000) // m$k.mx
                            ELSE -((-(s$k.sg * w$k.w) * 1000) // m$k.mx)
                       END AS v
                FROM w$k, m$k, s$k)"""
        s"""
        WITH pu AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        pq AS (SELECT vec_id, i,
                      CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS xq
               FROM pu),
        mn AS (SELECT i,
                      CASE WHEN sum(xq) >= 0
                             THEN CAST(sum(xq) AS BIGINT) // count(*)
                           ELSE -(CAST(-sum(xq) AS BIGINT) // count(*))
                      END AS m
               FROM pq GROUP BY i),
        cen AS MATERIALIZED (SELECT q.vec_id, q.i, q.xq - mn.m AS e
                FROM pq q JOIN mn ON mn.i = q.i),
        -- MATERIALIZED: cov is referenced by every power round; inlined,
        -- DuckDB re-expands the scan tree per reference and exhausts fds
        cov AS MATERIALIZED (SELECT a.i, b.i AS j,
                       CASE WHEN sum(a.e * b.e) >= 0
                              THEN CAST(sum(a.e * b.e) AS BIGINT)
                                   // count(*)
                            ELSE -(CAST(-sum(a.e * b.e) AS BIGINT)
                                   // count(*))
                       END AS c
                FROM cen a JOIN cen b ON b.vec_id = a.vec_id
                GROUP BY 1, 2),
        v0 AS (SELECT DISTINCT i, 1000 AS v FROM cov),
        ${(1 to PowerRounds).map(k => iter(s"v${k - 1}", k)).mkString(",")},
        wf AS (SELECT c.i, sum(c.c * v$PowerRounds.v) AS w
               FROM cov c JOIN v$PowerRounds ON v$PowerRounds.i = c.j
               GROUP BY c.i),
        ray AS (SELECT CAST(sum(v$PowerRounds.v * wf.w) AS BIGINT) AS num,
                       CAST(sum(v$PowerRounds.v * v$PowerRounds.v)
                            AS BIGINT) AS den
                FROM v$PowerRounds JOIN wf ON wf.i = v$PowerRounds.i),
        lam AS (SELECT CASE WHEN den = 0 THEN 0
                            WHEN num >= 0 THEN num // den
                            ELSE -((-num) // den) END AS lambda
                FROM ray),
        tr AS (SELECT CAST(sum(c) AS BIGINT) AS trace
               FROM cov WHERE i = j)
        SELECT CAST(v$PowerRounds.i - 1 AS BIGINT) AS dim,
               CAST(v$PowerRounds.v AS BIGINT) AS loading,
               CAST(lambda AS BIGINT) AS lambda_q,
               CAST(CASE WHEN trace IS NULL OR trace <= 0 THEN 0
                         WHEN lambda >= 0 THEN lambda * 1000000 // trace
                         ELSE -((-lambda) * 1000000 // trace)
                    END AS BIGINT) AS ev_ppm
        FROM v$PowerRounds, lam, tr ORDER BY dim"""
      }),

    // --------------------- k-center greedy coreset (farthest-point)
    // Representative-subset selection — the data-selection primitive
    // behind coreset seeding, diverse eval-set picking, and k-means++
    // style init. Classic farthest-point traversal (the 2-approximation
    // to the k-center objective) over one IVF list (label 0 — at scale
    // the traversal runs per list, so list parallelism is the scale
    // axis): seed at the smallest vec_id, then 7 rounds of "add the
    // point farthest from the selected set", each round ONE broadcast
    // of the newest center + a map-side least() update of the running
    // min-distance column + one top-1 aggregate — k linear passes,
    // tiny driver state (k ids), and the pairwise matrix is never
    // materialized (only the ORACLE builds it, to replay the argmax
    // declaratively). Output: selection order with each center's
    // distance-to-predecessors — the k-center radius curve, exact
    // integer d² on the 1e-3 grid. Ties break (d² desc, vec_id asc)
    // on both engines.
    "q_sim_coreset" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val base = Tables.embeddings(s, d).filter(col("label") === 0)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)" +
              " * 1000.0 + 0.5) AS BIGINT))").as("xq"))
          .persist()
        def d2To(center: Seq[Long]) = aggregate(
          zip_with(col("xq"), typedlit(center),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        val seedRow = base.orderBy("vec_id").limit(1).collect().headOption
        val out: Seq[(Long, Long, Long)] = seedRow match {
          case None => Seq.empty
          case Some(r0) =>
            val picks = scala.collection.mutable.ArrayBuffer(
              (0L, r0.getLong(0), 0L))
            var ids = Set(r0.getLong(0))
            var cur = base.withColumn("mind", d2To(r0.getSeq[Long](1)))
            var step = 1L
            var done = false
            while (step <= CoresetSteps && !done) {
              val top = cur.filter(!col("vec_id").isin(ids.toSeq: _*))
                .agg(max(struct(col("mind").as("m"),
                  (-col("vec_id")).as("nid"), col("vec_id").as("id"),
                  col("xq").as("xq"))).as("t"))
                .select(col("t.m"), col("t.id"), col("t.xq"))
                .collect().headOption.filter(!_.isNullAt(0))
              top match {
                case None => done = true
                case Some(r) =>
                  picks += ((step, r.getLong(1), r.getLong(0)))
                  ids += r.getLong(1)
                  cur = cur.withColumn("mind",
                    least(col("mind"), d2To(r.getSeq[Long](2))))
                  step += 1
              }
            }
            picks.toSeq
        }
        base.unpersist()
        out.toDF("step", "vec_id", "radius_d2").orderBy("step")
      },
      oracle = Some {
        def stepCte(k: Int): String = {
          val prevSel = (0 until k).map(i => s"SELECT id FROM c$i")
            .mkString(" UNION ALL ")
          val mind =
            if (k == 1)
              s"""m1 AS (SELECT pd.va AS vec_id, pd.d2
                 FROM pd JOIN c0 ON pd.vb = c0.id)"""
            else
              s"""m$k AS (SELECT m${k - 1}.vec_id,
                        least(m${k - 1}.d2, pd.d2) AS d2
                 FROM m${k - 1} JOIN pd ON pd.va = m${k - 1}.vec_id
                      JOIN c${k - 1} ON pd.vb = c${k - 1}.id)"""
          s"""$mind,
        c$k AS (SELECT vec_id AS id, d2 FROM m$k
                WHERE vec_id NOT IN ($prevSel)
                ORDER BY d2 DESC, vec_id LIMIT 1)"""
        }
        val unions = (1 to CoresetSteps).map(k =>
          s"SELECT $k AS step, id AS vec_id, d2 AS radius_d2 FROM c$k")
          .mkString(" UNION ALL ")
        s"""
        WITH ku AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE label = 0),
        kq AS MATERIALIZED (
          SELECT vec_id, i,
                 CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS xq
          FROM ku),
        pd AS MATERIALIZED (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS d2
          FROM kq a JOIN kq b ON b.i = a.i GROUP BY 1, 2),
        c0 AS (SELECT vec_id AS id FROM kq
               GROUP BY vec_id ORDER BY vec_id LIMIT 1),
        ${(1 to CoresetSteps).map(stepCte).mkString(",\n        ")}
        SELECT CAST(step AS BIGINT) AS step,
               CAST(vec_id AS BIGINT) AS vec_id,
               CAST(radius_d2 AS BIGINT) AS radius_d2
        FROM (SELECT 0 AS step, id AS vec_id, 0 AS radius_d2 FROM c0
              UNION ALL $unions)
        ORDER BY step"""
      }),

    // ---------------------- Johnson–Lindenstrauss random projection
    // 64 → 16 dimensions through an md5-derived ±1 projection matrix —
    // the storage/compute reducer that precedes ANN indexing at scale
    // (project once, index the short vectors). Unlike the LSH tier
    // (which keeps only projection SIGNS) this keeps the projected
    // values, and the JL guarantee — E[‖R(a−b)‖²] = k·‖a−b‖² for ±1
    // rows — is MEASURED: for the 5×5 query×candidate pair grid the
    // output reports original and projected squared distances (exact
    // 64-bit integers on the 1e-6 grid) and their distortion ratio
    // d2_proj / (16·d2_orig) ≈ 1. The projection itself is one
    // broadcast of the 16×64 matrix against the (vec, dim) stream —
    // map-side, nothing but (vec, j) partials shuffle.
    "q_sim_random_projection" -> GraftQuery(
      run = (s, d) => {
        val comp = vecs(s, d).filter(col("vec_id") < 10)
          .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
          .withColumn("xq",
            expr("CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)"))
        val planes = s.range(16).select(col("id").cast("int").as("j"))
          .crossJoin(s.range(64).select(col("id").cast("int").as("i")))
          .withColumn("p", when(expr(
            "CAST(conv(substr(md5(concat(CAST(j AS STRING), '_', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
            === 0, 1L).otherwise(-1L))
        val proj = comp.join(broadcast(planes), "i")
          .groupBy(col("vec_id"), col("j"))
          .agg(sum(col("p") * col("xq")).as("y"))
        val d2o = comp.as("a").join(comp.as("b"),
            col("a.i") === col("b.i") &&
              col("a.vec_id") < 5 && col("b.vec_id") >= 5)
          .groupBy(col("a.vec_id").as("qa"), col("b.vec_id").as("qb"))
          .agg(sum((col("a.xq") - col("b.xq")) * (col("a.xq") - col("b.xq")))
            .as("d2_orig"))
        val d2p = proj.as("a").join(proj.as("b"),
            col("a.j") === col("b.j") &&
              col("a.vec_id") < 5 && col("b.vec_id") >= 5)
          .groupBy(col("a.vec_id").as("qa"), col("b.vec_id").as("qb"))
          .agg(sum((col("a.y") - col("b.y")) * (col("a.y") - col("b.y")))
            .as("d2_proj"))
        d2o.join(d2p, Seq("qa", "qb"))
          .select(col("qa"), col("qb"), col("d2_orig"), col("d2_proj"),
            expr("floor(d2_proj / (16e0 * d2_orig) * 1e4 + 5e-1) / 1e4")
              .as("distortion"))
          .orderBy("qa", "qb")
      },
      oracle = Some("""
        WITH xq AS (SELECT vec_id,
                           generate_subscripts(embedding, 1) - 1 AS i,
                           floor(CAST(unnest(embedding) AS DOUBLE)
                                 * 1000000.0 + 0.5)::BIGINT AS xq
                    FROM embeddings WHERE vec_id < 10),
        planes AS (SELECT j, i,
                          CASE WHEN ('0x'||substr(md5(j::VARCHAR || '_' || i::VARCHAR),1,8))::BIGINT
                                    % 2 = 0
                               THEN 1 ELSE -1 END AS p
                   FROM generate_series(0, 15) tj(j),
                        generate_series(0, 63) ti(i)),
        proj AS (SELECT vec_id, j, CAST(sum(p * xq) AS BIGINT) AS y
                 FROM xq JOIN planes ON planes.i = xq.i
                 GROUP BY vec_id, j),
        d2o AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                       CAST(sum((a.xq - b.xq)*(a.xq - b.xq)) AS BIGINT)
                         AS d2_orig
                FROM xq a JOIN xq b ON b.i = a.i
                WHERE a.vec_id < 5 AND b.vec_id >= 5
                GROUP BY 1, 2),
        d2p AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                       CAST(sum((a.y - b.y)*(a.y - b.y)) AS BIGINT)
                         AS d2_proj
                FROM proj a JOIN proj b ON b.j = a.j
                WHERE a.vec_id < 5 AND b.vec_id >= 5
                GROUP BY 1, 2)
        SELECT qa, qb, d2_orig, d2_proj,
               floor(d2_proj / (16e0 * d2_orig) * 1e4 + 5e-1) / 1e4
                 AS distortion
        FROM d2o JOIN d2p USING (qa, qb)
        ORDER BY qa, qb""")),

    // ------------------------------------------------ MaxSim late interaction
    // ColBERT-style late-interaction scoring: each vector is read as 8
    // token sub-vectors of 8 dims; score(q, d) = Σ_t max_τ ⟨q_t, d_τ⟩ —
    // per query token the best-matching doc token, summed. All dots on
    // the 1e-6 integer grid so max/sum are exact in both engines. The
    // query grid (5 vectors) broadcasts against the streaming corpus
    // and the ENTIRE token-max kernel runs inside nested higher-order
    // functions on the joined row — the first version exploded both
    // sides to (vec, dim) rows and shuffled ~13M token-pair partials
    // through three aggregates; this one shuffles only the (q, d,
    // score) pairs into the rank (measured 2.3 s → ~0.6 s at sf0.1).
    "q_sim_maxsim" -> GraftQuery(
      run = (s, d) => {
        val g = vecs(s, d)
          .select(col("vec_id"),
            expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) " +
              "AS BIGINT))").as("a"))
        val qg = g.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("a").as("qa"))
        val dg = g.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("n_id"), col("a").as("da"))
        dg.crossJoin(broadcast(qg))
          .select(col("q_id"), col("n_id"),
            expr("""aggregate(sequence(0, 7), CAST(0 AS BIGINT),
                      (acc, qt) -> acc + array_max(
                        transform(sequence(0, 7), dt ->
                          aggregate(sequence(1, 8), CAST(0 AS BIGINT),
                            (s, i) -> s + element_at(qa, qt * 8 + i) *
                                          element_at(da, dt * 8 + i)))))""")
              .as("maxsim"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id")
              .orderBy(col("maxsim").desc, col("n_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("n_id"), col("maxsim"))
          .orderBy("q_id", "rank")
      },
      oracle = Some("""
        WITH g AS (
          SELECT vec_id, i - 1 AS i,
                 floor(x * 1000000.0 + 0.5)::BIGINT AS xq
          FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
        qg AS (SELECT vec_id AS q_id, i // 8 AS qt, i % 8 AS ii, xq AS qx
               FROM g WHERE vec_id < 5),
        dg AS (SELECT vec_id AS n_id, i // 8 AS dt, i % 8 AS ii, xq AS dx
               FROM g WHERE vec_id >= 5),
        dots AS (SELECT q_id, n_id, qt, dt,
                        CAST(sum(qx * dx) AS BIGINT) AS dot
                 FROM dg JOIN qg USING (ii) GROUP BY 1, 2, 3, 4),
        best AS (SELECT q_id, n_id, qt, max(dot) AS best
                 FROM dots GROUP BY 1, 2, 3),
        score AS (SELECT q_id, n_id, CAST(sum(best) AS BIGINT) AS maxsim
                  FROM best GROUP BY 1, 2),
        ranked AS (SELECT q_id, n_id, maxsim,
                          row_number() OVER (PARTITION BY q_id
                            ORDER BY maxsim DESC, n_id) AS rank
                   FROM score)
        SELECT q_id, rank, n_id, maxsim
        FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""")),

    // --------------------------------- embedding-space QC (outlier cull)
    // The embedding hygiene step before any ANN/cluster stage: vectors
    // far from their class centroid are mislabeled points, encoder
    // failures, or garbage inputs, and they poison both training
    // batches and IVF list balance. Everything runs on the milli-unit
    // integer grid: coordinates quantize once (floor(x·1000 + 0.5)),
    // centroids are integer means (sum div n), distances are exact
    // integer sums of squares, and the cull rule is the energy test
    // dist² > 4·mean(dist²) (a 2σ-style cut with no FP anywhere), so
    // the flag is bit-identical across engines. The per-(label, dim)
    // centroid table is tiny (10×64 rows) and broadcasts into the
    // distance join; only quantized coordinate rows shuffle once for
    // the centroid build and once for the per-vector reduce.
    "q_sim_embed_outliers" -> GraftQuery(
      run = (s, d) => {
        val vm = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("vec_id"), col("label"), col("i"),
            expr("CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)")
              .as("vmil"))
        val cent = vm.groupBy("label", "i")
          .agg(expr("sum(vmil) div count(1)").as("cmil"))
        val dist = vm.join(broadcast(cent), Seq("label", "i"))
          .groupBy(col("vec_id"), col("label"))
          .agg(sum((col("vmil") - col("cmil")) * (col("vmil") - col("cmil")))
            .as("dist2"))
        val stats = dist.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            expr("sum(dist2) div count(1)").as("mean_dist2"),
            max(col("dist2")).as("max_dist2"))
        dist.join(broadcast(stats), Seq("label"))
          .groupBy(col("label"), col("n_vecs"), col("mean_dist2"),
            col("max_dist2"))
          .agg(sum(when(col("dist2") > col("mean_dist2") * 4, 1L)
            .otherwise(0L)).as("n_outliers"))
          .select(col("label"), col("n_vecs"), col("n_outliers"),
            col("mean_dist2"), col("max_dist2"))
          .orderBy("label")
      },
      oracle = Some("""
        WITH u AS (
          SELECT vec_id, label,
                 generate_subscripts(embedding, 1) AS i,
                 CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0
                            + 0.5) AS BIGINT) AS vmil
          FROM embeddings),
        cent AS (SELECT label, i, sum(vmil) // count(*) AS cmil
                 FROM u GROUP BY label, i),
        dist AS (SELECT u.vec_id, u.label,
                        CAST(sum((vmil - cmil) * (vmil - cmil)) AS BIGINT)
                          AS dist2
                 FROM u JOIN cent ON cent.label = u.label AND cent.i = u.i
                 GROUP BY u.vec_id, u.label),
        stats AS (SELECT label, count(*) AS n_vecs,
                         CAST(sum(dist2) // count(*) AS BIGINT)
                           AS mean_dist2,
                         CAST(max(dist2) AS BIGINT) AS max_dist2
                  FROM dist GROUP BY label)
        SELECT d.label, s.n_vecs,
               CAST(sum(CASE WHEN d.dist2 > s.mean_dist2 * 4
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               s.mean_dist2, s.max_dist2
        FROM dist d JOIN stats s ON s.label = d.label
        GROUP BY d.label, s.n_vecs, s.mean_dist2, s.max_dist2
        ORDER BY d.label""")),

    // ------------------------- MMR diversified top-k (greedy re-rank)
    // Maximal Marginal Relevance over query vec_id=0's candidate pool:
    // after the top-8-by-cosine candidate fetch, greedily select 4
    // results maximizing 0.7·rel(d) − 0.3·max_{s∈S} sim(d, s) — the
    // diversified-retrieval step RAG stacks run after ANN so near-
    // duplicate passages don't fill the context window. Greedy is
    // inherently sequential in k, but k is a constant (4): each step
    // is a max-penalty aggregate over |pool| × |selected| ≤ 8×4 rows
    // and an argmax with a vec_id tie-break — unrolled identically in
    // both engines, all comparisons on the same double-cosine values
    // the rank windows already hash-match on. Scale shape: the
    // expensive part stays the candidate fetch (any ANN query in this
    // pack); the re-rank touches k·|pool| rows per query — nothing —
    // and distributes per query for batch workloads.
    "q_sim_mmr" -> GraftQuery(
      run = (s, d) => {
        val all = vecs(s, d)
        val q = broadcast(all.filter(col("vec_id") === 0))
        val cand = q.as("q")
          .join(all.as("c"), col("q.vec_id") =!= col("c.vec_id"))
          .select(col("c.vec_id").as("n_id"), col("c.v").as("v"),
            cosExpr.as("rel"))
          .orderBy(col("rel").desc, col("n_id")).limit(8)
          .persist()
        cand.count() // read by every greedy step + the pairwise sims
        val sims = cand.as("q").select(col("q.n_id").as("a"),
            col("q.v").as("va"))
          .join(cand.as("c"), col("a") =!= col("c.n_id"))
          .select(col("a"), col("c.n_id").as("b"),
            expr("graft_cosine(va, c.v)").as("sim"))
        // each greedy step materializes its ONE winning row (the
        // selected set is k ≤ 4 rows by construction — the same
        // bounded-collect class as the centroid tables); the next
        // step's joins then read a LocalTableScan instead of
        // re-deriving the whole prefix chain (3^k subplans otherwise)
        var selected = cand
          .orderBy(col("rel").desc, col("n_id")).limit(1)
          .select(col("n_id"), col("rel"), lit(0d).as("penalty"),
            (col("rel") * lit(0.7d)).as("mmr_score"),
            lit(1).as("step"))
          .collect().toSeq
        val selSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rel",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("penalty",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("mmr_score",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("step",
            org.apache.spark.sql.types.IntegerType)))
        def selDf = s.createDataFrame(
          java.util.Arrays.asList(selected: _*), selSchema)
        for (k <- 2 to 4) {
          val ids = selDf.select(col("n_id").as("s_id"))
          val next = cand
            .join(broadcast(ids), col("n_id") === col("s_id"), "left_anti")
            .join(sims, col("n_id") === col("a"))
            .join(broadcast(ids), col("b") === col("s_id"))
            .groupBy(col("n_id"), col("rel"))
            .agg(max(col("sim")).as("penalty"))
            .select(col("n_id"), col("rel"), col("penalty"),
              (col("rel") * lit(0.7d) - col("penalty") * lit(0.3d))
                .as("mmr_score"), lit(k).as("step"))
            .orderBy(col("mmr_score").desc, col("n_id")).limit(1)
          selected = selected ++ next.collect()
        }
        cand.unpersist()
        selDf.select(col("step"), col("n_id"),
          round(col("rel"), 4).as("rel"),
          round(col("mmr_score"), 4).as("mmr_score"))
          .orderBy("step")
      },
      oracle = Some {
        def step(k: Int): String = {
          val prev = (1 until k).map(j => s"SELECT * FROM s$j")
            .mkString(" UNION ALL ")
          s"""
        s$k AS (
          SELECT n_id, rel, penalty, 0.7*rel - 0.3*penalty AS mmr_score,
                 $k AS step
          FROM (SELECT c.n_id, c.rel, max(sims.sim) AS penalty
                FROM cand c
                JOIN sims ON sims.a = c.n_id
                JOIN ($prev) sel ON sims.b = sel.n_id
                WHERE c.n_id NOT IN (SELECT n_id FROM ($prev))
                GROUP BY c.n_id, c.rel)
          ORDER BY 0.7*rel - 0.3*penalty DESC, n_id LIMIT 1)"""
        }
        s"""
        WITH $unnestCte,
        dots AS (SELECT b.vec_id AS n_id, sum(a.x*b.x) AS dot
                 FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> 0
                 WHERE a.vec_id = 0 GROUP BY 1),
        cand AS (SELECT n_id, dot/(na.nrm*nb.nrm) AS rel
                 FROM dots JOIN nrm na ON na.vec_id = 0
                           JOIN nrm nb ON nb.vec_id = n_id
                 ORDER BY dot/(na.nrm*nb.nrm) DESC, n_id LIMIT 8),
        -- restrict to the 8 candidates BEFORE the pairwise join: filtering
        -- inside the join's WHERE leaves the planner free to build the
        -- full n²·dim element join first (observed OOM at sf0.1); this
        -- form pairs 8 vectors, not the corpus
        uc AS (SELECT * FROM u WHERE vec_id IN (SELECT n_id FROM cand)),
        sims AS (SELECT a.vec_id AS a, b.vec_id AS b,
                        sum(a.x*b.x)/(na.nrm*nb.nrm) AS sim
                 FROM uc a JOIN uc b ON a.i = b.i AND a.vec_id <> b.vec_id
                 JOIN nrm na ON na.vec_id = a.vec_id
                 JOIN nrm nb ON nb.vec_id = b.vec_id
                 GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
        s1 AS (SELECT n_id, rel, CAST(0 AS DOUBLE) AS penalty,
                      0.7*rel AS mmr_score, 1 AS step
               FROM cand ORDER BY rel DESC, n_id LIMIT 1),
        ${step(2)},
        ${step(3)},
        ${step(4)}
        SELECT step, n_id, round(rel, 4) AS rel,
               round(mmr_score, 4) AS mmr_score
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
        ORDER BY step"""
      })
  )
}
