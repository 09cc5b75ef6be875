package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve measurement: run the heaviest kernels at sf0.1 AND at
  * a synthesized ~10× replica, and report per-query wall-clock ratios —
  * the executable form of "would this hold at the next order of
  * magnitude". Emits ONE JSON line (saved as BENCH_SCALE_rNN.json).
  *
  * The replica is built once under target/ by unioning 10 key-offset
  * copies of the sf0.1 tables:
  *   - documents: doc_id offset; each copy's TEXT is alphabet-rotated,
  *     so copies are vocabulary-disjoint — the near-dup pair structure
  *     scales linearly (10 independent corpora), which is the honest
  *     scaling shape: a corpus with 10× literal duplication would
  *     inflate the pair set quadratically by DATA, telling nothing
  *     about the ALGORITHM;
  *   - lineitem/orders: order keys offset (join cardinality linear),
  *     part keys offset (the co-purchase graph grows 10 disjoint
  *     subgraphs — nodes and edges linear);
  *   - embeddings: vec_id offset, vectors reused (ANN cost is driven
  *     by corpus size and list structure, not vector novelty).
  *
  * Queries run in a fixed order at each scale so session stage caches
  * (shingles, near-pairs, edges) are built by the same query at both
  * points — ratios then compare like against like, build included.
  */
object BenchScale {

  private val Copies = 10
  private val KeyOff = 10000000L

  private def rotated(i: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    a.drop(i) + a.take(i)
  }

  private def buildReplica(
      s: SparkSession, smallDir: String, bigDir: String): Unit = {
    // V2: r7c queries also read the dimension tables (hits' trade
    // graph). Dims copy verbatim — the nation-pair graph stays
    // constant-size while its edge WEIGHTS carry 10× lineitems, which
    // is the honest scaling axis for the trade-graph family.
    val marker = new org.apache.hadoop.fs.Path(s"$bigDir/_ALL_TABLES_DONE_V2")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return

    def copies(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => f(df, i)).reduce(_.unionByName(_))

    val docs = s.read.parquet(s"$smallDir/documents.parquet")
    copies(docs, (d, i) => d.select(
      (col("doc_id") + i * KeyOff).as("doc_id"),
      translate(col("text"), rotated(0), rotated(i)).as("text"),
      col("lang"), col("source"), col("n_chars")))
      .write.mode("overwrite").parquet(s"$bigDir/documents.parquet")

    val li = s.read.parquet(s"$smallDir/lineitem.parquet")
    copies(li, (d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + i * KeyOff)
      .withColumn("l_partkey", col("l_partkey") + i * KeyOff))
      .write.mode("overwrite").parquet(s"$bigDir/lineitem.parquet")

    val ord = s.read.parquet(s"$smallDir/orders.parquet")
    copies(ord, (d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + i * KeyOff))
      .write.mode("overwrite").parquet(s"$bigDir/orders.parquet")

    val emb = s.read.parquet(s"$smallDir/embeddings.parquet")
    copies(emb, (d, i) => d
      .withColumn("vec_id", col("vec_id") + i * KeyOff))
      .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "events")
      .foreach { t =>
        s.read.parquet(s"$smallDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$bigDir/$t.parquet")
      }

    fs.create(marker, true).close()
  }

  private def warm(s: SparkSession, dir: String): Unit = {
    // codegen + the leg's parquet footers
    s.range(1 << 20).selectExpr("sum(id)").collect()
    Seq("documents", "lineitem", "orders", "embeddings").foreach { t =>
      s.read.parquet(s"$dir/$t.parquet").count()
    }
  }

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = args.headOption.getOrElse("/root/repo/target/scale10x")
    // PER-LEG SparkSession isolation (r9): session stage stores key on
    // applicationId, so one shared session carries BOTH legs' stores —
    // at 10× that overflows the storage pool and the big leg's warm
    // cells measure EVICTION THRASH, not the algorithm (observed: the
    // big-leg ppjoin warm cell at 18.96 s in the shared session vs
    // 3.5 s in a JVM holding only its own leg's stores, clean canaries
    // and ~2 s GC both ways — the 4.6 s/41 s historical swing of this
    // cell was this coupling, not AQE nondeterminism). A fresh context
    // per leg gives each leg exactly its own stores — the same
    // apples-to-apples a real per-dataset deployment has — while JIT
    // state (shared JVM) still warms across legs for both.
    var spark = Sessions.local()
    buildReplica(spark, smallDir, bigDir)
    warm(spark, smallDir)

    // the same CPU-bound load canary Bench uses: ambient box load is
    // the #1 way a scaling ratio lies
    @volatile var sink = 0L
    def canary(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        val ts = (0 until 8).map(_ => new Thread(() => {
          var x = 0L; var i = 0L
          while (i < 100000000L) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
          sink = x
        }))
        ts.foreach(_.start()); ts.foreach(_.join())
        (System.nanoTime() - t0) / 1e9
      }
      Seq.fill(3)(once()).min
    }
    canary() // JIT
    val canaryStart = canary()

    val qs = Seq( // fixed order: cache builders first, same at both scales
      "q_dedup_cluster", // builds shingle rows + pair-count + near-pair caches
      "q_dedup_minhash_lsh", // builds the shingle-SET cache
      "q_dedup_ppjoin", // builds the prefix-index store (r7c)
      "q_graph_triangles", // builds the co-purchase edge cache
      "q_graph_hits", // trade store + per-round RDD truncation (r7c)
      // the iterative graph family (r8): per-round shuffle shape is what
      // 100× stresses hardest. sssp/ppr iterate on the trade graph
      // (constant |V|, 10× edge-build input — their curve measures the
      // 4-table fact-join build); label_prop/kcore iterate on the
      // co-purchase graph (10 disjoint subgraphs — linear |V| and |E|,
      // their curve measures the per-round shuffle itself).
      "q_graph_sssp",
      "q_graph_ppr",
      "q_graph_label_prop",
      "q_graph_kcore",
      "q_sim_ivfpq",
      "q_sim_pca", // corpus-linear one-pass moment matrix (r7c)
      "q_scale_stratified_split", // two-pass distributed rank (r7c)
      // the ms chain's relational stages (r8): peaks derive from
      // lineitem, and the key-offset copies fold onto the SAME slice
      // grid through the mod-based synthesis — 10× rows per slice
      // cell, the exact load shape the reference's ~30-min PySpark
      // slicing job (split_csv_maps_to_slices.py) faces as corpus
      // grows. slice_counts measures the stage-3 partition/count
      // shuffle; tensorize the stage-4 per-cell aggregation.
      "q_ms_slice_counts",
      "q_ms_tensorize",
      "q_scale_mv_maintain",
      // r9: ExactSubstr — the replica's copies are vocabulary-rotated,
      // so cross-copy 50-grams never collide and the dup-span
      // structure replicates exactly 10× (linear is the honest shape;
      // literal 10× duplication would make every doc one giant span
      // and measure the DATA, not the algorithm)
      "q_dedup_exact_substr")
    // (first, rerun) per query — the first pass pays the one-time
    // session stage-cache builds (shingles, pair counts, edges); the
    // rerun isolates the query's own scaling, so the ratio that
    // answers "does the ALGORITHM hold at 10×?" is rerun/rerun, with
    // first/first as the build-inclusive envelope
    def timeOne(dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def resetSession(nextDir: String): Unit = {
      spark.stop()
      spark = Sessions.local()
      warm(spark, nextDir)
    }
    // rerun = min of TWO warm runs: single-sample warm cells on a
    // local[32] single JVM still swing run-to-run (GC timing, AQE
    // partition decisions). The historical 4.6 s/41 s big-leg ppjoin
    // swing turned out to be CROSS-LEG STORE COUPLING (see the
    // per-leg-session note in main) — fixed structurally, the min now
    // only absorbs ordinary jitter. Ambient effects only ever ADD
    // time, so min is the honest algorithm cost.
    def timeAll(dir: String): Map[String, (Double, Double)] =
      qs.map { q =>
        val first = timeOne(dir, q)
        val rerun = math.min(timeOne(dir, q), timeOne(dir, q))
        q -> (first, rerun)
      }.toMap
    // Contamination guard (r7 lesson: leg 2 ran under a 1.534 canary
    // and the cell stood): bracket each leg with the load canary and
    // RE-RUN a leg whose closing probe exceeds 1.2× the baseline —
    // ambient load, not the algorithm, owns such a cell. A retried
    // leg's session stores are already warm, so its "first" column no
    // longer includes the one-time builds; the per-leg attempt count
    // rides in the artifact so a reader knows which cells are
    // build-inclusive (attempts=1) and which are store-warm retries.
    // per-leg JVM GC seconds: a stormy leg (collector pauses inflating
    // warm cells) reads as high gc with a CLEAN cpu canary — the two
    // probes separate box load from heap pressure
    def gcMs(): Long = graft.sparkutil.JvmGc.millis()
    def leg(dir: String)
        : (Map[String, (Double, Double)], Double, Int, Double) = {
      var attempts = 0
      var res: Map[String, (Double, Double)] = Map.empty
      var c = Double.MaxValue
      var gcSecs = 0.0
      while (attempts < 3 && c / canaryStart > 1.2) {
        val g0 = gcMs()
        res = timeAll(dir)
        gcSecs = (gcMs() - g0) / 1000.0
        c = canary()
        attempts += 1
      }
      (res, c, attempts, gcSecs)
    }
    val (small, canarySmall, attemptsSmall, gcSmall) = leg(smallDir)
    resetSession(bigDir) // fresh appId: the big leg gets ONLY its stores
    val (big, canaryBig, attemptsBig, gcBig) = leg(bigDir)
    // drop the 10× session caches before the closing probe: the canary
    // measures AMBIENT load, and residual GC over ~20M cached rows in
    // this same JVM would read as a loaded box
    spark.catalog.clearCache()
    System.gc()
    val canaryEnd = canary()
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // EXPLICIT per-leg contamination verdicts (r8 ADVICE): if all 3
    // retry attempts closed loaded, the cell stands anyway — readers
    // must not have to cross-reference attempts+canary to distrust it.
    // Flags are judged against the MINIMUM probe seen across the whole
    // run, not canaryStart: ambient load only ever ADDS probe time, so
    // the min is the closest available estimate of the unloaded box —
    // this also de-vacuouses the guard when the START itself ran
    // loaded (in-run retries compare against canaryStart and would
    // under-trigger; the report recomputes against the honest floor).
    val baselineMin = Seq(canaryStart, canarySmall, canaryBig, canaryEnd).min
    val contamSmall = canarySmall / baselineMin > 1.2
    val contamBig = canaryBig / baselineMin > 1.2
    val rows = Seq("documents", "lineitem", "embeddings").map { t =>
      val a = spark.read.parquet(s"$smallDir/$t.parquet").count()
      val b = spark.read.parquet(s"$bigDir/$t.parquet").count()
      "\"" + t + "\":{\"small\":" + a + ",\"big\":" + b + "}"
    }.mkString("{", ",", "}")
    val perQ = qs.map { q =>
      val (sf, sr) = small(q); val (bf, br) = big(q)
      "\"" + q + "\":{\"small\":" + r3(sf) + ",\"big\":" + r3(bf) +
        ",\"ratio\":" + r3(bf / sf) +
        ",\"small_rerun\":" + r3(sr) + ",\"big_rerun\":" + r3(br) +
        ",\"rerun_ratio\":" + r3(br / sr) + "}"
    }.mkString("{", ",", "}")
    // heap rides in the artifact: the 10× leg runs on the same JVM, so
    // a starved heap measures eviction, not the algorithm — readers
    // (and future reruns) need to know which memory regime a cell
    // came from. Scale runs should use SPARK_DRIVER_MEM=48g: memory ∝
    // data is how a real cluster scales, and 24g leaves the 10× leg's
    // heaviest kernel (triangles: 12M-edge adjacency arrays) on the
    // storage-eviction knife edge (observed warm cells 11.7–49.6 s
    // across runs at 24g; 11.7 s stable at 48g).
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    val cj = s"""{"start":${r3(canaryStart)},"small":${r3(
        canarySmall)},"big":${r3(canaryBig)},"end":${r3(
        canaryEnd)},"ratio":${r3(
        math.max(canarySmall, canaryBig) / canaryStart)},"attempts":{"small":$attemptsSmall,"big":$attemptsBig},"gc_s":{"small":${r3(
        gcSmall)},"big":${r3(
        gcBig)}},"contaminated":{"small":$contamSmall,"big":$contamBig},"heap_mb":$heapMb}"""
    println(s"""{"metric":"scale_curve","factor":$Copies,"queries":$perQ,"rows":$rows,"canary":$cj,"small":"$smallDir","big":"$bigDir"}""")
    spark.stop()
  }
}
