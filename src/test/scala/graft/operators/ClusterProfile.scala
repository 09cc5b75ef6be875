package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiling harness for the q_dedup_cluster chain (not a test):
  * warms the session like Bench does, then times each stage of
  * shingles → pair kernel → CC fixpoint separately. */
object ClusterProfile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[cprof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]").appName("cluster-profile")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bench-style warmup
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/documents.parquet").count()

    val sh = time("shingles build+persist") {
      Dedup.shinglesCached(spark, d)
    }
    println(s"[cprof]   shingle rows = ${sh.count()}")
    val pc = time("pairCountsCached build") {
      Dedup.pairCountsCached(spark, d)
    }
    println(s"[cprof]   pair rows = ${pc.count()}")
    val pairs = time("jaccard filter") {
      val r = pc
        .withColumn("jaccard",
          col("c").cast("double") / (col("nsh1") + col("nsh2") - col("c")))
        .filter(col("jaccard") >= 0.5)
        .select(col("d1"), col("d2")).persist()
      println(s"[cprof]   near pairs = ${r.count()}")
      r
    }
    val labels = time("CC fixpoint") {
      import spark.implicits._
      Dedup.minLabelComponents(pairs).toDF("doc_id", "canonical_id")
    }
    time("final orderBy+count") {
      println(s"[cprof]   labels = ${labels.orderBy("doc_id").count()}")
    }
    spark.stop()
  }
}
