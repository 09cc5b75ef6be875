package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload in one JVM on local[cpus].
  *
  *   Main --workload W --inputs DIR --work DIR --out FILE
  *        --seconds N --trace 0|1 --cpus N
  *
  * Builds the session several times (set-up), runs the workload's unit
  * repeatedly for `--seconds`, and writes one JSON object to `--out`:
  * end-to-end metrics, per-layer metrics (traced run), the values the
  * caller checks for correctness, and a host record. */
object Main {

  final case class Args(workload: String, inputs: String, work: String, out: String,
      seconds: Double, trace: Boolean, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt)
  }

  /** The session every workload runs in (the same settings as graft.Bench). */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed warm-up after a session build: a codegen'd aggregate and a
    * small parquet round trip. */
  def warmUp(s: SparkSession, work: String): Unit = {
    s.range(1 << 20).selectExpr("sum(id)", "max(id % 7)").collect()
    val p = s"$work/warmup.parquet"
    s.range(1 << 16).selectExpr("id", "id * 2 AS y").write.mode("overwrite").parquet(p)
    s.read.parquet(p).groupBy("y").count().count()
  }

  @volatile private var sink = 0L

  /** Fixed CPU canary: `cpus` threads spinning a fixed loop, min of 3. */
  def canary(cpus: Int): Double = Seq.fill(3) {
    val t0 = System.nanoTime()
    val ts = (0 until cpus).map(_ => new Thread(() => {
      var x = 0L
      var i = 0L
      while (i < 50000000L) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      sink = x
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The number of warm units a run times: `seconds` over the unit's
    * nominal length, and at least two. A count that does not follow the
    * host's speed keeps a slow run from reporting a median over other
    * (less warm) units than a fast one. */
  def warmUnits(seconds: Double, nominalS: Double): Int =
    math.max(2, math.round(seconds / nominalS).toInt)

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val canaryStart = canary(a.cpus)
    val loadStart = loadavg()

    // set-up: build the session three times; the median is setup_s and
    // the last session runs the workload
    var spark: SparkSession = null
    val setups = (1 to 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.cpus, a.work)
      val t1 = System.nanoTime()
      warmUp(spark, a.work)
      System.err.println(f"[perfbench] setup $i: session ${(t1 - t0) / 1e9}%.3f s, warm-up ${(System.nanoTime() - t1) / 1e9}%.3f s")
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(a.trace)
    tracer.attach(spark)

    val result: Map[String, Any] = a.workload match {
      case "dia" => Dia.run(spark, a, tracer)
      case "registry" => Registry.run(spark, a, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.stop()

    val out = result ++ Map(
      "setup_s" -> median(setups),
      "setup_samples_s" -> setups,
      "peak_rss_mb" -> vmHwmMb(),
      "per_layer" -> result.getOrElse("per_layer", Map.empty),
      "spans" -> Layers.spans(tracer),
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cpus" -> a.cpus,
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg(),
        "canary_start_s" -> canaryStart,
        "canary_end_s" -> canary(a.cpus)))
    Files.writeString(Paths.get(a.out), Json(out))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case o => str(o.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Per-layer metrics every workload reports from its traced run. */
object Layers {
  /** The Spark listener's task counters and Catalyst's planning phases
    * of the traced unit, `w`; CPU use is over its wall time. */
  def common(w: Window, cpus: Int): Map[String, Any] = {
    val c = w.counters
    val Seq(analysis, optimization, planning) = w.phases
    val mb = 1048576.0
    Map(
      "spark.jobs" -> c.jobs,
      "spark.tasks" -> c.tasks,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9,
      "spark.cpu_util" -> c.cpuNs / 1e9 / (w.wallS * cpus),
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb,
      "spark.spill_mb" -> c.spill / mb,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.scheduler_delay_s" -> c.schedulerDelayMs / 1e3,
      "catalyst.queries" -> w.queries,
      "catalyst.analysis_s" -> analysis,
      "catalyst.optimization_s" -> optimization,
      "catalyst.planning_s" -> planning)
  }

  /** Spans for the trace file, each with the task counters summed over
    * every span of its name. */
  def spans(t: Tracer): Seq[Map[String, Any]] = t.all.map { s =>
    val c = t.counters(s.name)
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "name_jobs" -> c.jobs, "name_tasks" -> c.tasks, "name_cpu_s" -> c.cpuNs / 1e9)
  }
}
