package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built: every main and every spec
  * (through the test trait `SparkSuite`) gets the same engine
  * configuration from here. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, UI off
    * and a UTC session clock. `overrides` go on the builder after the
    * defaults, so they win, static confs (`spark.master`,
    * `spark.sql.extensions`) included. Returns the active session when
    * one is running, as `getOrCreate` does. */
  def local(cpus: Int = defaultCpus,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS), which Spark 4
      // rejects by default; read it as ns-since-epoch longs
      // (Tables.events normalizes both physical types to that)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // let AQE coalesce shuffles inside cached plans too: the iterative
      // loops persist each generation, and without this every tiny
      // iteration keeps the full shuffle-partition fan-out
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
    overrides.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
