package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The session stage store and its build ledger — the in-session form
  * of the reference's on-disk inter-stage artifacts (slice tensors,
  * model files). A store (shingle rows, near-pair set, prefix index,
  * graph edge lists, IVF/band stores, tokenizer vocabularies, ms
  * tensors) is built once per (session, dataset dir, name) and shared
  * by every later query of that session; its entries are dropped when
  * the session's SparkContext stops.
  *
  * Each build's wall-clock goes into the ledger under the store name,
  * so Bench reports store builds as THEIR OWN lines instead of
  * silently charging whichever query ran first — the "first consumer
  * pays the build" misattribution that made q_dedup_cluster read as
  * 5.6 s when the query proper is well under the 5 s bar. Only the
  * build (a miss) is timed; hits never touch the ledger. Cumulative
  * per store name: a store rebuilt for a second dataset dir adds into
  * the same key; [[Metrics]] reads a body's builds as the ledger's
  * growth over it. Builds
  * nest (models consume tensors): callers resolve the upstream store
  * BEFORE their own, so no ledger entry contains another's build.
  * [[resumable]] holds the durable (on-disk, append-mode) stores'
  * resume policy. */
object StoreBuilds {
  private val times = TrieMap.empty[String, Double]

  /** applicationId → ((dataset dir, name) → store). getOrElseUpdate,
    * not ConcurrentHashMap.computeIfAbsent: nested builds re-enter the
    * same map, which computeIfAbsent rejects as a recursive update. */
  private val sessions = TrieMap.empty[String, TrieMap[(String, String), Any]]

  private val scratch =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())

  // scratch dirs are deleted at JVM exit, best-effort: a killed JVM
  // leaves them to the OS tmp reaper, the right failure mode for
  // scratch space
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    scratch.forEach { p =>
      try {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f): Unit })
      } catch { case _: Exception => () }
    }
  }))

  /** Run `build`, add its wall-clock to `store`'s ledger entry. */
  def timed[T](store: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val r = build
    val secs = (System.nanoTime() - t0) / 1e9
    times.updateWith(store) {
      case Some(prev) => Some(prev + secs)
      case None       => Some(secs)
    }
    r
  }

  /** The store `name` of dataset `d` in session `s`: runs `build`
    * (timed into the ledger under `name`) on the first call, returns
    * the same value on every later one. */
  def cached[T](s: SparkSession, d: String, name: String)(build: => T): T =
    session(s).getOrElseUpdate((d, name), timed(name)(build)).asInstanceOf[T]

  /** [[cached]] for a Dataset store: persisted and materialized with
    * one action inside the timed block — a lazy persist would record
    * ~0 s and charge the first consumer, and sibling branches of a
    * consuming job would race the un-materialized cache. */
  def persisted[T](s: SparkSession, d: String, name: String)(
      plan: => Dataset[T]): Dataset[T] =
    cached(s, d, name) {
      val r = plan.persist()
      r.count()
      r
    }

  /** [[cached]] without the ledger: session values that are not
    * stores (scratch dirs, table schemas) share the stores' lifetime
    * but stay out of `snapshot`, so BENCH_BUILDS keeps its key set. */
  private[graft] def unledgered[T](s: SparkSession, d: String, key: String)(make: => T): T =
    session(s).getOrElseUpdate((d, key), make).asInstanceOf[T]

  /** One scratch directory per (session, dataset dir, prefix), not
    * ledgered, deleted at JVM exit — so a query run many times in one
    * session reuses one dir instead of leaking one per call. */
  def scratchDir(s: SparkSession, d: String, prefix: String): String =
    unledgered(s, d, "scratch:" + prefix) {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      scratch.add(p)
      p.toString
    }

  /** The durable parquet store at `path`, read with its `schema`, or
    * None when nothing exists there. A known schema costs no inference
    * job, and a store whose first write was killed (a directory holding
    * only `_temporary/`) reads back empty instead of failing to infer. */
  def durable(s: SparkSession, path: String, schema: StructType): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    Option.when(p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))(
      s.read.schema(schema).parquet(path))
  }

  /** The one resume policy of the durable stage stores (the reference's
    * file-existence DAG, `candia:6-68`, and `skip_completed`): `missing`
    * gets the store's distinct `keys` (None before the first write),
    * anti-joins its work list against them and returns only the missing
    * rows, which are appended. Returns the whole store, read with
    * `schema`, which the appended rows must carry. */
  def resumable(s: SparkSession, path: String, schema: StructType, keys: Seq[String])(
      missing: Option[DataFrame] => Dataset[_]): DataFrame = {
    val done = durable(s, path, schema).map(_.select(keys.map(col): _*).distinct())
    val todo = missing(done)
    require(todo.schema.catalogString == schema.catalogString, // names and types
      s"rows for the store at $path are ${todo.schema.catalogString}, " +
        s"not ${schema.catalogString}")
    todo.write.mode("append").parquet(path)
    s.read.schema(schema).parquet(path)
  }

  private def session(s: SparkSession): TrieMap[(String, String), Any] = {
    val sc = s.sparkContext
    val app = sc.applicationId
    sessions.getOrElse(app, {
      val fresh = TrieMap.empty[(String, String), Any]
      sessions.putIfAbsent(app, fresh).getOrElse {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            sessions.remove(app): Unit
        })
        fresh
      }
    })
  }

  /** Number of stores (unledgered values included) held for `applicationId`. */
  private[graft] def entries(applicationId: String): Int =
    sessions.get(applicationId).fold(0)(_.size)

  /** Snapshot (store → cumulative build seconds), largest first. */
  def snapshot: Seq[(String, Double)] = times.toSeq.sortBy(-_._2)

  def clear(): Unit = times.clear()
}
