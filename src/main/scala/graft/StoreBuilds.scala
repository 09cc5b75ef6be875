package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

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
  * per store name: a store rebuilt for a second dataset dir (bench +
  * scale-curve runs share one JVM) adds into the same key, which is
  * the right attribution for a one-session-runs-all harness. Builds
  * nest (models consume tensors): callers resolve the upstream store
  * BEFORE their own, so no ledger entry contains another's build. */
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

  /** One scratch directory per (session, dataset dir, prefix), not
    * ledgered, deleted at JVM exit — so a query run many times in one
    * session reuses one dir instead of leaking one per call. */
  def scratchDir(s: SparkSession, d: String, prefix: String): String =
    session(s).getOrElseUpdate((d, "scratch:" + prefix), {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      scratch.add(p)
      p.toString
    }).asInstanceOf[String]

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

  /** Number of stores (scratch dirs included) held for `applicationId`. */
  private[graft] def entries(applicationId: String): Int =
    sessions.get(applicationId).fold(0)(_.size)

  /** Snapshot (store → cumulative build seconds), largest first. */
  def snapshot: Seq[(String, Double)] = times.toSeq.sortBy(-_._2)

  def clear(): Unit = times.clear()
}
