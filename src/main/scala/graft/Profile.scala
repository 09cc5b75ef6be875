package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Dev tool: profile registry queries in one Bench-shaped session (the
  * same confs, fixed alphabetical order and `.count()` action).
  *
  * Usage: sbt "runMain graft.Profile <name-or-prefix>[,more] <sfDir>
  *   [reps] [k=v ...] [pre] [explain]"
  *
  * Names may be exact or prefixes (`q_stream_` runs the pack). Per query
  * and rep it prints the wall-clock (rep 1 includes scan and store
  * warm-up; later reps isolate the query's own cost), rows, Spark jobs
  * and tasks, persisted RDDs, cached MB, GC, heap and shuffle bytes,
  * then the store builds that run timed, all but the persisted RDDs
  * read off its [[Metrics]] record; per rep, the total over the
  * queries that did not fail. A streaming query also prints every
  * micro-batch's duration breakdown and state-store metrics.
  *   - `k=v`: session conf overrides, static confs included;
  *   - `pre`: first replay every registry query that sorts before the
  *     first chosen one, so the session is as old as in Bench at that
  *     point — the A/B that separates "the query got slower" from "the
  *     session the query is measured in got older";
  *   - `explain`: print each chosen query's formatted physical plan.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    // k=v args are overrides and pre/explain are flags wherever they
    // appear; the rest are positional
    val (kvs, rest) = args.partition(_.contains("="))
    val (flags, pos) = rest.partition(Set("pre", "explain"))
    require(pos.length >= 2, "usage: graft.Profile <name-or-prefix>[,more] " +
      "<sfDir> [reps] [k=v ...] [pre] [explain]")
    val pats = pos(0).split(",").toSeq
    val sfDir = pos(1)
    val reps = if (pos.length > 2) pos(2).toInt else 2
    val overrides = kvs.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }.toMap
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
    val chosen = registry.filter { case (n, _) =>
      pats.exists(p => n == p || n.startsWith(p))
    }
    require(chosen.nonEmpty, s"no queries match: $pats")

    val spark = Sessions.local(overrides = overrides)
    spark.streams.addListener(streamProbe)
    spark.range(1 << 20).selectExpr("sum(id)").collect() // session warm-up
    def count(name: String, q: (SparkSession, String) => DataFrame) =
      try Some(q(spark, sfDir).count())
      catch { case NonFatal(e) =>
        println(s"[profile] $name FAILED: $e"); None
      }

    if (flags.contains("pre")) {
      val before = registry.takeWhile(_._1 < chosen.head._1)
      val t0 = System.nanoTime()
      before.foreach { case (n, q) => count(n, q) }
      println(f"[profile] pre: ${before.size} earlier queries in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s (session aged to " +
        "bench order)")
    }
    (1 to reps).foreach { r =>
      var total = 0.0
      chosen.foreach { case (name, q) =>
        val (rows, m) = Metrics.measure(spark)(count(name, q))
        rows.foreach { n =>
          total += m.wallS
          println(f"[profile] $name rep $r: ${m.wallS}%.2f s ($n rows, " +
            s"${m.jobs} jobs (${m.jobsOutsideSql} outside SQL), ${m.tasks} tasks, " +
            s"${spark.sparkContext.getPersistentRDDs.size} persistent RDDs, " +
            s"${m.cachedMb} MB cached, gc ${m.gcMs} ms, heap ${m.heapMb} MB, " +
            s"shuffle w ${m.shuffleWrite >> 10} KiB / r ${m.shuffleRead >> 10} KiB)")
        }
        if (m.builds.nonEmpty)
          println("[profile] builds: " + m.builds.toSeq.sortBy(-_._2)
            .map { case (k, v) => f"$k=$v%.2f" }.mkString(", "))
      }
      println(f"[profile] TOTAL rep $r: $total%.2f s over " +
        s"${chosen.size} queries")
    }
    if (flags.contains("explain")) chosen.foreach { case (n, q) =>
      // a materializing query's registry entry explains as a
      // LocalTableScan; LazyPlans has its real computation, and may
      // return live caches, released after printing
      val plan = LazyPlans.builders.getOrElse(n,
        (s: SparkSession, d: String) => (q(s, d), Nil))
      println(s"\n========== $n ==========")
      try {
        val (df, caches) = plan(spark, sfDir)
        try df.explain("formatted")
        finally caches.foreach(_.unpersist())
      } catch { case NonFatal(e) => println(s"[profile] explain failed: $e") }
    }
    spark.stop()
  }

  /** Prints each micro-batch's duration breakdown (triggerExecution,
    * addBatch, getBatch, commitOffsets, walCommit, queryPlanning,
    * latestOffset ...) and state-store metrics: the SQL-tab view of a
    * batch, in text form. */
  private val streamProbe = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      println(s"[profile] stream started ${e.name} at ${e.timestamp}")
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      println(s"[profile] batch ${p.batchId} rows=${p.numInputRows} " +
        s"durations=${p.durationMs}")
      p.stateOperators.foreach { so =>
        println(s"[profile]   state op=${so.operatorName} " +
          s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
          s"commitMs=${so.allUpdatesTimeMs}+${so.commitTimeMs} " +
          s"memUsed=${so.memoryUsedBytes}")
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      println(s"[profile] stream terminated runId=${e.runId}")
  }
}
