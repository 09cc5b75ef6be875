package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one metrics collector: what a block of Spark work cost. Bench,
  * Profile and the specs read its [[Metrics.Record]].
  *
  * Spark counters cover only the jobs of the measured body: they carry
  * a local property unique to the measure, set on the calling thread
  * and inherited by the threads it starts (broadcasts, subqueries,
  * stream executions), so work that other threads run at the same time
  * is not counted. Listener delivery is asynchronous but ordered: a
  * job's task-end and job-end events are posted before its action
  * returns, and a listener queue delivers events in the order they
  * were posted. So `measure` ends with a tagged zero-partition marker
  * job, which runs no task, and waits for that job's end event; by
  * then every event of the body has been delivered. The marker and the
  * wait lie outside the timed wall. */
object Metrics {

  /** What one body cost.
    *   - `wallS`: its wall-clock seconds;
    *   - `jobs`: the Spark jobs it started, and `jobsOutsideSql` those
    *     started outside a SQL execution (schema inference, RDD
    *     actions);
    *   - `tasks`, `executorCpuS`, shuffle and spill bytes: summed over
    *     those jobs' tasks;
    *   - `gcMs`: the JVM's collection time during the body;
    *   - `builds`: the [[StoreBuilds]] ledger's growth during the body,
    *     store → seconds;
    *   - `cachedMb`, `heapMb`: cached RDD storage and used heap after
    *     it. */
  final case class Record(
      wallS: Double,
      jobs: Int,
      jobsOutsideSql: Int,
      tasks: Long,
      executorCpuS: Double,
      shuffleWrite: Long,
      shuffleRead: Long,
      spill: Long,
      gcMs: Long,
      builds: Map[String, Double],
      cachedMb: Long,
      heapMb: Long)

  private val Tag = "graft.metrics"
  private val Marker = "/end"

  private val measuring = ThreadLocal.withInitial[Boolean](() => false)

  /** applicationId → the context's collector. */
  private val collectors = TrieMap.empty[String, Collector]

  /** Runs `body` and returns its value with what it cost. A throwing
    * body rethrows; measures do not nest on one thread. */
  def measure[T](spark: SparkSession)(body: => T): (T, Record) = {
    if (measuring.get)
      throw new IllegalStateException("Metrics.measure does not nest")
    val sc = spark.sparkContext
    val c = collector(sc)
    val id = java.util.UUID.randomUUID().toString
    val acc = c.open(id)
    val prev = sc.getLocalProperty(Tag)
    measuring.set(true)
    sc.setLocalProperty(Tag, id)
    try {
      val builds0 = StoreBuilds.snapshot.toMap
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val r = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val gcMs = gcMillis() - gc0
      val builds = StoreBuilds.snapshot
        .map { case (store, secs) => store -> (secs - builds0.getOrElse(store, 0.0)) }
        .filter(_._2 > 0).toMap
      sc.setLocalProperty(Tag, id + Marker)
      sc.emptyRDD[Int].count()
      if (!acc.drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "the listener bus did not deliver the marker job's end in 60 s")
      val rt = Runtime.getRuntime
      (r, Record(wallS, acc.jobs, acc.jobsOutsideSql, acc.tasks, acc.cpuNs / 1e9,
        acc.shuffleWrite, acc.shuffleRead, acc.spill, gcMs, builds,
        sc.getRDDStorageInfo.map(_.memSize).sum >> 20,
        (rt.totalMemory - rt.freeMemory) >> 20))
    } finally {
      sc.setLocalProperty(Tag, prev)
      c.close(id)
      measuring.set(false)
    }
  }

  /** Cumulative collection time across all collectors, in ms; beans
    * that report −1 (unsupported) count as 0. */
  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** One context's listener, registered on first use and dropped from
    * the map when the application ends. */
  private def collector(sc: SparkContext): Collector = collectors.synchronized {
    val app = sc.applicationId
    collectors.getOrElseUpdate(app, {
      val c = new Collector(app)
      sc.addSparkListener(c)
      c
    })
  }

  /** One body's counters. The listener thread writes them; the
    * measuring thread reads them after `drained`, which orders the
    * two. */
  private final class Acc {
    var jobs, jobsOutsideSql = 0
    var tasks, cpuNs, shuffleWrite, shuffleRead, spill = 0L
    val drained = new CountDownLatch(1)

    def add(m: TaskMetrics): Unit = {
      tasks += 1
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private final class Collector(app: String) extends SparkListener {
    private val bodies = TrieMap.empty[String, Acc] // body tag → counters
    private val stages = TrieMap.empty[Int, Acc]
    private val markers = TrieMap.empty[Int, Acc] // marker job id → body

    def open(id: String): Acc = bodies.getOrElseUpdate(id, new Acc)

    def close(id: String): Unit =
      bodies.remove(id).foreach(acc => stages.filterInPlace((_, a) => a ne acc))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Tag)).orNull
      if (tag != null) bodies.get(tag) match {
        case Some(acc) =>
          acc.jobs += 1
          if (e.properties.getProperty("spark.sql.execution.id") == null)
            acc.jobsOutsideSql += 1
          e.stageIds.foreach(stages(_) = acc)
        case None =>
          bodies.get(tag.stripSuffix(Marker)).foreach(markers(e.jobId) = _)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      markers.remove(e.jobId).foreach(_.drained.countDown())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) stages.get(e.stageId).foreach(_.add(e.taskMetrics))

    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      collectors.remove(app): Unit
  }
}
