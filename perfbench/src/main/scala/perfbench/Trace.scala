package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level counters summed from a Spark listener. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  val taskSeconds = mutable.ArrayBuffer.empty[Double]

  def add(m: org.apache.spark.executor.TaskMetrics, info: TaskInfo): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    gcMs += m.jvmGCTime
    // the Spark UI's definition of scheduler delay
    schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    taskSeconds += info.duration / 1e3
  }

  def copy: Counters = {
    val c = new Counters
    c.jobs = jobs; c.tasks = tasks; c.cpuNs = cpuNs; c.shuffleWrite = shuffleWrite
    c.shuffleRead = shuffleRead; c.spill = spill; c.gcMs = gcMs
    c.schedulerDelayMs = schedulerDelayMs
    c.taskSeconds ++= taskSeconds
    c
  }

  /** What was added since `before`, a copy of these counters taken earlier. */
  def since(before: Counters): Counters = {
    val c = new Counters
    c.jobs = jobs - before.jobs; c.tasks = tasks - before.tasks
    c.cpuNs = cpuNs - before.cpuNs; c.shuffleWrite = shuffleWrite - before.shuffleWrite
    c.shuffleRead = shuffleRead - before.shuffleRead; c.spill = spill - before.spill
    c.gcMs = gcMs - before.gcMs; c.schedulerDelayMs = schedulerDelayMs - before.schedulerDelayMs
    c.taskSeconds ++= taskSeconds.drop(before.taskSeconds.length)
    c
  }
}

/** The listener counters and Catalyst phases of one measured call, and
  * its wall time. `phases` holds analysis, optimization and planning
  * seconds summed over the `queries` it executed. */
final case class Window(wallS: Double, counters: Counters, phases: Seq[Double], queries: Long)

/** Spans and listener counters for one run, kept in memory.
  *
  * Spans are recorded only when `enabled`; the untraced run pays one
  * branch per call. Each Spark job is attributed to the innermost open
  * span through a local property set on the thread that submits it, so the
  * listener's asynchronous delivery cannot move tasks between spans. */
final class Tracer(val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil // innermost first
  private var nextId = 0
  private var spark: SparkSession = _

  val total = new Counters
  private val bySpan = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var jobsEnded = 0L
  // (analysis, optimization, planning) seconds over every executed query
  private val phases = Array(0.0, 0.0, 0.0)
  private var queries = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      setProp(name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        setProp(open.headOption.map(_._2).orNull)
        spans += Span(id, parent, name, t0, t1)
      }
    }

  private def setProp(name: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(PropKey, name)

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        total.jobs += 1
        val name = Option(e.properties).map(_.getProperty(PropKey)).orNull
        if (name != null) {
          bySpan.getOrElseUpdate(name, new Counters).jobs += 1
          e.stageIds.foreach(stageSpan(_) = name)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobsEnded += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        if (e.taskMetrics != null) {
          total.add(e.taskMetrics, e.taskInfo)
          stageSpan.get(e.stageId).foreach(n =>
            bySpan.getOrElseUpdate(n, new Counters).add(e.taskMetrics, e.taskInfo))
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").zipWithIndex.foreach {
      case (p, i) => ph.get(p).foreach(s => phases(i) += s.durationMs / 1e3)
    }
    queries += 1
  }

  /** Wait until the listener has seen the end of every started job. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobsEnded < total.jobs) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last job trail its job-end
  }

  def counters(span: String): Counters = synchronized(bySpan.getOrElse(span, new Counters))

  /** Runs `body` and returns what the listeners saw of it alone: the
    * listeners are drained before and after, so work of earlier calls
    * is not counted. */
  def window[T](body: => T): (T, Window) = {
    drain()
    val (c0, p0, q0) = synchronized((total.copy, phases.toSeq, queries))
    val t0 = System.nanoTime()
    val r = body
    val wallS = (System.nanoTime() - t0) / 1e9
    drain()
    synchronized {
      (r, Window(wallS, total.since(c0), phases.toSeq.zip(p0).map { case (a, b) => a - b },
        queries - q0))
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Summed duration of every span with this name. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Self time per span name: duration minus what its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

}
