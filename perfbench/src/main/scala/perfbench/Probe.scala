package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one measurement window, filled from Spark's own
  * listeners. Fields are written on listener-bus threads (each field
  * by one listener) and read only after [[Probe.window]] drained the
  * bus. */
final class Layers {
  var jobs = 0L
  val jobStarts = mutable.ArrayBuffer.empty[Long]
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var batches = 0L
  var addBatchMs = 0L
  var triggerMs = 0L

  /** Wall milliseconds within [w0, w1] during which at least one task
    * ran (union of the task spans). */
  def busyMs(w0: Long, w1: Long): Long = {
    var busy = 0L
    var end = w0
    for ((a, b) <- taskSpans.sortBy(_._1)) {
      val s = math.max(a, end)
      val e = math.min(b, w1)
      if (e > s) { busy += e - s; end = e }
    }
    busy
  }

  /** Jobs that started within [t0, t1]. */
  def jobsIn(t0: Long, t1: Long): Long =
    jobStarts.count(t => t >= t0 && t <= t1).toLong
}

/** The traced run's instruments: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (analysis / optimization /
  * planning phases of every query) and a StreamingQueryListener
  * (micro-batch progress). All observe the program from outside. */
final class Probe(sc: SparkContext) {
  @volatile private var cur = new Layers

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = cur
      l.jobs += 1
      l.jobStarts += e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = cur
      l.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        l.runMs += m.executorRunTime
        l.cpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.inputBytes += m.inputMetrics.bytesRead
        l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      l.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  })

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val l = cur
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      l.analysisMs += ms("analysis")
      l.optimizationMs += ms("optimization")
      l.planningMs += ms("planning")
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val l = cur
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      l.batches += 1
      l.addBatchMs += ms("addBatch")
      l.triggerMs += ms("triggerExecution")
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Observe queries and streams run by `s` (the listeners of a
    * session are its own, so each fresh session is watched anew). */
  def watch(s: SparkSession): Unit = {
    s.listenerManager.register(plans)
    s.streams.addListener(streams)
  }

  /** Wait for every event posted so far, close the current window and
    * open the next one. */
  def window(): Layers = {
    PerfbenchBus.drain(sc)
    val l = cur
    cur = new Layers
    l
  }
}
