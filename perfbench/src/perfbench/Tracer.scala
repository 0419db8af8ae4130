package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region around a call into an engine layer. `request` ties
  * the spans of one serving request (or one pipeline iteration) together;
  * `parent` is the span that was open when this one started (-1 at top). */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side work attributed to a span: the sums of the stage task
  * metrics of every job started while the span was open, Catalyst phase
  * times of the queries it ran, and Janino compiles it triggered. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L
  var planMs = 0.0
  var compiles = 0L
  var codegenMs = 0.0
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Span recorder for traced runs. Spans stay in memory and are written
  * when the run ends ([[Tracer.spans]]). While the listeners are off (an
  * untraced run, or the untraced half of a traced one) `span` only
  * evaluates its body, so untraced operations pay nothing.
  *
  * Spark work is attributed through the public listener APIs: the open
  * span's id travels as a job local property, so a job, its stages and
  * their task metrics land on the span that started the job even though
  * listener events arrive asynchronously. Query-planning phases carry no
  * such property and are attributed by time to the innermost span open
  * when the phase started; spans are sequential on one driver thread, so
  * the attribution is exact for this benchmark. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var request = -1L
  private var listening = false

  val work = mutable.Map.empty[Int, SparkWork]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Double)]

  private def workOf(span: Int): SparkWork = work.getOrElseUpdate(span, new SparkWork)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      sid.foreach { s =>
        val span = s.toInt
        jobSpan(e.jobId) = span
        jobStartMs(e.jobId) = e.time
        workOf(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach { span =>
        workOf(span).jobWindows += (jobStartMs(e.jobId) -> e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { span =>
        val w = workOf(span)
        val m = info.taskMetrics
        w.stages += 1
        w.tasks += info.numTasks
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuMs += m.executorCpuTime / 1e6
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p => planPhases += (p.startTimeMs -> p.durationMs.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Register (`on`) or remove the listeners. Removal first drains the
    * listener bus so no event of a traced span is lost. */
  def listen(on: Boolean): Unit = if (on != listening && (enabled || !on)) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
    } else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
    listening = on
  }

  /** Set the request id carried by spans opened from now on. */
  def setRequest(id: Long): Unit = request = id

  /** Time `body` as a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!listening) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val codegen0 = codegenSumMs
      val prop0 = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, id.toString)
      open.push(id)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val span = Span(id, name, parent, request, t0, System.nanoTime(), w0,
          System.currentTimeMillis())
        open.pop()
        sc.setLocalProperty(PropKey, prop0)
        synchronized {
          val w = workOf(id)
          w.compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          w.codegenMs += codegenSumMs - codegen0
          done += span
        }
      }
    }

  /** Janino compile time so far, estimated: CodegenMetrics keeps a
    * time-weighted sampling histogram with no exact sum, so the total is
    * count × the histogram's mean. The compile count itself is exact. */
  private def codegenSumMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** Finished spans, after every listener event has been delivered, with
    * query-planning time attributed to them. */
  def spans: Seq[Span] = {
    if (listening) org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val all = done.toSeq.sortBy(_.id)
      planPhases.foreach { case (startMs, ms) =>
        val open = all.filter(s => s.startMs <= startMs && startMs <= s.endMs)
        if (open.nonEmpty) workOf(open.maxBy(_.id).id).planMs += ms
      }
      planPhases.clear()
      all
    }
  }
}

object Tracer {

  /** Duration of `s` minus the part of it its direct children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - union(children.map(c => (c.startNs, c.endNs))) / 1e6

  /** Length of the union of [start, end) windows (any unit). */
  def union(windows: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    windows.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
