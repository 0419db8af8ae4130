package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Where one run's wall time went, by Spark layer: the harnesses' one
  * metrics listener. [[measure]] drains the listener bus, runs the body
  * and drains again, both drains outside the timed region, and counts
  * every event in between: one query runs at a time, so no job needs a
  * tag to be attributed.
  *
  * Figures, in report order: `wall_s` (unrounded); `jobs`, completed
  * `stages` and `tasks`; task sums of run, CPU, GC and deserialize ms,
  * fetch wait, shuffle read/write bytes and write ms, memory and disk
  * spill; the largest task's peak execution memory; `plan_ms`, the
  * Catalyst phases that the body's queries started inside the run;
  * `compiles` and `compile_ms` (Janino, JVM-wide deltas); and
  * `driver_gap_ms`, wall time minus the union of the job windows, as
  * perfbench's Tracer defines its gap.
  */
object QueryMetrics {

  private final class Listener(startMs: Long) extends SparkListener
      with QueryExecutionListener {
    val sums = mutable.LinkedHashMap.from(Seq("jobs", "stages", "tasks",
      "task_run_ms", "task_cpu_ms", "gc_ms", "deserialize_ms", "fetch_wait_ms",
      "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_write_ms",
      "spill_mem_bytes", "spill_disk_bytes", "peak_execution_memory_bytes",
      "plan_ms").map(_ -> 0.0))
    val jobWindows = mutable.Map.empty[Int, (Long, Long)]
    private val planned = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])
    private def add(kvs: (String, Double)*): Unit = kvs.foreach { case (k, v) => sums(k) += v }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("jobs" -> 1)
      jobWindows(e.jobId) = (e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobWindows.updateWith(e.jobId)(_.map { case (s, _) => (s, e.time) })
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(add("stages" -> 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks" -> 1)
      Option(e.taskMetrics).foreach { m =>
        add("task_run_ms" -> m.executorRunTime.toDouble,
          "task_cpu_ms" -> m.executorCpuTime / 1e6, "gc_ms" -> m.jvmGCTime.toDouble,
          "deserialize_ms" -> m.executorDeserializeTime.toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_write_ms" -> m.shuffleWriteMetrics.writeTime / 1e6,
          "spill_mem_bytes" -> m.memoryBytesSpilled.toDouble,
          "spill_disk_bytes" -> m.diskBytesSpilled.toDouble)
        sums("peak_execution_memory_bytes") =
          math.max(sums("peak_execution_memory_bytes"), m.peakExecutionMemory.toDouble)
      }
    }
    private def plan(qe: QueryExecution): Unit = synchronized {
      if (planned.add(qe)) add("plan_ms" ->
        qe.tracker.phases.values.filter(_.startTimeMs >= startMs).map(_.durationMs).sum.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  /** Runs `body` once and returns its result with the figures of the
    * run. A throwing body propagates: catch inside it to keep the
    * figures of a failed run. */
  def measure[T](spark: SparkSession)(body: => T): (T, ListMap[String, Double]) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val startMs = System.currentTimeMillis()
    val l = new Listener(startMs)
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      val (compiles0, compileNs0) =
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      val codegen = ListMap[String, Double](
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "compile_ms" -> (CodeGenerator.compileTime - compileNs0) / 1e6)
      ListenerBusDrain(sc)
      l.synchronized {
        // the union of the job windows, clipped to the run
        var (busy, reach) = (0L, startMs)
        l.jobWindows.values.toSeq.sorted.foreach { case (a, b) =>
          val (s, e) = (math.max(a, reach), math.min(b, endMs))
          if (e > s) { busy += e - s; reach = e }
        }
        (out, ListMap[String, Double]("wall_s" -> wallMs / 1e3) ++ l.sums ++ codegen +
          ("driver_gap_ms" -> math.max(0.0, wallMs - busy.toDouble)))
      }
    } finally {
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
  }
}
