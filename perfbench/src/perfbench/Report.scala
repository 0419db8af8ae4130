package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** The JVM's result file. It carries raw samples; run.py derives the
  * end-to-end metrics from them. A traced run adds the per-layer metrics and writes
  * every span to `<result>.trace.json`. */
object Report {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A measured value, or null when it could not be measured. */
  private def num(v: Double): Option[Double] = Some(v).filterNot(_.isNaN)

  def render(o: Main.Opts, setupBaseS: Double, r: Result, w: Workload, tr: Tracer): String = {
    val writes = r.writes.toSeq
    val fields = ListMap[String, Any](
      "correct" -> w.checkFailures.isEmpty,
      "checks_failed" -> w.checkFailures.take(20).toSeq,
      "setup_s" -> (setupBaseS + r.prepS),
      "op_ms" -> r.ops.plainMs.toSeq,
      "traced_op_ms" -> r.ops.tracedMs.toSeq,
      "op_failed" -> r.ops.failed,
      "write_ms" -> writes.flatMap(x => x.plainMs ++ x.tracedMs),
      "write_failed" -> writes.map(_.failed).sum,
      "busy_s" -> (r.ops.busyNs + writes.map(_.busyNs).sum) / 1e9,
      "hybrid_p_at_10" -> num(r.hybridP10),
      "ann_recall_at_10" -> num(r.annRecall10),
      "peak_rss_mb" -> r.peakRssMb)
    val layer = if (!o.trace) ListMap.empty else {
      val spans = tr.spans
      writeTrace(o.result + ".trace.json", spans, tr)
      ListMap("layer" -> ListMap(layerMetrics(o, spans, w, tr).map { case (k, v) =>
        k -> num(v) }: _*))
    }
    json.writeValueAsString(fields ++ layer)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** The JVM's peak resident set so far (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    finally src.close()
  }

  /** Per-layer metrics from the spans of a traced run. Stage times come
    * from the one pipeline of pipeline_cold or the set-up of serve_upsert;
    * per-query times divide pipeline_cold's 50-query batch
    * stages by 50 and take the median over serve_upsert's timed
    * requests. Spark counts are summed over each timed operation's span
    * tree and averaged over the traced operations. A layer that a
    * workload does not run reads 0. */
  private def layerMetrics(o: Main.Opts, spans: Seq[Span], w: Workload,
                           tr: Tracer): Seq[(String, Double)] = {
    val pipeline = o.workload == "pipeline_cold"
    val byName = spans.groupBy(_.name)
    def med(name: String, f: Span => Double): Double =
      byName.get(name).map(xs => median(xs.map(f))).getOrElse(0.0)
    def stageS(name: String): Double = med(name, _.ms / 1e3)
    // serve_upsert: only the timed requests, not the warm-up ones
    def perQueryMs(name: String): Double =
      if (pipeline) med(name, _.ms) / Workload.EvalQueries
      else byName.getOrElse(name, Nil).filter(_.request >= 0) match {
        case Nil => 0.0
        case xs => median(xs.map(_.ms))
      }
    def noted(k: String): Double = w.layer.get(k).map(v => median(v.toSeq)).getOrElse(0.0)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val ops = byName.getOrElse(if (pipeline) "pipeline" else "request", Nil)
      .filter(_.request >= 0)
    val perOp = ops.map { op =>
      val ws = subtree(op).flatMap(s => tr.work.get(s.id))
      (ws, op.ms - Tracer.union(ws.flatMap(_.jobWindows)))
    }
    def sparkAvg(f: SparkWork => Double): Double =
      if (perOp.isEmpty) 0.0 else perOp.map(_._1.map(f).sum).sum / perOp.size
    val fitS = stageS("ivf.fit")
    val assignS = stageS("ivf.assign_write")
    Seq(
      "parse.s" -> stageS("parse"), "parse.products" -> noted("parse.products"),
      "parse.dropped" -> noted("parse.dropped"),
      "sample.s" -> stageS("sample"),
      "embed.s" -> stageS("embed"), "embed.docs" -> noted("embed.docs"),
      "graph.s" -> stageS("graph"), "graph.edges" -> noted("graph.edges"),
      "ivf.fit.s" -> fitS, "ivf.assign_write.s" -> assignS,
      "ivf.build.s" -> (if (pipeline) fitS + assignS else stageS("ivf.build")),
      "ivf.cells" -> noted("ivf.cells"), "ivf.index_files" -> noted("ivf.index_files"),
      "ivf.serve.ms" -> perQueryMs("ivf.serve"),
      "ivf.cells_probed" -> noted("ivf.cells_probed"),
      "ivf.rows_scored" -> noted("ivf.rows_scored"),
      "ivf.useful_ratio" -> noted("ivf.useful_ratio"),
      "ivf.upsert.ms" -> med("ivf.upsert", _.ms),
      "ivf.files_after_upserts" -> noted("ivf.files_after_upserts"),
      "cf.ms" -> perQueryMs("cf"), "fuse.ms" -> perQueryMs("fuse"),
      "fuse.candidates_per_query" -> noted("fuse.candidates_per_query"),
      "eval.s" -> stageS("eval"),
      "quality.content_p_at_10" -> noted("quality.content_p_at_10"),
      "spark.jobs" -> sparkAvg(_.jobs.toDouble),
      "spark.stages" -> sparkAvg(_.stages.toDouble),
      "spark.tasks" -> sparkAvg(_.tasks.toDouble),
      "spark.task_run_ms" -> sparkAvg(_.taskRunMs),
      "spark.task_cpu_ms" -> sparkAvg(_.taskCpuMs),
      "spark.gc_ms" -> sparkAvg(_.gcMs),
      "spark.shuffle_read_bytes" -> sparkAvg(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" -> sparkAvg(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> sparkAvg(_.spill.toDouble),
      "spark.plan_ms" -> sparkAvg(_.planMs),
      "spark.codegen_compiles" -> sparkAvg(_.compiles.toDouble),
      "spark.codegen_ms" -> sparkAvg(_.codegenMs),
      "spark.driver_gap_ms" -> (if (perOp.isEmpty) 0.0 else median(perOp.map(_._2))))
  }

  /** Every span with its self time and the Spark work attributed to it. */
  private def writeTrace(path: String, spans: Seq[Span], tr: Tracer): Unit = {
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val w = tr.work.getOrElse(s.id, new SparkWork)
      ListMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ms" -> s.ms,
        "self_ms" -> Tracer.selfMs(s, children.getOrElse(s.id, Nil)),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_run_ms" -> w.taskRunMs, "task_cpu_ms" -> w.taskCpuMs, "gc_ms" -> w.gcMs,
        "shuffle_read_bytes" -> w.shuffleRead, "shuffle_write_bytes" -> w.shuffleWrite,
        "spill_bytes" -> w.spill, "plan_ms" -> w.planMs, "codegen_compiles" -> w.compiles,
        "codegen_ms" -> w.codegenMs)
    }
    Files.write(Paths.get(path), json.writeValueAsBytes(Map("spans" -> rows)))
  }
}
