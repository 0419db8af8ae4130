package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side: one workload, one seed, one result file.
  * `perfbench/run.py` generates the catalog, starts this main in a fresh
  * JVM with its own `java.io.tmpdir`, and turns the result file into the
  * printed metrics. Every engine call goes through the engine's public
  * functions, as a user of the library would make it. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, dump: String,
                        validStanzas: Long, stanzas: Long, sample: Int,
                        launchS: Double, execMs: Long,
                        result: String, injectFailEvery: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("dump"), m("valid").toLong, m("stanzas").toLong,
      m("sample").toInt, m("launch-s").toDouble,
      m("exec-ms").toLong, m("result"), m("inject-fail-every").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start-up included: measured from the moment run.py launched it
    val sessionS = (System.currentTimeMillis() - o.execMs) / 1e3
    val out = try {
      val tr = new Tracer(spark, o.trace)
      val w = new Workload(spark, o, tr)
      val res = o.workload match {
        case "pipeline_cold" => w.pipelineCold()
        case "serve_upsert"  => w.serveUpsert()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      Report.render(o, o.launchS + sessionS, res, w, tr)
    } finally spark.stop()
    Files.write(Paths.get(o.result), out.getBytes("UTF-8"))
  }
}
