package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` of declared queries to one
  * file per query — the plans/rNN before/after capture loop, and the
  * Exchange/join-strategy census the optimization checklist reads.
  * Note: constructing an iterative query's frame EXECUTES its loop
  * (the rolls are eager), so this runs real work; use a subset list
  * for quick captures. Usage:
  *   runMain graft.ExplainAll <sfDir> <outDir> [q1,q2,... | all]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    Files.createDirectories(outDir)
    val names = args.lift(2).filterNot(_ == "all") match {
      case Some(list) => list.split(",").toSeq.map(_.trim)
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val spark = GraftSession(GraftSession.envCores(8))
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      try {
        // NonFatal only (ADVICE r14): a blanket Throwable catch here
        // swallowed OOM/interrupt and then captured plans against
        // missing setup state with no diagnostic
        val spec = SparkEntry.byName(n)
        try spec.setup.foreach(_(spark, sfDir))
        catch { case NonFatal(t) =>
          System.err.println(s"[explainall] $n setup FAILED: $t")
        }
        val df = spec.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"$n.txt"), plan)
        val ex = "Exchange".r.findAllIn(plan).size
        System.err.println(f"[explainall] $n%-28s exchanges=$ex")
      } catch { case NonFatal(t) =>
        System.err.println(s"[explainall] $n FAILED: $t")
      }
      // iterative constructions checkpoint; drop their blocks
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
