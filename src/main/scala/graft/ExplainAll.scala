package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` of declared queries to one
  * file per query — the plans/rNN before/after capture loop, and the
  * Exchange/join-strategy census the optimization checklist reads.
  * Note: constructing an iterative query's frame EXECUTES its loop
  * (the rolls are eager), so this runs real work; use a subset list
  * for quick captures. A query whose setup or plan construction throws
  * gets no plan file; the failed names are printed and the process
  * exits 1. Usage:
  *   runMain graft.ExplainAll <sfDir> <outDir> [q1,q2,... | all]
  */
object ExplainAll {

  /** Writes `<outDir>/<name>.txt` per spec; returns the failed names. */
  private[graft] def explain(spark: SparkSession, sfDir: String, outDir: Path,
                             specs: Seq[QuerySpec]): Seq[String] =
    QuerySpec.runEach(spark, sfDir, specs, "explainall") { spec =>
      val plan = spec.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${spec.name}.txt"), plan)
      val ex = "Exchange".r.findAllIn(plan).size
      System.err.println(f"[explainall] ${spec.name}%-28s exchanges=$ex")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val specs = SparkEntry.select(args.lift(2).filterNot(_ == "all"))
    Files.createDirectories(outDir)
    val spark = GraftSession(GraftSession.envCores(8))
    spark.sparkContext.setLogLevel("ERROR")
    val failed = explain(spark, sfDir, outDir, specs)
    spark.stop()
    QuerySpec.exitOnFailures("explainall", failed)
  }
}
