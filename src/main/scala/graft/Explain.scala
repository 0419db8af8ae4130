package graft

/** Dev tool: print the formatted physical plan of named queries —
  * the scale-review loop (pushdown / broadcast / codegen checks).
  * Usage: runMain graft.Explain <sfDir> <query>[,<query>...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = GraftSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
