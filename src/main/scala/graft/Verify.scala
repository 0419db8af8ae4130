package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is logged and the rest still run; after every output and
  * oracle_sql.json are written, the failed names are printed and the
  * process exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession(GraftSession.envCores(32))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subsetting (the driver sets no env): verify a few queries
    // without paying for the whole map; oracle_sql.json then lists only
    // the queries that ran.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val failed = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
      val ok =
        try {
          SparkEntry.setups.get(name).foreach(_(spark, sfDir))
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        }
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // same deterministic block reap as Bench: one-shot queries leave
      // localCheckpoint blocks pinned; across 193 queries the pile-up
      // slows the whole gate (the result is already written, nothing
      // needs to stay materialized). clearCache is defensive — no
      // operator registers a DataFrame cache today.
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      if (ok) None else Some(name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
