package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/compare.py`). A query whose
  * setup or body throws is logged and the rest still run; after every
  * output and oracle_sql.json are written, the failed names are printed
  * and the process exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subsetting (a full run sets no env): verify a few queries
    // without paying for the whole suite; oracle_sql.json then lists only
    // the queries that ran.
    val specs = SparkEntry.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    val spark = GraftSession(GraftSession.envCores(32))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = QuerySpec.runEach(spark, sfDir, specs, "verify") { spec =>
      spec.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${spec.name}")
    }
    val oracle = new java.util.LinkedHashMap[String, String]()
    specs.foreach(q => oracle.put(q.name, q.oracle))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(oracle))
    spark.stop()
    QuerySpec.exitOnFailures("verify", failed)
  }
}
