package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned dataset publish — the "promote to consumers" sink: write
  * the corpus partitioned by a routing column (lang → one directory per
  * language, the layout downstream per-language pipelines prune on),
  * then verify the publish by MANIFEST, not by faith: the q138 read-back
  * digests (row count + content hash sum per partition) must equal the
  * same digests computed from the SOURCE table — any dropped, duplicated
  * or mangled row changes a sum.
  *
  * Build-once ([[BuildOnce]]); its reader ensures first, so no plan needs a setup.
  */
object ExportStore {

  private val LayoutVersion = "v1"

  def root(sfDir: String): String =
    BuildOnce.root(s"export-$LayoutVersion", sfDir, Seq("documents"))
  private def dataPath(sfDir: String) = s"${root(sfDir)}/documents_by_lang"

  def ensure(spark: SparkSession, sfDir: String): Unit =
    BuildOnce.ensure(root(sfDir)) {
      Tables.documents(spark, sfDir)
        .write.mode("overwrite").partitionBy("lang").parquet(dataPath(sfDir))
    }

  /** The published dataset, read back through the partitioned layout. */
  def documents(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    spark.read.parquet(dataPath(sfDir))
  }

  /** Per-partition manifest over an arbitrary frame: (lang, n_rows,
    * content_sum) with content_sum = Σ hash31(text) — order-free exact
    * long arithmetic (≤ 2³¹ per row ⇒ no overflow below ~4·10⁹ rows
    * per partition; widen to decimal beyond). */
  def manifest(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(graft.functions.TextFunctions.hash31(col("text"))).as("content_sum"))
}
