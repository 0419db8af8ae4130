package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / serve-many lifecycle for the PQ-encoded index — the
  * codes analogue of [[IvfIndexStore]]: codebooks and cell-partitioned
  * codes are written exactly once per (sf dir, layout version); a fresh
  * JVM serves from the persisted artifact without refitting or
  * re-encoding anything. Codebooks persist as a tiny parquet
  * (m·ksub rows of dsub doubles — KB), codes as parquet partitioned by
  * IVF cell so probed serving keeps its partition pruning. The codes are
  * written and read through [[Ivf.writeIndex]] / [[Ivf.loadIndex]], so
  * they share the IVF index's per-path listing memo: a repeated serve
  * lists nothing, and no session is held by the store.
  */
object PqIndexStore {

  private val LayoutVersion = "pq-v2"
  val Dim = 64
  val M = 16
  val Ksub = 64
  val Seed = 42L

  private def root(sfDir: String): String =
    s"${IvfIndexStore.root(sfDir)}/$LayoutVersion"
  private[graft] def codesPath(sfDir: String) = s"${root(sfDir)}/codes"
  private def booksPath(sfDir: String) = s"${root(sfDir)}/books"

  /** Fit codebooks on the corpus, encode the (cell-assigned) IVF index,
    * persist both. No-op when already built ([[graft.sources.BuildOnce]]
    * under the IVF store's root, whose build this one nests). */
  def ensure(spark: SparkSession, sfDir: String): Unit =
    graft.sources.BuildOnce.ensure(root(sfDir)) {
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
      val pq = Pq.fit(emb, Dim, M, Ksub, Seed)
      import spark.implicits._
      pq.codebooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (center, c) => (j, c, center.toSeq) }
      }.toSeq.toDF("j", "c", "center")
        .coalesce(1).write.mode("overwrite").parquet(booksPath(sfDir))
      Ivf.writeIndex(Pq.encode(pq, IvfIndexStore.indexFrame(spark, sfDir)
          .select("vec_id", "embedding", "cell")), codesPath(sfDir))
    }

  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[String, Pq.PqModel]

  /** Codebooks reloaded from the persisted parquet (memoized — KB; keyed
    * by the fingerprinted books path, like IvfIndexStore.loadModel). */
  def loadModel(spark: SparkSession, sfDir: String): Pq.PqModel =
    modelCache.getOrElseUpdate(booksPath(sfDir), {
      ensure(spark, sfDir)
      val rows = spark.read.parquet(booksPath(sfDir))
        .select("j", "c", "center").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val ksub = rows.map(_.getInt(1)).max + 1
      val books = Array.ofDim[Array[Double]](m, ksub)
      rows.foreach { r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      Pq.PqModel(Dim, m, ksub, books)
    })

  /** The persisted codes as a DataFrame (cell partition column intact). */
  def codesFrame(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Ivf.loadIndex(spark, codesPath(sfDir))
  }

  /** Refined PQ serve from the persisted artifacts. */
  def serve(spark: SparkSession, sfDir: String, queries: DataFrame,
            k: Int, shortlist: Int, nProbe: Int): DataFrame =
    Pq.topKRefined(codesFrame(spark, sfDir),
      graft.sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
      loadModel(spark, sfDir), IvfIndexStore.loadModel(sfDir),
      queries, k, shortlist, nProbe)
}
