package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Build-once / serve-many lifecycle: ensure() writes exactly once, and
  * serving with every cell probed reproduces the exact brute-force
  * answer from the persisted artifact. */
class IvfIndexStoreSpec extends SparkTestBase {

  /** Deletes a test's private corpus and the stores built under it. */
  private def deleteTrees(paths: Seq[String]): Unit =
    paths.map(new java.io.File(_)).filter(_.exists).foreach { f =>
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }

  test("ensure is idempotent; full-probe serve from disk equals exact topK") {
    val d = sf()
    IvfIndexStore.ensure(spark, d)
    assert(IvfIndexStore.isBuilt(d))
    val done = new java.io.File(s"${IvfIndexStore.root(d)}/_BUILT")
    val stamp = done.lastModified()
    IvfIndexStore.ensure(spark, d) // must not rebuild
    assert(done.lastModified() == stamp)

    val emb = Tables.embeddings(spark, d)
    val q = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val served = IvfIndexStore.serve(spark, d, q, 5, IvfIndexStore.nCells(spark, d))
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact = ContentRetriever.topK(emb, q, 5)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(served == exact)
  }

  test("a corpus regenerated in the same JVM serves the rebuilt quantizers") {
    // the stores' paths carry the embeddings fingerprint, so ensure()
    // rebuilds under a new root after a regeneration; the memoized models
    // must follow it instead of staying on the first build's quantizers
    def centers(m: org.apache.spark.ml.clustering.KMeansModel) =
      m.clusterCenters.map(_.toArray.toSeq).toSeq
    def books(d: String) = PqIndexStore.loadModel(spark, d).codebooks.map(_.map(_.toSeq).toSeq).toSeq
    val d = java.nio.file.Files.createTempDirectory("ivf-regen").toString
    val roots = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val embPath = s"$d/embeddings.parquet"
      val raw = Tables.embeddingsRaw(spark, sf())
      raw.where(col("vec_id") < 200).write.parquet(embPath)
      val firstRoot = IvfIndexStore.root(d)
      roots += firstRoot
      IvfIndexStore.ensure(spark, d)
      val first = IvfIndexStore.loadModel(d)
      val firstBooks = books(d)

      raw.where(col("vec_id") >= 200).write.mode("overwrite").parquet(embPath)
      val src = new java.io.File(embPath)
      src.setLastModified(src.lastModified() + 60000L) // a new fingerprint even within one clock tick
      val rebuiltRoot = IvfIndexStore.root(d)
      roots += rebuiltRoot
      assert(rebuiltRoot != firstRoot)
      IvfIndexStore.ensure(spark, d)

      val rebuilt = org.apache.spark.ml.clustering.KMeansModel
        .load(s"$rebuiltRoot/kmeans")
      val servesRebuilt = centers(IvfIndexStore.loadModel(d)) == centers(rebuilt)
      assert(centers(rebuilt) != centers(first), "the regenerated corpus fit the same centers")
      assert(servesRebuilt, "loadModel kept the quantizer of the replaced corpus")
      val booksMoved = books(d) != firstBooks
      assert(booksMoved, "PqIndexStore.loadModel kept the codebooks of the replaced corpus")
    } finally deleteTrees(d +: roots.toSeq)
  }

  test("upsert rows are visible to a post-upsert load") {
    val d = sf()
    IvfIndexStore.ensure(spark, d)
    val model = IvfIndexStore.loadModel(d)
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-upsert").toString
    val path = dir + "/index"
    try {
      Ivf.writeIndex(Ivf.assign(model, emb.where(col("vec_id") < 100)), path)
      assert(Ivf.loadIndex(spark, path).count() == 100)
      Ivf.upsertIndex(model, emb.where(col("vec_id") >= 100 && col("vec_id") < 150), path)
      assert(Ivf.loadIndex(spark, path).count() == 150)
    } finally deleteTrees(Seq(dir))
  }

  test("an upsert costs the next serve no extra job; the upserted copy is served") {
    // The store serves from the probed cells' directories with its known
    // schema, so the read right after an upsert lists only those few
    // directories on the driver and infers no schema: the same jobs as
    // the read before it. Its reply must carry the appended near-copy as
    // the top content row (read-your-writes through serve, not only
    // through loadIndex). A private corpus keeps the upsert out of the
    // shared sf store.
    val d = java.nio.file.Files.createTempDirectory("ivf-serve-upsert").toString
    Tables.embeddingsRaw(spark, sf()).write.parquet(s"$d/embeddings.parquet")
    val root = IvfIndexStore.root(d)
    IvfIndexStore.ensure(spark, d)
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    // a query whose nearest other vector is clearly not a duplicate, so
    // the near-copy must outrank every existing row
    val qid = emb.select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.find { id =>
        val q = emb.where(col("vec_id") === id)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        ContentRetriever.topK(emb, q, 1).head().getAs[Double]("sim") < 0.99
      }.get
    val query = emb.where(col("vec_id") === qid)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def serveJobs(): (Int, Array[org.apache.spark.sql.Row]) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      val rows = IvfIndexStore.serve(spark, d, query, 5, 4).collect()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (jobs.get, rows)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      serveJobs() // first use of the index: reads its schema once
      val (before, _) = serveJobs()
      val v = emb.where(col("vec_id") === qid).head().getSeq[Float](1).toArray
      v(0) += 1e-3f
      val copyId = 20000000000L
      Ivf.upsertIndex(IvfIndexStore.loadModel(d),
        spark.createDataFrame(Seq((copyId, v))).toDF("vec_id", "embedding"),
        IvfIndexStore.root(d) + "/index")
      val (after, rows) = serveJobs()
      assert(after == before, s"the post-upsert serve ran $after jobs, the one before it $before")
      val top = rows.find(_.getAs[Int]("rnk") == 1).map(_.getAs[Long]("vec_id"))
      assert(top.contains(copyId), s"the upserted copy is not the top row: ${rows.toSeq}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      deleteTrees(Seq(d, root))
    }
  }
}
