package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Persisted-PQ lifecycle: the on-disk codebooks round-trip to exactly
  * the deterministic fit, codes keep their IVF cell partition column,
  * and serving from the artifact matches serving from a fresh encode. */
class PqIndexStoreSpec extends SparkTestBase {

  test("persisted codebooks equal a fresh seeded fit; codes keep cell") {
    PqIndexStore.ensure(spark, sf())
    val loaded = PqIndexStore.loadModel(spark, sf())
    val fresh = Pq.fit(graft.sources.Tables.embeddings(spark, sf()),
      PqIndexStore.Dim, PqIndexStore.M, PqIndexStore.Ksub, PqIndexStore.Seed)
    assert(loaded.m == fresh.m && loaded.ksub == fresh.ksub)
    assert(loaded.codebooks.flatten.flatten.toSeq ==
      fresh.codebooks.flatten.flatten.toSeq)
    val codes = PqIndexStore.codesFrame(spark, sf())
    assert(codes.columns.toSet == Set("vec_id", "codes", "cell"))
    assert(codes.count() ==
      graft.sources.Tables.embeddings(spark, sf()).count())
  }

  test("serving from the persisted artifact matches a fresh in-memory encode") {
    val q = graft.sources.Tables.embeddings(spark, sf())
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val persisted = PqIndexStore.serve(spark, sf(), q, 5, 50, 4)
    val pq = PqIndexStore.loadModel(spark, sf())
    val freshEnc = Pq.encode(pq, IvfIndexStore.indexFrame(spark, sf())
      .select("vec_id", "embedding", "cell"))
    val inMem = Pq.topKRefined(freshEnc,
      graft.sources.Tables.embeddings(spark, sf()).select("vec_id", "embedding"),
      pq, IvfIndexStore.loadModel(sf()), q, 5, 50, 4)
    assert(persisted.exceptAll(inMem).count() == 0)
    assert(inMem.exceptAll(persisted).count() == 0)
  }

  test("a repeated serve of an unchanged store lists nothing and returns the same rows") {
    // The codes share the IVF index's per-path listing memo. The store's
    // cell directories are fewer than Spark's default parallel-listing
    // threshold here, so the threshold is lowered to make any listing of
    // them a counted job.
    val q = graft.sources.Tables.embeddings(spark, sf())
      .where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    def rows() = PqIndexStore.serve(spark, sf(), q, 5, 50, 4)
      .collect().map(_.toString).sorted.toSeq
    PqIndexStore.ensure(spark, sf())
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val cells = new java.io.File(PqIndexStore.codesPath(sf()))
      .listFiles().count(_.getName.startsWith("cell="))
    assert(cells > 8, s"only $cells cell directories")
    spark.conf.set(key, "8")
    try {
      val first = rows()
      assert(first.nonEmpty)
      assert(ListingJobs(spark.sparkContext)(rows()) == (0, first))
    } finally spark.conf.unset(key)
  }
}
