package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fusion correctness (SURVEY §7.4: the key union + coalesce is the
  * subtle core) — α-boundary identities and missing-side defaults, per the
  * reference semantics at /root/reference/Hybrid_Recom_vecdb.py:221-231. */
class HybridScorerSpec extends SparkTestBase {

  private def content: DataFrame = spark.createDataFrame(Seq(
    (1L, 10L, 0.9), (1L, 11L, 0.5), (1L, 12L, 0.3),
    (2L, 20L, 0.8))).toDF("query_id", "item", "cs")

  private def cf: DataFrame = spark.createDataFrame(Seq(
    (1L, 11L, 1.0), (1L, 13L, 0.7),
    (2L, 20L, 0.5))).toDF("query_id", "item", "fs")

  test("union of candidate keys; missing arm contributes 0.0") {
    val out = HybridScorer.blend(content, cf, 0.6, 10)
      .where(col("query_id") === 1).collect()
      .map(r => r.getLong(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))
    assert(out(10L) == (0.9, 0.0)) // content-only
    assert(out(13L) == (0.0, 0.7)) // cf-only
    assert(out(11L) == (0.5, 1.0)) // both
  }

  test("final = alpha*cs + (1-alpha)*fs") {
    val out = HybridScorer.blend(content, cf, 0.6, 10)
      .where(col("query_id") === 1 && col("item") === 11)
      .select(col("final")).collect().head.getDouble(0)
    assert(math.abs(out - (0.6 * 0.5 + 0.4 * 1.0)) < 1e-12)
  }

  test("alpha=1 reproduces the content ranking; alpha=0 the cf ranking") {
    val a1 = HybridScorer.blend(content, cf, 1.0, 2)
      .where(col("query_id") === 1).orderBy(col("rnk"))
      .select(col("item")).collect().map(_.getLong(0)).toSeq
    assert(a1 == Seq(10L, 11L)) // by cs: 0.9, 0.5
    val a0 = HybridScorer.blend(content, cf, 0.0, 2)
      .where(col("query_id") === 1).orderBy(col("rnk"))
      .select(col("item")).collect().map(_.getLong(0)).toSeq
    assert(a0 == Seq(11L, 13L)) // by fs: 1.0, 0.7
  }

  test("k cutoff and deterministic tie order (final DESC, item ASC)") {
    val c2 = spark.createDataFrame(Seq(
      (1L, 5L, 0.5), (1L, 3L, 0.5), (1L, 4L, 0.5))).toDF("query_id", "item", "cs")
    val empty = spark.createDataFrame(Seq.empty[(Long, Long, Double)])
      .toDF("query_id", "item", "fs")
    val out = HybridScorer.blend(c2, empty, 1.0, 2)
      .orderBy(col("rnk")).select(col("item")).collect().map(_.getLong(0)).toSeq
    assert(out == Seq(3L, 4L)) // ties broken by item asc, k=2 enforced
  }

  test("per-query independence: rnk restarts per query_id") {
    val out = HybridScorer.blend(content, cf, 0.6, 10)
    val perQ = out.groupBy(col("query_id")).agg(min(col("rnk")).as("lo"))
      .collect().map(_.getInt(1)).toSet
    assert(perQ == Set(1))
  }

  test("alphaSweep: boundary alphas reproduce single-arm precision") {
    import spark.implicits._
    // truth: q1 -> {11, 13} (cf-favored), q2 -> {20}
    val truth = Seq((1L, 11L), (1L, 13L), (2L, 20L)).toDF("query_id", "item")
    val out = HybridScorer.alphaSweep(content, cf, truth,
      Seq(0.0, 1.0), 2).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(0.0, 1.0))
    // alpha=0 (CF only): q1 picks {11,13} = 2 hits; q2 picks {20,12?}->
    // q2 pool = {20}; 1 hit. total 3 of 2*2 slots
    val (h0, n0, p0) = out(0.0)
    assert(n0 == 2L && h0 == 3L && p0 == 3.0 / 4.0)
    // alpha=1 (content only): q1 top-2 by cs = {10, 11} -> 1 hit; q2 {20} -> 1
    val (h1, n1, p1) = out(1.0)
    assert(n1 == 2L && h1 == 2L && p1 == 2.0 / 4.0)
  }

  test("alphaSweep: zero-hit alphas still emit a row") {
    import spark.implicits._
    val truth = Seq((1L, 999L)).toDF("query_id", "item") // never retrieved
    val out = HybridScorer.alphaSweep(content, cf, truth, Seq(0.6), 10)
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 0L && out(0).getDouble(3) == 0.0)
  }
}
