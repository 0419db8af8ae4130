package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid fusion — the load-bearing operator of the reference.
  *
  * Reference: `recommend_hybrid` (`Hybrid_Recom_vecdb.py:213-231`):
  * candidate union of the content and CF arms, score
  * α·content + (1−α)·cf with a missing arm contributing 0.0, sort desc,
  * take k (SURVEY J4 + P8 + A4).
  *
  * Spark shape ([[candidatePool]]): the two arms are unioned with the
  * missing arm's score null-padded, repartitioned ONCE by query_id, and
  * collapsed per (query_id, item) — the relational rendering of "union of
  * keys with dict.get(default 0)". The per-query ranking window reuses
  * that query_id partitioning, so a blend costs one exchange. (A FULL
  * OUTER join on (query_id, item) gives the same rows but shuffles both
  * arms on the pair key and then again on query_id for the window.)
  */
object HybridScorer {

  /** The fused candidate pool, shared by [[blend]], [[alphaSweep]] and
    * the score-distribution consumers: one row per (query_id, item) that
    * either arm retrieved, (query_id, item, cs, fs), with the arm that
    * missed the item contributing 0.0. Each arm must be unique on
    * (query_id, item) — what every retriever's top-n emits — so the max
    * per key is that arm's one score or null.
    *
    * Output is hash-partitioned by query_id: the aggregate and any later
    * per-query window need no further exchange. */
  def candidatePool(content: DataFrame, cf: DataFrame): DataFrame = {
    val noScore = lit(null).cast("double")
    content.select(col("query_id"), col("item"), col("cs"), noScore.as("fs"))
      .unionByName(cf.select(col("query_id"), col("item"), noScore.as("cs"), col("fs")))
      .repartition(col("query_id"))
      .groupBy("query_id", "item")
      .agg(coalesce(max(col("cs")), lit(0.0)).as("cs"),
        coalesce(max(col("fs")), lit(0.0)).as("fs"))
  }

  /** The α-blend of a [[candidatePool]] row: α·cs + (1−α)·fs. */
  def blendScore(alpha: Double): Column =
    lit(alpha) * col("cs") + lit(1.0 - alpha) * col("fs")

  /** @param content (query_id, item, cs)   content-arm scores in [0,1]
    * @param cf      (query_id, item, fs)   CF-arm normalized scores (0,1]
    * @param alpha   content weight α ∈ [0,1] (reference default 0.6,
    *                `Hybrid_Recom_vecdb.py:25`)
    * @param k       final cutoff (reference default 10)
    * @return (query_id, item, cs, fs, final, rnk) — cs/fs zero-filled,
    *         final = α·cs + (1−α)·fs, rnk 1..k per query with the
    *         deterministic (final DESC, item ASC) tie order.
    */
  def blend(content: DataFrame, cf: DataFrame, alpha: Double, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("final").desc, col("item").asc)
    candidatePool(content, cf)
      .withColumn("final", blendScore(alpha))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Reciprocal-rank fusion — the score-free alternative to [[blend]]
    * (Cormack et al., SIGIR'09): rrf = Σ_arms 1/(c + rank_arm), a missing
    * arm contributing 0. Rank-based fusion needs no score calibration
    * between arms, which is why serving stacks prefer it when the arms'
    * score scales drift (cosine vs co-purchase counts).
    *
    * Spark shape: FULL OUTER equi-join on (query_id, item) of two
    * already-ranked candidate lists + one per-query window.
    *
    * @param content (query_id, item, rnk) content-arm ranks, 1-based
    * @param cf      (query_id, item, rnk) CF-arm ranks, 1-based
    * @param c       rank damping constant (standard 60)
    * @param k       final cutoff
    * @return (query_id, item, content_rnk, cf_rnk, rrf, rnk) — arm ranks
    *         zero-filled for the arm that missed the item, rnk 1..k with
    *         the deterministic (rrf DESC, item ASC) tie order.
    */
  def rrf(content: DataFrame, cf: DataFrame, c: Int, k: Int): DataFrame = {
    val fused = content
      .select(col("query_id"), col("item"), col("rnk").as("content_rnk"))
      .join(cf.select(col("query_id"), col("item"), col("rnk").as("cf_rnk")),
        Seq("query_id", "item"), "full_outer")
      .select(col("query_id"), col("item"),
        coalesce(col("content_rnk"), lit(0L)).cast("long").as("content_rnk"),
        coalesce(col("cf_rnk"), lit(0L)).cast("long").as("cf_rnk"))
      .withColumn("rrf",
        when(col("content_rnk") > 0, lit(1.0) / (lit(c) + col("content_rnk")))
          .otherwise(lit(0.0)) +
          when(col("cf_rnk") > 0, lit(1.0) / (lit(c) + col("cf_rnk")))
            .otherwise(lit(0.0)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("item").asc)
    fused.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Hyperparameter sweep over the blend weight α — model selection for
    * the reference's hand-picked α=0.6 (`Hybrid_Recom_vecdb.py:25`),
    * evaluated as Precision@k against ground truth for EVERY candidate α
    * in ONE plan and ONE retrieval pass.
    *
    * Spark shape: the arms are fused once (the α-independent
    * [[candidatePool]]), then a broadcast cross-join against the tiny α
    * list inflates only the bounded candidate pool (≤ content+cf depth
    * rows per query), one window ranks per (α, query_id) on the pool's
    * query_id partitioning, one semi-join scores hits. At
    * 100 TB the sweep costs |Q|·depth·|alphas| — retrieval, the actual
    * expensive step, is NOT repeated per α, which is the whole point
    * versus re-running the pipeline per candidate value.
    *
    * Precision is aggregated exactly: integer hit counts summed over the
    * fixed query set, ONE double division at the end — no float-mean
    * accumulation order anywhere.
    *
    * @param content (query_id, item, cs)  content-arm scores
    * @param cf      (query_id, item, fs)  CF-arm scores
    * @param truth   (query_id, item)      ground-truth positives
    * @return one row per α: (alpha, sum_hits, n_queries, precision) with
    *         precision = sum_hits / (k · n_queries).
    */
  def alphaSweep(content: DataFrame, cf: DataFrame, truth: DataFrame,
                 alphas: Seq[Double], k: Int): DataFrame = {
    val spark = content.sparkSession
    import spark.implicits._
    val adf = alphas.toDF("alpha")
    val scored = candidatePool(content, cf).crossJoin(broadcast(adf))
      .withColumn("fin",
        col("alpha") * col("cs") + (lit(1.0) - col("alpha")) * col("fs"))
    val w = Window.partitionBy("alpha", "query_id")
      .orderBy(col("fin").desc, col("item").asc)
    val ranked = scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
    // ONE aggregation yields hits AND the query count per α — a separate
    // countDistinct off the fused pool would re-derive the whole
    // retrieval subtree (Spark re-executes shared subtrees per sink).
    ranked
      .join(truth.select(col("query_id"), col("item"))
          .dropDuplicates("query_id", "item").withColumn("__hit", lit(1)),
        Seq("query_id", "item"), "left_outer")
      .groupBy("alpha")
      .agg(sum(coalesce(col("__hit"), lit(0))).as("sum_hits"),
        countDistinct("query_id").as("n_queries"))
      .withColumn("precision", col("sum_hits").cast("double") /
        (lit(k).cast("double") * col("n_queries").cast("double")))
  }
}
