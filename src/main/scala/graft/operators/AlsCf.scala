package graft.operators

import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Matrix-factorization CF arm — the model-based upgrade of the
  * reference's co-occurrence CF (`build_user_item_matrix` +
  * `recommend_collaborative`, `Hybrid_Recom_vecdb.py:150-178`): where
  * co-occurrence only scores items with a shared-basket path to the
  * query, factorization generalizes across the whole user-item matrix.
  *
  * MLlib ALS is the canonical distributed factorizer: ratings block by
  * (user-block, item-block), each sweep solves per-user/per-item normal
  * equations inside a block join — O(rank²) state per entity, no step
  * ever materializes the dense matrix. That blocked-join shape is why
  * ALS (not SGD) is the 100 TB factorization.
  *
  * [[fitEval]] is the evaluation harness around it: a deterministic
  * hash split (pure function of (user, item) — partition-layout-free,
  * the q80 split), ALS on train, RMSE on the held-out pairs both arms
  * can score (coldStartStrategy="drop" — unseen users/items are the
  * content arm's job in a hybrid), against the global-mean baseline.
  * ALS's internal float reductions make the third decimal of RMSE
  * run-dependent, so the digest exposes COUNTS (exactly replayable by
  * any engine) and a boolean margin contract (robust to reduction
  * noise), never the raw RMSE.
  */
object AlsCf {

  /** Train/eval digest: (n_train, n_test, n_eval, als_beats_baseline).
    *
    * @param ratings (user:int-safe, item:int-safe, rating:double)
    * @param margin  contract: rmse_als < margin · rmse_baseline
    *
    * MLlib's default block count (10) is kept: other counts measured a
    * wash or worse at sf0.1 (SCALE.md, round 15, "ALS (q114)").
    */
  def fitEval(ratings: DataFrame, seed: Long = 42L, rank: Int = 8,
              maxIter: Int = 8, reg: Double = 0.1,
              margin: Double = 0.5): DataFrame = {
    val bucket = pmod(graft.functions.TextFunctions.hash60(
      concat_ws(":", lit("als"), col("user").cast("string"),
        col("item").cast("string"))), lit(100L))
    val tagged = ratings.select(col("user").cast("int").as("user"),
      col("item").cast("int").as("item"),
      col("rating").cast("float").as("rating"), bucket.as("__b"))
    val train = tagged.where(col("__b") < 80).drop("__b")
    val test = tagged.where(col("__b") >= 80).drop("__b")
    val als = new ALS().setRank(rank).setMaxIter(maxIter).setRegParam(reg)
      .setSeed(seed).setUserCol("user").setItemCol("item")
      .setRatingCol("rating").setColdStartStrategy("drop")
    val model = als.fit(train)
    val pred = model.transform(test)
    val rmseAls = pred.agg(
      sqrt(avg(pow(col("prediction") - col("rating"), 2))).as("r"),
      count(lit(1)).as("n_eval"))
    val base = train.agg(avg(col("rating")).as("mu"))
    // baseline over the SAME post-cold-drop eval pairs ALS is scored on:
    // averaging it over the full test set would let cold pairs far from
    // the train mean inflate (or deflate) the margin the contract gates
    val rmseBase = pred.crossJoin(broadcast(base))
      .agg(sqrt(avg(pow(col("mu") - col("rating"), 2))).as("r"))
    val counts = train.agg(count(lit(1)).as("n_train"))
      .crossJoin(test.agg(count(lit(1)).as("n_test")))
    counts
      .crossJoin(rmseAls.select(col("n_eval"), col("r").as("__ra")))
      .crossJoin(rmseBase.select(col("r").as("__rb")))
      .select(col("n_train"), col("n_test"), col("n_eval"),
        (col("__ra") < lit(margin) * col("__rb")).as("als_beats_baseline"))
  }

  /** Build-once/serve-many factor store ([[graft.sources.BuildOnce]]
    * for the factorization arm): train ALS once per corpus dir, persist
    * user/item factor tables, serve top-N forever after without
    * touching the trainer. */
  object Store {
    private val LayoutVersion = "v1"

    // fingerprint BOTH inputs of ratings(): a regenerated orders file
    // with an untouched lineitem must invalidate the persisted factors
    def root(sfDir: String): String = graft.sources.BuildOnce.root(
      s"als-$LayoutVersion", sfDir, Seq("lineitem", "orders"))

    /** The q114 interaction set + planted rating over a corpus dir. */
    def ratings(spark: org.apache.spark.sql.SparkSession,
                sfDir: String): DataFrame = {
      val li = graft.sources.Tables.lineitem(spark, sfDir)
      val or = graft.sources.Tables.orders(spark, sfDir)
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .distinct()
        .withColumn("rating",
          (col("user") % 7 + col("item") % 5 + lit(1)).cast("double"))
    }

    def ensure(spark: org.apache.spark.sql.SparkSession,
               sfDir: String): Unit =
      graft.sources.BuildOnce.ensure(root(sfDir)) {
        val r = ratings(spark, sfDir)
          .select(col("user").cast("int").as("user"),
            col("item").cast("int").as("item"),
            col("rating").cast("float").as("rating"))
        val model = new ALS().setRank(8).setMaxIter(8).setRegParam(0.1)
          .setSeed(42L).setUserCol("user").setItemCol("item")
          .setRatingCol("rating").fit(r)
        model.userFactors.write.mode("overwrite")
          .parquet(s"${root(sfDir)}/user_factors")
        model.itemFactors.write.mode("overwrite")
          .parquet(s"${root(sfDir)}/item_factors")
      }

    // ensure-on-read (the IvfIndexStore.indexFrame discipline): plan
    // analysis must never depend on a setup having run first
    def userFactors(spark: org.apache.spark.sql.SparkSession,
                    sfDir: String): DataFrame = {
      ensure(spark, sfDir)
      spark.read.parquet(s"${root(sfDir)}/user_factors")
    }
    def itemFactors(spark: org.apache.spark.sql.SparkSession,
                    sfDir: String): DataFrame = {
      ensure(spark, sfDir)
      spark.read.parquet(s"${root(sfDir)}/item_factors")
    }
  }

  /** Serve top-k items per user from the persisted factors: broadcast
    * the (small) query-user factor rows against the item-factor table,
    * score with a codegen'd zip_with dot product, rank per user, and
    * anti-join out already-seen interactions. At catalog scale this is
    * the standard factored-retrieval shape: cost |users|·|items|·rank
    * with the item side streaming — or swap the scoring join for the
    * IVF path by indexing item factors like any other embedding table.
    *
    * @return (user, item, score, rnk) — rnk 1..k by (score DESC, item).
    */
  def serveTopN(users: DataFrame, userF: DataFrame, itemF: DataFrame,
                seen: DataFrame, k: Int): DataFrame = {
    val uf = userF.join(users.select(col("user").as("id")).hint("broadcast"),
      Seq("id"), "left_semi")
      .select(col("id").as("user"), col("features").as("__uf"))
    val score = itemF.select(col("id").as("item"), col("features").as("__if"))
      .join(uf.hint("broadcast"))
      .withColumn("score", aggregate(
        zip_with(col("__uf"), col("__if"),
          (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x))
      .join(seen.select(col("user"), col("item")), Seq("user", "item"),
        "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user")
      .orderBy(col("score").desc, col("item").asc)
    score.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("user"), col("item"), col("score"), col("rnk"))
  }
}
