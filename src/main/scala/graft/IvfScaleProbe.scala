package graft

import graft.operators.{ContentRetriever, Ivf}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool (round 9; extended round 10): measure the IVF `nlist ∝ N`
  * scaling rule. Round 9 measured the trade table at explicit
  * nCells ∈ {16, 50, √N} and proved the then-fixed 16-cell default cost
  * 6× on serve at 10×; round 10 made `max(16, ⌈√N⌉)` the
  * `IvfIndexStore.ensure` fit-time default ([[graft.operators.Ivf.nCellsFor]]).
  * The probe now measures the STORE'S OWN defaults-path first (ensure →
  * persisted cell-partitioned index → knnJoin serve, no override), then
  * the explicit sweep for the trade table — so the defaults row is the
  * number a user gets without touching any knob.
  *
  * Usage: runMain graft.IvfScaleProbe <sfDir> [kQueriesSample] [defaults]
  * ("defaults" skips the explicit nCells sweep and measures only the
  * store's own defaults path — see the comment at the sweep below).
  */
object IvfScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/scale_data/sf1")
    val nSample = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, sfDir).localCheckpoint()
    val n = emb.count()
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    // deterministic query sample for the recall truth (hash-ordered take)
    val qSample = queries.orderBy(xxhash64(col("query_id")), col("query_id"))
      .limit(nSample).localCheckpoint()
    val exact = ContentRetriever.topK(emb, qSample, 10)
      .select(col("query_id"), col("vec_id")).localCheckpoint()
    println(s"[ivfscale] |C|=$n, recall truth on $nSample queries (exact top-10)")

    // ---- STORE DEFAULTS PATH (no override): ensure() picks the cell
    // count via Ivf.nCellsFor and serves from the persisted
    // cell-partitioned index — the number a user gets out of the box.
    {
      import graft.operators.IvfIndexStore
      val tFit0 = System.nanoTime()
      IvfIndexStore.ensure(spark, sfDir)
      val fitS = (System.nanoTime() - tFit0) / 1e9 // ~0 if already built
      val model = IvfIndexStore.loadModel(sfDir)
      val index = IvfIndexStore.indexFrame(spark, sfDir)
      Ivf.knnJoin(index, model, queries, 10, 12).count() // warm
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Ivf.knnJoin(index, model, queries, 10, 12).count()
        (System.nanoTime() - t0) / 1e9
      }
      val approx = Ivf.knnJoin(index, model, qSample, 10, 12)
        .select(col("query_id"), col("vec_id"))
      val hit = approx.join(exact, Seq("query_id", "vec_id")).count()
      val denom = exact.count()
      println(f"[ivfscale] STORE-DEFAULT nCells=${model.clusterCenters.length}%4d " +
        f"ensure ${fitS}%6.1f s  " +
        f"serve_min ${samples.min}%6.2f s (samples ${samples.map(s => f"$s%.2f").mkString(" ")})  " +
        f"recall@10 ${hit.toDouble / denom}%.4f")
    }

    // "nprobe" as the third arg (round 14, VERDICT item 4): hold the
    // store's own defaults index (nCells = √N) and sweep the PROBE
    // fraction — the knob the knnJoin cost model says trades recall
    // for candidate volume. Closed form: candidates/query =
    // nProbe·(N/nCells) = nProbe·√N, so total self-join cost ∝
    // nProbe·N^1.5 — the sweep row's job is to show a future q68
    // regression can be judged against cost ∝ nProbe, not gut feeling.
    if (args.lift(2).contains("nprobe")) {
      import graft.operators.IvfIndexStore
      IvfIndexStore.ensure(spark, sfDir)
      val model = IvfIndexStore.loadModel(sfDir)
      val index = IvfIndexStore.indexFrame(spark, sfDir)
      val cellSizes = index.groupBy("cell").count().localCheckpoint()
      val nCells = model.clusterCenters.length
      for (nProbe <- Seq(3, 6, 12, 24, 48)) {
        Ivf.knnJoin(index, model, qSample, 10, nProbe).count() // warm
        val samples = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          Ivf.knnJoin(index, model, queries, 10, nProbe).count()
          (System.nanoTime() - t0) / 1e9
        }
        val approx = Ivf.knnJoin(index, model, qSample, 10, nProbe)
          .select(col("query_id"), col("vec_id"))
        val hit = approx.join(exact, Seq("query_id", "vec_id")).count()
        val denom = exact.count()
        // exact candidate volume for the model column: per query, the
        // sizes of its nProbe probed cells, summed over all queries
        val pairVolume = Ivf.probeCellsMapSide(model, queries, nProbe)
          .join(cellSizes, Seq("cell"))
          .agg(sum("count")).collect()(0).getLong(0)
        println(f"[ivfscale] NPROBE-SWEEP nCells=$nCells%4d nProbe=$nProbe%3d  " +
          f"serve_min ${samples.min}%7.2f s (samples ${samples.map(s => f"$s%.2f").mkString(" ")})  " +
          f"recall@10 ${hit.toDouble / denom}%.4f  " +
          f"candidate_pairs ${pairVolume}%d  model nProbe*sqrtN=${nProbe * math.sqrt(n.toDouble)}%.3g")
      }
      spark.stop()
      return
    }

    // "defaults" as the third arg skips the explicit sweep: at 60× the 16-cell
    // row's probed volume (12/16 of a 120k×120k query load) exceeds
    // local spill disk by design — the sweep only exists to CONTRAST
    // the adaptive default, and the contrast is already measured at 10×.
    val defaultsOnly = args.lift(2).contains("defaults")
    val sqrtN = math.round(math.sqrt(n.toDouble)).toInt
    for (nCells <- Seq(16, 50, sqrtN) if !defaultsOnly) {
      val tFit0 = System.nanoTime()
      val model = Ivf.fit(emb, nCells)
      val indexed = Ivf.assign(model, emb).localCheckpoint()
      indexed.count()
      val fitS = (System.nanoTime() - tFit0) / 1e9
      // expected scored-pair volume: Σ over probed cells of cell size,
      // summed over queries — computed exactly from the probe assignment
      val cellSizes = indexed.groupBy("cell").count()
      val probed = Ivf.knnJoin(indexed, model, queries, 10, 12)
      // warm, then min of 2 timed serves (full |Q| = |C| query load)
      probed.count()
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Ivf.knnJoin(indexed, model, queries, 10, 12).count()
        (System.nanoTime() - t0) / 1e9
      }
      // recall@10 on the sample (self-exclusion symmetric on both sides)
      val approx = Ivf.knnJoin(indexed, model, qSample, 10, 12)
        .select(col("query_id"), col("vec_id"))
      val hit = approx.join(exact, Seq("query_id", "vec_id")).count()
      val denom = exact.count()
      val skew = cellSizes.agg(max("count"), min("count")).collect()(0)
      println(f"[ivfscale] nCells=$nCells%4d fit ${fitS}%6.1f s  " +
        f"serve_min ${samples.min}%6.2f s (samples ${samples.map(s => f"$s%.2f").mkString(" ")})  " +
        f"recall@10 ${hit.toDouble / denom}%.4f  " +
        f"cell max/min ${skew.getLong(0)}/${skew.getLong(1)}")
    }
    spark.stop()
  }
}
