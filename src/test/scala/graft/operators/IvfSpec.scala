package graft.operators

import graft.SparkTestBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** IVF-Flat probing semantics: probing every cell is exact; probing a
  * subset returns a subset of the exact candidates with the same scores
  * and valid per-query ranking. */
class IvfSpec extends SparkTestBase {

  private lazy val emb = Tables.embeddings(spark, sf()).limit(200).cache()
  private lazy val queries = emb.where(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  test("nProbe = nCells reproduces exact brute-force top-k") {
    val model = Ivf.fit(emb, nCells = 8)
    val ivf = Ivf.topK(Ivf.assign(model, emb), model, queries, 10, nProbe = 8)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact = ContentRetriever.topK(emb, queries, 10)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(ivf == exact)
  }

  test("nProbe = 1 returns ≤ k rows per query, exact sims, contiguous ranks") {
    val model = Ivf.fit(emb, nCells = 8)
    val indexed = Ivf.assign(model, emb).cache()
    val rows = Ivf.topK(indexed, model, queries, 10, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    val exactSim = ContentRetriever.topK(emb, queries, Int.MaxValue)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (q, v, s, _) =>
      assert(math.abs(s - exactSim((q, v))) < 1e-9)
    }
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 10)
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
    }
  }

  test("persisted index: partitionBy(cell) prunes files, results match in-memory topK") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf").toString
    val dir = s"$tmp/index"
    try {
      val model = Ivf.fit(emb, nCells = 8)
      val indexed = Ivf.assign(model, emb)
      Ivf.writeIndex(indexed, dir)
      val loaded = Ivf.loadIndex(spark, dir)
      // partition pruning: a one-cell filter's scan opens a strict subset of
      // files (numFiles is the post-pruning metric on the executed scan)
      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.sum
      }
      val someCell = indexed.select("cell").head().getInt(0)
      val prunedFiles = filesScanned(loaded.where(col("cell") === lit(someCell)))
      val allFiles = filesScanned(loaded)
      assert(prunedFiles > 0 && prunedFiles < allFiles)
      val persisted = Ivf.topKPersisted(spark, dir, model, queries, 10, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6), r.getInt(3))).toSet
      val inMem = Ivf.topK(indexed, model, queries, 10, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6), r.getInt(3))).toSet
      assert(persisted == inMem)
    } finally deleteTrees(Seq(tmp))
  }

  test("topKPersisted == ranking the whole index filtered to the probed cells, row for row") {
    // The reference formulation the probed-directory scan replaced: load
    // the whole index and keep the probed cells by a partition filter.
    // Exact sims and ranks must match for any nProbe, after an upsert,
    // and when a probed cell has no directory at all.
    val model = Ivf.fit(emb, nCells = 8)
    val indexed = Ivf.assign(model, emb).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "sim", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    def viaLoad(path: String, q: org.apache.spark.sql.DataFrame, nProbe: Int) = {
      val cells = Ivf.probeCells(model, q, nProbe)._2
      Ivf.topK(spark.read.parquet(path).where(col("cell").isin(cells.toIndexedSeq: _*)),
        model, q, 10, nProbe)
    }
    def assertSame(path: String, q: org.apache.spark.sql.DataFrame, nProbe: Int, at: String) = {
      val served = rows(Ivf.topKPersisted(spark, path, model, q, 10, nProbe))
      assert(served == rows(viaLoad(path, q, nProbe)), s"$at, nProbe=$nProbe")
      served
    }
    val tmp = java.nio.file.Files.createTempDirectory("ivf-probed").toString
    val dir = s"$tmp/index"
    try {
      Ivf.writeIndex(indexed.where(col("vec_id") < 150), dir)
      for (nProbe <- Seq(1, 4, 8)) assert(assertSame(dir, queries, nProbe, "before upsert").nonEmpty)
      Ivf.upsertIndex(model, emb.where(col("vec_id") >= 150), dir)
      for (nProbe <- Seq(1, 4, 8)) assertSame(dir, queries, nProbe, "after upsert")
      assert(rows(Ivf.topKPersisted(spark, dir, model, queries, 10, 8)) ==
        rows(Ivf.topK(indexed, model, queries, 10, 8)), "the upserted rows are not served")

      // an index written without the rows of query 0's nearest cell: that
      // cell has no directory, and probing only it serves nothing
      val q0 = queries.where(col("query_id") === queries.select("query_id").head().getLong(0))
      val missing = Ivf.probeCells(model, q0, 1)._2.head
      val holed = s"$tmp/holed"
      Ivf.writeIndex(indexed.where(col("cell") =!= missing), holed)
      assert(!new java.io.File(s"$holed/cell=$missing").exists())
      assert(assertSame(holed, q0, 1, "missing cell").isEmpty)
      for (nProbe <- Seq(4, 8)) assertSame(holed, queries, nProbe, "missing cell")
    } finally deleteTrees(Seq(tmp))
  }

  test("repeated serves of an unchanged index list nothing; writes under any spelling of the path are seen") {
    // More than 32 probed directories is where Spark lists in a parallel
    // job. The index's directory listings are kept per path, so only the
    // first wide read after a write pays that job; an upsert or an
    // overwrite, under whatever spelling of the path, is seen by the
    // next read.
    val model = Ivf.fit(emb, nCells = 48)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-listing").toString
    val dir = s"$tmp/index"
    try {
      Ivf.writeIndex(Ivf.assign(model, emb), dir)
      val nDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("cell="))
      assert(nDirs > 32, s"only $nDirs cell directories")
      def listingJobs[T](body: => T): (Int, T) = ListingJobs(spark.sparkContext)(body)
      def serveAll() = Ivf.topKPersisted(spark, dir, model, queries, 10, 48).collect().length
      val (first, served) = listingJobs(serveAll())
      assert(first == 1 && served > 0)
      assert(listingJobs(serveAll())._1 == 0, "a repeated wide serve listed the index again")
      assert(listingJobs(Ivf.loadIndex(spark, dir).count()) == (0, 200L))
      Ivf.upsertIndex(model, emb.limit(20).withColumn("vec_id", col("vec_id") + 100000L), dir)
      assert(listingJobs(Ivf.loadIndex(spark, dir).count()) == (1, 220L))
      assert(listingJobs(Ivf.loadIndex(spark, dir).count()) == (0, 220L))
      // overwrite with an extra column through a qualified, slash-ended
      // spelling of the same directory
      val spelled = new java.io.File(dir).toURI.toString
      assert(spelled.startsWith("file:") && spelled.endsWith("/"))
      val fewer = emb.where(col("vec_id") < 100)
      Ivf.writeIndex(Ivf.assign(model, fewer).withColumn("tag", lit("t")), spelled)
      val reread = Ivf.loadIndex(spark, dir)
      assert(reread.columns.contains("tag") && reread.count() == fewer.count())
      assert(fewer.count() < 200)
    } finally deleteTrees(Seq(tmp))
  }

  test("out-of-range k or nProbe is rejected before any serve runs") {
    val model = Ivf.fit(emb, nCells = 8)
    val indexed = Ivf.assign(model, emb)
    val tmp = java.nio.file.Files.createTempDirectory("ivf-args").toString
    val dir = s"$tmp/index"
    try {
      Ivf.writeIndex(indexed, dir)
      val d = sf()
      val serves: Seq[(String, (Int, Int) => Unit)] = Seq(
        "topK" -> ((k, p) => Ivf.topK(indexed, model, queries, k, p)),
        "topKPersisted" -> ((k, p) => Ivf.topKPersisted(spark, dir, model, queries, k, p)),
        "knnJoin" -> ((k, p) => Ivf.knnJoin(indexed, model, queries, k, p)),
        "IvfIndexStore.serve" -> ((k, p) => IvfIndexStore.serve(spark, d, queries, k, p)))
      for ((name, serve) <- serves; (k, nProbe) <- Seq((10, 0), (10, -1), (0, 4), (-3, 4)))
        withClue(s"$name(k = $k, nProbe = $nProbe): ") {
          intercept[IllegalArgumentException](serve(k, nProbe))
        }
    } finally deleteTrees(Seq(tmp))
  }

  test("writeIndex emits exactly one file per cell directory") {
    // a plain partitionBy write produces one file per (task × cell) —
    // nCells × parallelism tiny files; measured round 10: 4,168 sub-8KB
    // files on the 10× index and a 9× defaults-path serve penalty. The
    // repartition(cell) in writeIndex pins one file per cell.
    val tmp = java.nio.file.Files.createTempDirectory("ivf1f").toString
    val dir = s"$tmp/index"
    try {
      val model = Ivf.fit(emb, nCells = 8)
      // many input partitions so the old layout would provably multi-file
      Ivf.writeIndex(Ivf.assign(model, emb).repartition(16), dir)
      val cellDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.nonEmpty)
      for (cd <- cellDirs) {
        val parts = cd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1,
          s"${cd.getName} has ${parts.length} files — one-file-per-cell broke")
      }
      // an upsert batch appends at most one new file per touched cell
      Ivf.upsertIndex(model, emb.limit(50), dir)
      for (cd <- cellDirs) {
        val parts = cd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length <= 2,
          s"${cd.getName} has ${parts.length} files after one upsert")
      }
    } finally deleteTrees(Seq(tmp))
  }

  test("knnJoin equals the broadcast probe path query-for-query") {
    // Same model, same nProbe: the cell-cogrouped join (map-side probe +
    // equi-join on cell) must serve bit-identical neighbors to topK's
    // broadcast path — the large-|Q| plan changes shape, not semantics.
    val model = Ivf.fit(emb, nCells = 8)
    val indexed = Ivf.assign(model, emb).cache()
    val wide = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val joined = Ivf.knnJoin(indexed, model, wide, 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6), r.getInt(3))).toSet
    val bcast = Ivf.topK(indexed, model, wide, 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6), r.getInt(3))).toSet
    assert(joined == bcast)
    assert(joined.nonEmpty)
  }

  test("knnJoin needs no broadcast: with auto-broadcast off the plan is a shuffle join") {
    // topK broadcasts the query side BY CONTRACT (its probed frame rides
    // a broadcast hint); knnJoin must not — when the planner can't
    // broadcast at all, the cell join degrades to a shuffle join, which
    // is the 100 TB shape. (With stats-based broadcast enabled the
    // planner MAY broadcast a small side — that's Catalyst's call, not a
    // structural requirement.)
    val model = Ivf.fit(emb, nCells = 8)
    val wide = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Ivf.knnJoin(Ivf.assign(model, emb), model, wide, 5, nProbe = 3)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"knnJoin must not require a broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on cell:\n$plan")
      // Round 11: the top-k is a bounded-heap ObjectHashAggregate, NOT a
      // sort-based window — the window's local Sort materialized the
      // full scored-pair volume per task (measured 79 GB spill death at
      // 60×, see Ivf.knnJoin). Partial heaps must aggregate map-side
      // before the query_id exchange, and no Window may touch the pairs.
      assert(plan.contains("ObjectHashAggregate"),
        s"per-query top-k should be a bounded-heap aggregate:\n$plan")
      assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window "),
        s"sort-based window crept back into knnJoin:\n$plan")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("probeCells returns the window probe's (query, cell) set") {
    // The reference formulation the map-side probe replaced: every query
    // joins the broadcast centroid table and keeps its nProbe best cells
    // by a (csim DESC, cell ASC) row_number window. A zero query vector
    // ties every centroid at csim 0, so its cells come from the cell-id
    // tie order alone.
    import graft.functions.VectorFunctions.cosine
    import org.apache.spark.sql.expressions.Window
    val model = Ivf.fit(emb, nCells = 8)
    val dim = model.clusterCenters.head.size
    val wide = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .unionByName(spark.range(1).select(lit(-1L).as("query_id"),
        array_repeat(lit(0.0f), dim).as("q_emb")))
    val centroids = spark.createDataFrame(model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq).toDF("cell", "centroid")
    val w = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    for (nProbe <- Seq(1, 3, 8)) {
      val viaWindow = wide.join(broadcast(centroids))
        .withColumn("csim", cosine(col("q_emb"), col("centroid")))
        .withColumn("r", row_number().over(w))
        .where(col("r") <= nProbe)
      val (probe, cells) = Ivf.probeCells(model, wide, nProbe)
      val probed = pairs(probe)
      assert(cells.sorted.toSeq == probed.map(_._2).toSeq.distinct.sorted)
      assert(probed.size == 201 * nProbe)
      assert(probed == pairs(viaWindow), s"nProbe=$nProbe: probe diverged from the window")
    }
  }

  test("fit is layout-invariant: identical centers from any input partitioning") {
    // The q120 lesson: MLlib k-means'' init samples per partition, so a
    // bare limit() train set gave different centers under different
    // session parallelism (a 16-thread build once left a query's nearest
    // cell empty). The canonical hash-ordered take must erase the input
    // layout entirely.
    val a = Ivf.fit(emb.repartition(1), nCells = 8)
    val b = Ivf.fit(emb.repartition(7), nCells = 8)
    val c = Ivf.fit(emb.repartition(3, col("vec_id")), nCells = 8)
    def centers(m: org.apache.spark.ml.clustering.KMeansModel) =
      m.clusterCenters.map(_.toArray.toSeq).toSeq
    assert(centers(a) == centers(b), "round-robin layout changed the fit")
    assert(centers(a) == centers(c), "hash layout changed the fit")
  }

  test("nCellsFor: adaptive sqrt(N) default with a 16-cell floor") {
    // Round-10 verdict item 1: the fit-time default must SCALE with the
    // corpus — the round-9 probe measured the old fixed 16 costing 6× on
    // serve at just 10×. Pin the rule: max(16, ceil(sqrt(n))).
    assert(Ivf.nCellsFor(0L) == 16)
    assert(Ivf.nCellsFor(100L) == 16)   // floor holds below 256
    assert(Ivf.nCellsFor(256L) == 16)   // exactly at the floor boundary
    assert(Ivf.nCellsFor(257L) == 17)   // first count past the floor
    assert(Ivf.nCellsFor(500L) == 23)   // the sf0.01/sf0.001 corpora
    assert(Ivf.nCellsFor(2000L) == 45)  // the sf0.1 corpus
    assert(Ivf.nCellsFor(20000L) == 142) // the 10× probe corpus
    // ensure() applies it: the persisted sf index carries the adaptive
    // count, not the old constant.
    val d = sf()
    assert(IvfIndexStore.nCells(spark, d) ==
      Ivf.nCellsFor(graft.sources.Tables.embeddings(spark, d).count()))
  }

  test("assign puts identical vectors in the same cell") {
    val df = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val model = Ivf.fit(df, nCells = 2)
    val cells = Ivf.assign(model, df).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(1L) == cells(2L))
    assert(cells(3L) == cells(4L))
    assert(cells(1L) != cells(3L))
  }
}
