package perfbench

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** A check on the program's output failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Timed operations of one kind. Only `timed` is timed; `verify` then
  * checks its output. A traced run alternates operations with and
  * without the trace listeners, so the two latency groups give the
  * tracing overhead. Only `NonFatal` failures are caught: an operation
  * that throws or fails its check counts as failed and keeps no latency.
  * `peakRssMb` is the JVM's VmHWM read after the last timed body, so the
  * untimed checks and quality pass that follow cannot set it. */
final class Ops(tr: Tracer, failures: mutable.ArrayBuffer[String]) {
  val plainMs = mutable.ArrayBuffer.empty[Double]
  val tracedMs = mutable.ArrayBuffer.empty[Double]
  var failed = 0
  var busyNs = 0L
  var peakRssMb = 0.0
  def run[T](traced: Boolean)(timed: => T)(verify: T => Unit): Unit = {
    tr.listen(traced)
    val t = System.nanoTime()
    try {
      val out = try timed finally {
        busyNs += System.nanoTime() - t
        peakRssMb = Report.peakRssMb
      }
      val ms = (System.nanoTime() - t) / 1e6
      tr.listen(false)
      verify(out)
      (if (traced) tracedMs else plainMs) += ms
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += e.toString
    }
  }
}

/** What a workload hands to the report: its set-up time after the Spark
  * session was up, its reads (`ops`) and writes, and the quality of what
  * it served. */
final case class Result(prepS: Double, ops: Ops, writes: Option[Ops],
                        hybridP10: Double, annRecall10: Double) {
  def peakRssMb: Double = (ops +: writes.toSeq).map(_.peakRssMb).max
}

object Workload {
  // The reference's serving constants (BASELINE.md).
  val Alpha = 0.6
  val Depth = 60
  val Ks = Seq(10, 20, 30, 40, 50)
  val EvalQueries = 50
  val RequestK = 10
  /** Cells probed per query: q43's fixed value. It keeps recall@10 just
    * below 1, so a cut in probed cells shows in `ann_recall_at_10`. */
  val NProbe = 4
  /** Seeded queries behind the quality metrics: enough that P@10 moves
    * by a few percent at most between seeds. */
  val QualityQueries = 1000
  /** serve_upsert: one upsert batch of `UpsertBatch` near-copies after
    * every `UpsertEvery` requests. No measured write share exists for this
    * system, so the mix is a chosen one, not a sourced one: 1 write in 5
    * operations puts 3 batches, each read back, into a 15 s window of ~15
    * operations, and 8 rows touch several cells per batch. */
  val UpsertEvery = 4
  val UpsertBatch = 8
  /** Untimed operations before the window: request latency falls for
    * about this many requests while the JIT warms up. */
  val WarmupOps = 12
}

final class Workload(spark: SparkSession, o: Main.Opts, tr: Tracer) {
  import Workload._
  import spark.implicits._

  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Per-layer counts noted outside spans (sizes, probe work, quality). */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def note(key: String, v: Double): Unit =
    layer.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  private def clamp01(c: Column): Column = greatest(lit(0.0), least(lit(1.0), c))

  private def contentArm(served: DataFrame): DataFrame =
    served.select(col("query_id"), col("vec_id").as("item"), clamp01(col("sim")).as("cs"))

  private def cfArm(edges: DataFrame, queries: DataFrame): DataFrame =
    CfRetriever.topNFor(edges, queries.select("query_id"), Depth)
      .select(col("src").as("query_id"), col("dst").as("item"), col("norm").as("fs"))

  // ------------------------------------------------------------ corpus

  /** Sampled products' embeddings and co-purchase edges, each stage
    * materialized at its layer boundary. Ids are the numeric ASINs. */
  final case class Corpus(emb: DataFrame, edges: DataFrame, n: Long)

  private def buildCorpus(dump: String, sampleSeed: Long): Corpus = {
    val (products, nProducts) = tr.span("parse") {
      cached(AmazonMetaParser.parseToDf(spark, dump))
    }
    note("parse.products", nProducts)
    note("parse.dropped", o.stanzas - nProducts)
    check(nProducts == o.validStanzas,
      s"parse.products $nProducts != ${o.validStanzas} stanzas with asin and title")
    val (sample, n) = tr.span("sample") {
      cached(Sampling.exactSample(products, o.sample, sampleSeed)
        .select(col("asin").cast("long").as("vec_id"), col("asin"), col("similar"),
          concat_ws(" ", col("title"), col("group"), concat_ws(" ", col("categories")))
            .as("text")))
    }
    check(n == math.min(o.sample, nProducts), s"sample has $n rows, wanted ${o.sample}")
    val (emb, docs) = tr.span("embed") {
      cached(Embedder.fitEmbed(sample.select("vec_id", "text")).select("vec_id", "embedding"))
    }
    note("embed.docs", docs)
    val (edges, nEdges) = tr.span("graph") {
      cached(CoPurchaseGraph.fromSimilar(sample, "asin", "similar")
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
          col("weight")))
    }
    note("graph.edges", nEdges)
    Corpus(emb, edges, n)
  }

  private def indexFiles(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  // ------------------------------------------------------------ checks

  /** A ranked list is exactly `k` rows ranked 1..k in (final DESC, item
    * ASC) order, excludes the query's own id, and keeps scores in [0,1]. */
  private def checkRanked(q: Long, rows: Seq[Row], k: Int): Unit = {
    check(rows.size == k, s"query $q returned ${rows.size} rows, wanted $k")
    val sorted = rows.sortBy(_.getAs[Int]("rnk"))
    check(sorted.map(_.getAs[Int]("rnk")) == (1 to k), s"query $q ranks are not 1..$k")
    sorted.foreach { r =>
      check(r.getAs[Long]("item") != q, s"query $q returned itself")
      Seq("cs", "fs", "final").foreach { c =>
        val v = r.getAs[Double](c)
        check(v >= 0.0 && v <= 1.0, s"query $q $c=$v outside [0,1]")
      }
    }
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        val (fa, fb) = (a.getAs[Double]("final"), b.getAs[Double]("final"))
        check(fa > fb || (fa == fb && a.getAs[Long]("item") < b.getAs[Long]("item")),
          s"query $q is not in (final DESC, item ASC) order")
      case _ =>
    }
  }

  /** Precision@K recomputed in plain Scala must equal the engine's
    * per-query (hits, precision) rows exactly. */
  private def checkPrecision(arm: String, lists: Map[Long, Seq[Long]],
                             truth: Map[Long, Set[Long]], engine: Array[Row]): Unit = {
    val got = engine.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("k")) ->
      (r.getAs[Long]("hits"), r.getAs[Double]("precision"))).toMap
    val want = for { (q, items) <- lists; k <- Ks } yield {
      val hits = items.take(k).count(truth.getOrElse(q, Set.empty)).toLong
      (q, k) -> (hits, hits.toDouble / k)
    }
    check(got == want, s"$arm Precision@K differs from the plain recomputation")
  }

  private def truthFor(edges: DataFrame, qs: Seq[Long]): Map[Long, Set[Long]] =
    edges.where(col("src").isin(qs: _*)).select("src", "dst").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, es) => q -> es.map(_._2).toSet }

  private def lists(df: DataFrame, item: String): Map[Long, Seq[Long]] =
    df.select(col("query_id"), col(item), col("rnk")).as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }

  // ----------------------------------------------------------- quality

  /** Quality of a served configuration over [[QualityQueries]] seeded
    * queries that have ground truth: hybrid P@10 against the
    * co-purchase neighbours, and the recall@10 of the served content arm
    * against exact `ContentRetriever.topK` over the same vectors. Untimed.
    * Traced runs also note the fusion pool. */
  private def quality(serve: (DataFrame, Int) => DataFrame, exactIndex: DataFrame,
                      edges: DataFrame): (Double, Double) = {
    val withTruth = edges.select("src").distinct().as[Long].collect().sorted.toSeq
    val qs = new scala.util.Random(o.seed).shuffle(withTruth).take(QualityQueries)
    val queries = exactIndex.where(col("vec_id").isin(qs: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")).cache()
    val truth = truthFor(edges, qs)
    val p10 = (ls: Map[Long, Seq[Long]]) =>
      qs.map(q => ls.getOrElse(q, Nil).take(10).count(truth(q)) / 10.0).sum / qs.size
    val served = serve(queries, Depth).cache()
    val content = contentArm(served)
    val hybrid = p10(lists(HybridScorer.blend(content, cfArm(edges, queries), Alpha, RequestK),
      "item"))
    val contentLists = lists(served, "vec_id")
    val exact = lists(ContentRetriever.topK(exactIndex, queries, RequestK), "vec_id")
    val recall = qs.map(q =>
      (contentLists.getOrElse(q, Nil).take(RequestK).toSet intersect exact(q).toSet).size)
      .sum.toDouble / exact.values.map(_.size).sum
    note("quality.content_p_at_10", p10(contentLists))
    if (tr.enabled)
      note("fuse.candidates_per_query",
        HybridScorer.blend(content, cfArm(edges, queries), Alpha, Int.MaxValue).count()
          .toDouble / qs.size)
    served.unpersist()
    queries.unpersist()
    (hybrid, recall)
  }

  // ------------------------------------------------------- probe work

  /** Every physical node under `p`, through adaptive query stages and
    * cached relations, as they ran. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case m: InMemoryTableScanExec => Seq(m.relation.cacheBuilder.cachedPlan)
    case _ => p.children
  }).flatMap(planNodes)

  /** Notes what the engine's IVF probe did in `df`'s executed plan, after
    * its action ran, from the plan's own SQL metrics: the cell partitions
    * the index scan opened (per serve call), and the (query, index row)
    * pairs out of the join on `cell` that feeds the cosine scoring (per
    * query). The index is the only table partitioned by `cell`. */
  private def noteProbe(df: DataFrame, queries: Int): Unit = {
    def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
    val nodes = planNodes(df.queryExecution.executedPlan)
    val scans = nodes.collect {
      case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains("cell") => s
    }
    val onCell = (j: BaseJoinExec) =>
      (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "cell"))
    val joins = nodes.collect {
      case j: BaseJoinExec if onCell(j) && planNodes(j).exists(scans.contains) => j
    }
    check(scans.nonEmpty && joins.nonEmpty, "executed plan has no IVF index scan or cell join")
    val rows = joins.map(metric(_, "numOutputRows")).sum.toDouble / queries
    note("ivf.cells_probed", scans.map(metric(_, "numPartitions")).sum)
    note("ivf.rows_scored", rows)
    note("ivf.useful_ratio", Depth / rows)
  }

  // ----------------------------------------------------- pipeline_cold

  /** One cold run of the reference flow, raw dump to P@K table with the
    * index build included. It runs once per JVM: run.py starts a fresh
    * JVM for every pipeline, so each one starts with cold code caches and
    * an empty index store. The checks after the timed span recompute
    * P@K in plain Scala from the collected lists. */
  def pipelineCold(): Result = {
    val path = s"${o.work}/index"
    val ops = new Ops(tr, checkFailures)
    var served: Option[(Corpus, KMeansModel)] = None
    tr.setRequest(0)
    ops.run(tr.enabled) {
      tr.span("pipeline") {
        val c = buildCorpus(o.dump, o.seed)
        val model = tr.span("ivf.fit") { Ivf.fit(c.emb, Ivf.nCellsFor(c.n), o.seed) }
        tr.span("ivf.assign_write") { Ivf.writeIndex(Ivf.assign(model, c.emb), path) }
        val (queries, _) = tr.span("queries") {
          cached(Sampling.exactSample(c.edges.select(col("src").as("query_id")).distinct(),
              EvalQueries, o.seed)
            .join(c.emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
              Seq("query_id")))
        }
        val (content, _) = tr.span("ivf.serve") {
          cached(Ivf.topKPersisted(spark, path, model, queries, Depth, NProbe)
            .select(col("query_id"), col("vec_id").as("item"), clamp01(col("sim")).as("cs"),
              col("rnk")))
        }
        val (cf, _) = tr.span("cf") { cached(cfArm(c.edges, queries)) }
        val (fused, _) = tr.span("fuse") {
          cached(HybridScorer.blend(content.drop("rnk"), cf, Alpha, Ks.max))
        }
        val truth = c.edges.select(col("src").as("query_id"), col("dst").as("item"))
        val (hyb, cont) = tr.span("eval") {
          val h = Evaluation.precisionAtK(fused.select("query_id", "item", "rnk"), truth, Ks)
            .cache()
          val ct = Evaluation.precisionAtK(
            content.where(col("rnk") <= Ks.max).select("query_id", "item", "rnk"), truth, Ks)
          Evaluation.meanPrecision(h).collect() // the reference's P@K table
          (h.collect(), ct.collect())
        }
        (c, model, queries, content, fused, hyb, cont)
      }
    } { case (c, model, queries, content, fused, hyb, cont) =>
      val qs = queries.select("query_id").as[Long].collect().toSeq
      check(qs.size == EvalQueries, s"pipeline served ${qs.size} queries, wanted $EvalQueries")
      val truth = truthFor(c.edges, qs)
      val fusedRows = fused.collect().groupBy(_.getAs[Long]("query_id"))
      check(fusedRows.keySet == qs.toSet, "fused lists do not cover every query")
      fusedRows.foreach { case (q, rows) => checkRanked(q, rows.toSeq, Ks.max) }
      checkPrecision("hybrid", lists(fused, "item"), truth, hyb)
      checkPrecision("content", lists(content, "item"), truth, cont)
      note("ivf.cells", model.clusterCenters.length)
      note("ivf.index_files", indexFiles(path))
      note("ivf.files_after_upserts", indexFiles(path))
      if (tr.enabled) noteProbe(content, qs.size)
      served = Some((c, model))
    }
    val (hybrid, recall) = served.fold((Double.NaN, Double.NaN)) { case (c, model) =>
      quality((q, k) => Ivf.topKPersisted(spark, path, model, q, k, NProbe), c.emb, c.edges)
    }
    Result(0.0, ops, None, hybrid, recall)
  }

  // ------------------------------------------------------ serve_upsert

  final class ServeState(val dir: String, val vecs: Map[Long, Array[Float]],
                         val edges: DataFrame) {
    val ids: Array[Long] = vecs.keys.toArray.sorted
    val embRaw: DataFrame = Tables.embeddingsRaw(spark, dir)
    val indexPath: String = IvfIndexStore.root(dir) + "/index"
  }

  /** Build a serving corpus from the dump into a fresh directory and
    * build its IVF index cold through the store. */
  private def prepServe(): ServeState = {
    val dir = s"${o.work}/serve"
    val vecs = tr.span("corpus") {
      val c = buildCorpus(o.dump, o.seed)
      c.emb.write.parquet(s"$dir/embeddings.parquet")
      c.edges.write.parquet(s"$dir/edges.parquet")
      val v = c.emb.as[(Long, Array[Float])].collect().toMap
      spark.catalog.clearCache()
      v
    }
    tr.span("ivf.build") { IvfIndexStore.ensure(spark, dir) }
    val st = new ServeState(dir, vecs, spark.read.parquet(s"$dir/edges.parquet"))
    note("ivf.index_files", indexFiles(st.indexPath))
    st
  }

  /** One hybrid top-10 request for item `q`: IVF content arm from the
    * persisted index, co-purchase CF arm, α-fusion. The final collect
    * under `fuse` runs both arms; `ivf.serve` covers the cell probe.
    * Returns the fused frame with its collected rows. */
  private def request(st: ServeState, q: Long): (DataFrame, Seq[Row]) = tr.span("request") {
    val query = tr.span("lookup") {
      st.embRaw.where(col("vec_id") === q)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    }
    val content = tr.span("ivf.serve") {
      contentArm(IvfIndexStore.serve(spark, st.dir, query, Depth, NProbe))
    }
    val cf = tr.span("cf") { cfArm(st.edges, query) }
    tr.span("fuse") {
      val fused = HybridScorer.blend(content, cf, Alpha, RequestK)
      (fused, fused.collect().toSeq)
    }
  }

  /** Append near-copies of `sources` under new ids through the index's
    * own quantizer; returns (source, copy id) pairs. */
  private def upsert(st: ServeState, sources: Seq[Long], firstId: Long): Seq[(Long, Long)] = {
    val rows = sources.zipWithIndex.map { case (s, i) =>
      val v = st.vecs(s).clone()
      v(i % v.length) += 1e-3f
      (firstId + i, v)
    }
    tr.span("ivf.upsert") {
      Ivf.upsertIndex(IvfIndexStore.loadModel(st.dir), rows.toDF("vec_id", "embedding"),
        st.indexPath)
    }
    sources.zip(rows.map(_._1))
  }

  /** A closed loop with one client: each request is sent when the
    * previous reply has arrived. Query ids are uniform over the corpus.
    * Every (UpsertEvery+1)-th operation appends a batch of near-copies to
    * the served index, and the next request asks for the first copy's
    * source: its reply must carry the copy as the top content match
    * (read-your-writes). The first [[WarmupOps]] operations belong to
    * set-up and are not timed. */
  def serveUpsert(): Result = {
    tr.setRequest(-1)
    tr.listen(tr.enabled)
    val t0 = System.nanoTime()
    val st = prepServe()
    val rng = new scala.util.Random(o.seed)
    val sources = rng.shuffle(st.ids.toSeq).iterator
    var nextId = 20000000000L // above every 10-digit ASIN
    var pending: Option[(Long, Long)] = None // (source, copy) to read back
    def step(i: Int, traced: Boolean, ops: Ops, writes: Ops): Unit =
      if (i % (UpsertEvery + 1) == UpsertEvery) {
        writes.run(traced) {
          upsert(st, Seq.fill(UpsertBatch)(sources.next()), nextId)
        } { pairs => pending = pairs.headOption }
        nextId += UpsertBatch
      } else {
        val q = pending.map(_._1).getOrElse(st.ids(rng.nextInt(st.ids.length)))
        val asked = if (o.injectFailEvery > 0 && (i + 1) % o.injectFailEvery == 0) -1L else q
        val readBack = pending
        pending = None
        ops.run(traced)(request(st, asked)) { case (fused, rows) =>
          checkRanked(q, rows, RequestK)
          if (tr.enabled) noteProbe(fused, 1)
          readBack.foreach { case (src, copy) =>
            val cs = rows.map(r => r.getAs[Long]("item") -> r.getAs[Double]("cs")).toMap
            check(cs.get(copy).exists(c => cs.values.forall(_ <= c)),
              s"upserted copy $copy of $src is not the top content match")
          }
        }
      }
    val warm = new Ops(tr, checkFailures)
    (0 until WarmupOps).foreach(i => step(i, traced = false, warm, warm))
    val prepS = (System.nanoTime() - t0) / 1e9

    val ops = new Ops(tr, checkFailures)
    val writes = new Ops(tr, checkFailures)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      tr.setRequest(i)
      step(WarmupOps + i, traced = tr.enabled && i % 2 == 1, ops, writes)
      i += 1
    }
    tr.listen(false)
    note("ivf.cells", IvfIndexStore.loadModel(st.dir).clusterCenters.length)
    val (hybrid, recall) = quality((q, k) => IvfIndexStore.serve(spark, st.dir, q, k, NProbe),
      IvfIndexStore.indexFrame(spark, st.dir).select("vec_id", "embedding"), st.edges)
    note("ivf.files_after_upserts", indexFiles(st.indexPath))
    Result(prepS, ops, Some(writes), hybrid, recall)
  }
}
