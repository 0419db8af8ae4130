package graft.operators

import graft.functions.VectorFunctions._
import graft.functions.expressions.TopKAggregate
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** IVF (inverted-file) ANN index — the partition-pruned scale path for
  * cosine top-k (SURVEY §2.4 V2/V3, §7.2 M6).
  *
  * Replaces the reference's HNSW index (ChromaDB,
  * `/root/reference/Hybrid_Recom_vecdb.py:155-158,172-177`) with the
  * classic IVF-Flat design re-expressed for Spark's execution model:
  *
  *  1. '''train''': seeded MLlib KMeans over L2-normalized vectors
  *     (Euclidean on the unit sphere is monotone in cosine, so the
  *     centroids are cosine cells).
  *  2. '''assign''': every index vector gets a `cell` column — map-side
  *     only (the model broadcasts its centroids).
  *  3. '''search''': each query scores the centroids in one map-side
  *     expression, probes its `nProbe` nearest cells, and scans ONLY
  *     those cells — an equi-join on `cell`.
  *
  * At 100 TB the index is written `partitionBy("cell")`; a persisted
  * serve then scans only the probed cells' directories and untouched
  * cells are never listed or read. Cost per query drops from O(|I|) to
  * O(nProbe·|I|/nCells); recall is tunable via nProbe (nProbe = nCells
  * ⇒ exact).
  */
object Ivf {

  /** Default cell count for an index of `n` vectors: `max(16, ⌈√n⌉)` —
    * the classic IVF sizing, MEASURED rather than asserted (round 9,
    * SCALE.md "The IVF `nlist ∝ N` rule": the 10× corpus, |C| = 20k,
    * full-width knnJoin serve, recall truth = exact top-10 on a
    * 500-query sample):
    *
    *   nCells 16 (old fixed constant): serve 14.09 s, recall@10 0.9962
    *   nCells 50 (≈ √10·16):           serve  3.72 s, recall@10 0.9630
    *   nCells 142 (⌈√N⌉):              serve  2.34 s, recall@10 0.9500
    *
    * Per-query candidate volume is ∝ nProbe·N/nCells, so a FIXED cell
    * count makes serve cost grow linearly with the corpus; √N keeps the
    * probed volume ∝ √N and returned the 10× serve to within 1.7× of
    * the 1× wall. nProbe guidance from the same table: at √N cells,
    * nProbe = 12 held recall@10 ≈ 0.95; raise nProbe (cost is linear in
    * it) to buy recall back toward the exact scan — nProbe = nCells IS
    * the exact scan. The floor of 16 keeps tiny corpora from degenerating
    * into a handful of giant cells (and preserves the sf-test layouts'
    * minimum probe structure). */
  def nCellsFor(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** Train the coarse quantizer. `nCells` ~ sqrt(|index|) is the usual
    * IVF sizing ([[nCellsFor]] computes that default from the corpus
    * size — [[IvfIndexStore.ensure]] applies it at fit time).
    * Deterministic under the fixed seed AND the session
    * layout — see below.
    *
    * The quantizer is trained on a bounded sample (`maxTrain`, FAISS-style):
    * coarse centroids don't improve past ~256 points per cell, so at 100 TB
    * the k-means never scans the full corpus — only `assign` does, and that
    * pass is map-side. The sample is cached for k-means' repeated scans
    * (init + 10 Lloyd iterations all hit memory, not parquet).
    *
    * Canonical sample membership AND layout (the [[Pq.fit]] discipline):
    * a bare `limit(maxTrain)` selects a partition-order-dependent subset,
    * and MLlib k-means'' init samples per partition in iteration order —
    * so a quantizer built under a different session parallelism produced
    * DIFFERENT centers (observed: a 16-thread build left one query's
    * nearest cell empty at nprobe=1, breaking the q120 all-served
    * invariant that holds on the 32-thread layout). The hash-ordered
    * take picks the same `maxTrain` vectors on any layout
    * (TakeOrderedAndProject — map-side top-k, never a full sort) and
    * yields ONE partition in sorted order, so the seeded fit is a pure
    * function of (data, seed). */
  def fit(emb: DataFrame, nCells: Int, seed: Long = 42L,
          vecCol: String = "embedding", maxTrain: Int = 100000): KMeansModel = {
    // hash-order on the ARRAY form (VectorUDT is neither hashable nor
    // orderable), convert to the ML vector after the canonical take
    val train = emb.select(l2Normalize(col(vecCol)).as("__arr"))
      .orderBy(xxhash64(col("__arr")), col("__arr"))
      .limit(maxTrain)
      .select(array_to_vector(col("__arr")).as("__nvec"))
      .cache()
    try
      new KMeans()
        .setK(nCells).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("__nvec").setPredictionCol("cell")
        .fit(train)
    finally train.unpersist()
  }

  /** Attach the `cell` column (map-side; centroids ride along broadcast). */
  def assign(model: KMeansModel, emb: DataFrame,
             vecCol: String = "embedding"): DataFrame =
    model.transform(withUnitVec(emb, vecCol)).drop("__nvec")

  /** Probed top-k: for each query, rank the `nProbe` cells whose centroid
    * is most cosine-similar, then exact-score only the index rows in those
    * cells. Output (query_id, vec_id, sim, rnk) with the deterministic
    * (sim DESC, vec_id ASC) tie order (SURVEY §7.4). */
  def topK(indexWithCells: DataFrame, model: KMeansModel, queries: DataFrame,
           k: Int, nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    requireServeArgs(k, nProbe)
    rankInCells(indexWithCells, probeCells(model, queries, nProbe)._1, k, excludeSelf)
  }

  /** Persist the cell-assigned index `partitionBy("cell")`: each IVF cell
    * becomes a parquet partition directory, so a probed search reads ONLY
    * the probed cells' files — the on-disk analogue of an inverted file.
    * Overwrite = the reference's wipe-every-run semantics
    * (`/root/reference/Hybrid_Recom_vecdb.py:28,338-341`). */
  def writeIndex(indexWithCells: DataFrame, path: String): Unit = {
    // Hash-cluster rows by cell BEFORE the partitioned write: a plain
    // partitionBy write emits one file per (write task × cell) —
    // nCells × parallelism tiny files (measured round 10: the adaptive
    // √N cell count turned the 10× index into 4,168 sub-8KB files and
    // the defaults-path serve read 33.5 s where the same 141-cell index
    // as ONE file per cell serves in ~4 s; at cluster scale the same
    // shape is a small-files catastrophe). After repartition(cell) each
    // cell's rows live in exactly one task → exactly one file per cell
    // directory. Giant cells at 100 TB: cap file size with
    // spark.sql.files.maxRecordsPerFile rather than re-splaying cells
    // across tasks.
    indexWithCells.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // an overwrite may change the columns as well as the files
    forgetIndex(indexWithCells.sparkSession, path, schemaToo = true)
  }

  /** The whole persisted index: every `cell=` directory, read with the
    * index's known schema and files ([[IndexFiles]]). An index path is
    * written only through [[writeIndex]] and [[upsertIndex]]; files put
    * there any other way are not seen until one of them runs. */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    scanCells(spark, path, None)

  /** Incremental maintenance (FAISS IVF `add` semantics): assign NEW
    * vectors with the EXISTING quantizer and append them to the
    * persisted index — new files land only in the touched cell
    * directories, untouched cells are never rewritten, centroids never
    * move (rebuild when assignment drift matters). The parquet analogue
    * of the reference's upsert batches
    * (`/root/reference/Hybrid_Recom_vecdb.py:159-170`). With the same
    * quantizer, build-then-upsert is bit-identical to a one-shot build
    * over the union — gated by q66. */
  def upsertIndex(model: KMeansModel, newRows: DataFrame, path: String,
                  vecCol: String = "embedding"): Unit = {
    // same one-file-per-cell clustering as writeIndex: an upsert batch
    // adds at most one new file to each touched cell directory
    assign(model, newRows, vecCol).repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
    // same quantizer, same columns: only the file listing is stale
    forgetIndex(newRows.sparkSession, path, schemaToo = false)
  }

  /** [[topK]] against a persisted index, reading ONLY the probed cells:
    * the probed cell set (≤ |queries|·nProbe ints — driver-safe at any
    * scale) is read off the collected probe, and the scan is rooted at
    * those cells' `path/cell=<c>` directories ([[scanCells]]), so
    * untouched cells are never listed or read. A probed cell with no
    * directory (no rows were ever assigned to it) contributes nothing.
    * Rows an [[upsertIndex]] appended are visible to the next serve.
    * This is the 100 TB serving path: cost scales with probed bytes,
    * not index bytes. */
  def topKPersisted(spark: SparkSession, path: String, model: KMeansModel,
                    queries: DataFrame, k: Int, nProbe: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    requireServeArgs(k, nProbe)
    val (probed, cells) = probeCells(model, queries, nProbe)
    rankInCells(scanCells(spark, path, Some(cells.toSeq)), probed, k, excludeSelf)
  }

  /** What reading a persisted index needs besides its bytes, kept per
    * index path: the schema, the `cell=` directories that exist, and the
    * files of each directory a scan has listed (Spark's file-index
    * listing cache, filled by the scans themselves). Repeated serves of
    * an unchanged index therefore list nothing, however many cells they
    * probe. [[writeIndex]] and [[upsertIndex]] are the only writers of
    * an index path and drop its entry once their files are committed:
    * an upsert keeps the schema, so the next serve lists the index root
    * once and then only the directories it probes, with no schema job
    * and no listing of unprobed cells. Holds file statuses, never a
    * session or a plan. */
  private final class IndexFiles(val schema: StructType, val cellDirs: Map[Int, Path])
      extends FileStatusCache {
    private val leaves = TrieMap.empty[Path, Array[FileStatus]]
    override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = leaves.get(dir)
    override def putLeafFiles(dir: Path, files: Array[FileStatus]): Unit =
      leaves.put(dir, files)
    override def invalidateAll(): Unit = leaves.clear()
  }

  // both keyed by the qualified index path, so any spelling of it
  // (trailing slash, scheme) finds the same entry
  private val indexFiles = TrieMap.empty[String, IndexFiles]
  private val indexSchemas = TrieMap.empty[String, StructType]

  private def qualified(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  private def forgetIndex(spark: SparkSession, path: String, schemaToo: Boolean): Unit =
    synchronized {
      val key = qualified(spark, path).toString
      indexFiles.remove(key)
      if (schemaToo) indexSchemas.remove(key)
    }

  private val CellDir = "cell=(\\d+)".r

  /** One `listStatus` of the index root finds the cell directories; the
    * schema is read once from one of them (one job over one footer). */
  private def filesOf(spark: SparkSession, path: String): (Path, IndexFiles) = synchronized {
    val root = qualified(spark, path)
    val files = indexFiles.getOrElseUpdate(root.toString, {
      val cellDirs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(root).iterator.filter(_.isDirectory).map(_.getPath)
        .flatMap(d => d.getName match {
          case CellDir(c) => Some(c.toInt -> d)
          case _ => None
        }).toMap
      val schema = indexSchemas.getOrElseUpdate(root.toString, {
        val someCell = cellDirs.values.headOption.getOrElse(
          throw new IllegalStateException(s"no cell directory under $path"))
        spark.read.option("basePath", root.toString).parquet(someCell.toString).schema
      })
      new IndexFiles(schema, cellDirs)
    })
    (root, files)
  }

  /** The index restricted to `cells` (all cells when None), scanned
    * from those cells' directories only. The file index is built over
    * the known schema and the memoized directory listings, so only a
    * directory no scan has listed since the last write is listed. */
  private def scanCells(spark: SparkSession, path: String,
                        cells: Option[Iterable[Int]]): DataFrame = {
    val (root, files) = filesOf(spark, path)
    val dirs = cells match {
      case Some(cs) => cs.toSeq.distinct.sorted.flatMap(files.cellDirs.get)
      case None => files.cellDirs.toSeq.sortBy(_._1).map(_._2)
    }
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), files.schema)
    else {
      val location = new InMemoryFileIndex(spark, dirs, Map("basePath" -> root.toString),
        Some(files.schema), files)
      val partCols = location.partitionSchema.fieldNames.toSet
      spark.baseRelationToDataFrame(HadoopFsRelation(location, location.partitionSchema,
        StructType(files.schema.filterNot(f => partCols(f.name))), None,
        new ParquetFileFormat(), Map.empty)(spark))
    }
  }

  private def requireServeArgs(k: Int, nProbe: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
  }

  /** Cell-cogrouped kNN JOIN — the large-|Q| path (round-2 verdict
    * missing #1). [[topK]]/[[topKPersisted]] broadcast the query side by
    * contract; a corpus-scale "find each doc's neighbors" (|Q| = |index|)
    * cannot broadcast EITHER side. Here both sides carry `cell` and meet
    * in a plain equi-join Spark hash-partitions:
    *
    *  1. probe map-side: each query row scores the nCells centroids in
    *     an expression ([[probeCellsMapSide]] — no broadcast, no window
    *     shuffle) and explodes its `nProbe` nearest cells;
    *  2. equi-join on `cell` — each query meets only its probed cells'
    *     vectors (nProbe/nCells of the corpus), never all-pairs;
    *  3. per-query top-k via `collect_top_k` — bounded heaps inside
    *     ObjectHashAggregate ([[graft.functions.expressions.TopKAggregate]]).
    *
    * Step 3 was a `row_number() <= k` window through round 10. The
    * window's map-side WindowGroupLimit prune is SORT-based: the local
    * Sort materializes the whole scored-pair volume per task before the
    * prune drops anything, so the operator's DISK footprint equals its
    * candidate volume — measured fatal at 60× (gate-mode q68 scores
    * ~10.8G pairs; the sort spill filled 79 GB of local disk and died
    * with `SPILL_OUT_OF_MEMORY … No space left on device`; round-11
    * BENCH_SCALE note). The heap aggregation keeps O(queries-in-task × k)
    * state, shuffles ≤ tasks × k rows per query, and never materializes
    * a scored pair — the pair stream stays inside the codegen'd join
    * stage. Same (sim DESC, vec_id ASC) order, rank and output schema
    * (TopKAggregateSpec + IvfSpec pin equivalence and plan shape).
    *
    * At 100 TB with nCells ~ sqrt(|index|) the cell key space is wide
    * enough to spread the join; a skewed cell is an AQE skew-join split
    * (the join is a standard shuffle join, so AQE applies). Recall is the
    * same nProbe/nCells trade as [[topK]] — gated in-plan by q68. */
  def knnJoin(indexWithCells: DataFrame, model: KMeansModel,
              queries: DataFrame, k: Int, nProbe: Int,
              excludeSelf: Boolean = true): DataFrame = {
    requireServeArgs(k, nProbe)
    val scored = probeCellsMapSide(model, queries, nProbe)
      .join(indexWithCells, Seq("cell"))
      .where(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
      .select("query_id", "vec_id", "sim")
    topKPerQuery(scored, k)
  }

  /** Per-query top-k over a scored (query_id, vec_id, sim, …) frame via
    * bounded heaps — the disk-safe replacement for the
    * `row_number() <= k` window (see [[knnJoin]] step 3 and
    * [[graft.functions.expressions.TopKAggregate]]). Output
    * (query_id, vec_id, sim, rnk) in the window's exact
    * (sim DESC, vec_id ASC) order. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    TopKAggregate.perGroupTopK(scored, "query_id", "vec_id", "sim", k)

  /** The IVF probe: per query, the `nProbe` cells whose centroid is most
    * cosine-similar, in the deterministic (csim DESC, cell ASC) tie
    * order. The centroids are baked into ONE map-side expression (array
    * of (csim, cell) structs → comparator sort → slice nProbe → explode),
    * so a billion-row query side probes without any exchange. Output
    * (query_id, q_emb, cell). */
  private[graft] def probeCellsMapSide(model: KMeansModel, queries: DataFrame,
                                       nProbe: Int): DataFrame = {
    val cands = array(model.clusterCenters.zipWithIndex.map { case (c, i) =>
      struct(cosine(col("q_emb"), typedLit(c.toArray.toSeq)).as("csim"),
        lit(i).as("cell"))
    }: _*)
    val bySimDescCellAsc = (l: Column, r: Column) =>
      when(l.getField("csim") > r.getField("csim"), -1)
        .when(l.getField("csim") < r.getField("csim"), 1)
        .when(l.getField("cell") < r.getField("cell"), -1)
        .when(l.getField("cell") > r.getField("cell"), 1)
        .otherwise(0)
    queries
      .withColumn("__probe", slice(array_sort(cands, bySimDescCellAsc), 1, nProbe))
      .select(col("query_id"), col("q_emb"),
        explode(col("__probe.cell")).as("cell"))
  }

  /** The probe of [[probeCellsMapSide]] for a broadcast-sized query
    * side, computed on the driver: the query rows (query_id, q_emb) are
    * collected in ONE job and each scores the centroids in plain Scala,
    * with [[graft.functions.expressions.CosineSim]]'s arithmetic and the
    * same (csim DESC, cell ASC) order, so the cells are identical. The
    * result is a local relation (query_id, q_emb, cell) plus the distinct
    * probed cells. The query side is broadcast by contract, so its bytes
    * reach the driver anyway; scoring them here keeps nCells × dim
    * centroid literals out of every serve's plan, task and generated
    * code. */
  private[graft] def probeCells(model: KMeansModel, queries: DataFrame,
                                nProbe: Int): (DataFrame, Array[Int]) = {
    val qs = queries.select("query_id", "q_emb")
    val centers = model.clusterCenters.map(_.toArray)
    val rows = qs.collect().flatMap { q =>
      nearestCells(q.getAs[scala.collection.Seq[Any]](1), centers, nProbe)
        .map(c => Row(q.get(0), q.get(1), c))
    }
    val schema = qs.schema.add(StructField("cell", IntegerType, nullable = false))
    (queries.sparkSession.createDataFrame(rows.toSeq.asJava, schema),
      rows.map(_.getInt(2)).distinct)
  }

  /** The `nProbe` cells of [[probeCellsMapSide]] for one query vector.
    * csim is CosineSim's double arithmetic, element order included; a
    * null vector or a length mismatch makes every csim null, which the
    * map-side comparator orders by cell alone. Doubles compare as Spark
    * SQL compares them (NaN above every number). */
  private def nearestCells(q: scala.collection.Seq[Any], centers: Array[Array[Double]],
                           nProbe: Int): Array[Int] = {
    val n = if (q == null) -1 else q.length
    if (centers.exists(_.length != n)) return centers.indices.take(nProbe).toArray
    val x = q.iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray
    val csim = centers.map { c =>
      var dot = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < n) {
        dot += x(i) * c(i); aa += x(i) * x(i); bb += c(i) * c(i)
        i += 1
      }
      val denom = math.sqrt(aa) * math.sqrt(bb)
      if (denom == 0.0) 0.0 else dot / denom
    }
    def cmp(a: Double, b: Double) = if (a == b) 0 else java.lang.Double.compare(a, b)
    centers.indices.sortWith { (l, r) =>
      val c = cmp(csim(l), csim(r))
      c > 0 || (c == 0 && l < r)
    }.take(nProbe).toArray
  }

  private def rankInCells(indexWithCells: DataFrame, probed: DataFrame,
                          k: Int, excludeSelf: Boolean): DataFrame = {
    // The broadcast-probe contract keeps |Q| small, but the scored frame
    // is still |Q| × nProbe × |cell| — at 10⁹ vectors a 1000-query serve
    // batch scores ~10⁸ rows, which the old window SORTED per task
    // before its prune. Same bounded-heap tail as [[knnJoin]]; identical
    // output (digest-pinned by q37/q43 and the IvfSpec exactness test).
    val scored = indexWithCells
      .join(probed.hint("broadcast"), Seq("cell"))
      .where(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    topKPerQuery(scored, k)
  }

  /** L2-normalize into an MLlib vector column (zero vectors stay zero). */
  private def withUnitVec(emb: DataFrame, vecCol: String): DataFrame =
    emb.withColumn("__nvec", array_to_vector(l2Normalize(col(vecCol))))
}
