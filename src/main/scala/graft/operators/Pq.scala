package graft.operators

import graft.functions.VectorFunctions._
import graft.functions.expressions.TopKAggregate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression scale path beyond
  * SQ8 ([[Quantize]]): each L2-normalized vector is split into `m`
  * subvectors and every subvector is replaced by the id of its nearest
  * centroid in a per-subspace codebook of `ksub` entries. Storage drops
  * from `4·dim` bytes to `m·log2(ksub)/8` bytes per vector (64-dim
  * float32 → 16 bytes at m=16/ksub=16: 16×), which is what makes a
  * 100 TB vector corpus servable from RAM-resident codes.
  *
  * Serving is FAISS's IVFPQ+refine design re-expressed relationally:
  *
  *  1. probe the IVF coarse cells (same quantizer as the exact path —
  *     the `cell` column rides through [[encode]], so ADC scans only
  *     probed cells);
  *  2. asymmetric distance computation (ADC): the query stays
  *     full-precision, builds `lut[j][c] = q̂_j · codebook_j_c` map-side,
  *     and each candidate scores as `Σ_j lut[j][codes[j]]` — O(m) adds
  *     instead of an O(dim) dot — to produce a SHORTLIST;
  *  3. refine: only shortlist rows join their full vector back by id
  *     (narrow equi-join) and the final top-k is exact cosine.
  *
  * The reference stores raw float32 vectors in ChromaDB and lets HNSW
  * score them (`/root/reference/Hybrid_Recom_vecdb.py:126-141,155-158`);
  * IVF-PQ is this engine's answer at a scale where raw vectors don't fit.
  *
  * Codebooks enter the plan as `typedLit` ARRAY DATA, not unrolled
  * expression nodes — scoring walks them with higher-order functions, so
  * the plan stays a few KB no matter how large m·ksub·dsub gets (an
  * unrolled-literal rendering hit multi-MiB task binaries and fell out
  * of codegen into interpreted evaluation).
  *
  * Training is seeded Lloyd's k-means on the driver over a BOUNDED
  * sample (the FAISS training contract: codebooks converge on ~1k points
  * per centroid; at 100 TB training never scans the corpus — only
  * [[encode]] does, and that pass is map-side).
  */
object Pq {

  /** Trained codebooks: `codebooks(j)(c)` is the `dsub`-dim centroid `c`
    * of subspace `j`. */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    def dsub: Int = dim / m
  }

  /** Train per-subspace codebooks over `maxTrain` sampled vectors.
    * Deterministic under the seed. */
  def fit(emb: DataFrame, dim: Int, m: Int, ksub: Int, seed: Long = 42L,
          vecCol: String = "embedding", maxTrain: Int = 50000): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    // Canonical sample MEMBERSHIP and order: a bare limit(maxTrain)
    // selects a partition-order-dependent subset once the corpus exceeds
    // maxTrain, so the hash-ordered take picks the same maxTrain vectors
    // on any cluster layout (TakeOrderedAndProject: map-side top-k +
    // driver merge — never a full sort), and the driver-side sort below
    // canonicalizes order. Together they make the fit a pure function of
    // (data, seed): codebooks built by any session/parallelism are
    // bit-identical (PqIndexStoreSpec).
    val sample: Array[Array[Double]] = emb
      .select(l2Normalize(col(vecCol)).as("__nv"))
      .orderBy(xxhash64(col("__nv")), col("__nv"))
      .limit(maxTrain)
      .collect()
      .map(r => r.getSeq[Double](0).toArray)
      .sortWith { (a, b) =>
        var i = 0
        while (i < a.length && i < b.length && a(i) == b(i)) i += 1
        if (i < a.length && i < b.length) a(i) < b(i) else a.length < b.length
      }
    val books = (0 until m).toArray.map { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(pts, ksub, seed + j)
    }
    PqModel(dim, m, ksub, books)
  }

  /** Seeded Lloyd's k-means (10 iterations, deterministic-shuffle init,
    * empty clusters respawned on the point farthest from its centroid). */
  private def lloyd(pts: Array[Array[Double]], k: Int, seed: Long,
                    iters: Int = 10): Array[Array[Double]] = {
    require(pts.length >= k, s"need at least $k training points, got ${pts.length}")
    val d = pts.head.length
    val rnd = new scala.util.Random(seed)
    var centers: Array[Array[Double]] =
      rnd.shuffle(pts.indices.toVector).take(k).map(i => pts(i).clone).toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val assign = new Array[Int](pts.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < pts.length) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          val dd = d2(pts(p), centers(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        assign(p) = best; p += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Int](k)
      p = 0
      while (p < pts.length) {
        val a = assign(p); cnts(a) += 1
        var i = 0
        while (i < d) { sums(a)(i) += pts(p)(i); i += 1 }
        p += 1
      }
      centers = (0 until k).toArray.map { c =>
        if (cnts(c) > 0) sums(c).map(_ / cnts(c))
        else { // respawn on the farthest point from its current centroid
          var far = 0; var farD = -1.0; var q = 0
          while (q < pts.length) {
            val dd = d2(pts(q), centers(assign(q)))
            if (dd > farD) { farD = dd; far = q }
            q += 1
          }
          pts(far).clone
        }
      }
      it += 1
    }
    centers
  }

  /** Codebook `j` as literal array data (ksub × dsub). */
  private def bookLit(model: PqModel, j: Int): Column =
    typedLit(model.codebooks(j).map(_.toSeq).toSeq)

  /** Per-subspace squared-norm halves ‖c‖²/2, literal (ksub). */
  private def halfNormLit(model: PqModel, j: Int): Column =
    typedLit(model.codebooks(j).map(c => c.map(x => x * x).sum / 2.0).toSeq)

  /** Nearest-centroid code for one subspace: argmin ‖v_s − c‖² = argmax
    * (v_s·c − ‖c‖²/2). `array_position` on the max takes the FIRST
    * occurrence, so ties break on the lower code id. */
  private def codeOf(model: PqModel, j: Int, sub: Column): Column = {
    val scores = zip_with(bookLit(model, j), halfNormLit(model, j),
      (c, hn) => dot(sub, c) - hn)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Replace `vecCol` with `codes array<int>` (length m). Every other
    * column — an IVF `cell`, ids, labels — passes through, so a
    * PQ-encoded index keeps its partition column. Pure map-side. */
  def encode(model: PqModel, df: DataFrame,
             vecCol: String = "embedding"): DataFrame = {
    val codes = array((0 until model.m).map { j =>
      codeOf(model, j, slice(col("__nv"), j * model.dsub + 1, model.dsub))
    }: _*)
    df.withColumn("__nv", l2Normalize(col(vecCol)))
      .withColumn("codes", codes)
      .drop("__nv", vecCol)
  }

  /** Reconstructed (decoded) vector: concat of each code's centroid —
    * what ADC scores against, exposed for reconstruction-error specs. */
  def decoded(model: PqModel, codesCol: Column): Column =
    flatten(array((0 until model.m).map { j =>
      element_at(bookLit(model, j), element_at(codesCol, j + 1) + 1)
    }: _*))

  /** The query-side ADC lookup table: `lut[j][c] = q̂_j · codebook_j_c`,
    * m·ksub doubles per query — one fused codegen'd loop
    * ([[graft.functions.expressions.PqLut]]; the HOF rendering cost
    * m·ksub interpreted lambda dispatches per row and dominated the
    * 1000-query batch serve). `nqCol` must hold the normalized query as
    * array<double>. */
  private def lutOf(model: PqModel, nqCol: Column): Column =
    graft.functions.expressions.VectorExpressions.pqLut(nqCol, model.codebooks)

  /** HOF reference rendering of [[lutOf]] — kept for the parity spec. */
  private[operators] def lutOfHof(model: PqModel, nqCol: Column): Column =
    array((0 until model.m).map { j =>
      val sub = slice(nqCol, j * model.dsub + 1, model.dsub)
      transform(bookLit(model, j), c => dot(sub, c))
    }: _*)

  /** ADC score of one encoded row against one query's LUT: Σ_j
    * lut[j][codes[j]] — the per-candidate hot loop, backed by the
    * codegen'd [[graft.functions.expressions.AdcScore]] expression. */
  private def adcScore(codesCol: Column, lutCol: Column): Column =
    graft.functions.expressions.VectorExpressions.adcScore(codesCol, lutCol)

  /** Pure-ADC IVF-PQ top-k (no refine): probe `nProbe` cells per query,
    * equi-join the PQ-encoded index on `cell`, ADC-score, per-query
    * top-k window. Output (query_id, vec_id, adc_sim, rnk), tie order
    * (score DESC, vec_id ASC). Queries: (query_id, q_emb). */
  def topK(encodedIndex: DataFrame, pq: PqModel,
           coarse: org.apache.spark.ml.clustering.KMeansModel,
           queries: DataFrame, k: Int, nProbe: Int,
           excludeSelf: Boolean = true): DataFrame = {
    val shortlist = adcShortlist(encodedIndex, pq, coarse, queries, k, nProbe,
      excludeSelf)
    shortlist.select(col("query_id"), col("vec_id"),
      col("adc_sim"), col("rnk"))
  }

  /** ADC shortlist of size `shortlist` per query (the candidate set the
    * refine step re-ranks). */
  private def adcShortlist(encodedIndex: DataFrame, pq: PqModel,
                           coarse: org.apache.spark.ml.clustering.KMeansModel,
                           queries: DataFrame, shortlist: Int, nProbe: Int,
                           excludeSelf: Boolean): DataFrame = {
    val probed = Ivf.probeCells(coarse, queries, nProbe)._1
      .withColumn("__nq", l2Normalize(col("q_emb")))
      .withColumn("__lut", lutOf(pq, col("__nq")))
      .drop("__nq")
    val scored = encodedIndex
      .join(probed.hint("broadcast"), Seq("cell"))
      .where(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("adc_sim", adcScore(col("codes"), col("__lut")))
    // Bounded-heap top-k (round 11) — the candidate frame here is
    // |Q| × nProbe × |cell| rows and the old window SORTED it per task,
    // wide (codes + LUT + q_emb columns) — the same disk-footprint
    // hazard measured fatal on Ivf.knnJoin at 60×. The heap prunes the
    // payload columns; [[topKRefined]] re-attaches q_emb by joining the
    // k-sized shortlist against the (broadcast-small) query frame.
    TopKAggregate.perGroupTopK(scored, "query_id", "vec_id", "adc_sim",
      shortlist)
  }

  /** IVFPQ+refine top-k — the production serving shape: ADC produces a
    * `shortlist`-deep candidate set from codes alone; ONLY those rows
    * fetch their full vector back (equi-join on vec_id — at 100 TB a
    * |Q|·shortlist-row join against the id-keyed vector store, never a
    * scan) and the final top-k is exact cosine, so PQ error only costs
    * recall when the true neighbor misses a `shortlist`-deep net.
    * Output (query_id, vec_id, sim, rnk), tie order (sim DESC, vec_id
    * ASC) — directly comparable to the exact serve path. */
  def topKRefined(encodedIndex: DataFrame, fullVectors: DataFrame,
                  pq: PqModel,
                  coarse: org.apache.spark.ml.clustering.KMeansModel,
                  queries: DataFrame, k: Int, shortlist: Int, nProbe: Int,
                  excludeSelf: Boolean = true,
                  vecCol: String = "embedding"): DataFrame = {
    val cands = adcShortlist(encodedIndex, pq, coarse, queries, shortlist,
      nProbe, excludeSelf)
      .select("query_id", "vec_id")
      .join(queries.select(col("query_id"), col("q_emb")).hint("broadcast"),
        Seq("query_id"))
    TopKAggregate.perGroupTopK(
      cands
        .join(fullVectors.select(col("vec_id"), col(vecCol).as("__fv")),
          Seq("vec_id"))
        .withColumn("sim", cosine(col("q_emb"), col("__fv"))),
      "query_id", "vec_id", "sim", k)
  }
}
