package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector (embedding-column) helpers built from Spark's codegen'd
  * higher-order functions — no UDFs, so the whole similarity pipeline
  * stays inside WholeStageCodegen and is usable in predicates that
  * Catalyst can still reorder/push.
  *
  * Mirrors the cosine-space semantics of the reference's ChromaDB
  * collection (reference `Hybrid_Recom_vecdb.py:157` — `hnsw:space=cosine`)
  * and its distance post-processing (`Hybrid_Recom_vecdb.py:179-187`).
  *
  * All math is done in Double (inputs are `array<float>`): at 100 TB the
  * cast is per-element CPU only (no shuffle, no allocation beyond the
  * lambda variables) and keeps results cross-engine comparable.
  */
object VectorFunctions {

  /** array<float> → array<double>, elementwise. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product of two equal-length numeric arrays (double math). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** L2-normalized copy of the vector (zero vectors pass through as zeros,
    * so downstream cosine = 0 rather than NaN). */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

  /** Cosine similarity in [-1, 1]; 0 when either vector is all-zero
    * (matches the "no signal" reading of the reference's clamp at
    * `Hybrid_Recom_vecdb.py:184-185`). Backed by the codegen'd
    * [[graft.functions.expressions.CosineSim]] expression; bit-identical
    * to [[cosineHof]]. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.cosineSim(a, b)

  /** Higher-order-function rendering of [[cosine]] — kept as the
    * pure-built-in reference implementation (tests assert equivalence). */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }
}
