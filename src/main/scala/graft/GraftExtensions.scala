package graft

import graft.functions.expressions._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * The reference exposes its scoring primitives only through Python calls
  * (`/root/reference/Hybrid_Recom_vecdb.py:172-187` cosine space,
  * `:126-141` embedding batches); a Spark-native engine exposes them to
  * `spark.sql(...)` as first-class functions so a SQL-only user gets the
  * same codegen'd/single-pass implementations as the Column API:
  *
  *   - `cosine_sim(a, b)`          — [[CosineSim]] (whole-stage codegen)
  *   - `word_shingles(toks, n)`    — [[WordShingles]] (distinct n-grams)
  *   - `minhash_sig(shingles, p)`  — [[MinHashSig]] (hash-once signatures)
  *   - `simhash60(toks)`           — [[SimHash60]]
  *   - `rolling_fingerprint(toks)` — [[RollingFingerprint]]
  *
  * Two registration paths, same descriptors:
  *   - config time: `spark.sql.extensions=graft.GraftExtensions` (or
  *     `builder.withExtensions(new GraftExtensions)`) — the idiomatic
  *     `SparkSessionExtensions.injectFunction` route; survives
  *     `newSession()` clones.
  *   - runtime: `GraftExtensions.register(spark)` on a live session
  *     (what the declared queries use — the caller owns session
  *     construction there).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")

  /** Sizing arguments (shingle width, permutation count) parameterize the
    * expression instance itself, so they must be integer literals — the
    * same constraint Spark's own `approx_count_distinct` places on its
    * relativeSD argument. */
  private def intLit(name: String, args: Seq[Expression], pos: Int): Int =
    args(pos) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$name: argument ${pos + 1} must be an INT literal, got $other")
    }

  private def info(name: String, usage: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("cosine_sim"),
        info("cosine_sim", "_FUNC_(a, b) - cosine similarity of two float/double arrays",
          classOf[CosineSim]),
        (args: Seq[Expression]) => { arity("cosine_sim", args, 2); CosineSim(args(0), args(1)) }),
      (FunctionIdentifier("word_shingles"),
        info("word_shingles", "_FUNC_(tokens, n) - distinct word n-grams in first-seen order",
          classOf[WordShingles]),
        (args: Seq[Expression]) => {
          arity("word_shingles", args, 2)
          WordShingles(args(0), intLit("word_shingles", args, 1))
        }),
      (FunctionIdentifier("minhash_sig"),
        info("minhash_sig", "_FUNC_(shingles, perms) - MinHash signature array",
          classOf[MinHashSig]),
        (args: Seq[Expression]) => {
          arity("minhash_sig", args, 2)
          MinHashSig(args(0), intLit("minhash_sig", args, 1))
        }),
      (FunctionIdentifier("simhash60"),
        info("simhash60", "_FUNC_(tokens) - 60-bit SimHash fingerprint",
          classOf[SimHash60]),
        (args: Seq[Expression]) => { arity("simhash60", args, 1); SimHash60(args.head) }),
      (FunctionIdentifier("rolling_fingerprint"),
        info("rolling_fingerprint", "_FUNC_(tokens) - order-sensitive polynomial rolling hash",
          classOf[RollingFingerprint]),
        (args: Seq[Expression]) => {
          arity("rolling_fingerprint", args, 1); RollingFingerprint(args.head)
        }),
      (FunctionIdentifier("adc_score"),
        info("adc_score", "_FUNC_(codes, lut) - PQ asymmetric-distance score: sum of lut[j][codes[j]]",
          classOf[AdcScore]),
        (args: Seq[Expression]) => { arity("adc_score", args, 2); AdcScore(args(0), args(1)) }))

  /** Register the same function set on an already-constructed session.
    * Idempotent: `registerFunction` replaces an existing binding. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
