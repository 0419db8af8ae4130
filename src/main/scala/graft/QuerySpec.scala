package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: everything the harnesses know about it.
  *
  * @param name   `qNN_snake_name`; `qNN` is its key on Bench's stdout line
  * @param run    the Spark body over an sf dir of the parquet corpus
  *               (TESTDATA.md)
  * @param oracle equivalent ANSI SQL that DuckDB runs on the same parquet
  *               tables (`tools/compare.py`). Determinism rules (SURVEY
  *               §7.4): every ranked operator carries an explicit
  *               total-order tiebreaker; every order-dependent double
  *               aggregate is rounded identically on both sides.
  * @param setup  build-once work the harnesses run OUTSIDE the timed and
  *               verified region: artifacts (the persisted IVF index)
  *               whose construction must not be attributed to the
  *               queries that serve from them — the reference's
  *               build/serve split (`Hybrid_Recom_vecdb.py:331-383` build
  *               vs `:384-410` serve). Each is idempotent and DISK-backed;
  *               the query bodies also self-heal by calling ensure()
  *               themselves, so running a query without its setup is
  *               correct, just slower on first touch.
  * @param heavy  iterative / pair-expansion query that leaves enough JVM
  *               state behind to inflate whatever runs after it; Bench
  *               runs at most one per fork chunk, last (`Bench.topoChunks`).
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    setup: Option[(SparkSession, String) => Unit] = None,
    heavy: Boolean = false) {

  /** `qNN`: the name up to its first '_'. */
  def shortKey: String = name.takeWhile(_ != '_')
}
