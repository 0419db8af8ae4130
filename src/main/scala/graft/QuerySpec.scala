package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

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
  *               correct, just slower on first touch. A setup that
  *               throws fails the query in every harness ([[prepare]]).
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

  /** Runs the setup, if any; on a throw, logs it under `[tag]` and returns
    * the failure (`setup: <what threw>`). A query whose setup failed must
    * not run: its body would rebuild the artifact inside the timed or
    * checked region, or read a half-built one. */
  def prepare(spark: SparkSession, sfDir: String, tag: String): Option[String] =
    try { setup.foreach(_(spark, sfDir)); None }
    catch { case NonFatal(t) =>
      System.err.println(s"[$tag] $name setup failed: $t")
      Some(s"setup: $t")
    }
}

object QuerySpec {

  /** The query loop of Verify, ExplainAll and ScaleProbe: per spec,
    * [[QuerySpec.prepare]], then `body` unless the setup failed, then
    * [[GraftSession.reap]]. A throwing body is logged under `[tag]` and
    * the loop goes on. Returns the names that failed, in run order. */
  def runEach(spark: SparkSession, sfDir: String, specs: Seq[QuerySpec],
              tag: String)(body: QuerySpec => Unit): Seq[String] =
    specs.filter { spec =>
      val ok = spec.prepare(spark, sfDir, tag).isEmpty &&
        (try { body(spec); true }
         catch { case NonFatal(t) =>
           System.err.println(s"[$tag] ${spec.name} failed: $t")
           false
         })
      GraftSession.reap(spark)
      !ok
    }.map(_.name)

  /** After a [[runEach]] loop: names the failed queries and exits 1. */
  def exitOnFailures(tag: String, failed: Seq[String]): Unit =
    if (failed.nonEmpty) {
      System.err.println(s"[$tag] ${failed.size} FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
}
