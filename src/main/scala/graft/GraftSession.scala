package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session builder of the engine's mains (Bench, Verify,
  * ExplainAll, ScaleProbe, GraphProbe) and of the test suite, so their
  * confs cannot drift apart, and the one [[reap]] the query-running mains
  * call between queries. Each caller keeps its own core count and log
  * level; `-Dspark.*` system properties still reach the SparkConf for
  * one-off A/B confs. */
object GraftSession {

  /** Everything the builder sets, by conf key.
    *
    * The two parquet keys cover both corpus encodings of `events.ts`:
    * TIMESTAMP(NANOS) is read as a long (converted in `Tables.events`),
    * and a timestamp[us] without time zone is read as TIMESTAMP rather
    * than TIMESTAMP_NTZ, on which `unix_micros`/`window()` fail
    * analysis. */
  private[graft] def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  def apply(cores: Int): SparkSession =
    SparkSession.builder().config(settings(cores)).getOrCreate()

  @volatile private var clearCacheWarned = false

  /** Drops what a finished query left materialized. clearCache comes
    * first: no operator registers a DataFrame cache today, but a stale
    * CacheManager entry would shadow later identical plans; its first
    * failure is logged, later ones are silenced. Then every persistent
    * RDD is unpersisted BLOCKING: one-shot queries leave localCheckpoint
    * blocks pinned until a GC proves them dead, and the async form let
    * an iterative query's blocks live on into its successor (q65 ran
    * 0.65 s alone but 30-50 s after q63's ten checkpoint rounds). */
  def reap(spark: SparkSession): Unit = {
    try spark.catalog.clearCache()
    catch { case NonFatal(t) =>
      if (!clearCacheWarned) {
        clearCacheWarned = true
        System.err.println(s"[reap] clearCache failed (further failures silenced): $t")
      }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `SPARK_GRAFT_CPUS`, else `default`: the core count of the bench
    * and verify contract. */
  private[graft] def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
