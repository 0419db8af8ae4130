package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains (Bench, Verify,
  * Explain, ExplainAll, ScaleProbe, GraphProbe) and of the test suite,
  * so their confs cannot drift apart. Each caller keeps its own core
  * count and log level; `-Dspark.*` system properties still reach the
  * SparkConf for one-off A/B confs. */
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

  /** `SPARK_GRAFT_CPUS`, else `default`: the core count of the bench
    * and verify contract. */
  private[graft] def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
