package graft

/** Every main and the test suite build their session through
  * [[GraftSession]]; this pins what that session carries. */
class GraftSessionSpec extends SparkTestBase {

  test("GraftSession(n) sets exactly the six shared settings, n shuffle partitions") {
    assert(GraftSession.settings(7) == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
  }

  test("the test session is a GraftSession(4)") {
    for ((k, v) <- GraftSession.settings(4))
      assert(spark.conf.get(k) == v, k)
  }
}
