package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** The contract the observed-metric loops stand on: Spark fires
  * `observe` metrics on the EAGER `localCheckpoint` action (so a
  * per-round scalar can ride the roll a bulk-iterative loop already
  * pays — PageRank dangling mass, k-core fixpoint edge count, BFS
  * frontier size, dedup-CC changed count). If a Spark upgrade ever
  * stops materializing metrics on the checkpoint action, these fail
  * loudly instead of the loops hanging on `Observation.get`. */
class IterateSpec extends SparkTestBase {

  test("observe metrics fire on the eager localCheckpoint action") {
    import spark.implicits._
    val obs = Observation()
    val df = (1 to 100).toDF("x")
      .observe(obs, sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .localCheckpoint() // eager by default — this IS the action
    // get would block forever if the metric had not fired; the values
    // prove the whole frame was scanned by the checkpoint
    assert(obs.get("sx") == 5050L)
    assert(obs.get("n") == 100L)
    // and the checkpointed frame is the usual truncated-lineage result
    assert(df.count() == 100L)
  }

  test("roll carries the observation and still releases the superseded checkpoint") {
    import spark.implicits._
    var cur = (1 to 10).toDF("x").localCheckpoint()
    val obs = Observation()
    val next = Iterate.roll(
      cur.where(col("x") % 2 === 0)
        .observe(obs, count(lit(1)).as("n")), Some(cur))
    assert(obs.get("n") == 5L)
    assert(next.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4, 6, 8, 10))
  }

  test("a bare select atop a checkpoint still exposes its LogicalRDD to release") {
    import spark.implicits._
    // the dedup-CC loop keeps `labels = next.select(...)` (dropping the
    // probe column) and later releases it — the select's only plan leaf
    // must be the checkpoint itself
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = (1 to 5).toDF("x").withColumn("y", col("x") * 2).localCheckpoint()
    val view = cp.select("x")
    val leaves = view.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    assert(leaves.size == 1, s"expected exactly the checkpoint leaf, got $leaves")
  }
}
