package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** The query loop Verify, ExplainAll and ScaleProbe share: a failed setup
  * fails its query and its body never runs, a throwing body fails only
  * its own query, and every query's blocks are reaped after it. */
class HarnessLoopSpec extends SparkTestBase {

  private def ok(name: String) = QuerySpec(name, (s, _) => s.range(10).toDF("x"), "SELECT 1")

  test("ExplainAll writes no plan file for a query whose setup threw, and names it") {
    val ran = new AtomicBoolean(false)
    val badSetup = QuerySpec("q9003_bad_setup",
      (s, _) => { ran.set(true); s.range(10).toDF("x") }, "SELECT 1",
      setup = Some((_, _) => throw new IllegalStateException("no index")))
    val out = Files.createTempDirectory("graft-explain-")
    try {
      val failed = ExplainAll.explain(spark, sf(), out, Seq(badSetup, ok("q9001_ok")))
      assert(failed == Seq("q9003_bad_setup"))
      assert(Files.exists(out.resolve("q9001_ok.txt")))
      assert(!Files.exists(out.resolve("q9003_bad_setup.txt")))
      assert(!ran.get, "a plan was built after its setup threw")
    } finally deleteTrees(Seq(out.toString))
  }

  test("runEach: a throwing body fails its query, the loop goes on, blocks are reaped") {
    val throwing = QuerySpec("q9002_throws",
      (_, _) => throw new IllegalStateException("boom"), "SELECT 1")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var ran = Seq.empty[String]
    val failed = QuerySpec.runEach(spark, sf(), Seq(throwing, ok("q9001_ok")), "test") { q =>
      q.run(spark, sf()).rdd.persist().count()
      ran :+= q.name
    }
    assert(failed == Seq("q9002_throws"))
    assert(ran == Seq("q9001_ok"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "a query's persisted blocks outlived it")
  }
}
