package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.immutable.ListMap

/** Bench failures are loud: a query whose body or setup throws is a
  * failed row that names what threw and never changes the total. */
class BenchFailureSpec extends SparkTestBase {

  test("a throwing query and a throwing setup are failed rows outside the total") {
    val ranAfterFailedSetup = new AtomicBoolean(false)
    val ok = QuerySpec("q9001_ok", (s, _) => s.range(10).toDF("x"), "SELECT 1")
    val throwing = QuerySpec("q9002_throws",
      (_, _) => throw new IllegalStateException("boom"), "SELECT 1")
    val badSetup = QuerySpec("q9003_bad_setup",
      (s, _) => { ranAfterFailedSetup.set(true); s.range(10).toDF("x") },
      "SELECT 1",
      setup = Some((_, _) => throw new IllegalStateException("no index")))
    val results = Bench.runInProcess(spark, sf(), Seq(ok, throwing, badSetup))
    val byName = results.map(r => r.name -> r).toMap
    assert(results.map(_.name) == Seq(ok.name, throwing.name, badSetup.name))
    assert(byName(ok.name).failure.isEmpty && byName(ok.name).sec >= 0)
    assert(byName(throwing.name).failure.exists(f => f.startsWith("run:") && f.contains("boom")))
    assert(byName(badSetup.name).failure.exists(f => f.startsWith("setup:") && f.contains("no index")))
    assert(results.filter(_.failure.isDefined).forall(_.sec == -1.0))
    assert(!ranAfterFailedSetup.get, "a query ran after its setup threw")
    assert(Bench.total(results) == byName(ok.name).sec)
    // every row carries its setup seconds; a run that started, its layer figures
    assert(results.forall(_.metrics.get("setup_s").exists(_ >= 0)))
    assert(byName(badSetup.name).metrics.keySet == Set("setup_s"))
    assert(byName(throwing.name).metrics.contains("driver_gap_ms"))
    val m = byName(ok.name).metrics
    assert(m("wall_s") == byName(ok.name).sec)
    assert(m("jobs") >= 1 && m("tasks") >= 1, m)
    assert(m("driver_gap_ms") >= 0 && m("driver_gap_ms") <= m("wall_s") * 1e3, m)
  }

  test("runInProcess runs each spec's body exactly once") {
    // one timed run per query: no untimed warmup run, no repeats
    val calls = new AtomicInteger(0)
    val counted = QuerySpec("q9004_counted",
      (s, _) => { calls.incrementAndGet(); s.range(10).toDF("x") }, "SELECT 1")
    val Seq(row) = Bench.runInProcess(spark, sf(), Seq(counted))
    assert(calls.get == 1, s"body ran ${calls.get} times")
    assert(row.failure.isEmpty && row.sec >= 0)
  }

  test("readArtifact: a child's rows in file order, ambient markers, failures") {
    val f = Files.createTempFile("bench-artifact-", ".json")
    try {
      Files.writeString(f,
        """{"metric":"total","value":1.5,"unit":"sec",""" +
          """"queries":{"q02_b":1.5,"q01_a":-1.0},"sf":"x",""" +
          """"ambient":{"q02_b":[0.5,1.25]},"failed":{"q01_a":"run: boom"}}""")
      val rows = Bench.readArtifact(f.toFile)
      assert(rows == Seq(
        Bench.QueryRun("q02_b", 1.5, 0.5, 1.25, None),
        Bench.QueryRun("q01_a", -1.0, -1.0, -1.0, Some("run: boom"))))
      assert(Bench.total(rows) == 1.5)
    } finally Files.deleteIfExists(f)
  }

  test("render: the stdout line and the BENCH_FULL payload keep their layout byte for byte") {
    val results = Seq(
      Bench.QueryRun("q01_pricing", 12.3456, 0.5, 1.234, None,
        ListMap("setup_s" -> 0.25, "wall_s" -> 12.3456, "jobs" -> 3.0)),
      Bench.QueryRun("q08_knn", 0.1234, 1.0, -1.0),
      Bench.QueryRun("q16_simhash_fp", -1.0, 2.345, 0.0,
        Some("setup: java.lang.IllegalStateException: no \"index\"")))
    val (line, payload) =
      Bench.render(results, "/data/sf0.01", Seq("chunk1:q16_simhash_fp" -> 3.456))
    assert(line ==
      """{"metric":"total","value":12.469,"unit":"sec",""" +
        """"queries":{"q01":12.3,"q08":0.12,"q16":-1.00},"sf":"/data/sf0.01"}""")
    assert(payload ==
      """{"metric":"total","value":12.469,"unit":"sec",""" +
        """"queries":{"q01_pricing":12.346,"q08_knn":0.123,"q16_simhash_fp":-1.000},""" +
        """"sf":"/data/sf0.01",""" +
        """"ambient":{"q01_pricing":[0.50,1.23],"q08_knn":[1.00,-1.00],"q16_simhash_fp":[2.35,0.00]},""" +
        """"failed":{"q16_simhash_fp":"setup: java.lang.IllegalStateException: no \"index\""},""" +
        """"metrics":{"q01_pricing":{"setup_s":0.25,"wall_s":12.3456,"jobs":3}},""" +
        """"load1_at_chunk_start":{"chunk1:q16_simhash_fp":3.46}}""" + "\n")
    // a forked child (no chunks) writes no chunk-load key; a clean run an empty failed map
    val (_, child) = Bench.render(results.take(1), "x", Nil)
    assert(child ==
      """{"metric":"total","value":12.346,"unit":"sec","queries":{"q01_pricing":12.346},""" +
        """"sf":"x","ambient":{"q01_pricing":[0.50,1.23]},"failed":{},""" +
        """"metrics":{"q01_pricing":{"setup_s":0.25,"wall_s":12.3456,"jobs":3}}}""" + "\n")
    // the parent reads what a child wrote: an unrounded wall_s where there is one
    val f = Files.createTempFile("bench-artifact-", ".json")
    try {
      Files.writeString(f, payload)
      assert(Bench.readArtifact(f.toFile) == Seq(
        results(0).copy(stealPct = 1.23),
        Bench.QueryRun("q08_knn", 0.123, 1.0, -1.0),
        results(2).copy(load1 = 2.35)))
    } finally Files.deleteIfExists(f)
  }

  test("writeArtifact: an unwritable artifact path is reported, never swallowed") {
    val blocker = Files.createTempFile("bench-blocker-", ".json") // a file, not a dir
    val ok = Files.createTempFile("bench-artifact-", ".json")
    try {
      val target = s"$blocker/BENCH_FULL.json"
      val msg = Bench.writeArtifact(target, "{}\n")
      assert(msg.exists(_.startsWith(s"[bench] could not write $target: ")), msg)
      assert(Bench.writeArtifact(ok.toString, "{}\n").isEmpty)
      assert(Files.readString(ok) == "{}\n")
    } finally { Files.deleteIfExists(blocker); Files.deleteIfExists(ok) }
  }

  test("a forked row is rounded once: a 0.5749 s child row reads 0.57 on the parent's line") {
    val f = Files.createTempFile("bench-artifact-", ".json")
    try {
      // what a child writes: 3 dp under "queries", the measured time under "metrics"
      Files.writeString(f,
        """{"metric":"total","value":0.575,"unit":"sec","queries":{"q08_knn":0.575},""" +
          """"sf":"x","ambient":{"q08_knn":[0.50,0.00]},"failed":{},""" +
          """"metrics":{"q08_knn":{"setup_s":0,"wall_s":0.5749,"jobs":4}}}""")
      val Seq(row) = Bench.readArtifact(f.toFile)
      assert(row.sec == 0.5749 && row.metrics("jobs") == 4.0)
      val (line, payload) = Bench.render(Seq(row), "x", Nil)
      assert(line.contains(""""queries":{"q08":0.57}"""), line)
      assert(line.contains(""""value":0.575,"""), line)
      assert(payload.contains(""""wall_s":0.5749"""), payload)
      assert(Bench.benchLine(row).startsWith(f"[bench] ${"q08_knn"}%-24s ${"0.57"}%8s s  "),
        Bench.benchLine(row))
    } finally Files.deleteIfExists(f)
  }
}
