package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

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
}
