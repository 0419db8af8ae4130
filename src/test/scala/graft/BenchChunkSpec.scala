package graft

import org.scalatest.funsuite.AnyFunSuite

/** Topology-aware bench chunking: every query exactly once, chunk size
  * bounded, at most one heavy query per chunk and always in last
  * position — the r7 lesson that a chunk's LAST query absorbs the JVM
  * context of everything before it (q167 10.9 s after three iterative
  * heavies vs 2.56 s truly alone). */
class BenchChunkSpec extends AnyFunSuite {

  private val heavies = Seq("q63_pagerank", "q94_pagerank_directed",
    "q149_ppr", "q163_label_prop", "q165_user_knn", "q167_freq_triples")

  test("chunks cover every query exactly once, bounded by chunk size") {
    val names = ((1 to 40).map(i => f"q$i%03d_light") ++ heavies).sorted
    val chunks = Bench.topoChunks(names, 10)
    assert(chunks.flatten.sorted == names.sorted)
    assert(chunks.forall(_.size <= 10))
  }

  test("at most one heavy per chunk, always last") {
    val names = ((1 to 40).map(i => f"q$i%03d_light") ++ heavies).sorted
    val chunks = Bench.topoChunks(names, 10)
    for (c <- chunks) {
      val h = c.filter(heavies.contains)
      assert(h.size <= 1, s"chunk $c has ${h.size} heavies")
      if (h.nonEmpty) assert(c.last == h.head, s"heavy not last in $c")
    }
  }

  test("more heavies than light groups -> extras run solo") {
    val names = (Seq("q01_a", "q02_b") ++ heavies).sorted
    val chunks = Bench.topoChunks(names, 3)
    assert(chunks.flatten.sorted == names.sorted)
    // 2 lights -> 1 group of 2, first heavy appended; other 5 solo
    assert(chunks.count(_.size == 1) >= heavies.size - 1)
  }

  test("all-heavy input -> one chunk per query") {
    val chunks = Bench.topoChunks(heavies, 10)
    assert(chunks == heavies.map(Seq(_)))
  }

  test("chunk size 1 -> every query solo (the isolated protocol)") {
    val names = ((1 to 5).map(i => f"q$i%03d_light") ++ heavies).sorted
    val chunks = Bench.topoChunks(names, 1)
    assert(chunks.forall(_.size == 1), s"non-solo chunk in $chunks")
    assert(chunks.flatten.sorted == names.sorted)
  }

  test("SPARK_GRAFT_QUERIES order is preserved, not re-sorted") {
    // forked children receive their chunk through this env var with the
    // heavy LAST; an alphabetical re-sort would put e.g. q102_triangles
    // ahead of q128+ lights and time them all on post-heavy JVM state
    val real = SparkEntry.specs.map(_.name).sorted
    val chunk = Seq(real.last, real.head, real(real.size / 2))
    assert(SparkEntry.select(Some(chunk.mkString(","))).map(_.name) == chunk)
    // repeats are dropped, the first occurrence keeps its place
    assert(SparkEntry.select(Some(s"${real(1)}, ${real.head},${real(1)}")).map(_.name)
      == Seq(real(1), real.head))
    // unknown names fail the whole selection, every one of them named; an
    // all-unknown list must not select nothing and run on as a success
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some(s"${real.head},nope,${real.last},q01_join_agg")))
    assert(e.getMessage.contains("'nope'") && e.getMessage.contains("'q01_join_agg'"))
    intercept[IllegalArgumentException](SparkEntry.select(Some("q01_join_agg")))
    intercept[IllegalArgumentException](SparkEntry.select(Some("")))
  }

  test("every forked chunk keeps its heavy last under the child's own name resolution") {
    // end-to-end guard for the real registry: simulate what each child
    // JVM will time, in order, for the default full-suite run
    val all = SparkEntry.select(None).map(_.name)
    assert(all == SparkEntry.specs.map(_.name).sorted)
    val chunks = Bench.topoChunks(all, 6)
    for (c <- chunks) {
      val childOrder = SparkEntry.select(Some(c.mkString(","))).map(_.name)
      val h = childOrder.filter(Bench.heavyNames.contains)
      assert(h.size <= 1, s"chunk $childOrder has ${h.size} heavies")
      if (h.nonEmpty)
        assert(childOrder.last == h.head,
          s"heavy ${h.head} not last in child order $childOrder")
    }
  }

  test("a chunk whose child left no complete artifact is failed rows outside the total") {
    val chunk = Seq("q02_b", "q01_a")
    val why = "child exit 137, no complete artifact"
    def failedRows(rows: Seq[Bench.QueryRun]) = {
      assert(rows.map(_.name) == chunk)
      assert(rows.forall(r => r.sec == -1.0 && r.failure.contains(why)))
      assert(Bench.total(rows) == 0.0)
    }
    failedRows(Bench.chunkRows(chunk, None, why))
    // an artifact that misses one of the chunk's queries is not complete
    failedRows(Bench.chunkRows(chunk,
      Some(Seq(Bench.QueryRun("q02_b", 1.5, 0.1, 0.0))), why))
    // a complete artifact is taken as the child wrote it, in file order
    val rows = Seq(Bench.QueryRun("q01_a", 2.0, 0.1, 0.0),
      Bench.QueryRun("q02_b", -1.0, 0.1, 0.0, Some("run: boom")))
    assert(Bench.chunkRows(chunk, Some(rows), why) == rows)
  }

  test("ambient columns: stealPctOf is a jiffy-delta rate with -1 markers") {
    // normal window: 5 steal jiffies over 500 total -> 1%
    assert(Bench.stealPctOf(Some((100L, 10000L)), Some((105L, 10500L))) == 1.0)
    // zero-width or backwards window must be the marker, not NaN/Inf
    assert(Bench.stealPctOf(Some((100L, 10000L)), Some((100L, 10000L))) == -1.0)
    // either reading unavailable (non-Linux /proc) -> marker
    assert(Bench.stealPctOf(None, Some((1L, 2L))) == -1.0)
    assert(Bench.stealPctOf(Some((1L, 2L)), None) == -1.0)
    // on this (Linux) box the live reading parses and is monotone
    val a = Bench.stealTotal()
    assert(a.isDefined && a.get._2 > 0L && a.get._1 >= 0L)
  }
}
