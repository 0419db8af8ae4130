package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Triangle counts / clustering coefficients on hand-checkable graphs,
  * plus the degree-orientation invariant that makes the plan hub-safe. */
class GraphMetricsSpec extends SparkTestBase {

  import spark.implicits._

  test("triangle + pendant: counts and coefficients are exact") {
    // 1-2, 1-3, 2-3 form a triangle; 3-4 is a pendant edge.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val m = GraphMetrics.triangles(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((2L, 1L, 1.0)))
    assert(m(2L) == ((2L, 1L, 1.0)))
    assert(m(3L) == ((3L, 1L, 0.333333)))
    assert(m(4L) == ((1L, 0L, 0.0)))
  }

  test("K4 clique: every node sits on C(3,2)=3 triangles, coefficient 1") {
    val nodes = Seq(1L, 2L, 3L, 4L)
    val edges = (for (a <- nodes; b <- nodes if a < b) yield (a, b)).toDF("src", "dst")
    val rows = GraphMetrics.triangles(edges).collect()
    assert(rows.length == 4)
    assert(rows.forall(r => r.getLong(1) == 3L && r.getLong(2) == 3L &&
      r.getDouble(3) == 1.0))
  }

  test("star graph (hub) has zero triangles — and zero wedges survive orientation") {
    // hub 0 connected to 1..10: naive wedge enumeration would emit 45
    // hub wedges; degree orientation points every edge AT the hub, so
    // the oriented out-degree of the hub is 0.
    val edges = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val m = GraphMetrics.triangles(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m.values.forall(_ == 0L))
    assert(m(0L) == 0L)
  }

  test("matches the co-purchase q102 shape: total triangle mass divisible by 3") {
    val g = CoPurchaseGraph.fromOrders(graft.sources.Tables.lineitem(spark, sf()))
    val total = GraphMetrics.triangles(g).agg(sum("n_tri")).collect()(0).getLong(0)
    assert(total % 3 == 0, s"per-node triangle credits must sum to 3x triangles, got $total")
  }

  test("kcore: a clique survives, pendant chains peel away") {
    import spark.implicits._
    // K4 on 1..4 plus a tail 4-5-6: 2-core keeps only the clique after
    // the chain peels end-inward
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val out = GraphMetrics.kcore(edges, 2, 5).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    assert(out.forall(_.getLong(1) == 3L)) // each clique node keeps deg 3
    assert(out.forall(_.getBoolean(2)), "5 rounds converge this graph")
  }

  test("kcore: too few rounds reports converged = false") {
    import spark.implicits._
    // a 6-chain needs 3 synchronous rounds to empty under k=2
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("src", "dst")
    val early = GraphMetrics.kcore(chain, 2, 1).collect()
    assert(early.nonEmpty && early.forall(!_.getBoolean(2)))
    val done = GraphMetrics.kcore(chain, 2, 3).collect()
    assert(done.isEmpty) // chain fully peels; empty survivor set
  }

  test("bfsHops: min hop from any seed, cap honored, unreached absent") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a shortcut 10-4 and an island 7-8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 4L),
      (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("node")
    val got = GraphMetrics.bfsHops(edges, seeds, 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 is 1 hop from seed 10 (not 3 hops from seed 1); island unreached
    assert(got == Map(1L -> 0, 10L -> 0, 2L -> 1, 4L -> 1,
      3L -> 2, 5L -> 2))
  }

  test("bfsHops: isolated seed stays at hop 0; empty frontier exits early") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = GraphMetrics.bfsHops(edges, Seq(99L).toDF("node"), 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(99L -> 0))
  }

  test("labelProp: two dense cliques linked by one weak edge separate") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12} with weight-5 internal edges; one
    // weight-1 bridge 3–10
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b, 5L)
    val edges = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L)) :+
      ((3L, 10L, 1L))).toDF("src", "dst", "weight")
    val got = GraphMetrics.labelProp(edges, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges to ONE community; the bridge does not merge
    assert(Set(1L, 2L, 3L).map(got).size == 1, s"left clique split: $got")
    assert(Set(10L, 11L, 12L).map(got).size == 1, s"right clique split: $got")
    assert(got(1L) != got(10L), s"bridge merged the cliques: $got")
  }

  test("labelProp: a triangle converges to the min label in 2 rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val got = GraphMetrics.labelProp(edges, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: 1→min(2,3)=2, 2→min(1,3)=1, 3→min(1,2)=1;
    // round 2: all neighbors now carry 1 (or tie resolving to 1) → 1
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"$got")
  }

  test("labelProp: a 100x-median-degree hub stays bounded and correct") {
    import spark.implicits._
    // shuffle_hash opts the per-round join out of AQE skew splitting, so
    // a celebrity node's edges land in ONE task of the src-pinned edge
    // frame — this spec pins the behavior: same edge count, one graph
    // uniform, one with a single hub at 100x the median degree. The
    // hub's contribution fold survives because partial (map-side)
    // aggregation collapses (dst, community) before the exchange; the
    // assert bounds hub wall-time against the uniform baseline run
    // IN THE SAME SESSION (uniform first, so JIT warmup lands on it).
    val n = 2000
    // uniform: ring + skip edges, degree ~4 everywhere, 2n edges
    val uniform = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong, 1L),
          (i.toLong, ((i + 7) % n).toLong, 1L))
    }.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .distinct.toDF("src", "dst", "weight")
    // hub: node 0 linked to 0.2n others (100x the median degree of ~2)
    // plus a sparse ring over the rest — edge count comparable
    val hubEdges = ((1 to n / 5).map(i => (0L, i.toLong * 4 % n + 1, 1L)) ++
      (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong, 1L)))
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .distinct.filter(e => e._1 != e._2).toDF("src", "dst", "weight")
    // broadcastMaxNodes=0 forces the SHUFFLE path — the adaptive
    // default would broadcast a 2000-node graph and dodge the very
    // skew mechanism this spec exists to bound
    def timed(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val c = GraphMetrics.labelProp(df, 3, broadcastMaxNodes = 0L).count()
      (c, (System.nanoTime() - t0) / 1e9)
    }
    val (cu, tu) = timed(uniform)
    val (ch, th) = timed(hubEdges)
    assert(cu == n && ch == n, "labelProp lost nodes")
    // generous bound: a skew-stalled fold would blow past this by an
    // order of magnitude; normal jitter stays well inside it
    assert(th <= tu * 4 + 5.0,
      f"hub graph took $th%.1f s vs uniform $tu%.1f s — skew stall")
  }

  /** Ring + chords over 41 nodes, weights 1..3: every node has an edge. */
  private val lpaEdges: Seq[(Long, Long, Long)] =
    ((0L to 40L).map(i => (i, (i * 7 + 3) % 41, 1L + i % 3)) ++
      (0L to 40L).map(i => (i, (i + 1) % 41, 1L))).filter(e => e._1 != e._2)

  /** Synchronous LPA in plain Scala, labelProp's rule: each round every
    * node takes the label with the most incident weight among its
    * neighbors, ties to the smallest label. */
  private def referenceLpa(edges: Seq[(Long, Long, Long)], rounds: Int): Set[Seq[Any]] = {
    val sym = edges ++ edges.map { case (s, d, w) => (d, s, w) }
    var lbl = sym.map(_._1).distinct.map(v => v -> v).toMap
    for (_ <- 1 to rounds)
      lbl = sym.groupBy(_._2).map { case (v, in) =>
        v -> in.groupMapReduce(e => lbl(e._1))(_._3)(_ + _)
          .maxBy { case (l, w) => (w, -l) }._1
      }
    lbl.map { case (v, l) => Seq(v, l) }.toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("broadcast and shuffle loop paths agree bit-for-bit") {
    import spark.implicits._
    // the adaptive join strategy (per-round frame broadcast under
    // BroadcastMaxNodes, shuffle-hash above) must be a pure plan
    // choice: labelProp/bfsHops are integer-exact and hits rounds to
    // 6 dp inside the operator, so forcing each mode must give the
    // SAME rows. Mirrors the sf0.1 A/B in SCALE.md round 8.
    val edges = lpaEdges.toDF("src", "dst", "weight")
    val seeds = Seq(0L, 17L).toDF("node")
    assert(rows(GraphMetrics.labelProp(edges, 4, broadcastMaxNodes = 0L)) ==
      rows(GraphMetrics.labelProp(edges, 4, broadcastMaxNodes = Long.MaxValue)))
    assert(rows(GraphMetrics.bfsHops(edges, seeds, 3, broadcastMaxNodes = 0L)) ==
      rows(GraphMetrics.bfsHops(edges, seeds, 3, broadcastMaxNodes = Long.MaxValue)))
    assert(rows(GraphMetrics.hits(edges, 5, broadcastMaxNodes = 0L)) ==
      rows(GraphMetrics.hits(edges, 5, broadcastMaxNodes = Long.MaxValue)))
  }

  test("labelProp fused form returns the plain synchronous LPA's rows") {
    import spark.implicits._
    // every node has >= 1 incident edge (nodes is built FROM sym), so
    // the argmax frame covers every node each round and is the next
    // label frame — the fused rounds must replay a plain synchronous LPA
    // exactly (integer-exact arithmetic), on the broadcast path and the
    // shuffle path.
    val edges = lpaEdges.toDF("src", "dst", "weight")
    val b = PageRank.BroadcastMaxNodes
    for (rounds <- Seq(4, 5); bound <- Seq(b, 0L)) {
      val want = referenceLpa(lpaEdges, rounds)
      assert(want.map(_(1)).size > 1, "the reference collapsed to one label")
      assert(rows(GraphMetrics.labelProp(edges, rounds, bound)) == want,
        s"labelProp diverged from the reference at $rounds rounds, bound $bound")
    }
  }

  test("fused labelProp safety roll and bfs consolidation preserve rows") {
    import spark.implicits._
    // round-15 lineage-bounding pins (ADVICE r14). The fused labelProp
    // safety roll (fires past FusedRollEvery=8 rounds) and the bfsHops
    // union consolidation are plain materializations: labelProp must
    // still replay the reference LPA, and bfsHops match its
    // unconsolidated form, at round/hop budgets large enough that they
    // actually fire.
    val edges = lpaEdges.toDF("src", "dst", "weight")
    val b = PageRank.BroadcastMaxNodes
    assert(GraphMetrics.FusedRollEvery == 8,
      "pin assumes the shipped cadence; update the 10-round case below")
    for (bound <- Seq(b, 0L))
      assert(rows(GraphMetrics.labelProp(edges, 10, bound)) == referenceLpa(lpaEdges, 10),
        s"labelProp diverged once the safety roll fires, bound $bound")
    // long path so the frontier survives 5+ hops; consolidation at
    // every 2 hops vs effectively never must agree exactly
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    assert(rows(GraphMetrics.bfsHops(path, seeds, 6, b, consolidateEvery = 2)) ==
      rows(GraphMetrics.bfsHops(path, seeds, 6, b, consolidateEvery = 100)),
      "bfs consolidation diverged")
  }

  test("assortativity: star graph is maximally disassortative (r = -1)") {
    // hub 1 with three leaves: every edge joins deg-3 to deg-1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = GraphMetrics.assortativity(edges).collect().head
    // m_pairs = 6; per ordered pair x·y = 3, x ∈ {3,1,...}
    assert(r.getLong(0) == 6L)
    assert(r.getDouble(4) == -1.0)
  }

  test("assortativity: hand-computed path graph P4") {
    // 1-2-3-4: degrees 1,2,2,1; ordered pairs (1,2),(2,1),(2,2),(2,2),
    // (2,1),(1,2): M=6, Σxy=16, Σx=10, Σx²=18
    // r = (6·16 − 100) / (6·18 − 100) = -4/8 = -0.5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = GraphMetrics.assortativity(edges).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 10L, 16L, 18L)))
    assert(r.getDouble(4) == -0.5)
  }

  test("modularity: two clean cliques split by the partition score Q = 0.5 - 1/m-ish") {
    // two triangles, no cross edges; partition = the components
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val part = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("node", "community")
    val rows = GraphMetrics.modularity(edges, part).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // m=6, per community: e=3, a=6 → dq = (4·6·3 − 36)/(4·36) = 36/144 = 0.25
    assert(rows("a") == ((3L, 3L, 6L, 0.25)))
    assert(rows("b") == ((3L, 3L, 6L, 0.25)))
  }

  test("modularity: a random-like partition scores ~0 and isolated communities 0") {
    // triangle 1-2-3 with node 4 isolated in its own community
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val part = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"))
      .toDF("node", "community")
    val rows = GraphMetrics.modularity(edges, part).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // m=3; x: e=1, a=4 → (12·1 − 16)/36 = -4/36 = -0.111111
    // y: e=0, a=2 → -4/36; z: e=0, a=0 → 0
    assert(rows("x") == ((2L, 1L, 4L, -0.111111)))
    assert(rows("y") == ((1L, 0L, 2L, -0.111111)))
    assert(rows("z") == ((1L, 0L, 0L, 0.0)))
  }

  test("hits: two hubs feeding one authority reach the fixed point") {
    // 1→3 and 2→3: node 3 is the only authority, 1 and 2 split the
    // hub mass equally; the fixed point is exact from round 1
    val edges = Seq((1L, 3L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val rows = GraphMetrics.hits(edges, 10).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(rows(1L) == ((0.5, 0.0)))
    assert(rows(2L) == ((0.5, 0.0)))
    assert(rows(3L) == ((0.0, 1.0)))
  }

  test("hits: weights shift hub mass and scores stay L1-normalized") {
    // 1→3 weight 3, 2→3 weight 1: hub(1) pulls 3/4 of the mass
    val edges = Seq((1L, 3L, 3L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val rows = GraphMetrics.hits(edges, 10).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(rows(1L)._1 == 0.75 && rows(2L)._1 == 0.25)
    assert(rows(3L)._2 == 1.0)
    // L1 norms: hubs and auths each sum to 1 on a connected graph
    assert(math.abs(rows.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("hits: a chain separates the hub role from the authority role") {
    // 1→2→3: node 1 is pure hub, 3 pure authority, 2 carries both
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val rows = GraphMetrics.hits(edges, 20).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(rows(1L)._2 == 0.0, "no in-edges → zero authority")
    assert(rows(3L)._1 == 0.0, "no out-edges → zero hub")
    assert(rows(1L)._1 > 0 && rows(2L)._1 > 0)
    assert(rows(2L)._2 > 0 && rows(3L)._2 > 0)
  }
}
