package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** PageRank invariants on hand-built graphs: probability mass is
  * conserved, every rank is positive, the hub outranks the leaves, and
  * the one round loop agrees with itself across restarts, cadences and
  * join sides. */
class PageRankSpec extends SparkTestBase {

  test("star graph: mass conserved, hub wins, leaves symmetric") {
    import spark.implicits._
    val undirected = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val pr = PageRank.runDirected(CoPurchaseGraph.symmetrize(undirected))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(math.abs(pr.values.sum - 4.0) < 1e-4) // scaled ranks sum to N
    assert(pr.values.forall(_ > 0))
    assert(pr(1L) > pr(2L))
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L)) // leaf symmetry
  }

  test("weights matter: heavier edge pulls rank") {
    import spark.implicits._
    // triangle with one heavy edge 1-2; node 3 is lighter-connected
    val undirected = Seq((1L, 2L, 10L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val pr = PageRank.runDirected(CoPurchaseGraph.symmetrize(undirected))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > pr(3L) && pr(2L) > pr(3L))
  }

  test("runDirected: dangling mass redistributed, total rank conserved") {
    import spark.implicits._
    // chain 1→2→3 plus sink 4 (1→4): nodes 3 and 4 dangle
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val pr = PageRank.runDirected(edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 4)
    // scaled ranks sum to n (mass 1 before scaling)
    assert(math.abs(pr.values.sum - 4.0) < 1e-4, s"mass not conserved: $pr")
    // the chain's middle/sink nodes receive mass; source 1 only gets
    // base + dangling share, so it ranks below its successors
    assert(pr(2L) > pr(1L) && pr(3L) > pr(1L))
  }

  test("personalized: mass conserved, concentrated near the seed") {
    import spark.implicits._
    // two symmetric lobes joined at 3; seed in the left lobe
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L),
      (3L, 4L, 1L), (4L, 3L, 1L), (4L, 5L, 1L), (5L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val ppr = PageRank.personalized(edges, Seq(1L).toDF("node"), 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ppr.values.sum - 5.0) < 1e-3, s"mass not conserved: $ppr")
    // decay with distance from the seed (pairwise at +2 hops: a chain
    // endpoint hands ALL its mass to its neighbor, so strict adjacent
    // monotonicity doesn't hold at the seed itself)
    assert(ppr(1L) > ppr(3L) && ppr(2L) > ppr(4L) && ppr(3L) > ppr(5L),
      s"no decay: $ppr")
  }

  test("directed loop plan: a ROLLED round hands the next round its " +
    "dangling mass as a literal, not a join") {
    import spark.implicits._
    // At cadence 1 every round rolls, and the observed-metric literal
    // must keep every plan join-free — the round-8 contract. (Fused
    // rounds — the round-14 cadence-2 default — intentionally read the
    // mass from a one-row broadcast INSIDE the same action; that costs
    // no extra scheduled job, unlike the pre-r8 shape this pin guards
    // against, where the aggregate ran as its own job against a
    // checkpointed frame every round.)
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val plan = PageRank.walk(edges, None, 3, 0.85,
        PageRank.BroadcastMaxNodes, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "dangling mass re-entered the cadence-1 plan as a join")
    // and the shipped default's FINAL plan (a post-roll round) still
    // carries the literal form
    val shipped = PageRank.runDirected(edges, iterations = 3)
      .queryExecution.executedPlan.toString
    assert(!shipped.contains("BroadcastNestedLoopJoin"),
      "the shipped default's final (post-roll) round must read a literal")
  }

  test("no dangling node, no dangling aggregate: a symmetrized graph's " +
    "fused rounds carry no join for the mass") {
    import spark.implicits._
    // At cadence 2 a fused round reads the dangling mass from a one-row
    // broadcast aggregate (a BroadcastNestedLoopJoin). A symmetrized
    // graph has no dangling node, so its mass is the literal 0.0 and
    // the aggregate and its join are never built; a graph with a
    // dangling node keeps them. 10 rounds end on a round that follows
    // a fused one, so the final plan shows which form it read.
    val undirected = Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val sym = CoPurchaseGraph.symmetrize(undirected)
    val b = PageRank.BroadcastMaxNodes
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val symmetric = PageRank.walk(sym, None, 10, 0.85, b, 2)
    assert(!plan(symmetric).contains("BroadcastNestedLoopJoin"),
      s"a graph with no dangling node built the dangling aggregate:\n${plan(symmetric)}")
    val dangles = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    assert(plan(PageRank.walk(dangles, None, 10, 0.85, b, 2))
      .contains("BroadcastNestedLoopJoin"), "a dangling node lost its mass term")
    // and the literal 0.0 is the mass the rolled rounds observe
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(symmetric) == rows(PageRank.walk(sym, None, 10, 0.85, b, 1)))
  }

  test("personalized: dangling mass teleports back to seeds only") {
    import spark.implicits._
    // 2 is a dead end; without dangling handling mass drains every round
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    val ppr = PageRank.personalized(edges, Seq(1L).toDF("node"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ppr.values.sum - 2.0) < 1e-3, s"mass drained: $ppr")
    assert(ppr(1L) > ppr(2L)) // seed keeps the restart mass
  }

  test("broadcast and shuffle contrib-join paths agree at 6 dp") {
    import spark.implicits._
    // the adaptive strategy (rank frame broadcast under
    // BroadcastMaxNodes, shuffle-hash above) is a pure plan choice:
    // the output contract rounds to 6 dp inside the operator, so both
    // forced modes must return the SAME rows. Mirrors the sf0.1 A/B in
    // SCALE.md round 8 (0 of 20000 mismatches).
    val edges = ((0L to 30L).map(i => (i, (i * 5 + 2) % 31, 1L + i % 4)) ++
      (0L to 30L).map(i => (i, (i + 1) % 31, 1L)))
      .filter(e => e._1 != e._2).toDF("src", "dst", "weight")
    val seeds = Seq(0L, 9L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val sym = CoPurchaseGraph.symmetrize(edges)
    assert(rows(PageRank.runDirected(sym, 8, broadcastMaxNodes = 0L)) ==
      rows(PageRank.runDirected(sym, 8, broadcastMaxNodes = Long.MaxValue)))
    assert(rows(PageRank.runDirected(edges, 8, broadcastMaxNodes = 0L)) ==
      rows(PageRank.runDirected(edges, 8, broadcastMaxNodes = Long.MaxValue)))
    assert(rows(PageRank.personalized(edges, seeds, 8,
        broadcastMaxNodes = 0L)) ==
      rows(PageRank.personalized(edges, seeds, 8,
        broadcastMaxNodes = Long.MaxValue)))
  }

  test("roll cadence is a pure plan knob: fused rounds return identical rows") {
    import spark.implicits._
    // the round-14 fusion: rounds between rolls read the dangling mass
    // from an in-plan one-row broadcast instead of an observed-metric
    // literal — same sum over the same rank rows, so outputs match on
    // the 6-dp contract at every cadence (1 = historical, 2 = fused
    // pairs, >= iterations = one scheduled job for the whole loop)
    val edges = ((0L to 30L).map(i => (i, (i * 5 + 2) % 31, 1L + i % 4)) ++
      (0L to 30L).map(i => (i, (i + 1) % 31, 1L)) ++
      Seq((40L, 41L, 1L), (41L, 42L, 2L))) // dangling tail: 42 has no out
      .filter(e => e._1 != e._2).toDF("src", "dst", "weight")
    val seeds = Seq(0L, 9L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val b = PageRank.BroadcastMaxNodes
    for ((restart, kind) <- Seq(None -> "uniform", Some(seeds) -> "seeded")) {
      val rolledEveryRound = rows(PageRank.walk(edges, restart, 8, 0.85, b, 1))
      for (cadence <- 2 to 8)
        assert(rows(PageRank.walk(edges, restart, 8, 0.85, b, cadence)) ==
          rolledEveryRound, s"$kind restart, cadence $cadence diverged")
    }
  }

  test("personalized with every node a seed is runDirected (uniform restart)") {
    import spark.implicits._
    // the identity the one walk rests on: a restart vector of 1/|S| on
    // every node IS the uniform restart — (1−d)·(1/n) and dm·(1/n) vs
    // (1−d)/n and dm/n differ by at most an ulp before the 6-dp round
    val edges = ((0L to 30L).map(i => (i, (i * 5 + 2) % 31, 1L + i % 4)) ++
      (0L to 30L).map(i => (i, (i + 1) % 31, 1L)) ++
      Seq((40L, 41L, 1L), (41L, 42L, 2L), (3L, 43L, 1L))) // 42, 43 dangle
      .filter(e => e._1 != e._2).toDF("src", "dst", "weight")
    val everyNode = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = ranks(PageRank.runDirected(edges))
    val ppr = ranks(PageRank.personalized(edges, everyNode))
    assert(pr.size == 35 && ppr.keySet == pr.keySet)
    for ((node, r) <- pr)
      assert(math.abs(ppr(node) - r) <= 1e-6, s"node $node: $r vs ${ppr(node)}")
  }

  test("BroadcastMaxNodes boundary: the mode flips exactly at |V| == bound " +
    "and both sides of the boundary return identical output") {
    import spark.implicits._
    // ring + chords over exactly 31 nodes → |V| = 31 is known, so
    // bound = 31 must broadcast (n <= bound) and bound = 30 must
    // shuffle — the deploy-time knob binds at the documented boundary,
    // not one off it. Plan is string-matched: AQE's adaptive root does
    // not expose the inner plan via collect. Spark's own size-based
    // broadcast is off while the plan is read: on 31 nodes it would
    // broadcast the receive join's contrib side by its estimated size,
    // which is not the knob under test.
    val edges = ((0L to 30L).map(i => (i, (i * 7 + 3) % 31, 1L + i % 3)) ++
      (0L to 30L).map(i => (i, (i + 1) % 31, 1L)))
      .filter(e => e._1 != e._2).toDF("src", "dst", "weight")
    def hasBroadcastJoin(bound: Long): Boolean = {
      val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try PageRank.runDirected(edges, 2, broadcastMaxNodes = bound)
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
    assert(hasBroadcastJoin(31L), "|V| == bound must take the broadcast path")
    assert(!hasBroadcastJoin(30L), "|V| == bound+1 must take shuffle-hash")
    // and the choice is invisible in the output (6-dp contract)
    def rows(bound: Long) =
      PageRank.runDirected(edges, 8, broadcastMaxNodes = bound)
        .collect().map(_.toSeq).toSet
    assert(rows(31L) == rows(30L))
  }
}
