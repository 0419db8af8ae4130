package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Weighted PageRank over the co-purchase graph — graph-global item
  * importance, the iterative-analytics workload the reference's
  * per-query graph walks (`/root/reference/Hybrid_Recom_vecdb.py:
  * 189-197` takes one neighborhood per query) never needed, but any
  * catalog-scale ranking does.
  *
  * Spark shape: the canonical bulk-iteration, in ONE loop ([[walk]]).
  * The edge transition fractions (src, dst, weight/out_weight) are
  * computed ONCE and localCheckpoint'd — ten iterations read the
  * materialized blocks, not ten re-builds of the graph subtree. Each
  * iteration is exactly one join (ranks ⋈ edges on src) + one
  * groupBy(dst) shuffle — O(E) per iteration, the same contract
  * GraphX/Pregel gives, without leaving the DataFrame API. Ranks are
  * checkpointed every few rounds to keep the growing plan tree from
  * dominating driver time (same lineage pattern as the
  * connected-components loop in [[Dedup]]).
  *
  * Any edge set is valid: nodes with no out-edges hand their mass back
  * through the restart vector (the dangling-mass term), so total rank
  * stays 1. [[runDirected]] is the walk with a uniform restart and
  * [[personalized]] the walk with a seed restart — directed PageRank
  * IS personalized PageRank with the uniform restart vector
  * (Haveliwala, "Topic-Sensitive PageRank", WWW 2002). On a
  * symmetrized undirected graph ([[CoPurchaseGraph.symmetrize]], q63)
  * every node has an out-edge, the dangling mass is exactly 0.0 every
  * round (the walk then reads it as the literal 0.0), and the uniform
  * walk is undirected PageRank bit for bit.
  *
  * Output ranks are scaled by N (mean 1.0) so `round(, 6)` keeps ~6
  * significant digits regardless of graph size — the double-drift
  * tolerance the cross-engine oracle comparison needs.
  */
object PageRank {

  /** Node-count bound under which the per-round rank frame is BROADCAST
    * to the contrib join instead of shuffle-hashed. |V| is known before
    * the loop starts (it rides the node-frame checkpoint as an observed
    * metric), so the choice is runtime-informed, not a guess: at ≤ 1M
    * nodes the (node, rank) frame is a ~30 MB broadcast table — far
    * under Spark's 8 GB broadcast cap and small against executor
    * memory — and broadcasting it makes the per-round join MAP-SIDE,
    * deleting the edge-frame exchange that otherwise re-runs every
    * round (an AQE checkpoint captures UnknownPartitioning, so the
    * edge side re-exchanges under shuffle_hash; SCALE.md round 8, "The
    * pinned-partitioning belief was wrong").
    * The only per-round shuffle left is the partially-aggregated
    * groupBy(dst), whose map-side combine bounds it at
    * partitions × |V| rows. Above the bound, the shuffle-hash path
    * holds to arbitrary |V| — rank frames that no longer fit a
    * broadcast meet the edge frame in a hash-partitioned equi-join.
    *
    * DEPLOY-TIME KNOB: 2²⁰ is sized for this harness's executors; a
    * cluster with more executor memory raises it (the broadcast table
    * is ~30 B/node — keep nodes × 30 B comfortably under both the 8 GB
    * broadcast cap and per-executor storage memory). Every entry point
    * takes it as a parameter; the boundary semantics (≤ broadcasts,
    * > shuffles; outputs identical either side) are pinned by
    * PageRankSpec's boundary case. */
  val BroadcastMaxNodes: Long = 1L << 20

  /** The join side of a node-sized frame of `n` rows in the graph
    * loops ([[walk]], [[GraphMetrics]]' labelProp, HITS and BFS):
    * broadcast when `n <= broadcastMaxNodes` (a map-side join — the
    * edge frame never exchanges), else a shuffle-hash hint — never
    * sort-merge, which would additionally SORT the edge side. */
  private[graft] def nodeSide(n: Long, broadcastMaxNodes: Long)
      : DataFrame => DataFrame =
    if (n <= broadcastMaxNodes) broadcast else _.hint("shuffle_hash")

  /** Shipped roll cadence for [[runDirected]] (q94, and q63 on its
    * symmetrized graph): rounds between rolls read the dangling mass
    * from an in-plan one-row broadcast instead of an observed-metric
    * literal. Round-14 measurement (SCALE.md round-14 fusion table:
    * 3-arm same-JVM alternating A/B at sf0.1, two independent windows,
    * outputs IDENTICAL in all arms): cadence 2 beats 1 on directed PR
    * in both windows (med 7.18→6.37 / 7.23→6.99 s, min 7.00→6.15 /
    * 7.00→6.71) — half the roll actions and checkpoint materializations
    * for one extra node-sized one-row aggregate per fused round.
    * Round-15 re-confirmed it in the COLD chunk-prelude channel too
    * (chunk-replica cold runs, 32c: c2 8.78/7.01/5.83 vs c1
    * 9.42/8.28/6.58; SCALE.md round 15). FULL
    * fusion (cadence ≥ iterations) LOSES (q94 med 8.76): the per-round
    * broadcast chain serializes inside one job and the unmaterialized
    * rank subtrees re-execute per consumer — rejected, kept here as the
    * measured boundary. q63's own round-15 cold-channel measurement
    * (of its loop without the dangling term; exact chunk-prelude cold
    * protocol, 32 cores) also chose 2: cadence 4 at
    * 24.6–31.5 s cold vs cadence 2 at 10.1–21.0 and cadence 1 at
    * 11.9–19.0, medians ≈ 12.4 for both, 2 preferred over 1 on the tie
    * for half the roll materializations and driver round-trips at
    * cluster scale. */
  private[graft] val RollEveryDirected: Int = 2

  /** Shipped roll cadence for [[personalized]] — REVERTED to 1 in
    * round 15 (VERDICT r14 item 1). Round 14 adopted cadence 2 from a
    * warm-alternation "small win / wash" (med 7.61→7.18); but the
    * driver contract channel times COLD, and there the fused (cadence
    * 2) q149 plans lose decisively: the exact chunk-prelude cold
    * protocol at 32 cores measured c2 17.2 s cold
    * (warm 8.9/10.7) vs c1 10.7 cold (warm 9.2/5.9); the driver's own
    * quiet 32-core row regressed 10.05 → 15.15 s under cadence 2. Cadence 1 is exactly the r13 shape
    * (every round's dangling mass an observed-metric literal). */
  private[graft] val RollEveryPersonalized: Int = 1

  /** Transition fractions (src, dst, frac): per-src partial
    * aggregation + an equi-join back onto the edge frame. The weights
    * are integral counts, so the sum is an exact long and frac is
    * bit-identical to the historical `sum over Window.partitionBy(src)`
    * — but the join never sorts the edge frame: AQE broadcasts the
    * node-sized totals under its threshold, making the attach MAP-SIDE
    * (zero edge exchange; the window always paid one edge exchange + a
    * full per-partition sort), and above the threshold the totals meet
    * the edges in a regular shuffled join (deployments with >10 MB node
    * frames size `spark.sql.autoBroadcastJoinThreshold` accordingly).
    * The node frame reads this CHECKPOINT instead of the raw edge plan,
    * so the edge build runs once per query.
    * Round-14 measurement (same-JVM alternating, 5 reps, outputs
    * IDENTICAL): directed PR med 6.91→4.99 s, personalized med
    * 6.28→5.00, undirected (q63) a local wash adopted for the
    * structural term (SCALE.md round-14 fusion section).
    *
    * DETERMINISM REQUIREMENT (ADVICE r14): the join self-joins the
    * raw `edges` plan, so the edge subtree is evaluated twice inside one
    * query (probe side + totals side). Every in-tree edge build is
    * deterministic (pure relational derivations of the parquet scans),
    * so both evaluations see the same rows and fracs sum to 1 per src.
    * A NONDETERMINISTIC upstream plan (sampling, rand-derived weights)
    * would break that invariant — callers must localCheckpoint such an
    * input once before passing it here. */
  private def fracOf(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy("src").agg(sum(col("weight")).as("__w")),
        Seq("src"))
      .select(col("src"), col("dst"),
        (col("weight").cast("double") / col("__w")).as("frac"))
      .localCheckpoint()

  /** Directed PageRank: the [[walk]] with a uniform restart — base
    * (1−d)/n to every node, and each round's dangling mass shared out
    * as dm/n.
    * @return (node, pr_scaled) — rank × |nodes| rounded to 6 dp. */
  def runDirected(edges: DataFrame, iterations: Int = 10,
                  damping: Double = 0.85,
                  broadcastMaxNodes: Long = BroadcastMaxNodes): DataFrame =
    walk(edges, None, iterations, damping, broadcastMaxNodes,
      RollEveryDirected)

  /** PERSONALIZED PageRank: random walk with restart to a seed set —
    * "related to THESE anchor products", the seed-conditioned item
    * importance a recommender blends when a user has a known basket
    * (vs [[runDirected]]'s global importance). The [[walk]] with the
    * seed restart column: teleport mass — the (1−d) restart AND the
    * dangling-node mass — returns only to the seeds, uniformly. The
    * seed flag is a column, not a driver structure, so |S| can be
    * thousands of anchors unchanged.
    *
    * @param seeds one column `node`; seeds absent from the graph are
    *              ignored (they could neither receive nor pass mass)
    * @return (node, ppr_scaled) — rank × |nodes| rounded to 6 dp. */
  def personalized(edges: DataFrame, seeds: DataFrame, iterations: Int = 10,
                   damping: Double = 0.85,
                   broadcastMaxNodes: Long = BroadcastMaxNodes): DataFrame =
    walk(edges, Some(seeds), iterations, damping, broadcastMaxNodes,
      RollEveryPersonalized)

  /** The one PageRank round loop, restarting uniformly (`seeds` None)
    * or to the seed set. Per iteration: the contrib join +
    * groupBy(dst), the dangling mass as ONE number, and a left join so
    * nodes with no in-edges still receive their restart share. The
    * dangling FLAG is topology, computed once outside the loop. (Note:
    * the checkpointed node/edge frames DO re-exchange per round — AQE's
    * checkpoint capture is UnknownPartitioning — and the A/B-measured
    * verdict is that the AQE-coalesced re-exchange is cheaper at bench
    * scale than either partitioning-preserving pin form; SCALE.md round
    * 8, "The pinned-partitioning belief was wrong", has the numbers.)
    *
    * The dangling mass is harvested as an OBSERVED metric of the
    * per-round checkpoint (`Iterate.roll`) rather than a standalone
    * aggregate: the loop already pays one materialization action per
    * roll, and `observe` metrics fire on that same action — so the
    * scalar costs zero extra jobs and the next round's plan embeds it
    * as a literal instead of a broadcast cross join (measured on the
    * sf0.1 co-purchase graph: two scheduled jobs per round collapse to
    * one; see BENCH_ISOLATED_r8's post-publish note). Round 1's mass is
    * the one aggregate the observation cannot supply (there is no
    * checkpoint before the first roll) — a single node-sized job at
    * setup, not per round. A graph with no dangling node (the count
    * rides the node checkpoint's observation) pays neither that job
    * nor the fused rounds' in-plan aggregate below: its mass is the
    * literal 0.0 in every round.
    *
    * `rollEvery` is a pure plan knob: rounds that do NOT roll read the
    * dangling mass from a one-row in-plan aggregate (broadcast cross
    * join) over the previous round's rank subtree instead of an
    * observed-metric literal — same double sum, so the arithmetic is
    * identical modulo partial-aggregation order (the same run-to-run
    * nondeterminism the observed metric already has). At cadence 1
    * every round rolls. */
  private[graft] def walk(edges: DataFrame, seeds: Option[DataFrame],
                          iterations: Int, damping: Double,
                          broadcastMaxNodes: Long,
                          rollEvery: Int): DataFrame = {
    val frac = fracOf(edges)
    // the node frame derives from the frac CHECKPOINT (frac has one row
    // per edge, so its src/dst sets are the edge frame's) — raw-plan
    // union arms would re-execute the whole edge build
    val srcs = frac.select(col("src").as("node"), lit(true).as("__has")).distinct()
    val nObs = Observation()
    val flagged = frac.select(col("src").as("node"))
      .unionByName(frac.select(col("dst").as("node")))
      .distinct()
      .join(srcs, Seq("node"), "left")
    // no build-time repartition: an AQE checkpoint would discard the
    // partitioning anyway (SCALE.md round 8); n, the dangling count (and
    // the seed count) ride the checkpoint action
    def countOf(flag: String) = coalesce(sum(when(col(flag), lit(1L))), lit(0L))
    val nodes = (seeds match {
      case None =>
        flagged.select(col("node"), col("__has").isNull.as("dang"))
          .observe(nObs, count(lit(1)).as("n"), countOf("dang").as("nd"))
      case Some(s) =>
        flagged
          .join(s.select(col("node"), lit(true).as("__seed")).distinct(),
            Seq("node"), "left")
          .select(col("node"), col("__has").isNull.as("dang"),
            coalesce(col("__seed"), lit(false)).as("seed"))
          .observe(nObs, count(lit(1)).as("n"), countOf("dang").as("nd"),
            countOf("seed").as("ns"))
    }).localCheckpoint()
    val n = nObs.get("n").asInstanceOf[Long]
    // no dangling node (every symmetrized graph, q63): the dangling mass
    // is exactly 0.0 every round, so no round aggregates it
    val dangling = nObs.get("nd").asInstanceOf[Long] > 0
    // the restart vector r: rank starts at r, and each round adds the
    // teleport (1−d)·r and the dangling share dm·r
    val (start, teleport, share) = seeds match {
      case None =>
        val base = (1.0 - damping) / n
        (lit(1.0 / n), lit(base), (dm: Column) => dm / n)
      case Some(_) =>
        val nSeeds = nObs.get("ns").asInstanceOf[Long]
        require(nSeeds > 0, "personalized PageRank needs >= 1 seed in the graph")
        // 1/|S| on seeds, 0 elsewhere
        val restart = when(col("seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0))
        (restart, lit(1.0 - damping) * restart, (dm: Column) => dm * restart)
    }
    // topology flags carried through every round: dang (and seed)
    val flags = nodes.columns.toSeq.tail.map(col)
    // |V| is in hand from the observed metric: broadcast the node-sized
    // frames when they provably fit — the contrib join goes map-side
    // (no per-round edge exchange) and the receive join builds on the
    // contrib side — else shuffle-hash
    val small = n <= broadcastMaxNodes
    val rankSide = nodeSide(n, broadcastMaxNodes)

    var ranks = nodes.select(col("node") +: start.as("rank") +: flags: _*)
    // round-1 dangling mass: the only aggregate the roll observation
    // can't supply (nothing has been rolled yet) — one node-sized job
    var dmLit: Option[Double] = Some(
      if (!dangling) 0.0
      else ranks.where(col("dang"))
        .agg(coalesce(sum(col("rank")), lit(0.0))).collect()(0).getDouble(0))
    // in-plan form for fused (non-rolled) rounds: a one-row aggregate
    // over the previous round's rank subtree, attached as a broadcast
    // cross join (kcore's `stable` idiom). ReuseExchange dedupes the
    // contrib exchange between the aggregate and the next round's
    // join, so the duplicated work is one node-sized map pass.
    var dmDf: Option[DataFrame] = None
    var cp: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      // hash join (never sort-merge); on the shuffle path the per-round
      // frac re-exchange is AQE-coalesced, measured cheaper than
      // pinning (SCALE.md round 8)
      val contrib = frac.join(rankSide(ranks.select("node", "rank")),
          frac("src") === col("node"))
        .groupBy(frac("dst").as("node"))
        .agg(sum(col("frac") * col("rank")).as("m"))
      val joined = nodes.join(if (small) broadcast(contrib) else contrib,
        Seq("node"), "left")
      val (withDm, dmCol) = dmLit match {
        case Some(v) => (joined, lit(v))
        case None => (joined.crossJoin(broadcast(dmDf.get)), col("__dm"))
      }
      ranks = withDm
        .select(col("node") +:
          (teleport + lit(damping) *
            (coalesce(col("m"), lit(0.0)) + share(dmCol))).as("rank") +:
          flags: _*)
      // Rolling materializes the node-sized rank frame (one tiny job)
      // and hands the NEXT round its dangling mass as an observed
      // metric — zero extra jobs. Rounds between rolls skip both the
      // action and the checkpoint: the next round's plan embeds this
      // round's subtree and reads the mass from the in-plan aggregate.
      if (i < iterations) {
        if (i % rollEvery == 0) {
          val obs = Observation()
          ranks = Iterate.roll(ranks.observe(obs,
            coalesce(sum(when(col("dang"), col("rank"))), lit(0.0))
              .as("dm")), cp)
          cp = Some(ranks)
          dmLit = Some(obs.get("dm").asInstanceOf[Double])
          dmDf = None
        } else if (dangling) {
          dmLit = None
          dmDf = Some(ranks.where(col("dang"))
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm")))
        }
      }
    }
    ranks.select(col("node"), round(col("rank") * n, 6)
      .as(if (seeds.isEmpty) "pr_scaled" else "ppr_scaled"))
  }
}
