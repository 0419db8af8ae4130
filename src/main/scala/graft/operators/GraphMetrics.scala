package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficient over the
  * co-purchase graph — the graph-quality metrics a recommender computes
  * on the same edges the CF retriever serves from
  * (`/root/reference/Hybrid_Recom_vecdb.py:88-105` builds the adjacency;
  * density metrics are what you monitor before trusting its
  * neighborhoods).
  *
  * The naive 3-way edge self-join enumerates every wedge — Σ deg², which
  * a single hub node turns into a quadratic blow-up. This uses the
  * degree-ordered node-iterator instead (the MapReduce-classic from
  * Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11): orient every undirected edge from its
  * lower-degree endpoint to its higher-degree one (ties by id), then
  * count directed paths u→v, u→w closed by v→w. Out-degree in the
  * oriented DAG is bounded by O(√E), so the wedge join is
  * O(E^1.5) worst-case TOTAL — and every step is an equi-keyed
  * join/aggregate that shuffles on node ids, never a cross product.
  *
  * Output per node: degree, triangle count, clustering coefficient
  * 2T/(deg·(deg−1)) — exact, SQL-replayable.
  */
object GraphMetrics {

  /** Lineage-safety roll cadence for [[labelProp]]'s fused rounds
    * (ADVICE r14): fused rounds build one nested plan per round, so a
    * large caller-chosen round budget would grow Catalyst
    * analysis/optimization time and driver memory without bound. Every
    * `FusedRollEvery` rounds the label frame is rolled (plain
    * materialization, NO carry-forward join — output row-identical,
    * pinned by GraphMetricsSpec). 8 keeps the shipped 5-round usage
    * (q163) on the round-14 one-job fused shape while bounding depth
    * for convergence-style budgets. */
  private[graft] val FusedRollEvery: Int = 8

  /** `edges` = undirected (src, dst) with src < dst, one row per edge
    * (the [[CoPurchaseGraph.fromOrders]] shape; weights ignored). */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient: lower (deg, id) endpoint -> higher
    val oriented = e
      .join(deg.withColumnRenamed("node", "src").withColumnRenamed("deg", "ds"), Seq("src"))
      .join(deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "dd"), Seq("dst"))
      .select(
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")), col("src"))
          .otherwise(col("dst")).as("lo"),
        when(col("ds") < col("dd") ||
             (col("ds") === col("dd") && col("src") < col("dst")), col("dst"))
          .otherwise(col("src")).as("hi"))
    // wedges lo->a, lo->b (a != b) closed by an oriented edge a->b
    val w1 = oriented.select(col("lo").as("pivot"), col("hi").as("a"))
    val w2 = oriented.select(col("lo").as("pivot"), col("hi").as("b"))
    val tri = w1.join(w2, Seq("pivot")).where(col("a") =!= col("b"))
      .join(oriented.select(col("lo").as("a"), col("hi").as("b")), Seq("a", "b"))
      .select(col("pivot").as("x"), col("a").as("y"), col("b").as("z"))
    // each triangle found exactly once; credit all three corners
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1L))), 6)).as("clustering"))
  }

  /** k-core peeling, `rounds` synchronous iterations: repeatedly drop
    * nodes whose degree among survivors is < k. Survivors after a
    * CONVERGED peel are the k-core (dense engagement subgraph — the
    * co-purchase graph's "always bought together" backbone).
    *
    * Spark shape: each round is one degree aggregate + one semi-join
    * pair restricting the SHRINKING alive-edge frame — all equi-keyed.
    * Every round eagerly `localCheckpoint`s (truncating lineage) and
    * counts the surviving edges: an unchanged edge count IS the
    * fixpoint, so the loop exits early — provably output-equivalent to
    * running all `rounds`, since converged rounds are no-ops. The fixed
    * round budget keeps the operator oracle-replayable (the q94
    * unrolled pattern); `converged` reports whether the fixpoint was
    * reached within it. One peel per roll: fusing two peels into one
    * roll measured slower (SCALE.md, round 15, "kcore (q127):
    * pairwise-peel fusion measured and rejected").
    *
    * @param edges undirected (src, dst), src < dst, one row per edge
    * @return survivors: (node, deg) — degree within the surviving
    *         subgraph — plus constant `converged`.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // iterate on a SHRINKING edge frame: restricting the full sym edge
    // set against the survivor nodes every round costs the same per
    // round forever; filtering the previous round's alive edges makes
    // round t cost proportional to what survived round t-1
    val obs0 = Observation()
    var alive = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .observe(obs0, count(lit(1)).as("edges"))
      .localCheckpoint()
    var edgeCount = obs0.get("edges").asInstanceOf[Long]
    var i = 0
    var fixed = false
    while (i < rounds && !fixed) {
      val keep = alive.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("node")
      val next = alive
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      // the fixpoint probe rides the roll as an OBSERVED metric — the
      // separate count() used to re-scan the freshly checkpointed
      // edge frame every round (one extra edge-sized job per peel)
      val obs = Observation()
      alive = Iterate.roll(next.observe(obs, count(lit(1)).as("edges")),
        Some(alive))
      val c = obs.get("edges").asInstanceOf[Long]
      // removing any node removes its edges, so an unchanged edge count
      // IS the fixpoint — remaining rounds would be no-ops (this is why
      // early exit cannot change the fixed-round oracle's answer)
      fixed = c == edgeCount
      edgeCount = c
      i += 1
    }
    // materialize once: the degree frame feeds both the output and the
    // convergence probe (and the loop's lineage ends here anyway)
    val d = Iterate.roll(alive.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")), Some(alive))
    // converged iff one more peel would remove nothing
    val stable = d.agg(
      (count(lit(1)) === coalesce(sum(when(col("deg") >= k, 1)), lit(0)))
        .as("converged"))
    d.crossJoin(broadcast(stable))
  }

  /** Multi-source BFS hop distance: `maxHops` synchronous frontier
    * expansions from the seed set over an undirected edge list —
    * "how many co-purchase steps from any anchor product" (the graph
    * feature a recommender uses for diversity floors and a curation
    * pipeline uses for domain proximity).
    *
    * Spark shape (scale review): each round joins the CURRENT FRONTIER
    * (not the whole visited set) against the edge list on one key, then
    * anti-joins the visited set — frontier-sized work per round, the
    * textbook Pregel expansion as two equi-joins. Visited/frontier
    * frames `localCheckpoint` each round (same lineage discipline as
    * [[kcore]]). A fixed `maxHops` keeps it oracle-replayable; BFS
    * visits monotonically, so rounds after the frontier empties are
    * no-ops and the early exit cannot change the answer.
    *
    * @param edges undirected (src, dst) — pass each edge once; both
    *              directions are derived here
    * @param seeds one column `node`
    * @return (node, hop) — hop 0 for seeds, else the minimum number of
    *         edges from any seed, capped at `maxHops`; unreached nodes
    *         are absent. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              broadcastMaxNodes: Long = PageRank.BroadcastMaxNodes,
              consolidateEvery: Int = 8)
      : DataFrame = {
    // checkpointed once; on the shuffle path each round's join
    // re-exchanges it on src (AQE checkpoints capture UnknownPartitioning
    // — a build-time repartition would be discarded, so none is paid; the
    // AQE-coalesced re-exchange measured cheaper than pinning, see
    // SCALE.md round 8, "The pinned-partitioning belief was wrong"), and
    // on the broadcast-frontier path it never does
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val obs0 = Observation()
    var visited = seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0))
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    var frontier = visited.select("node")
    // checkpoint leaves currently backing the visited union — tracked
    // so a consolidation can release exactly the superseded ones
    var constituents: List[DataFrame] = List(visited)
    // frontier size rides each roll as an observed metric — the old
    // isEmpty probe was one extra (tiny) job per hop round
    var frontierSize = obs0.get("n").asInstanceOf[Long]
    var h = 0
    while (h < maxHops && frontierSize > 0) {
      val obs = Observation()
      // the frontier size is in hand from last round's observed metric,
      // so the expansion join picks its strategy per ROUND: a frontier
      // that provably fits broadcasts (map-side join — the edge frame
      // never exchanges), a larger one meets the edges shuffle-hashed.
      // BFS frontiers swing orders of magnitude between hops; this is
      // the per-round form of [[PageRank.BroadcastMaxNodes]]'s choice
      val fr = frontier.withColumnRenamed("node", "src")
      val next = Iterate.roll(
        sym.join(PageRank.nodeSide(frontierSize, broadcastMaxNodes)(fr),
            Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .observe(obs, count(lit(1)).as("n")),
        None)
      frontierSize = obs.get("n").asInstanceOf[Long]
      h += 1
      // BFS visits each node exactly once, so the visited set IS the
      // disjoint union of the per-hop frontiers — and every frontier is
      // already materialized (its roll drives the loop's observed
      // metric). Re-materializing that union each hop (the pre-r14
      // shape: a second roll per hop) duplicated |visited| rows into a
      // fresh checkpoint for nothing; the union of the existing
      // checkpoint leaves reads the same blocks with zero extra jobs.
      // Frontier blocks are therefore NOT released mid-loop (the union
      // references them); total held state is |visited| rows — the same
      // order as the old visited checkpoint it replaces. maxHops bounds
      // the union's plan width, and for LARGE hop budgets the
      // consolidation below re-bounds it at `consolidateEvery` leaves.
      visited = visited.unionAll(next.withColumn("hop", lit(h)))
      constituents = next :: constituents
      frontier = next
      // ADVICE r14: every `consolidateEvery` hops, roll the union into
      // ONE checkpoint (plain materialization — row-identical output,
      // pinned by GraphMetricsSpec) and release the superseded per-hop
      // frontier blocks, except the LIVE frontier which the next
      // expansion still joins. Bounds both the union's plan width and
      // the lingering block-manager entries for convergence-style hop
      // budgets; at the shipped maxHops=3 it never fires and the
      // round-14 one-job-per-hop shape is untouched.
      if (h % consolidateEvery == 0 && h < maxHops && frontierSize > 0) {
        visited = Iterate.roll(visited, None)
        constituents.filter(_ ne frontier).foreach(Iterate.release)
        constituents = List(visited, frontier)
      }
    }
    visited
  }

  /** Synchronous weighted label propagation — community detection over
    * the co-purchase graph: every node starts as its own label; each
    * round it adopts the label carrying the most incident edge weight
    * among its neighbors (ties → smallest label, so the fixed-round
    * outcome is DETERMINISTIC and any engine replays it — the classic
    * async LPA is run-order-dependent and cannot be oracle-checked).
    *
    * Spark shape per round: one equi-join (edges ⋈ labels on src), one
    * groupBy (dst, label) weight fold, one per-node argmax fold — all
    * keyed exchanges. The rounds are FUSED: `nodes` is built as the
    * distinct src of the SYMMETRIZED edge frame, so every node has ≥ 1
    * incident edge, every node therefore appears as a dst in `sym`, and
    * the argmax frame covers EVERY node each round — it IS the next
    * label frame, with no carry-forward join. The label chain is
    * single-consumer, so all rounds run as one scheduled job with no
    * mid-loop rolls (up to [[FusedRollEvery]]) and zero duplicated
    * subtree work. Isolated nodes keep their own label (they are not in
    * the edge-derived node frame at all). Round-14 measurement (SCALE.md
    * "Round-14 ... iterative-loop round fusion": same-JVM alternating
    * A/B at sf0.1, 20 000-row outputs IDENTICAL): the carry-forward
    * join form med 6.24 s / min 5.14 vs fused med 3.90 / min 3.33 —
    * each round deletes a join AND its roll.
    *
    * @param edges undirected edge list (src, dst, weight) — symmetrized
    *              internally
    * @return (node, community) after `rounds` synchronous updates */
  def labelProp(edges: DataFrame, rounds: Int,
                broadcastMaxNodes: Long = PageRank.BroadcastMaxNodes)
      : DataFrame = {
    // checkpointed once. On the shuffle path the edge frame re-exchanges
    // on src per round — an AQE checkpoint captures UnknownPartitioning,
    // so a build-time repartition buys nothing and is not paid; the
    // AQE-coalesced re-exchange measured cheaper than the pinned forms
    // (SCALE.md round 8, "The pinned-partitioning belief was wrong")
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
      .localCheckpoint()
    val nObs = Observation()
    val nodes = sym.select(col("src").as("node")).distinct()
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint()
    // |V| rides the node checkpoint: when the label frame provably fits
    // a broadcast the per-round join goes MAP-SIDE (the edge frame never
    // exchanges inside the loop — same adaptive discipline and bound as
    // [[PageRank.BroadcastMaxNodes]]); above it, shuffle-hash (sort-free)
    val lblSide = PageRank.nodeSide(nObs.get("n").asInstanceOf[Long],
      broadcastMaxNodes)
    var lbl = nodes.select(col("node"), col("node").as("community"))
    var lblCp: Option[DataFrame] = None
    for (i <- 1 to rounds) {
      val contrib = sym
        .join(lblSide(lbl.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node"), col("community"))
        .agg(sum(col("weight")).as("w"))
      // argmax as a struct-max: (w, −community) orders ties toward the
      // SMALLEST label deterministically, and the groupBy(node) reuses
      // contrib's hash partitioning — no per-round window sort. It
      // covers every node (see the scaladoc), so it IS the next label
      // frame: no carry-forward join
      lbl = contrib
        .groupBy("node")
        .agg(max(struct(col("w"), (-col("community")).as("nc"))).as("m"))
        .select(col("node"), (-col("m.nc")).as("community"))
      // Safety roll (ADVICE r14): without ANY roll the fused plan's
      // depth grows linearly with the caller's round budget — Catalyst
      // analysis time and driver memory are unbounded at e.g. a
      // 50-round LPA convergence budget even though the arithmetic is
      // fine. The roll preserves row-identical output while truncating
      // lineage; at the shipped 5-round usage (< FusedRollEvery) it
      // never fires, so q163's one-job shape is untouched.
      if (i % FusedRollEvery == 0 && i < rounds) {
        lbl = Iterate.roll(lbl, lblCp); lblCp = Some(lbl)
      }
    }
    lbl
  }

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Degree assortativity (Newman's r): the Pearson correlation of the
    * degrees at the two ends of an edge — positive means hubs attach to
    * hubs, negative means hub-and-spoke. Over the ordered-pair edge list
    * (each undirected edge counted in both directions) the x and y
    * marginals coincide, so every moment folds from ONE pass over the
    * single-orientation edge frame: M = 2E, Σxy = 2Σ dᵤdᵥ,
    * Σx = Σ(dᵤ+dᵥ), Σx² = Σ(dᵤ²+dᵥ²), and
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²).
    *
    * All moments are DECIMAL(38,0)-exact; the one double op is the
    * final exact/exact division. Shape: a degree count per node (one
    * shuffle), two equi-joins decorating each edge with its endpoint
    * degrees, one global aggregate — no wedge or pair expansion.
    *
    * @param edges undirected (src, dst), src < dst, one row per edge
    * @return single row (m_pairs, sum_x, sum_xy, sum_x2, assortativity) */
  def assortativity(edges: DataFrame): DataFrame = {
    // the edge frame feeds the degree build AND both decorations (three
    // plan consumers) — a derived edge list (basket expansion) must
    // materialize once, not re-run per consumer
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // explode, not union: one read of the checkpointed frame emits both
    // endpoints (the symmetrize idiom)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val decorated = e
      .join(deg.select(col("node").as("src"), col("deg").as("du")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dv")), Seq("dst"))
    val m = decorated.agg(
      (lit(2) * dec(count(lit(1)))).as("__m"),
      (lit(2) * sum(dec(col("du")) * dec(col("dv")))).as("__sxy"),
      sum(dec(col("du")) + dec(col("dv"))).as("__sx"),
      sum(dec(col("du")) * dec(col("du"))
        + dec(col("dv")) * dec(col("dv"))).as("__sx2"))
    m.select(col("__m").cast("long").as("m_pairs"),
      col("__sx").cast("long").as("sum_x"),
      col("__sxy").cast("long").as("sum_xy"),
      col("__sx2").cast("long").as("sum_x2"),
      round((col("__m") * col("__sxy") - col("__sx") * col("__sx"))
        .cast("double")
        / (col("__m") * col("__sx2") - col("__sx") * col("__sx"))
          .cast("double"), 6).as("assortativity"))
  }

  /** Weighted HITS hubs & authorities (Kleinberg, JACM'99) over the
    * DIRECTED co-purchase DAG — the link-analysis complement to
    * PageRank: a good HUB points at many good authorities, a good
    * AUTHORITY is pointed at by many good hubs. On the src<dst basket
    * DAG this separates "gateway" products (bought first, pointing into
    * the catalog) from "destination" products (what baskets converge
    * on) — the two roles PageRank's single score conflates.
    *
    * `rounds` synchronous RAW power iterations with ONE L1
    * normalization at the end; the fixed round budget keeps it
    * oracle-replayable (the q63/q94 chained-CTE pattern). Nodes
    * without in-edges carry authority 0 and nodes without out-edges
    * hub 0 — they drop out of the contribution frames mid-loop
    * (contributing exactly 0) and rejoin as 0 in the final node frame,
    * so the shrunken iteration state is output-equivalent to the dense
    * form.
    *
    * Spark shape per round: two equi-join + groupBy shuffles (edges ⋈
    * scores on one endpoint, fold on the other) — never a cross
    * product, no mid-loop driver action; lineage truncates through
    * [[Iterate.roll]] every 2nd round so live state is one checkpoint
    * regardless of `rounds`. The score chain is single-consumer, so the
    * cadence changes no value; 2 is measured (SCALE.md round-14 fusion
    * table, and "q186 HITS cadence, decided cold").
    *
    * @param edges directed (src, dst, weight)
    * @return (node, hub, auth), both rounded to 6 dp */
  def hits(edges: DataFrame, rounds: Int,
           broadcastMaxNodes: Long = PageRank.BroadcastMaxNodes)
      : DataFrame = {
    // ONE checkpointed edge frame serves both half-steps. (An earlier
    // form kept TWO copies, each "pre-partitioned" on its half-step's
    // key — but an AQE checkpoint captures UnknownPartitioning, so the
    // second materialization bought nothing: both half-steps re-exchange
    // the edge frame regardless, and the AQE-coalesced re-exchange
    // measured cheaper than the partition-pinning forms; SCALE.md round
    // 8, "The pinned-partitioning belief was wrong", documents that
    // trade. shuffle_hash still keeps the joins
    // sort-free.)
    val e = edges.select(col("src"), col("dst"), col("weight"))
      .localCheckpoint()
    val nObs = Observation()
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint()
    // |V| rides the node checkpoint: when the score frames provably fit
    // a broadcast, BOTH half-step joins go map-side and the edge frame
    // never exchanges inside the loop (same adaptive bound as
    // [[PageRank.BroadcastMaxNodes]]); above it, sort-free shuffle-hash
    val scoreSide =
      PageRank.nodeSide(nObs.get("n").asInstanceOf[Long], broadcastMaxNodes)
    // Scaling commutes through the linear half-steps, so the RAW power
    // iteration normalized ONCE at the end points exactly where the
    // per-round-normalized one does — and costs nothing mid-loop: no
    // L1-total aggregate, no driver action per half-step, just the two
    // join+fold shuffles (a per-round-normalized draft benched 3× the
    // PageRank per-round cost from those extra actions). Magnitudes
    // grow by ≤ max weighted degree per half-step; doubles hold ~1e308,
    // so any realistic (rounds, degree) stays finite — the round budget
    // is the caller's overflow contract (5 here ⇒ safe through
    // weighted degrees of 1e30). CROSS-ENGINE DETERMINISM is the
    // tighter bound: with integer weights the half-step sums are exact
    // while they stay below 2^53 (doubles represent every integer up to
    // there; order-dependent float rounding kicks in beyond it), so the
    // 6-dp oracle match is guaranteed for weighted degrees up to
    // ~2^(53/(2·rounds)) per node — ≈ 40 at rounds=5 for unit weights
    // scaled by corpus degree products; the gating graph's max weighted
    // degree keeps every sum exact. Past that, periodically rescale by
    // a power of two (exact in binary, preserves the fixed point) —
    // finiteness alone (1e308) is NOT the determinism contract.
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = nodes.select(col("node"), lit(0.0).as("auth"))
    var hubCp: Option[DataFrame] = None
    for (i <- 1 to rounds) {
      auth = e.join(scoreSide(hub.withColumnRenamed("node", "src")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("weight") * col("hub")).as("auth"))
      // the FINAL frames are each consumed twice (L1 total + output
      // join): materialize them once so no half-step ever re-executes
      if (i == rounds) auth = auth.localCheckpoint()
      hub = e.join(scoreSide(auth.select(col("node").as("dst"), col("auth"))),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("weight") * col("auth")).as("hub"))
      // labelProp's lineage discipline: truncate at the cadence and at
      // the end; intermediate frames are consumed exactly once
      if (i == rounds || (i % 2 == 0)) {
        hub = Iterate.roll(hub, hubCp); hubCp = Some(hub)
      }
    }
    // ONE action for both L1 totals: the two single-row aggregates meet
    // in a broadcast cross join, so the tail is one job instead of two
    val tot = auth.agg(sum(col("auth")).as("a"))
      .crossJoin(broadcast(hub.agg(sum(col("hub")).as("h"))))
      .collect()(0)
    val aTot = if (tot.isNullAt(0) || tot.getDouble(0) == 0.0) 1.0 else tot.getDouble(0)
    val hTot = if (tot.isNullAt(1) || tot.getDouble(1) == 0.0) 1.0 else tot.getDouble(1)
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("hub"), lit(0.0)) / lit(hTot), 6).as("hub"),
        round(coalesce(col("auth"), lit(0.0)) / lit(aTot), 6).as("auth"))
  }

  /** Newman–Girvan modularity of a GIVEN node partition (an attribute
    * community, e.g. brand — not a learned labeling): per community c,
    * ΔQ_c = e_c/m − (a_c/2m)² with e_c = within-community edges and
    * a_c = degree mass; folded exactly as (4m·e_c − a_c²) / 4m².
    *
    * Shape: the partition map joins onto each edge's endpoints (two
    * equi-joins against a node-sized frame), then two hash aggregations
    * — within-edge counts and endpoint-incidence counts — meet on the
    * community key. No iteration, no window.
    *
    * @param edges     undirected (src, dst), src < dst
    * @param partition (node, community)
    * @return per community: (community, n_nodes, e_within, a_degree, dq)
    *         where Σ dq = modularity Q */
  def modularity(edges: DataFrame, partition: DataFrame): DataFrame = {
    val p = partition.select(col("node"), col("community"))
    val decorated = edges
      .join(p.select(col("node").as("src"), col("community").as("cu")),
        Seq("src"))
      .join(p.select(col("node").as("dst"), col("community").as("cv")),
        Seq("dst"))
      .localCheckpoint() // the edge scan feeds three aggregates below
    val mRow = decorated.agg(count(lit(1)).as("m")) // total edges
    val eWithin = decorated.where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_within"))
    val aDeg = decorated.select(col("cu").as("community"))
      .unionAll(decorated.select(col("cv").as("community")))
      .groupBy("community").agg(count(lit(1)).as("a_degree"))
    val nNodes = p.groupBy("community").agg(count(lit(1)).as("n_nodes"))
    nNodes
      .join(aDeg, Seq("community"), "left")
      .join(eWithin, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_within"), lit(0L)).as("e_within"),
        coalesce(col("a_degree"), lit(0L)).as("a_degree"),
        round((lit(4) * dec(col("m"))
            * dec(coalesce(col("e_within"), lit(0L)))
            - dec(coalesce(col("a_degree"), lit(0L)))
              * dec(coalesce(col("a_degree"), lit(0L)))).cast("double")
          / (lit(4) * dec(col("m")) * dec(col("m"))).cast("double"), 6)
          .as("dq"))
  }
}
