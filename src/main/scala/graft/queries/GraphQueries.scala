package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Co-purchase graph, the CF arm and iterative graph analytics
  * (PageRank, k-core, BFS, label propagation, HITS, two-hop expansion). */
private[graft] object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- co-purchase graph + CF arm (SURVEY A1-A3, J1-J2, P10) ----------
    QuerySpec("q05_graph_edges", ((s, d) =>
      CoPurchaseGraph.fromOrders(Tables.lineitem(s, d))),
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem)
        |SELECT a.item AS src, b.item AS dst, count(*) AS weight
        |FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2""".stripMargin),

    QuerySpec("q06_cf_topn", ((s, d) => CfRetriever.topN(basketEdges(s, d), 10)),
      s"""WITH $basketCtes,
        |n AS (SELECT src, dst, weight,
        |        weight::DOUBLE / max(weight) OVER (PARTITION BY src) AS norm FROM sym)
        |SELECT src, dst, weight, norm,
        |  row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |FROM n QUALIFY rnk <= 10""".stripMargin),

    // --- weighted PageRank: iterative graph analytics -------------------
    // 10 bulk iterations, one join+groupBy shuffle each, over
    // checkpointed transition fractions. Oracle = the same 10 rounds as
    // chained CTEs in DuckDB.
    QuerySpec("q63_pagerank", ((s, d) =>
      PageRank.run(CoPurchaseGraph.symmetrize(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d))))),
      {
        val rounds = (1 to 10).map { i =>
          s"""r$i AS (SELECT e.dst AS node, min(bb.base) + 0.85 * sum(r.rank * e.frac) AS rank
             |  FROM norm e JOIN r${i - 1} r ON e.src = r.node CROSS JOIN bb GROUP BY e.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH $basketCtes,
          |deg AS (SELECT src, sum(weight) AS w FROM sym GROUP BY 1),
          |norm AS (SELECT s.src, s.dst, s.weight::DOUBLE / d.w AS frac
          |         FROM sym s JOIN deg d USING (src)),
          |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
          |bb AS (SELECT (1.0 - 0.85) / n AS base, n FROM nn),
          |r0 AS (SELECT d.src AS node, 1.0 / bb.n AS rank FROM deg d CROSS JOIN bb),
          |$rounds
          |SELECT r10.node, round(r10.rank * bb.n, 6) AS pr_scaled
          |FROM r10 CROSS JOIN bb""".stripMargin
      },
      heavy = true),

    QuerySpec("q07_cf_for_queries", ((s, d) => {
      val q = partQueries(s, d)
      CfRetriever.topNFor(basketEdgesFor(s, d, q), q, 5)
    }),
      s"""WITH $basketCtes,
        |f AS (SELECT * FROM sym WHERE src IN (SELECT p_partkey FROM part WHERE p_partkey <= 100)),
        |n AS (SELECT src, dst, weight,
        |        weight::DOUBLE / max(weight) OVER (PARTITION BY src) AS norm FROM f)
        |SELECT src, dst, weight, norm,
        |  row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |FROM n QUALIFY rnk <= 5""".stripMargin),

    // Skew-safe salted top-n must EQUAL the plain window top-n — the
    // equality is the oracle. Gated on a deterministic 10% source stratum
    // (src % 10 = 0): same divergence-detection power — salting errors
    // are not key-value-dependent — at ~10% of the full-graph cost
    // (round-2 verdict #2: the full equality was 29 s / 14% of the
    // suite). The FULL-graph equality lives in RetrievalSpec at sf0.01.
    QuerySpec("q52_cf_salted", ((s, d) => {
      // materialize the stratum once — both comparison sides consume it,
      // and the equality digest would otherwise run the basket build
      // twice (ContextCleaner frees the checkpoint blocks on GC)
      val edges = basketEdges(s, d)
        .where(col("src") % 10 === 0).localCheckpoint()
      val plain = CfRetriever.topN(edges, 10)
        .select(col("src"), col("dst"), col("rnk"), round(col("norm"), 9).as("norm"))
      val salted = CfRetriever.topNSalted(edges, 10, 8)
        .select(col("src"), col("dst"), col("rnk"), round(col("norm"), 9).as("norm"))
      plain.withColumn("side", lit(1))
        .join(salted.withColumn("side2", lit(1)),
          Seq("src", "dst", "rnk", "norm"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("side").isNull || col("side2").isNull, 1)).as("n_diff"))
        .select(col("n_rows"), (col("n_diff") === 0).as("salted_equals_plain"))
    }),
      s"""WITH $basketCtes,
        |strat AS (SELECT * FROM sym WHERE src % 10 = 0),
        |n AS (SELECT src, dst, weight,
        |        weight::DOUBLE / max(weight) OVER (PARTITION BY src) AS norm FROM strat),
        |r AS (SELECT src, dst,
        |        row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |      FROM n QUALIFY rnk <= 10)
        |SELECT count(*) AS n_rows, true AS salted_equals_plain FROM r""".stripMargin),

    // --- DIRECTED PageRank with dangling-mass redistribution ------------
    // The q63 contract excluded dangling nodes (symmetrized input); this
    // runs on the raw src<dst basket DAG where most nodes have no
    // out-edges — the dangling term keeps total mass at 1 (the general
    // directed-graph form). 10-round chained-CTE oracle with the same
    // dangling arithmetic.
    QuerySpec("q94_pagerank_directed", ((s, d) =>
      PageRank.runDirected(CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)))),
      {
        // MATERIALIZED: DuckDB otherwise inlines each CTE per reference
        // and the 10-round chain re-opens the lineitem scan enough times
        // to exhaust file handles.
        val rounds = (1 to 10).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.dst AS node, sum(r.rank * e.frac) AS m
             |  FROM norm e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst),
             |d$i AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dm
             |  FROM r${i - 1} r SEMI JOIN dangset g ON r.node = g.node),
             |r$i AS MATERIALIZED (SELECT nd.node,
             |    bb.base + 0.85 * (coalesce(c.m, 0.0) + d$i.dm / bb.n) AS rank
             |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node
             |  CROSS JOIN d$i CROSS JOIN bb)""".stripMargin
        }.mkString(",\n")
        s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
          |e AS MATERIALIZED (SELECT a.item AS src, b.item AS dst, count(*) AS weight
          |      FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2),
          |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
          |deg AS MATERIALIZED (SELECT src, sum(weight) AS w FROM e GROUP BY 1),
          |norm AS MATERIALIZED (SELECT s.src, s.dst, s.weight::DOUBLE / d.w AS frac
          |         FROM e s JOIN deg d USING (src)),
          |dangset AS MATERIALIZED (SELECT node FROM nodes
          |         WHERE node NOT IN (SELECT src FROM deg)),
          |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          |bb AS MATERIALIZED (SELECT (1.0 - 0.85) / n AS base, n FROM nn),
          |r0 AS MATERIALIZED (SELECT nd.node, 1.0 / bb.n AS rank FROM nodes nd CROSS JOIN bb),
          |$rounds
          |SELECT r10.node, round(r10.rank * bb.n, 6) AS pr_scaled
          |FROM r10 CROSS JOIN bb""".stripMargin
      },
      heavy = true),

    // --- association scores over the co-purchase graph -------------------
    // Popularity-corrected edge strength: cosine / lift / Jaccard from
    // exact order counts — the fix for raw-count CF over-recommending
    // globally popular items.
    QuerySpec("q77_assoc_scores", ((s, d) =>
      CoPurchaseGraph.assocFromOrders(Tables.lineitem(s, d))),
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
        |e AS (SELECT a.item AS src, b.item AS dst, count(*) AS weight
        |      FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2),
        |cnt AS (SELECT item, count(*) AS n FROM items GROUP BY 1),
        |tot AS (SELECT count(DISTINCT okey) AS n_orders FROM items)
        |SELECT src, dst, weight,
        |  round(weight::DOUBLE / sqrt((a.n * b.n)::DOUBLE), 6) AS cosine,
        |  round((weight * n_orders)::DOUBLE / (a.n * b.n)::DOUBLE, 6) AS lift,
        |  round(weight::DOUBLE / (a.n + b.n - weight)::DOUBLE, 6) AS jaccard
        |FROM e JOIN cnt a ON e.src = a.item JOIN cnt b ON e.dst = b.item
        |CROSS JOIN tot""".stripMargin),

    // --- triangle count + clustering coefficient -------------------------
    // Degree-ordered node-iterator over the co-purchase graph: wedge
    // out-degree is bounded by O(√E), so no hub blows the join up.
    QuerySpec("q102_triangles", ((s, d) =>
      GraphMetrics.triangles(CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)))),
      s"""WITH $basketCtes,
        |deg AS (SELECT node, count(*)::BIGINT AS deg FROM
        |    (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
        |  GROUP BY 1),
        |o AS (SELECT CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN src ELSE dst END AS lo,
        |             CASE WHEN ds < dd OR (ds = dd AND src < dst) THEN dst ELSE src END AS hi
        |      FROM (SELECT e.src, e.dst, d1.deg AS ds, d2.deg AS dd
        |            FROM e JOIN deg d1 ON e.src = d1.node
        |            JOIN deg d2 ON e.dst = d2.node)),
        |tri AS (SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
        |        FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi != w2.hi
        |        JOIN o c ON c.lo = w1.hi AND c.hi = w2.hi),
        |pn AS (SELECT node, count(*)::BIGINT AS n_tri FROM
        |    (SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri
        |     UNION ALL SELECT z AS node FROM tri) GROUP BY 1)
        |SELECT d.node, d.deg, coalesce(pn.n_tri, 0)::BIGINT AS n_tri,
        |  CASE WHEN d.deg < 2 THEN 0.0
        |       ELSE round(2.0::DOUBLE * coalesce(pn.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
        |  END AS clustering
        |FROM deg d LEFT JOIN pn ON d.node = pn.node""".stripMargin,
      heavy = true),

    // --- k-core peeling (dense co-purchase backbone) ----------------------
    QuerySpec("q127_kcore", ((s, d) =>
      GraphMetrics.kcore(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)), 3, 10)),
      // Synchronous peel unrolled to 10 rounds (q94 pattern); the final
      // degree pass and convergence probe mirror the Spark operator.
      {
        val rounds = (1 to 10).map { t =>
          s"""d$t AS MATERIALIZED (SELECT s.src AS node, count(*)::BIGINT AS deg
             |  FROM sym s SEMI JOIN n${t - 1} a ON s.src = a.node
             |  SEMI JOIN n${t - 1} b ON s.dst = b.node GROUP BY 1),
             |n$t AS MATERIALIZED (SELECT node FROM d$t WHERE deg >= 3)""".stripMargin
        }.mkString(",\n")
        s"""WITH $basketCtes,
          |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
          |$rounds,
          |df AS MATERIALIZED (SELECT s.src AS node, count(*)::BIGINT AS deg
          |  FROM sym s SEMI JOIN n10 a ON s.src = a.node
          |  SEMI JOIN n10 b ON s.dst = b.node GROUP BY 1)
          |SELECT node, deg,
          |  (SELECT count(*) FROM df) =
          |    (SELECT count(*) FROM df WHERE deg >= 3) AS converged
          |FROM df""".stripMargin
      },
      heavy = true),

    // --- multi-source BFS hop distance -------------------------------------
    // Frontier expansion from anchor products over the co-purchase
    // graph, 3 synchronous rounds — per-round cost is frontier-sized
    // (two equi-joins), not graph-sized.
    QuerySpec("q144_bfs_hops", ((s, d) =>
      GraphMetrics.bfsHops(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)),
        Tables.tableRaw(s, d, "part").where(col("p_partkey") < 5)
          .select(col("p_partkey").as("node")),
        3)),
      s"""WITH $basketCtes,
        |v0 AS (SELECT DISTINCT p_partkey AS node FROM part WHERE p_partkey < 5),
        |h0 AS (SELECT node, 0 AS hop FROM v0),
        |n1 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN h0 ON s.src = h0.node
        |       WHERE s.dst NOT IN (SELECT node FROM h0)),
        |h1 AS (SELECT * FROM h0 UNION ALL SELECT node, 1 FROM n1),
        |n2 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN n1 ON s.src = n1.node
        |       WHERE s.dst NOT IN (SELECT node FROM h1)),
        |h2 AS (SELECT * FROM h1 UNION ALL SELECT node, 2 FROM n2),
        |n3 AS (SELECT DISTINCT s.dst AS node FROM sym s JOIN n2 ON s.src = n2.node
        |       WHERE s.dst NOT IN (SELECT node FROM h2))
        |SELECT node, hop FROM h2 UNION ALL SELECT node, 3 FROM n3""".stripMargin,
      heavy = true),

    // --- personalized PageRank (random walk with restart) -------------------
    // Seed-conditioned relatedness over the directed co-purchase graph:
    // teleport AND dangling mass return to the anchor products only.
    QuerySpec("q149_ppr", ((s, d) =>
      PageRank.personalized(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)),
        Tables.tableRaw(s, d, "part").where(col("p_partkey") < 5)
          .select(col("p_partkey").as("node")))),
      {
        // q94's chained-CTE unroll with the restart vector: teleport and
        // dangling mass return to the seeds only. (1.0 - 0.85) stays an
        // EXPRESSION — as a 0.15 literal it differs by 1 ulp from the
        // double Spark computes.
        val rounds = (1 to 10).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.dst AS node, sum(r.rank * e.frac) AS m
             |  FROM norm e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst),
             |d$i AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dm
             |  FROM r${i - 1} r SEMI JOIN dangset g ON r.node = g.node),
             |r$i AS MATERIALIZED (SELECT t.node,
             |    (1.0 - 0.85) * t.rv + 0.85 * (coalesce(c.m, 0.0) + d$i.dm * t.rv) AS rank
             |  FROM rst t LEFT JOIN c$i c ON t.node = c.node
             |  CROSS JOIN d$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
          |e AS MATERIALIZED (SELECT a.item AS src, b.item AS dst, count(*) AS weight
          |      FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2),
          |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
          |deg AS MATERIALIZED (SELECT src, sum(weight) AS w FROM e GROUP BY 1),
          |norm AS MATERIALIZED (SELECT s.src, s.dst, s.weight::DOUBLE / d.w AS frac
          |         FROM e s JOIN deg d USING (src)),
          |dangset AS MATERIALIZED (SELECT node FROM nodes
          |         WHERE node NOT IN (SELECT src FROM deg)),
          |seedset AS MATERIALIZED (SELECT node FROM nodes
          |         WHERE node IN (SELECT p_partkey FROM part WHERE p_partkey < 5)),
          |ns AS (SELECT count(*)::DOUBLE AS ns FROM seedset),
          |rst AS MATERIALIZED (SELECT nd.node,
          |    CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.ns ELSE 0.0 END AS rv
          |  FROM nodes nd LEFT JOIN seedset s ON nd.node = s.node CROSS JOIN ns),
          |r0 AS MATERIALIZED (SELECT node, rv AS rank FROM rst),
          |$rounds,
          |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)
          |SELECT r10.node, round(r10.rank * nn.n, 6) AS ppr_scaled
          |FROM r10 CROSS JOIN nn""".stripMargin
      },
      heavy = true),

    // --- label-propagation communities --------------------------------------------
    // 5 synchronous weighted rounds over the co-purchase graph; the
    // min-label tie rule makes the fixed-round outcome exact-replayable.
    QuerySpec("q163_label_prop", ((s, d) =>
      GraphMetrics.labelProp(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)), 5)),
      {
        // 5 synchronous rounds unrolled (the q94/q149 chained-CTE pattern);
        // argmax = row_number over (weight DESC, label ASC) — the min-label
        // tie rule that makes fixed-round LPA deterministic.
        val rounds = (1 to 5).map { i =>
          s"""c$i AS MATERIALIZED (SELECT e.dst AS node, l.community,
             |    sum(e.weight) AS w
             |  FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT node, community FROM (
             |    SELECT node, community, row_number() OVER (
             |      PARTITION BY node ORDER BY w DESC, community) AS rn
             |    FROM c$i) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey,
          |    l_partkey AS item FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.item AS src, b.item AS dst,
          |    count(*) AS weight
          |  FROM items a JOIN items b USING (okey) WHERE a.item < b.item
          |  GROUP BY 1, 2),
          |e AS MATERIALIZED (SELECT src, dst, weight FROM e0
          |  UNION ALL SELECT dst, src, weight FROM e0),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS community
          |  FROM e),
          |$rounds
          |SELECT node, community FROM l5""".stripMargin
      },
      heavy = true),

    // --- user-user CF neighbors ---------------------------------------------------
    // Top-5 "customers like you" by item-set cosine; ubiquitous items
    // (>200 buyers) pruned from pair generation, norms stay exact.
    QuerySpec("q165_user_knn", ((s, d) =>
      CoPurchaseGraph.userNeighbors(Tables.orders(s, d),
        Tables.lineitem(s, d), 5)),
      """WITH ui AS (SELECT DISTINCT o.o_custkey AS usr, l.l_partkey AS item
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |norms AS (SELECT usr, count(*) AS n FROM ui GROUP BY 1),
        |light AS (SELECT item FROM (
        |    SELECT item, count(*) AS nu FROM ui GROUP BY 1) WHERE nu <= 200),
        |p AS (SELECT usr, item FROM ui SEMI JOIN light USING (item)),
        |pairs AS (SELECT a.usr AS ua, b.usr AS ub, count(*) AS shared
        |  FROM p a JOIN p b USING (item) WHERE a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT ua AS usr, ub AS neighbor, shared FROM pairs
        |  UNION ALL SELECT ub, ua, shared FROM pairs),
        |sc AS (SELECT s.usr, s.neighbor, s.shared,
        |    round(s.shared::DOUBLE / sqrt((na.n * nb.n)::DOUBLE), 6) AS cosine
        |  FROM sym s JOIN norms na ON s.usr = na.usr
        |  JOIN norms nb ON s.neighbor = nb.usr)
        |SELECT usr AS "user", neighbor, shared, cosine, rn::BIGINT AS rnk
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY usr ORDER BY cosine DESC, neighbor) AS rn FROM sc)
        |WHERE rn <= 5""".stripMargin,
      heavy = true),

    // --- frequent 3-itemsets (brand level) ----------------------------------------
    // Part-level triples are support-≤2 sparse at test scale; brand
    // baskets give real co-occurrence mass while exercising the same
    // canonical triple expansion.
    QuerySpec("q167_freq_triples", ((s, d) =>
      CoPurchaseGraph.frequentTriples(
        Tables.lineitem(s, d)
          .join(Tables.tableRaw(s, d, "part"),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("okey"), col("p_brand").as("item")),
        10L, 20)),
      """WITH it AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |sz AS (SELECT okey FROM it GROUP BY okey HAVING count(*) <= 32),
        |s AS (SELECT it.okey, it.item FROM it SEMI JOIN sz USING (okey))
        |SELECT a.item AS x, b.item AS y, c.item AS z, count(*) AS support
        |FROM s a JOIN s b USING (okey) JOIN s c USING (okey)
        |WHERE a.item < b.item AND b.item < c.item
        |GROUP BY 1, 2, 3 HAVING count(*) >= 10
        |ORDER BY support DESC, x, y, z LIMIT 20""".stripMargin,
      heavy = true),

    // --- degree assortativity of the co-purchase graph ---------------------------
    // Do popular products co-purchase with popular products? Newman's r
    // over edge-endpoint degrees — exact moments, one degree build, two
    // edge decorations, one global fold.
    QuerySpec("q178_assortativity", ((s, d) =>
      GraphMetrics.assortativity(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)))),
      s"""WITH $basketCtes,
        |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t
        |  GROUP BY 1),
        |x AS (SELECT du.deg AS du, dv.deg AS dv FROM e
        |  JOIN deg du ON e.src = du.node JOIN deg dv ON e.dst = dv.node),
        |s AS (SELECT 2 * count(*)::HUGEINT AS m,
        |    2 * sum(du::HUGEINT * dv::HUGEINT) AS sxy,
        |    sum(du::HUGEINT + dv::HUGEINT) AS sx,
        |    sum(du::HUGEINT * du::HUGEINT + dv::HUGEINT * dv::HUGEINT)
        |      AS sx2
        |  FROM x)
        |SELECT m::BIGINT AS m_pairs, sx::BIGINT AS sum_x,
        |  sxy::BIGINT AS sum_xy, sx2::BIGINT AS sum_x2,
        |  round((m * sxy - sx * sx)::DOUBLE
        |    / (m * sx2 - sx * sx)::DOUBLE, 6) AS assortativity
        |FROM s""".stripMargin,
      heavy = true),

    // --- brand-partition modularity ----------------------------------------------
    // Does the co-purchase graph cluster along brand lines? Modularity
    // of the GIVEN p_brand partition — an attribute-community quality
    // score, exact per-community contributions that sum to Q.
    QuerySpec("q179_brand_modularity", ((s, d) => {
      val edges = CoPurchaseGraph.fromOrders(Tables.lineitem(s, d))
      val partition = Tables.tableRaw(s, d, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("community"))
      GraphMetrics.modularity(edges, partition)
    }),
      s"""WITH $basketCtes,
        |pm AS (SELECT p_partkey AS node, p_brand AS community FROM part),
        |de AS (SELECT pu.community AS cu, pv.community AS cv FROM e
        |  JOIN pm pu ON e.src = pu.node JOIN pm pv ON e.dst = pv.node),
        |m AS (SELECT count(*)::BIGINT AS m FROM de),
        |ew AS (SELECT cu AS community, count(*)::BIGINT AS e_within
        |  FROM de WHERE cu = cv GROUP BY 1),
        |ad AS (SELECT community, count(*)::BIGINT AS a_degree FROM (
        |    SELECT cu AS community FROM de UNION ALL SELECT cv FROM de) t
        |  GROUP BY 1),
        |nn AS (SELECT community, count(*)::BIGINT AS n_nodes FROM pm
        |  GROUP BY 1)
        |SELECT nn.community, nn.n_nodes,
        |  coalesce(ew.e_within, 0)::BIGINT AS e_within,
        |  coalesce(ad.a_degree, 0)::BIGINT AS a_degree,
        |  round((4::HUGEINT * m.m::HUGEINT
        |      * coalesce(ew.e_within, 0)::HUGEINT
        |      - coalesce(ad.a_degree, 0)::HUGEINT
        |        * coalesce(ad.a_degree, 0)::HUGEINT)::DOUBLE
        |    / (4::HUGEINT * m.m::HUGEINT * m.m::HUGEINT)::DOUBLE, 6)
        |      AS dq
        |FROM nn LEFT JOIN ad USING (community)
        |  LEFT JOIN ew USING (community), m""".stripMargin,
      heavy = true),

    // --- HITS hubs & authorities over the directed basket DAG --------------------
    // PageRank's link-analysis complement: separates gateway products
    // (hubs — point into the catalog) from destination products
    // (authorities — baskets converge on them). 5 raw power iterations
    // + one final L1 normalization (the labelProp round budget: each
    // HITS round is TWO join+fold half-steps, so 5 rounds costs what
    // 10 PageRank rounds cost); oracle = the same 5 rounds as chained
    // CTEs.
    QuerySpec("q186_hits", ((s, d) =>
      GraphMetrics.hits(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)), 5)),
      {
        // the same 5 RAW half-step pairs as GraphMetrics.hits, unrolled:
        // auth round = join on src + dst-grouped fold, hub round = join
        // on dst + src-grouped fold; ONE L1 normalization at the end
        // (scaling commutes through the linear half-steps). Every chained
        // CTE is MATERIALIZED: inlined, the recursive references
        // re-expand the basket scan per round (DuckDB runs out of file
        // handles before finishing)
        val rounds = (1 to 5).map { i =>
          s"""a$i AS MATERIALIZED (SELECT e.dst AS node, sum(e.weight * h.hub) AS auth
             |  FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
             |h$i AS MATERIALIZED (SELECT e.src AS node, sum(e.weight * a.auth) AS hub
             |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
          |e AS MATERIALIZED (SELECT a.item AS src, b.item AS dst, count(*) AS weight
          |      FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2),
          |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
          |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM nodes),
          |$rounds
          |SELECT n.node,
          |  round(coalesce(h5.hub, 0) / (SELECT sum(hub) FROM h5), 6) AS hub,
          |  round(coalesce(a5.auth, 0) / (SELECT sum(auth) FROM a5), 6) AS auth
          |FROM nodes n LEFT JOIN h5 ON n.node = h5.node
          |LEFT JOIN a5 ON n.node = a5.node""".stripMargin
      },
      heavy = true),

    // --- two-hop co-purchase expansion ("also-bought-also-bought") ---------------
    // score(a,c) = Σ_b w(a,b)·w(b,c) over shared mids with hub mids
    // (>200 neighbors) excluded before pairing and anchors pushed into
    // the left side — work scales with the query set. Top-10 per
    // anchor, direct neighbors flagged for the re-ranker.
    QuerySpec("q193_twohop", ((s, d) =>
      CoPurchaseGraph.twoHop(
        CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)),
        Tables.tableRaw(s, d, "part").where(col("p_partkey") < 50)
          .select(col("p_partkey").as("node")), 200, 10)),
      s"""WITH $basketCtes,
        |deg AS (SELECT src AS mid, count(*) AS d FROM sym GROUP BY 1),
        |lm AS (SELECT mid FROM deg WHERE d <= 200),
        |l AS (SELECT s.src AS anchor, s.dst AS mid, s.weight AS w1 FROM sym s
        |  JOIN lm ON s.dst = lm.mid
        |  WHERE s.src IN (SELECT p_partkey FROM part WHERE p_partkey < 50)),
        |r AS (SELECT src AS mid, dst AS rec, weight AS w2 FROM sym),
        |p AS (SELECT anchor, rec, count(*)::BIGINT AS n_paths,
        |    sum(w1 * w2)::BIGINT AS path_weight
        |  FROM l JOIN r USING (mid) WHERE anchor != rec GROUP BY 1, 2),
        |dj AS (SELECT src AS anchor, dst AS rec, true AS hd FROM sym),
        |x AS (SELECT p.anchor, p.rec, p.n_paths, p.path_weight,
        |    coalesce(dj.hd, false) AS has_direct,
        |    row_number() OVER (PARTITION BY p.anchor
        |      ORDER BY p.path_weight DESC, p.rec) AS rnk
        |  FROM p LEFT JOIN dj ON p.anchor = dj.anchor AND p.rec = dj.rec)
        |SELECT anchor, rec, n_paths, path_weight, has_direct, rnk
        |FROM x WHERE rnk <= 10""".stripMargin,
      heavy = true),
  )
}
