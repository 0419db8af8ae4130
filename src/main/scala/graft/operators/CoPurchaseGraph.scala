package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-purchase graph construction — the CF arm's data structure.
  *
  * Reference semantics: `build_copurchase_graph`
  * (`Hybrid_Recom_vecdb.py:133-141`) — `graph[a][b] += 1` for every b in
  * a.similar, restricted to in-sample endpoints, self-loops excluded
  * (SURVEY §2 A1/J1/J2).
  *
  * Scale notes (100 TB): both builders are one shuffle each —
  * `groupBy(src, dst).count()` with map-side partial aggregation, so the
  * shuffle carries pre-aggregated (src, dst, partial_count) rows, not raw
  * pairs. The membership restriction is a *broadcast* left-semi join when
  * the id set is small, a shuffled semi-join otherwise — Catalyst/AQE
  * picks per actual size. No driver-side materialization anywhere.
  */
object CoPurchaseGraph {

  /** Reference-native builder: products with an array `similar` column →
    * weighted directed edges (src, dst, weight), dst restricted to the
    * product set itself, self-loops dropped. */
  def fromSimilar(products: DataFrame,
                  idCol: String = "asin",
                  similarCol: String = "similar"): DataFrame = {
    val ids = products.select(col(idCol).as("dst")).distinct()
    products
      .select(col(idCol).as("src"), explode(col(similarCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .join(ids.hint("broadcast"), Seq("dst"), "left_semi")
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** Market-basket builder over the TPC-H-ish corpus: two parts are
    * "co-purchased" when they appear in the same order. Emits undirected
    * canonical edges (src < dst) with weight = number of distinct orders
    * containing both. Stands in for the reference's `similar` lists on the
    * driver corpus (FIXTURES.md §3).
    *
    * Shape: ONE pass over the fact table — groupBy(order) collecting the
    * distinct sorted item set (dedup folded into the same aggregation),
    * then a map-side pair expansion from each basket array, then the
    * (src,dst) count shuffle. A basket self-join would read and
    * distinct-aggregate the fact table TWICE (the second reference can't
    * reuse the first's exchange when the planner broadcasts one side);
    * per-basket expansion is quadratic only in the basket size, which is
    * bounded by order line counts, not by the corpus. */
  def fromOrders(lineitem: DataFrame): DataFrame =
    basketPairs(lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("item")))

  /** (okey, item) → canonical co-occurrence edges, one scan. */
  private def basketPairs(orderItems: DataFrame): DataFrame = {
    val baskets = orderItems.groupBy("okey")
      .agg(sort_array(collect_set(col("item"))).as("its"))
    // items sorted ascending ⇒ emitting (its[i], its[j]) for i < j gives
    // src < dst without a filter.
    baskets
      .select(explode(flatten(transform(col("its"), (x, i) =>
        transform(slice(col("its"), i + lit(2), size(col("its"))), y =>
          struct(x.as("src"), y.as("dst")))))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** [[fromOrders]] restricted to edges touching a query-id set: the
    * basket self-join is pruned to orders that contain at least one query
    * item BEFORE the pair expansion. For any pair with an endpoint in the
    * query set, every order containing both items also contains the query
    * item, so the surviving weights are identical to the unrestricted
    * build — but the quadratic pair expansion and its shuffle now run
    * over |orders touching Q| instead of |all orders|. At 100 TB with a
    * small query set this is the difference between a full-corpus
    * self-join and a few thousand baskets. */
  def fromOrdersFor(lineitem: DataFrame, queryIds: DataFrame): DataFrame = {
    val items = lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("item"))
    val qOrders = items
      .join(queryIds.hint("broadcast").select(col("query_id").as("item")),
        Seq("item"), "left_semi")
      .select("okey").distinct()
    val qItems = items.join(qOrders.hint("broadcast"), Seq("okey"), "left_semi")
    basketPairs(qItems)
  }

  /** Undirected edge list → directed adjacency (both orientations), the
    * shape the CF arm consumes. Emitted by exploding both orientations of
    * each row rather than a self-union: a union duplicates the whole
    * upstream subtree in the physical plan (the graph build would run
    * twice — 2× scan + 2× shuffle at any scale); the explode is one
    * map-side pass over a single build. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"),
      col("weight"))
      .select(col("e.src"), col("e.dst"), col("weight"))

  /** Association-strength scores over the co-purchase graph — the
    * popularity-corrected upgrade of raw co-occurrence counts (the
    * reference's `graph[a][b] += 1` weighting over-recommends globally
    * popular items; these are the standard market-basket corrections):
    *
    *   cosine  = w / sqrt(n_a · n_b)          (Salton association)
    *   lift    = w · N / (n_a · n_b)          (>1 ⇔ positive association)
    *   jaccard = w / (n_a + n_b − w)
    *
    * where w = orders containing both, n_x = orders containing x,
    * N = total orders.
    *
    * Shape: the [[fromOrders]] edge build (one basket scan + one (src,dst)
    * shuffle) plus a per-item order-count aggregate joined back onto each
    * edge endpoint — two equi-joins on item keys, both hash-partitionable;
    * the N scalar rides along as a broadcast. Every division is an exact
    * bigint pair cast to double at the last step, so the values are
    * bit-identical cross-engine. */
  def assocFromOrders(lineitem: DataFrame): DataFrame = {
    val items = lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("item")).distinct()
    val perItem = items.groupBy("item").agg(count(lit(1)).as("n"))
    val total = items.agg(countDistinct(col("okey")).as("n_orders"))
    fromOrders(lineitem)
      .join(perItem.withColumnRenamed("n", "n_src"),
        col("src") === col("item")).drop("item")
      .join(perItem.withColumnRenamed("n", "n_dst"),
        col("dst") === col("item")).drop("item")
      .crossJoin(total.hint("broadcast"))
      .select(col("src"), col("dst"), col("weight"),
        round(col("weight").cast("double") /
          sqrt((col("n_src") * col("n_dst")).cast("double")), 6).as("cosine"),
        round((col("weight") * col("n_orders")).cast("double") /
          (col("n_src") * col("n_dst")).cast("double"), 6).as("lift"),
        round(col("weight").cast("double") /
          (col("n_src") + col("n_dst") - col("weight")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Frequent 3-itemsets — the market-basket step past pairwise
    * co-occurrence ([[fromOrders]]): which TRIPLES co-occur in baskets,
    * the input to bundle/placement decisions that pair counts alone
    * cannot rank (three pairwise-frequent items need not co-occur
    * jointly).
    *
    * Spark shape: two self-equi-joins on the basket key with canonical
    * x < y < z ordering (each triple emitted once); per-basket work is
    * C(B,3), so baskets wider than `maxBasket` are dropped up front —
    * the documented cap that keeps a pathological jumbo basket from
    * contributing B³ rows. Global top-k is TakeOrderedAndProject.
    *
    * Apriori frequent-singleton prune (`prune`, on by default): a triple
    * with support ≥ minSupport forces each member to appear in
    * ≥ minSupport capped baskets, so semi-joining away items whose
    * SINGLETON support is below minSupport before the C(B,3) expansion
    * is provably output-preserving — it only shrinks the baskets feeding
    * the cubic join (the free level of the apriori lattice; at 100 TB
    * the long tail of once-bought parts vanishes before pairing instead
    * of after). The prune counts support over the SAME capped basket
    * frame the triples count over, so the bound is exact, and the
    * singleton frame is item-sized — a broadcast semi-join.
    *
    * @param orderItems (okey, item) basket membership
    * @return (x, y, z, support) — top k by support desc, then keys */
  def frequentTriples(orderItems: DataFrame, minSupport: Long, k: Int,
                      maxBasket: Int = 32, prune: Boolean = true): DataFrame = {
    val it = orderItems.select(col("okey"), col("item")).distinct()
    val capped = it
      .withColumn("__b", count(lit(1)).over(Window.partitionBy("okey")))
      .where(col("__b") <= maxBasket)
      .select("okey", "item")
      .localCheckpoint() // feeds the singleton count + three join legs
    val sized = if (!prune) capped else {
      val freq1 = capped.groupBy("item").agg(count(lit(1)).as("__n1"))
        .where(col("__n1") >= minSupport).select("item")
      capped.join(freq1.hint("broadcast"), Seq("item"), "left_semi")
    }
    val a = sized.select(col("okey"), col("item").as("x"))
    val b = sized.select(col("okey"), col("item").as("y"))
    val c = sized.select(col("okey"), col("item").as("z"))
    a.join(b, Seq("okey")).where(col("x") < col("y"))
      .join(c, Seq("okey")).where(col("y") < col("z"))
      .groupBy("x", "y", "z").agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .orderBy(col("support").desc, col("x"), col("y"), col("z"))
      .limit(k)
  }

  /** User-user collaborative neighbors — the OTHER axis of the
    * reference's item-item graph (`Hybrid_Recom_vecdb.py:88-105`): for
    * each customer, the k most similar customers by cosine over their
    * purchased-item sets — the "users like you" arm a recommender
    * blends with item-item CF.
    *
    * Scale shape: postings (item → users who bought it) drive the pair
    * expansion, and items bought by more than `maxUsers` customers are
    * DROPPED before pairing — the q14 df-cap argument: a ubiquitous
    * item contributes O(n²) pairs and near-zero similarity signal
    * (its posting means "both shop here"). With the cap, pair volume is
    * bounded by |items|·maxUsers², independent of any hub item.
    *
    * Pair generation is a postings self-join with a shuffle-HASH hint,
    * not a [[basketPairs]]-style array expansion — a measured choice
    * (same-JVM A/B, sf0.1, 8.56M pairs): collecting each posting into a
    * sorted array and exploding C(n,2) map-side saves one exchange but
    * costs ~2× CPU materializing the quadratic array per row (and an
    * unhinted sort-merge join re-sorts both legs each run, wobbling
    * 1.4–3.8 s where the hash join holds 1.6 s). The hinted join streams
    * codegen'd pairs from a per-partition hash table; skew on the join
    * key is bounded by construction (≤ maxUsers postings per item), so
    * opting out of AQE skew-splitting is safe here. The only pair-sized
    * shuffle is the (ua, ub) count, which map-side partial aggregation
    * compacts. Per-user top-k compiles to WindowGroupLimit.
    *
    * cosine = shared / sqrt(n_a·n_b) over FULL per-user item counts
    * (the cap prunes pair GENERATION, not the norm). The norm counts are
    * attached to the POSTING rows before pairing and ride through the
    * pair aggregation as `min` (n is functionally determined by the
    * user key, so min = the value): joining norms onto the
    * postings-sized frame costs one |postings| join, where the naive
    * order — symmetrize first, then join norms on user and again on
    * neighbor — exchanges and sorts the PAIR-sized frame (2·C(n,2)
    * rows, the largest frame in the query) twice more before the window
    * exchange even starts. Measured on sf0.1 that was 3 exchanges + 4
    * sorts of 17M rows collapsed to the single window exchange, and the
    * window's partial WindowGroupLimit caps what that one exchange
    * carries.
    *
    * Measured and rejected against this form (SCALE.md): per-user heaps
    * instead of the rank window (round 12, "the q165 heap-vs-sort
    * trade"), a checkpointed `ui` (round 13, "q165's monotonic in-JVM
    * growth") and norms attached after the pair fold (round 15, "q165
    * late-norms arm").
    *
    * @return (user, neighbor, shared, cosine, rnk) — rnk 1..k */
  def userNeighbors(orders: DataFrame, lineitem: DataFrame, k: Int,
                    maxUsers: Int = 200): DataFrame = {
    val ui = lineitem.select(col("l_orderkey").as("okey"),
        col("l_partkey").as("item"))
      .join(orders.select(col("o_orderkey").as("okey"),
        col("o_custkey").as("user")), Seq("okey"))
      .select(col("user"), col("item")).distinct()
    val norms = ui.groupBy("user").agg(count(lit(1)).as("n"))
    val light = ui.groupBy("item").agg(count(lit(1)).as("nu"))
      .where(col("nu") <= maxUsers).select("item")
    val p = ui.join(light, Seq("item")).join(norms, Seq("user"))
    val pairs = p.as("a").join(p.as("b").hint("shuffle_hash"),
        col("a.item") === col("b.item"))
      .where(col("a.user") < col("b.user"))
      .groupBy(col("a.user").as("ua"), col("b.user").as("ub"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.n")).as("na"), min(col("b.n")).as("nb"))
    val scored = pairs.withColumn("cosine",
      round(col("shared").cast("double") /
        sqrt((col("na") * col("nb")).cast("double")), 6))
    // symmetrize by exploding both orientations, not unionAll: a union
    // embeds the pair-expansion subtree TWICE (the [[symmetrize]]
    // hazard), which earlier versions paid a pair-sized localCheckpoint
    // to avoid — the explode keeps the subtree single-use, so no
    // materialization barrier is needed at all (measured: dropping the
    // checkpoint is another ~1.7× on the warm full query)
    val sym = scored.select(explode(array(
        struct(col("ua").as("user"), col("ub").as("neighbor"),
          col("shared"), col("cosine")),
        struct(col("ub").as("user"), col("ua").as("neighbor"),
          col("shared"), col("cosine")))).as("e"))
      .select(col("e.user"), col("e.neighbor"), col("e.shared"),
        col("e.cosine"))
    sym
      .withColumn("rnk", row_number().over(Window.partitionBy("user")
        .orderBy(col("cosine").desc, col("neighbor"))))
      .where(col("rnk") <= k)
      .select(col("user"), col("neighbor"), col("shared"), col("cosine"),
        col("rnk"))
  }

  /** Per-source max-normalized weight (reference `cf_candidates`
    * normalization, `Hybrid_Recom_vecdb.py:193-197`, SURVEY P10/A2):
    * norm = weight / max(weight over src) ∈ (0, 1]. One shuffle on src
    * (window); reuses the groupBy partitioning when upstream is already
    * hash-distributed by src. */
  def normalized(edges: DataFrame): DataFrame =
    edges.withColumn("norm",
      col("weight").cast("double") /
        max(col("weight")).over(Window.partitionBy("src")).cast("double"))

  /** Two-hop "customers-also-bought-also-bought" expansion — the
    * candidate source a recommender reaches for when an item's direct
    * co-purchase neighborhood is thin: score(a, c) = Σ_b w(a,b)·w(b,c)
    * over shared middle items, with the path count and a flag for
    * pairs that are ALSO direct neighbors (a re-ranker demotes those).
    *
    * Scale: the wedge expansion is Σ deg² in the MID node — one hub
    * item would blow it up quadratically, so mids above `maxDeg`
    * neighbors are excluded before pairing (the userNeighbors /
    * dedup df-cap discipline; the spam-hub exclusion is the standard
    * semantic trade). Anchors restrict the left side FIRST, so work
    * scales with the query set, not the catalog. Everything else is
    * equi-keyed: join on mid, direct-edge decoration on (anchor, rec),
    * per-anchor top-k via one rank window.
    *
    * @param edges   undirected (src, dst, weight), src < dst
    * @param anchors one column `node` — the query items
    * @return (anchor, rec, n_paths, path_weight, has_direct, rnk),
    *         rnk 1..k by (path_weight desc, rec) */
  def twoHop(edges: DataFrame, anchors: DataFrame, maxDeg: Int,
             k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = symmetrize(edges).localCheckpoint()
    val lightMid = sym.groupBy(col("src").as("mid"))
      .agg(count(lit(1)).as("d")).where(col("d") <= maxDeg).select("mid")
    val left = sym.select(col("src").as("anchor"), col("dst").as("mid"),
        col("weight").as("w1"))
      .join(anchors.select(col("node").as("anchor")), Seq("anchor"),
        "left_semi")
      .join(lightMid, Seq("mid"), "left_semi")
    val right = sym.select(col("src").as("mid"), col("dst").as("rec"),
      col("weight").as("w2"))
    val paths = left.join(right, Seq("mid"))
      .where(col("anchor") =!= col("rec"))
      .groupBy("anchor", "rec")
      .agg(count(lit(1)).as("n_paths"),
        sum(col("w1") * col("w2")).as("path_weight"))
    val direct = sym.select(col("src").as("anchor"), col("dst").as("rec"),
      lit(true).as("has_direct"))
    paths.join(direct, Seq("anchor", "rec"), "left")
      .withColumn("has_direct", coalesce(col("has_direct"), lit(false)))
      .withColumn("rnk", row_number().over(Window.partitionBy("anchor")
        .orderBy(col("path_weight").desc, col("rec"))))
      .where(col("rnk") <= k)
  }
}
