package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Graph-builder semantics from the reference
  * (/root/reference/Hybrid_Recom_vecdb.py:133-141): weight counts,
  * in-sample restriction, self-loop exclusion, max-normalization. */
class CoPurchaseGraphSpec extends SparkTestBase {

  private def products = spark.createDataFrame(Seq(
    ("a", Seq("b", "c", "b", "zz")), // zz is out-of-sample, b twice
    ("b", Seq("a", "b")),            // self-loop b->b must drop
    ("c", Seq.empty[String])))
    .toDF("asin", "similar")

  test("fromSimilar: weights count duplicates, excludes self-loops and out-of-sample") {
    val e = CoPurchaseGraph.fromSimilar(products).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(e == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "a") -> 1L))
  }

  test("fromOrders: co-occurrence within order, canonical src<dst, distinct items") {
    val li = spark.createDataFrame(Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // dup (1,20) collapses
      (2L, 10L), (2L, 20L)))
      .toDF("l_orderkey", "l_partkey")
    val e = CoPurchaseGraph.fromOrders(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(e == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
  }

  test("symmetrize doubles the edge list with swapped endpoints") {
    val e = spark.createDataFrame(Seq((1L, 2L, 3L))).toDF("src", "dst", "weight")
    val sym = CoPurchaseGraph.symmetrize(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sym == Set((1L, 2L, 3L), (2L, 1L, 3L)))
  }

  test("normalized: per-src max-normalization lands in (0,1] with max exactly 1") {
    val e = spark.createDataFrame(Seq(
      ("a", "x", 4L), ("a", "y", 2L), ("b", "x", 7L)))
      .toDF("src", "dst", "weight")
    val n = CoPurchaseGraph.normalized(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(n(("a", "x")) == 1.0 && n(("a", "y")) == 0.5 && n(("b", "x")) == 1.0)
  }

  test("cf topN: deterministic (weight DESC, dst ASC) rank, n enforced") {
    val e = spark.createDataFrame(Seq(
      ("a", "x", 2L), ("a", "y", 2L), ("a", "z", 5L), ("a", "w", 1L)))
      .toDF("src", "dst", "weight")
    val top = CfRetriever.topN(e, 2).orderBy(col("rnk"))
      .select(col("dst")).collect().map(_.getString(0)).toSeq
    assert(top == Seq("z", "x")) // z wins on weight; x beats y on dst asc
  }

  test("userNeighbors: cosine over item sets; ubiquitous items pruned") {
    import spark.implicits._
    // orders: one per (user, item) line. users 1,2 share items {10, 20};
    // user 3 shares only the ubiquitous item 99 (bought by everyone) —
    // with maxUsers=2 item 99 generates no pairs, so 3 has no neighbors
    val rows = Seq(
      (101L, 1L, 10L), (102L, 1L, 20L), (103L, 1L, 99L),
      (201L, 2L, 10L), (202L, 2L, 20L), (203L, 2L, 99L),
      (301L, 3L, 99L))
    val orders = rows.map(r => (r._1, r._2)).distinct.toDF("o_orderkey", "o_custkey")
    val lineitem = rows.map(r => (r._1, r._3)).toDF("l_orderkey", "l_partkey")
    val got = CoPurchaseGraph.userNeighbors(orders, lineitem, 3, maxUsers = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // users 1,2: shared {10,20} = 2; norms: |1| = 3 items, |2| = 3 (99
    // counts in the NORM even though pruned from pairing)
    val expect = BigDecimal(2.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 2L)) == ((2L, expect)), s"$got")
    assert(got((2L, 1L)) == ((2L, expect)))
    assert(!got.keySet.exists(_._1 == 3L), "pruned item must not pair user 3")
  }

  test("userNeighbors == a plain-Scala cosine top-k, ranks included") {
    import spark.implicits._
    // several users with overlapping item sets so ranks 1..k differ;
    // maxUsers = 6 prunes the items most users bought from pairing
    val rows = for {
      u <- 1L to 8L; i <- 1L to 12L if (u + i) % 3 != 0 || i <= u
    } yield (u * 100 + i, u, i)
    val (k, maxUsers) = (3, 6)
    val orders = rows.map(r => (r._1, r._2)).distinct.toDF("o_orderkey", "o_custkey")
    val lineitem = rows.map(r => (r._1, r._3)).toDF("l_orderkey", "l_partkey")
    val got = CoPurchaseGraph.userNeighbors(orders, lineitem, k, maxUsers)
      .orderBy("user", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    // reference: cosine over full item sets, pairs only through items
    // with <= maxUsers buyers, rounded to 6 dp, ranked by (cosine desc,
    // neighbor asc)
    val items = rows.groupBy(_._2).map { case (u, rs) => u -> rs.map(_._3).toSet }
    val buyers = rows.groupBy(_._3).map { case (i, rs) => i -> rs.map(_._2).toSet }
    val light = buyers.collect { case (i, us) if us.size <= maxUsers => i }.toSet
    assert(light.size < buyers.size, "fixture must exercise the cap")
    val expect = items.keys.toSeq.sorted.flatMap { u =>
      items.keys.toSeq.filter(_ != u).flatMap { v =>
        val shared = (items(u) & items(v) & light).size.toLong
        if (shared == 0) None
        else Some((v, shared, BigDecimal(shared /
          math.sqrt((items(u).size.toLong * items(v).size).toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.sortBy { case (v, _, c) => (-c, v) }.take(k).zipWithIndex
        .map { case ((v, sh, c), r) => (u, v, sh, c, r + 1) }
    }
    assert(expect.map(_._5).max == k, "fixture must fill every rank")
    assert(got == expect)
  }

  test("frequentTriples: canonical once-per-basket triples, jumbo cap") {
    import spark.implicits._
    // baskets: {a,b,c} ×3, {a,b,c,d} ×1 → abc support 4; abd/acd/bcd 1
    val rows =
      (1 to 3).flatMap(o => Seq("a", "b", "c").map(i => (o.toLong, i))) ++
        Seq("a", "b", "c", "d").map(i => (4L, i)) ++
        // jumbo basket over the cap contributes NOTHING
        (1 to 40).map(i => (5L, s"x$i")) ++
        // duplicate lines in one basket must not inflate support
        Seq((6L, "a"), (6L, "a"), (6L, "b"), (6L, "c"))
    val got = CoPurchaseGraph.frequentTriples(
      rows.toDF("okey", "item"), 1L, 100, maxBasket = 32)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(got(("a", "b", "c")) == 5L) // orders 1,2,3,4,6
    assert(got(("a", "b", "d")) == 1L && got(("b", "c", "d")) == 1L)
    assert(!got.keySet.exists(_._1.startsWith("x")), "jumbo basket leaked")
  }

  test("frequentTriples: apriori singleton prune is output-preserving") {
    import spark.implicits._
    // a corpus with a real infrequent tail: core items a-d co-occur
    // across baskets, r1..r40 are rare (one basket each) — the prune
    // removes all 40 singletons before the cubic expansion
    val rows =
      (1 to 5).flatMap(o => Seq("a", "b", "c").map(i => (o.toLong, i))) ++
        (3 to 7).flatMap(o => Seq("b", "c", "d").map(i => (o.toLong, i))) ++
        (1 to 40).map(i => (i.toLong % 7 + 1, s"r$i"))
    val df = rows.toDF("okey", "item")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val pruned = canon(CoPurchaseGraph.frequentTriples(df, 3L, 100,
      maxBasket = 32, prune = true))
    val full = canon(CoPurchaseGraph.frequentTriples(df, 3L, 100,
      maxBasket = 32, prune = false))
    assert(pruned == full, "apriori prune changed the output")
    assert(pruned.nonEmpty && pruned.forall(_._4 >= 3L))
    assert(!pruned.exists(t => t._1.startsWith("r") ||
      t._2.startsWith("r") || t._3.startsWith("r")))
  }

  test("twoHop: path weights sum over shared mids, direct edges flagged") {
    import spark.implicits._
    // 1-2-3 and 1-4-3: two 2-hop paths from 1 to 3, no direct 1-3 edge
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 3L), (1L, 4L, 1L), (3L, 4L, 5L))
      .toDF("src", "dst", "weight")
    val anchors = Seq(Tuple1(1L)).toDF("node")
    val out = CoPurchaseGraph.twoHop(edges, anchors, 200, 10).collect()
    assert(out.length == 1)
    val r = out(0)
    // (anchor, rec, n_paths, path_weight, has_direct, rnk)
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 2L && r.getLong(3) == 2 * 3 + 1 * 5)
    assert(!r.getBoolean(4) && r.getInt(5) == 1)
  }

  test("twoHop: hub mids above the degree cap never generate paths") {
    import spark.implicits._
    // node 9 is a 4-neighbor hub; with maxDeg = 2 it cannot be a mid,
    // so recs 5 and 6 (reachable only through 9) never appear
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 3L),
      (1L, 9L, 1L), (3L, 9L, 1L), (5L, 9L, 1L), (6L, 9L, 1L))
      .toDF("src", "dst", "weight")
    val anchors = Seq(Tuple1(1L)).toDF("node")
    val capped = CoPurchaseGraph.twoHop(edges, anchors, 2, 10).collect()
    assert(capped.map(_.getLong(1)).toSet == Set(3L),
      "only the 1-2-3 path survives the mid cap")
    val uncapped = CoPurchaseGraph.twoHop(edges, anchors, 200, 10).collect()
    assert(uncapped.map(_.getLong(1)).toSet == Set(3L, 5L, 6L))
  }
}
