package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Dev tool: derived-frame row counts for the iterative graph family —
  * the BENCH_ISOLATED row-count addendum (round-7 verdict asked for
  * these next to every isolated number, so corpus regenerations are
  * distinguishable from plan regressions; the r6→r7 q163/q165 scare was
  * exactly this ambiguity).
  *
  * Usage: runMain graft.GraphProbe <sfDir>
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores(32))
    spark.sparkContext.setLogLevel("WARN")

    def p(name: String, v: Long): Unit =
      println(f"[graphprobe] $name%-28s $v%12d")

    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    p("lineitem_rows", li.count())

    // basket stats drive EVERY pair expansion: Σ C(B,2) is the edge
    // builder's shuffle input, Σ C(B,3) the triple enumerator's
    val baskets = li.groupBy("l_orderkey")
      .agg(countDistinct(col("l_partkey")).as("b"))
    val bs = baskets.agg(count(lit(1)).as("n"), max(col("b")).as("mx"),
        sum(expr("b * (b - 1) div 2")).as("pairs"),
        sum(expr("b * (b - 1) * (b - 2) div 6")).as("triples"))
      .collect()(0)
    p("baskets", bs.getLong(0))
    p("max_basket", bs.getLong(1))
    p("pair_expansion", bs.getLong(2))
    p("triple_expansion", bs.getLong(3))

    // materialize the (expensive) edge build once — it feeds three
    // probe lines, and each count would otherwise rerun the basket
    // pair expansion from scratch
    val edges = CoPurchaseGraphRef.edges(li).localCheckpoint()
    val ec = edges.count()
    p("copurchase_edges", ec)
    p("labelprop_sym_rows", ec * 2)
    p("graph_nodes", edges.select(explode(array(col("src"), col("dst")))
      .as("n")).distinct().count())

    // q165 userNeighbors volume: user-item pairs, capped postings,
    // generated user pairs (Σ C(u,2) over items with u <= 200 users)
    val ui = li.select(col("l_orderkey").as("okey"),
        col("l_partkey").as("item"))
      .join(ord.select(col("o_orderkey").as("okey"),
        col("o_custkey").as("user")), Seq("okey"))
      .select("user", "item").distinct()
    p("user_item_rows", ui.count())
    val posting = ui.groupBy("item").agg(count(lit(1)).as("u"))
    val cap = posting.where(col("u") <= 200)
      .agg(count(lit(1)).as("items"),
        sum(expr("u * (u - 1) div 2")).as("pairs")).collect()(0)
    p("light_items_le200", cap.getLong(0))
    p("user_pair_expansion", cap.getLong(1))
    spark.stop()
  }
}

/** The q163/q165 edge build, inlined so the probe works on any tree. */
private object CoPurchaseGraphRef {
  def edges(li: org.apache.spark.sql.DataFrame) =
    graft.operators.CoPurchaseGraph.fromOrders(li)
}
