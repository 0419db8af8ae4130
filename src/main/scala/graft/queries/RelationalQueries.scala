package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Relational core: TPC-H-shaped scans, aggregates, joins and windows,
  * OLAP reshapes, CDC and incremental maintenance, layout, sinks, and
  * sketches and concentration statistics over the order tables. */
private[graft] object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- relational core (scans, filters, aggs, joins, windows) ---------
    QuerySpec("q01_pricing", ((s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        count(lit(1)).as("cnt"))),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    QuerySpec("q02_top_orders", ((s, d) => {
      // Pre-aggregate lineitem on its own key BEFORE the join: the join
      // then moves one row per order, not one per line item (o_orderkey
      // is unique in orders, so group-then-join ≡ join-then-group).
      val lrev = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      val rev = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
        .join(lrev, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
      rev.withColumn("rnk",
        row_number().over(Window.orderBy(col("revenue").desc, col("o_orderkey").asc)))
    }),
      """WITH rev AS (
        |  SELECT o_orderkey, o_orderdate,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderkey, o_orderdate, revenue,
        |  row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rnk
        |FROM rev ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),

    QuerySpec("q03_nation_revenue", ((s, d) => {
      // Partial-aggregate lineitem per order first: the fact-side shuffle
      // carries one row per order, and countDistinct(o_orderkey) becomes
      // a plain count (each surviving row IS one distinct order) — no
      // distinct expansion in the final aggregate.
      val lrev = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("orev"))
      lrev
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("orev")), 4).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin),

    QuerySpec("q04_supplier_top_parts", ((s, d) => {
      val agg = Tables.lineitem(s, d).groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("qty").desc, col("l_partkey").asc)
      agg.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
    }),
      """SELECT l_suppkey, l_partkey, qty, rnk FROM (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty,
        |    row_number() OVER (PARTITION BY l_suppkey ORDER BY sum(l_quantity) DESC, l_partkey) AS rnk
        |  FROM lineitem GROUP BY 1, 2) WHERE rnk <= 3""".stripMargin),

    // --- Z-order (Morton) layout key -----------------------------------
    // The Delta/Iceberg ZORDER BY primitive as plain Catalyst arithmetic:
    // interleave (user_id, minutes-since-2024) bits so range-partitioned
    // files get tight min/max stats on BOTH columns (LayoutSpec proves
    // per-file spans shrink in the two dimensions simultaneously). The
    // oracle replays all 42 shift/mask terms exactly.
    QuerySpec("q91_zorder", ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000) div 60000000").as("m"))
      ev.withColumn("zval", Layout.zValue(col("user_id"), col("m")))
    }),
      s"""WITH e AS (SELECT event_id, user_id,
        |  (epoch_us(ts) - 1704067200000000) // 60000000 AS m FROM events)
        |SELECT event_id, user_id, m, (${zSql("user_id", "m")})::BIGINT AS zval
        |FROM e""".stripMargin),

    // --- bucketed co-located fact-fact join ------------------------------
    // lineitem ⋈ orders where BOTH sides are 100 TB-class: broadcast is
    // impossible and a plain join shuffles every byte of both tables per
    // run. The bucketed layout (BucketedStore, 8 buckets on the join key,
    // written once as an untimed setup) makes the join exchange-FREE —
    // PlanSpec asserts zero ShuffleExchange under forced sort-merge. The
    // only shuffle left is the 5-group rollup above it.
    QuerySpec("q99_bucket_join", ((s, d) => {
      graft.sources.BucketedStore.ensure(s, d)
      graft.sources.BucketedStore.lineitem(s, d)
        .join(graft.sources.BucketedStore.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"))
    }),
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
        |  round(sum(l_extendedprice * (1.0::DOUBLE - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
      setup = Some((s, d) => graft.sources.BucketedStore.ensure(s, d))),

    // --- star-schema denormalization (ETL flatten) ------------------------
    // The warehouse flatten: bucketed fact-fact join on orderkey (zero
    // fact shuffle) + broadcast joins for every dimension.
    QuerySpec("q131_star_flatten", ((s, d) => {
      val li = graft.sources.BucketedStore.lineitem(s, d)
      val or = graft.sources.BucketedStore.orders(s, d)
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("o_orderpriority"), col("c_mktsegment"), col("n_name"),
          col("r_name"), col("p_brand"), col("p_type"), col("s_name"))
    }),
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_orderpriority,
        |  c_mktsegment, n_name, r_name, p_brand, p_type, s_name
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
      setup = Some((s, d) => graft.sources.BucketedStore.ensure(s, d))),

    // --- partitioned publish + manifest verification (sink) ---------------
    // The setup writes documents partitioned by lang; the query digests
    // the READ-BACK data per partition. The oracle computes the same
    // digests from the SOURCE table, so a hash-match proves the publish
    // lost, duplicated, and mangled nothing.
    QuerySpec("q138_export_manifest", ((s, d) =>
      graft.sources.ExportStore.manifest(
        graft.sources.ExportStore.documents(s, d))),
      // Digests computed from the SOURCE; the Spark side reads the export.
      """SELECT lang, count(*)::BIGINT AS n_rows,
        |  sum(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)
        |    % 2147483647)::BIGINT AS content_sum
        |FROM documents GROUP BY 1""".stripMargin,
      setup = Some((s, d) => graft.sources.ExportStore.ensure(s, d))),

    // --- incremental aggregate maintenance (merge ≡ recompute) ------------
    // Spark serves the MERGE of two disjoint partitions' summaries; the
    // oracle recomputes from the full fact table. Hash-match proves the
    // materialized-view fold is exact.
    QuerySpec("q128_incremental_agg", ((s, d) => {
      val li = Tables.lineitem(s, d)
      val base = Incremental.stats(
        li.where(col("l_orderkey") % 10 =!= 0), "l_partkey", "l_quantity")
      val delta = Incremental.stats(
        li.where(col("l_orderkey") % 10 === 0), "l_partkey", "l_quantity")
      Incremental.merge(base, delta, "l_partkey")
    }),
      """SELECT l_partkey, count(*)::BIGINT AS n, sum(l_quantity) AS sum_v,
        |  min(l_quantity) AS min_v, max(l_quantity) AS max_v
        |FROM lineitem GROUP BY 1""".stripMargin),

    // --- pivot report (wide crosstab in one aggregation) -------------------
    // Orders by year × status: Spark's groupBy().pivot() with explicit
    // value list compiles to ONE hash aggregate with conditional
    // accumulators — no per-status scans, no join. Revenue pre-snaps to
    // cents so the pivoted sums are exact longs.
    QuerySpec("q139_pivot", ((s, d) => {
      val cents = floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("order_year"),
          col("o_orderstatus").as("st"), cents.as("cents"))
        .groupBy("order_year")
        .pivot("st", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
        .select(col("order_year"),
          coalesce(col("F_cnt"), lit(0L)).as("f_cnt"),
          coalesce(col("F_cents"), lit(0L)).as("f_cents"),
          coalesce(col("O_cnt"), lit(0L)).as("o_cnt"),
          coalesce(col("O_cents"), lit(0L)).as("o_cents"),
          coalesce(col("P_cnt"), lit(0L)).as("p_cnt"),
          coalesce(col("P_cents"), lit(0L)).as("p_cents"))
    }),
      """SELECT year(o_orderdate) AS order_year,
        |  count(*) FILTER (WHERE o_orderstatus = 'F')::BIGINT AS f_cnt,
        |  coalesce(sum(floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'F'), 0)::BIGINT AS f_cents,
        |  count(*) FILTER (WHERE o_orderstatus = 'O')::BIGINT AS o_cnt,
        |  coalesce(sum(floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'O'), 0)::BIGINT AS o_cents,
        |  count(*) FILTER (WHERE o_orderstatus = 'P')::BIGINT AS p_cnt,
        |  coalesce(sum(floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'P'), 0)::BIGINT AS p_cents
        |FROM orders GROUP BY 1""".stripMargin),

    // --- unpivot / melt (wide → long for metric-agnostic pipelines) -------
    // The inverse reshape: lineitem's three measure columns become
    // (metric, cents) rows via Spark's native unpivot (Expand — one pass,
    // no union of scans). Values pre-snap to cents for exact compare.
    QuerySpec("q140_unpivot", ((s, d) => {
      def cents(c: String) =
        floor(col(c) * lit(100) + lit(0.5)).cast("long").as(c)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          cents("l_quantity"), cents("l_extendedprice"), cents("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "cents")
    }),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  floor(l_quantity * 100 + 0.5::DOUBLE)::BIGINT AS cents FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount',
        |  floor(l_discount * 100 + 0.5::DOUBLE)::BIGINT FROM lineitem""".stripMargin),

    // --- CDC snapshot diff --------------------------------------------------
    // Two deterministic versions of orders (rows dropped on each side +
    // price bumps on the overlap) diffed into insert/delete/update — the
    // MERGE INTO delta. Payload compare is a map-side digest; one
    // equi-join on the key moves only (key, digest).
    QuerySpec("q141_snapshot_diff", ((s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      val old = base.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
      val neu = base.where(pmod(col("o_orderkey"), lit(5)) =!= 0)
        .withColumn("cents", when(pmod(col("o_orderkey"), lit(3)) === 0,
          col("cents") + 100).otherwise(col("cents")))
      Cdc.snapshotDiff(old, neu, Seq("o_orderkey"),
        Seq("o_custkey", "o_orderstatus", "cents"))
    }),
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS c1,
        |    o_orderstatus AS c2,
        |    floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT AS cents
        |  FROM orders),
        |o AS (SELECT * FROM base WHERE k % 7 <> 0),
        |n AS (SELECT k, c1, c2,
        |    CASE WHEN k % 3 = 0 THEN cents + 100 ELSE cents END AS cents
        |  FROM base WHERE k % 5 <> 0),
        |j AS (SELECT coalesce(o.k, n.k) AS o_orderkey,
        |    CASE WHEN o.k IS NULL THEN 'insert'
        |         WHEN n.k IS NULL THEN 'delete'
        |         WHEN o.c1 <> n.c1 OR o.c2 <> n.c2 OR o.cents <> n.cents
        |           THEN 'update' END AS change_type
        |  FROM o FULL JOIN n ON o.k = n.k)
        |SELECT o_orderkey, change_type FROM j
        |WHERE change_type IS NOT NULL""".stripMargin),

    // --- 2-D skyline (Pareto frontier) --------------------------------------
    // Cheapest-for-its-size part shortlist: minimize price, maximize
    // size. Per-price max folds in one shuffle; the strictly-cheaper
    // prefix max runs two-phase (bucket-local window + broadcast bucket
    // prefix) — no global single-partition sort.
    QuerySpec("q146_skyline", ((s, d) =>
      Skyline.frontier2d(Tables.part(s, d), "p_retailprice", "p_size",
        100.0, 1000L)),
      """WITH c AS (SELECT floor(p_retailprice * 100 + 0.5::DOUBLE)::BIGINT AS xi,
        |    max(p_size) AS y
        |  FROM part GROUP BY 1)
        |SELECT xi::DOUBLE / 100.0::DOUBLE AS x, y FROM c a
        |WHERE NOT EXISTS (SELECT 1 FROM c b WHERE b.xi < a.xi AND b.y >= a.y)""".stripMargin),

    // --- HyperLogLog distinct sketch ------------------------------------------
    // Three key columns sketched in ONE pass; register state is 4096
    // BIGINTs per column, mergeable by max — the 100 TB count-distinct.
    // sf0.01 orderkeys (~15k) exercise the raw estimator; partkeys /
    // suppkeys (~2k/100) the sparse linear-counting branch.
    QuerySpec("q153_hll_distinct", ((s, d) =>
      Sketch.hllDistinct(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
      // registers: bucket = low 12 hash bits, rho = 1 + trailing zeros of
      // the other 48; Z folds as exact integers (Σ 2^(49−reg) + zeros·2^49)
      // so only the final fixed double expression — and the sparse-branch
      // m·ln(m/V) — touches floating point. Literal arithmetic like
      // 0.7213/(1.0 + 1.079/4096.0) is written as the EXPRESSION, not a
      // decimal: both engines then compute the identical IEEE double.
      """WITH src AS (
        |  SELECT 'l_orderkey' AS tag, l_orderkey::VARCHAR AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey::VARCHAR FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey::VARCHAR FROM lineitem),
        |h AS (SELECT tag,
        |    CAST('0x' || substr(md5('hll:' || v), 1, 15) AS BIGINT) AS h FROM src),
        |b AS (SELECT tag, h & 4095 AS bucket, h >> 12 AS r FROM h),
        |regs AS (SELECT tag, bucket,
        |    max(CASE WHEN r = 0 THEN 49
        |             ELSE bit_count(((r & -r) - 1)::BIGINT) + 1 END) AS reg
        |  FROM b GROUP BY 1, 2),
        |e AS (SELECT tag, count(*)::BIGINT AS n_buckets,
        |    (sum(1::BIGINT << (49 - reg))
        |      + (4096 - count(*)) * (1::BIGINT << 49))::BIGINT AS z_scaled
        |  FROM regs GROUP BY 1),
        |est AS (SELECT tag, n_buckets, z_scaled,
        |    (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 * 562949953421312.0
        |      / z_scaled::DOUBLE AS raw,
        |    (4096 - n_buckets)::BIGINT AS v FROM e)
        |SELECT tag, n_buckets, z_scaled,
        |  round(CASE WHEN raw <= 10240.0 AND v > 0
        |             THEN 4096.0 * ln(4096.0 / v::DOUBLE) ELSE raw END, 4)
        |    AS est_distinct
        |FROM est""".stripMargin),

    // --- count-min frequency sketch -------------------------------------------
    // Part-quantity heavy-hitter estimates from a 4×1024 counter grid
    // (one map-side pass over lineitem); point queries for a fixed
    // candidate set. est ≥ exact always (CMS one-sided error).
    QuerySpec("q154_count_min", ((s, d) =>
      Sketch.cmsEstimate(
        Sketch.cmsBuild(Tables.lineitem(s, d), "l_partkey",
          floor(col("l_quantity") * lit(100) + lit(0.5)).cast("long")),
        Tables.tableRaw(s, d, "part").where(col("p_partkey") < 100)
          .select("p_partkey"),
        "p_partkey")),
      """WITH it AS (SELECT l_partkey::VARCHAR AS v,
        |    floor(l_quantity * 100 + 0.5::DOUBLE)::BIGINT AS w FROM lineitem),
        |g AS (SELECT j,
        |    CAST('0x' || substr(md5('cms' || j::VARCHAR || ':' || v), 1, 15)
        |      AS BIGINT) & 1023 AS slot,
        |    w FROM it CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |sk AS (SELECT j, slot, sum(w) AS cnt FROM g GROUP BY 1, 2),
        |cand AS (SELECT p_partkey, p_partkey::VARCHAR AS v FROM part
        |         WHERE p_partkey < 100),
        |cq AS (SELECT p_partkey, j,
        |    CAST('0x' || substr(md5('cms' || j::VARCHAR || ':' || v), 1, 15)
        |      AS BIGINT) & 1023 AS slot
        |  FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j))
        |SELECT cq.p_partkey, min(coalesce(sk.cnt, 0))::BIGINT AS est_count
        |FROM cq LEFT JOIN sk USING (j, slot) GROUP BY 1""".stripMargin),

    // --- CDC apply (MERGE INTO law) ---------------------------------------------
    // Perturb orders into an "old" snapshot (drop every 13th key →
    // inserts; double every 7th-of-13 price → updates; fabricate ghost
    // keys → deletes), diff old→orders, apply the delta back onto old,
    // and digest the result. The oracle digests `orders` directly: the
    // apply must reconstruct the target table EXACTLY, row for row.
    QuerySpec("q157_cdc_apply", ((s, d) => {
      val keys = Seq("o_orderkey")
      val payload = Seq("o_custkey", "o_orderstatus", "cents", "oday")
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long").as("cents"),
        to_date(col("o_orderdate")).cast("string").as("oday"))
      val old = cdcOldSnapshot(ord)
      val delta = Cdc.snapshotDiff(old, ord, keys, payload)
        .join(ord, keys, "left") // payload for inserts/updates; NULL on deletes
      val applied = Cdc.applyDelta(old, delta, keys, payload)
      DataQuality.tableDigest(applied, keys ++ payload)
    }),
      // the LAW is the oracle: applying diff(old, orders) onto old must
      // reconstruct `orders` exactly, so the expected digest is computed
      // from orders directly — any apply/diff defect hash-mismatches.
      """SELECT count(*)::BIGINT AS n_rows,
        |  (sum(CAST('0x' || substr(md5(
        |    o_orderkey::VARCHAR || chr(1) || o_custkey::VARCHAR || chr(1) ||
        |    o_orderstatus || chr(1) ||
        |    floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT::VARCHAR || chr(1) ||
        |    (o_orderdate::DATE)::VARCHAR),
        |    1, 15) AS BIGINT)::HUGEINT)
        |   % 4611686018427387904::HUGEINT)::BIGINT AS digest
        |FROM orders""".stripMargin),

    // --- Bloom membership filter ------------------------------------------------
    // Build over every lineitem partkey; probe 200 known keys + 200
    // fabricated absent keys. No false negatives by construction; the
    // absent side exercises the false-positive path at the documented
    // ~3e-5 rate (0 expected hits among 200).
    QuerySpec("q160_bloom", ((s, d) => {
      val present = Tables.tableRaw(s, d, "part")
        .where(col("p_partkey") < 200).select(col("p_partkey").as("key"))
      val cand = present.unionByName(
        present.select((col("key") + lit(5000000L)).as("key")))
      Sketch.bloomProbe(
        Sketch.bloomBuild(Tables.lineitem(s, d), "l_partkey"), cand, "key")
    }),
      // 2^20 bit positions packed into 32-bit words (bit ≤ 31: DuckDB's
      // checked << overflows at 63) — word = pos >> 5, mask = 1 << (pos & 31)
      """WITH b AS (SELECT l_partkey::VARCHAR AS v FROM lineitem),
        |p AS (SELECT CAST('0x' || substr(md5('bloom' || j::VARCHAR || ':' || v),
        |        1, 15) AS BIGINT) & 1048575 AS pos
        |      FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |f AS (SELECT pos >> 5 AS word,
        |        bit_or(1::BIGINT << (pos & 31)) AS bits FROM p GROUP BY 1),
        |cand AS (SELECT p_partkey AS key FROM part WHERE p_partkey < 200
        |         UNION ALL
        |         SELECT p_partkey + 5000000 FROM part WHERE p_partkey < 200),
        |cp AS (SELECT key,
        |        CAST('0x' || substr(md5('bloom' || j::VARCHAR || ':' ||
        |          key::VARCHAR), 1, 15) AS BIGINT) & 1048575 AS pos
        |      FROM cand CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
        |cj AS (SELECT key, pos >> 5 AS word, pos & 31 AS bit FROM cp)
        |SELECT key,
        |  (count(CASE WHEN coalesce(f.bits, 0) & (1::BIGINT << bit) != 0
        |              THEN 1 END) = 4) AS may_contain
        |FROM cj LEFT JOIN f USING (word) GROUP BY key""".stripMargin),

    // --- Pareto contribution analysis ---------------------------------------------
    // Revenue concentration by part brand: share, cumulative share in
    // rank order, and the 80%-club flag — all comparisons on exact
    // integer cents (no double boundary ambiguity).
    QuerySpec("q166_pareto", ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, d)
        .join(Tables.tableRaw(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(floor(col("l_extendedprice") * lit(100) + lit(0.5))
          .cast("long")).as("rev_cents"))
      // brand frame is dimension-sized (25 rows) — the single-partition
      // windows below sort 25 rows, not lineitem
      val wCum = Window.orderBy(col("rev_cents").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("total", sum("rev_cents").over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .withColumn("cum", sum("rev_cents").over(wCum))
        .select(col("p_brand"), col("rev_cents"),
          round(col("rev_cents").cast("double") /
            col("total").cast("double"), 6).as("share"),
          round(col("cum").cast("double") /
            col("total").cast("double"), 6).as("cum_share"),
          // DECIMAL sides: cum·100 would wrap a 100 TB cents total
          (col("cum").cast("decimal(38,0)") * 100 <=
            col("total").cast("decimal(38,0)") * 80).as("in_top80"))
    }),
      """WITH rev AS (SELECT p.p_brand,
        |    sum(floor(l.l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT) AS rc
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1),
        |w AS (SELECT p_brand, rc,
        |    sum(rc) OVER () AS total,
        |    sum(rc) OVER (ORDER BY rc DESC, p_brand
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM rev)
        |SELECT p_brand, rc::BIGINT AS rev_cents,
        |  round(rc::DOUBLE / total::DOUBLE, 6) AS share,
        |  round(cum::DOUBLE / total::DOUBLE, 6) AS cum_share,
        |  (cum::HUGEINT * 100 <= total::HUGEINT * 80) AS in_top80
        |FROM w""".stripMargin),

    // --- retractable aggregate maintenance (incremental view + CDC) ---------------
    // Maintain per-customer (n_orders, sum_cents) under the q157 delta:
    // signed contributions fold delta-side, one full-outer join updates
    // the summary — the fact table is never rescanned. The oracle
    // recomputes from `orders` from scratch: the maintained view must
    // equal it exactly, zero-count groups dropped.
    QuerySpec("q169_retract_agg", ((s, d) => {
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      val old = cdcOldSnapshot(ord)
      val aggOld = old.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_v"))
      val diff = Cdc.snapshotDiff(old, ord, Seq("o_orderkey"),
        Seq("o_custkey", "cents"))
      // retract OLD payload for deletes+updates; apply NEW for inserts+updates
      val minus = diff.where(col("change_type").isin("delete", "update"))
        .join(old, Seq("o_orderkey"))
        .select(col("o_custkey"), lit(-1L).as("dn"), (-col("cents")).as("dv"))
      val plus = diff.where(col("change_type").isin("insert", "update"))
        .join(ord, Seq("o_orderkey"))
        .select(col("o_custkey"), lit(1L).as("dn"), col("cents").as("dv"))
      Incremental.retract(aggOld, minus.unionByName(plus), "o_custkey")
        .select(col("o_custkey"), col("n"), col("sum_v").as("sum_cents"))
    }),
      // the LAW is the oracle (q157 pattern): the maintained view after
      // applying the delta must equal a from-scratch recompute of the
      // target table — any signed-contribution defect hash-mismatches.
      """WITH c AS (SELECT o_custkey,
        |    floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT AS cents
        |  FROM orders)
        |SELECT o_custkey, count(*) AS n, sum(cents)::BIGINT AS sum_cents
        |FROM c GROUP BY 1""".stripMargin,
      heavy = true),

    // --- revenue inequality (per-nation Gini) ------------------------------------
    // How unevenly is order revenue spread across a nation's customers?
    // Exact rank-form Gini: every sum DECIMAL(38,0), one final double
    // division. The rank window sorts |customers|/|nations| per frame.
    QuerySpec("q174_nation_gini", ((s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
          .cast("long")).as("cents"))
        .join(Tables.customer(s, d).select(col("c_custkey"),
          col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      Concentration.giniBy(rev, "c_nationkey", "o_custkey", "cents")
        .join(broadcast(Tables.tableRaw(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_units").as("n_cust"),
          col("sum_value").as("sum_cents"), col("gini"))
    }),
      // rank-form Gini, every sum HUGEINT-exact; the single double op is
      // the final exact::DOUBLE / exact::DOUBLE both engines share
      """WITH r AS (SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
        |    sum(floor(o.o_totalprice * 100 + 0.5::DOUBLE)::BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |w AS (SELECT nk, cents,
        |    row_number() OVER (PARTITION BY nk ORDER BY cents, ck) AS i
        |  FROM r),
        |g AS (SELECT nk, count(*)::BIGINT AS n_cust,
        |    sum(cents)::BIGINT AS sum_cents,
        |    sum(i::HUGEINT * cents::HUGEINT) AS t FROM w GROUP BY 1)
        |SELECT n.n_name AS nation, g.n_cust, g.sum_cents,
        |  round((2::HUGEINT * g.t
        |      - (g.n_cust + 1)::HUGEINT * g.sum_cents::HUGEINT)::DOUBLE
        |    / (g.n_cust::DOUBLE * g.sum_cents::DOUBLE), 6) AS gini
        |FROM g JOIN nation n ON g.nk = n.n_nationkey""".stripMargin),

    // --- supplier market concentration (per-nation HHI) --------------------------
    // Herfindahl index of lineitem revenue across each nation's
    // suppliers: Σxᵢ²/(Σx)², numerator exact DECIMAL — two hash aggs,
    // no rank, no window.
    QuerySpec("q176_supplier_hhi", ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
            .as("cents"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"),
          col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
      Concentration.hhiBy(rev, "s_nationkey", "l_suppkey", "cents")
        .join(broadcast(Tables.tableRaw(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_units").as("n_suppliers"),
          col("sum_value").as("sum_cents"), col("hhi"))
    }),
      """WITH r AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        |    sum(floor(l.l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT)
        |      AS cents
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |g AS (SELECT nk, count(*)::BIGINT AS n_suppliers,
        |    sum(cents)::BIGINT AS sum_cents,
        |    sum(cents::HUGEINT * cents::HUGEINT) AS q FROM r GROUP BY 1)
        |SELECT n.n_name AS nation, g.n_suppliers, g.sum_cents,
        |  round(g.q::DOUBLE
        |    / (g.sum_cents::DOUBLE * g.sum_cents::DOUBLE), 6) AS hhi
        |FROM g JOIN nation n ON g.nk = n.n_nationkey""".stripMargin),

    // --- GLOBAL Gini via the two-phase distributed rank --------------------------
    // The lake-scale form of q174: one worldwide coefficient with NO
    // single-partition window — range-partitioned sort + zipWithIndex
    // global ordinals, moments folded exactly as the grouped form.
    QuerySpec("q184_global_gini", ((s, d) => {
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
          .cast("long")).as("cents"))
      Concentration.giniGlobal(rev, "o_custkey", "cents")
    }),
      """WITH r AS (SELECT o_custkey AS ck,
        |    sum(floor(o_totalprice * 100 + 0.5::DOUBLE)::BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |w AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, ck) AS i FROM r),
        |g AS (SELECT count(*)::BIGINT AS n_cust,
        |    sum(cents)::BIGINT AS sum_cents,
        |    sum(i::HUGEINT * cents::HUGEINT) AS t FROM w)
        |SELECT n_cust AS n_units, sum_cents AS sum_value,
        |  round((2::HUGEINT * t
        |      - (n_cust + 1)::HUGEINT * sum_cents::HUGEINT)::DOUBLE
        |    / (n_cust::DOUBLE * sum_cents::DOUBLE), 6) AS gini
        |FROM g""".stripMargin),
  )
}
