package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Learning and statistics: ALS, Naive Bayes, PCA, regression, feature
  * preparation, conformal intervals, clustering quality and A/B tests. */
private[graft] object LearningQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- per-label centroids + distance-to-prototype (outlier score) ----
    // Element-wise mean embedding per label (posexplode → one (label,
    // pos) aggregate → deterministic re-assembly), then every vector's
    // cosine to its own class prototype — the embedding-space outlier /
    // label-noise detector. Centroid table is |labels| rows → broadcast.
    QuerySpec("q89_label_centroids", ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      val cent = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos").agg(avg(col("x")).as("m"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
      e.join(cent.hint("broadcast"), Seq("label"))
        .select(col("vec_id"), col("label"),
          round(graft.functions.VectorFunctions.cosine(col("v"), col("centroid")), 6)
            .as("cos_centroid"))
    }),
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT label, i, avg(v[i]) AS m
        |  FROM e CROSS JOIN (SELECT unnest(range(1,
        |    (SELECT max(len(v)) FROM e) + 1)) AS i) idx
        |  GROUP BY 1, 2),
        |c AS (SELECT label, list(m ORDER BY i) AS cent FROM p GROUP BY 1)
        |SELECT vec_id, e.label, round(${cosSql("e.v", "c.cent")}, 6) AS cos_centroid
        |FROM e JOIN c ON e.label = c.label""".stripMargin),

    // --- seeded negative sampling (contrastive training pairs) ----------
    // For each of the 20 eval queries: 5 negatives from the query's hash
    // pool (1/8 corpus slice), excluding itself and its co-label
    // positives; ranked by md5(seed:query:cand) so the draw is a pure
    // function of the pair and the oracle replays it exactly.
    QuerySpec("q84_negative_sample", ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 20).select(col("vec_id").as("query_id"))
      val corpus = e.select(col("vec_id").as("cand_id"))
      val pos = coLabelTruth(s, d)
        .select(col("query_id"), col("item").as("cand_id"))
      Sampling.negativeSamples(q, corpus, pos, 5, 8, "42")
    }),
      """WITH e AS (SELECT vec_id, label FROM embeddings),
        |q AS (SELECT vec_id AS query_id FROM e WHERE vec_id < 20),
        |pos AS (SELECT a.vec_id AS query_id, b.vec_id AS cand
        |        FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
        |        WHERE a.vec_id < 20),
        |pool AS (SELECT vec_id AS cand,
        |    CAST('0x' || substr(md5('42:' || vec_id::VARCHAR), 1, 15) AS BIGINT) % 8 AS p
        |  FROM e),
        |elig AS (SELECT query_id, cand FROM q JOIN pool ON pool.p = q.query_id % 8
        |         WHERE cand != query_id),
        |neg AS (SELECT g.query_id, g.cand FROM elig g
        |        ANTI JOIN pos ON pos.query_id = g.query_id AND pos.cand = g.cand),
        |r AS (SELECT query_id, cand AS neg_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY md5('42:' || query_id::VARCHAR || ':' || cand::VARCHAR), cand) AS rnk
        |  FROM neg)
        |SELECT query_id, neg_id, rnk FROM r WHERE rnk <= 5""".stripMargin),

    // --- per-group winsorization (exact-percentile outlier capping) ------
    // Feature prep: clamp value to its event_type's [p01, p99]. The
    // percentile is exact R-7 interpolation computed via window rank —
    // never `percentile()`'s whole-group aggregation buffer, so a mega
    // group spills instead of OOMing (FeaturePrep Scaladoc).
    QuerySpec("q106_winsorize", ((s, d) =>
      FeaturePrep.winsorize(
        Tables.events(s, d).select(col("event_type"), col("event_id"), col("value")),
        "event_type", "value", 0.01, 0.99, Seq("event_id"))
        .select(col("event_type"), col("event_id"),
          round(col("value_w"), 6).as("value_w"), col("clipped"))),
      """WITH b AS (SELECT event_type, quantile_cont(value, 0.01) AS lo,
        |    quantile_cont(value, 0.99) AS hi FROM events GROUP BY 1)
        |SELECT e.event_type, e.event_id,
        |  round(greatest(b.lo, least(b.hi, e.value)), 6) AS value_w,
        |  (e.value < b.lo OR e.value > b.hi) AS clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin),

    // --- ALS matrix factorization (model-based CF arm) ---------------------
    // MLlib's blocked ALS over the customer×part interaction set with
    // PLANTED additive structure (rating = user%7 + item%5 + 1 — rank-2,
    // the q55 planted-signal pattern): the contract is RECOVERY, ALS's
    // held-out RMSE under half the global-mean baseline's. Counts are
    // hash-split-deterministic and oracle-replayed; RMSE itself is
    // float-reduction noisy and never exposed.
    // Interaction set + planted rating come from AlsCf.Store.ratings —
    // the SAME definition q129's factor training uses, so the two can
    // never silently diverge.
    QuerySpec("q114_als_mf", ((s, d) => AlsCf.fitEval(AlsCf.Store.ratings(s, d))),
      // Counts replay the deterministic hash split exactly; the recovery
      // boolean is the in-plan contract (TRUE literal here, computed there).
      """WITH inter AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |b AS (SELECT u, i, CAST('0x' || substr(md5('als:' || u::VARCHAR
        |    || ':' || i::VARCHAR), 1, 15) AS BIGINT) % 100 AS bk FROM inter),
        |tr AS (SELECT u, i FROM b WHERE bk < 80),
        |te AS (SELECT u, i FROM b WHERE bk >= 80),
        |ev AS (SELECT te.u, te.i FROM te
        |  SEMI JOIN (SELECT DISTINCT u FROM tr) tu ON te.u = tu.u
        |  SEMI JOIN (SELECT DISTINCT i FROM tr) ti ON te.i = ti.i)
        |SELECT (SELECT count(*) FROM tr)::BIGINT AS n_train,
        |  (SELECT count(*) FROM te)::BIGINT AS n_test,
        |  (SELECT count(*) FROM ev)::BIGINT AS n_eval,
        |  TRUE AS als_beats_baseline""".stripMargin,
      heavy = true),

    // --- exact-arithmetic correlation matrix (profiling audit) ------------
    // Pearson correlations over the lineitem money/quantity columns with
    // DECIMAL(38,0) sufficient statistics: bit-identical across runs and
    // partitionings, unlike corr()'s float accumulator.
    QuerySpec("q115_corr_matrix", ((s, d) =>
      DataQuality.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"), 100.0)),
      """WITH f AS (SELECT floor(l_quantity * 100 + 0.5::DOUBLE)::BIGINT AS q,
        |    floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT AS p,
        |    floor(l_discount * 100 + 0.5::DOUBLE)::BIGINT AS d FROM lineitem),
        |s AS (SELECT count(*)::HUGEINT AS n,
        |    sum(q::HUGEINT) AS sq, sum(p::HUGEINT) AS sp, sum(d::HUGEINT) AS sd,
        |    sum(q::HUGEINT * q::HUGEINT) AS sqq, sum(p::HUGEINT * p::HUGEINT) AS spp,
        |    sum(d::HUGEINT * d::HUGEINT) AS sdd, sum(q::HUGEINT * p::HUGEINT) AS sqp,
        |    sum(q::HUGEINT * d::HUGEINT) AS sqd, sum(p::HUGEINT * d::HUGEINT) AS spd
        |  FROM f)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n::BIGINT AS n,
        |  round((n*sqp - sq*sp)::DOUBLE /
        |    (sqrt((n*sqq - sq*sq)::DOUBLE) * sqrt((n*spp - sp*sp)::DOUBLE)), 6) AS corr
        |FROM s
        |UNION ALL
        |SELECT 'l_quantity', 'l_discount', n::BIGINT,
        |  round((n*sqd - sq*sd)::DOUBLE /
        |    (sqrt((n*sqq - sq*sq)::DOUBLE) * sqrt((n*sdd - sd*sd)::DOUBLE)), 6)
        |FROM s
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', n::BIGINT,
        |  round((n*spd - sp*sd)::DOUBLE /
        |    (sqrt((n*spp - sp*sp)::DOUBLE) * sqrt((n*sdd - sd*sd)::DOUBLE)), 6)
        |FROM s""".stripMargin),

    // --- out-of-fold target encoding (leakage-safe categorical) -----------
    QuerySpec("q118_target_encode", ((s, d) => {
      val df = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          (col("o_orderstatus") === "F").cast("int").as("label"))
      FeaturePrep.targetEncode(df, "o_orderkey", "c_mktsegment", "label", 5, 10.0)
    }),
      // te = ONE double division per row over exact integer sums; the prior
      // mean is a single double both engines compute identically.
      """WITH t AS (SELECT o_orderkey AS k, c_mktsegment AS cat,
        |    (o_orderstatus = 'F')::BIGINT AS y,
        |    CAST('0x' || substr(md5('te:' || o_orderkey::VARCHAR), 1, 15)
        |      AS BIGINT) % 5 AS fold
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |pf AS (SELECT cat, fold, sum(y)::BIGINT AS fs, count(*)::BIGINT AS fc
        |  FROM t GROUP BY 1, 2),
        |pc AS (SELECT cat, sum(fs)::BIGINT AS ts, sum(fc)::BIGINT AS tc
        |  FROM pf GROUP BY 1),
        |pr AS (SELECT sum(y)::DOUBLE / count(*)::DOUBLE AS mu FROM t)
        |SELECT t.k AS o_orderkey, t.cat AS c_mktsegment, t.fold,
        |  ((pc.ts - pf.fs)::DOUBLE + 10.0::DOUBLE * pr.mu) /
        |    ((pc.tc - pf.fc)::DOUBLE + 10.0::DOUBLE) AS te
        |FROM t JOIN pf ON t.cat = pf.cat AND t.fold = pf.fold
        |JOIN pc ON t.cat = pc.cat CROSS JOIN pr""".stripMargin),

    // --- hashing-trick sparse features (no vocabulary pass) ---------------
    QuerySpec("q119_feature_hash", ((s, d) =>
      FeaturePrep.featureHash(Tables.documents(s, d), "doc_id", "text", 1024)),
      s"""WITH $toksCte,
        |x AS (SELECT doc_id, unnest(tk) AS tok FROM toks)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS idx,
        |  count(*)::BIGINT AS cnt
        |FROM x GROUP BY 1, 2""".stripMargin,
      heavy = true),

    // --- equal-frequency quantile binning (exact edges) -------------------
    // Per-returnflag price deciles via deterministic ntile over the
    // (value, unique-key) total order — the empirical quantile table a
    // trainer bakes into its feature map.
    QuerySpec("q121_quantile_bins", ((s, d) =>
      FeaturePrep.quantileBins(
        Tables.lineitem(s, d).withColumn("__tie",
          col("l_orderkey") * lit(8L) + col("l_linenumber")),
        "l_extendedprice", "__tie", 10, Some("l_returnflag"))),
      """WITH t AS (SELECT l_returnflag, l_extendedprice,
        |    l_orderkey * 8 + l_linenumber AS tie FROM lineitem),
        |b AS (SELECT l_returnflag, l_extendedprice,
        |    ntile(10) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, tie) AS bin FROM t)
        |SELECT l_returnflag, bin, count(*)::BIGINT AS cnt,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin),

    // --- chi-squared feature relevance (segment ⟂ order status?) ----------
    QuerySpec("q123_chi2", ((s, d) =>
      DataQuality.chi2(
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderstatus")),
        "c_mktsegment", "o_orderstatus")),
      // Exact integer contingency; e is one double expression, contribs
      // fixed-point-snap at 1e-9 before the (exact long) total.
      """WITH t AS (SELECT c_mktsegment AS cat, o_orderstatus AS lab
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |o AS (SELECT cat, lab, count(*)::BIGINT AS o FROM t GROUP BY 1, 2),
        |rt AS (SELECT cat, sum(o)::BIGINT AS rt FROM o GROUP BY 1),
        |ct AS (SELECT lab, sum(o)::BIGINT AS ct FROM o GROUP BY 1),
        |n AS (SELECT sum(o)::BIGINT AS n FROM o),
        |ce AS (SELECT o.cat, o.lab, o.o,
        |    (rt.rt::HUGEINT * ct.ct::HUGEINT)::DOUBLE / n.n::DOUBLE AS e
        |  FROM o JOIN rt USING (cat) JOIN ct USING (lab) CROSS JOIN n),
        |cc AS (SELECT cat, lab, o, e,
        |    floor((o::DOUBLE - e) * (o::DOUBLE - e) / e * 1e9
        |      + 0.5::DOUBLE)::BIGINT AS c FROM ce)
        |SELECT cat AS c_mktsegment, lab AS o_orderstatus, o, e,
        |  c / 1e9 AS contrib, sum(c) OVER () / 1e9 AS chi2_total
        |FROM cc""".stripMargin),

    // --- exact covariance sufficient statistics (PCA pass 1) --------------
    // The oracle replays the full mechanism at 16 dims; q125 runs the
    // same operator at 64. One scan, one wide aggregate, zero joins.
    QuerySpec("q124_cov_stats", ((s, d) =>
      Pca.covarianceStats(Tables.embeddings(s, d), "embedding", 16)),
      // The 1e-6 snapped grid makes every sum an exact integer; cov is one
      // double division per cell, identical on both engines.
      """WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> floor(x * 1000000.0 + 0.5::DOUBLE)::BIGINT) AS f
        |  FROM embeddings),
        |x AS (SELECT vec_id, unnest(range(0, 16)) AS i, f FROM e),
        |v AS (SELECT vec_id, i, f[i + 1] AS v FROM x),
        |pr AS (SELECT a.i AS i, b.i AS j,
        |    sum(a.v::HUGEINT * b.v::HUGEINT) AS s_ij
        |  FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY 1, 2),
        |sm AS (SELECT i, sum(v)::BIGINT AS s FROM v GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM e)
        |SELECT p.i, p.j, nn.n::BIGINT AS n,
        |  si.s::BIGINT AS s_i, sj.s::BIGINT AS s_j,
        |  p.s_ij::BIGINT AS s_ij,
        |  (nn.n * p.s_ij - si.s::HUGEINT * sj.s::HUGEINT)::DOUBLE /
        |    (nn.n * (nn.n - 1))::DOUBLE AS cov
        |FROM pr p JOIN sm si ON p.i = si.i JOIN sm sj ON p.j = sj.i
        |CROSS JOIN nn""".stripMargin),

    // --- PCA 64→8: exact covariance → driver eigh → broadcast project ----
    QuerySpec("q125_pca", ((s, d) =>
      Pca.pcaDigest(Tables.embeddings(s, d), "vec_id", "embedding", 64, 8)),
      // Eigenvectors are float driver-side work (q34 pattern): the oracle
      // pins shape; orthonormality/ordering/Bessel are earned in-plan.
      """SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |  64 AS dim_in, 8 AS dim_out, true AS orthonormal_ok,
        |  true AS eigen_ok, true AS bessel_ok""".stripMargin),

    // --- ALS top-N serving from the persisted factor store ----------------
    // Completes the factorization loop: q114 proves the model learns;
    // here the persisted factors serve ranked recommendations (broadcast
    // user factors × streamed item factors, zip_with dot product,
    // per-user window, seen-item anti-join) — gated by in-plan contracts.
    QuerySpec("q129_als_serve", ((s, d) => {
      // user filter FIRST: o_custkey < 50 pushes into the orders scan,
      // so serve-time work scales with the query users, not the corpus
      // (seen-item exclusion only needs THESE users' interactions)
      val inter = AlsCf.Store.ratings(s, d).where(col("user") < 50)
        .select(col("user"), col("item")).localCheckpoint()
      val users = inter.select("user").distinct()
      val served = AlsCf.serveTopN(users,
        AlsCf.Store.userFactors(s, d), AlsCf.Store.itemFactors(s, d),
        inter, 10)
      served
        .withColumn("prev", lag("score", 1).over(
          Window.partitionBy("user").orderBy("rnk")))
        .join(inter.withColumn("__seen", lit(1)), Seq("user", "item"), "left")
        .agg(countDistinct("user").as("n_users"), count(lit(1)).as("n_rows"),
          sum(when(col("prev").isNotNull && col("prev") < col("score"), 1)
            .otherwise(0)).as("__bad_sort"),
          sum(coalesce(col("__seen"), lit(0))).as("__seen_cnt"))
        .select(col("n_users"),
          (col("n_rows") === col("n_users") * 10).as("rows_ok"),
          (col("__bad_sort") === 0).as("sorted_ok"),
          (col("__seen_cnt") === 0).as("unseen_ok"))
    }),
      // Factor values are training floats (q34 pattern): the oracle pins
      // the query-user count; ranking/coverage/no-seen are earned in-plan.
      """SELECT (SELECT count(DISTINCT o_custkey) FROM orders
        |    JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE o_custkey < 50)::BIGINT AS n_users,
        |  true AS rows_ok, true AS sorted_ok, true AS unseen_ok""".stripMargin,
      setup = Some((s, d) => AlsCf.Store.ensure(s, d))),

    // --- Naive Bayes language classifier (training = relational algebra) --
    // The model is two count tables, training one groupBy over the 80%
    // hash split, inference a token⋈model join with fixed-point log
    // sums; predictions replay bit-exactly on any engine.
    QuerySpec("q133_naive_bayes", ((s, d) => {
      val docs = Tables.documents(s, d)
      val bucket = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("nb:"), col("doc_id").cast("string"))), lit(5L))
      NaiveBayes.classify(docs.where(bucket =!= 0), docs.where(bucket === 0),
        "doc_id", "text", "lang")
    }),
      // Training counts are exact integers; each Laplace log-likelihood is
      // one ln on an integer-derived ratio, snapped to 1e-9 before the
      // per-doc sum (the q85 ln-parity discipline); argmax ties on cls.
      """WITH b AS (SELECT doc_id, text, lang,
        |    CAST('0x' || substr(md5('nb:' || doc_id::VARCHAR), 1, 15)
        |      AS BIGINT) % 5 AS bk FROM documents),
        |trn AS (SELECT * FROM b WHERE bk != 0),
        |tst AS (SELECT * FROM b WHERE bk = 0),
        |ttk AS (SELECT lang AS cls,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t != '')) AS tok FROM trn),
        |cnt AS (SELECT cls, tok, count(*)::BIGINT AS c FROM ttk GROUP BY 1, 2),
        |tt AS (SELECT cls, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
        |vv AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM cnt),
        |pri AS (SELECT lang AS cls, count(*)::BIGINT AS nd FROM trn GROUP BY 1),
        |nt AS (SELECT count(*)::BIGINT AS ntot FROM trn),
        |cc AS (SELECT p.cls, tt.t, vv.v,
        |    floor(ln(p.nd::DOUBLE / nt.ntot::DOUBLE) * 1e9
        |      + 0.5::DOUBLE)::BIGINT AS prior_n
        |  FROM pri p JOIN tt USING (cls) CROSS JOIN vv CROSS JOIN nt),
        |stk AS (SELECT doc_id, lang AS actual,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t != '')) AS tok FROM tst),
        |sc AS (SELECT k.doc_id, k.actual, cc.cls,
        |    floor(ln((coalesce(c.c, 0) + 1)::DOUBLE / (cc.t + cc.v)::DOUBLE)
        |      * 1e9 + 0.5::DOUBLE)::BIGINT AS ll_n
        |  FROM stk k CROSS JOIN cc
        |  LEFT JOIN cnt c ON c.cls = cc.cls AND c.tok = k.tok),
        |ds AS (SELECT doc_id, actual, cls, sum(ll_n)::BIGINT AS ll
        |  FROM sc GROUP BY 1, 2, 3),
        |fin AS (SELECT ds.doc_id, ds.actual, ds.cls,
        |    row_number() OVER (PARTITION BY ds.doc_id
        |      ORDER BY ds.ll + c2.prior_n DESC, ds.cls) AS rn
        |  FROM ds JOIN cc c2 ON ds.cls = c2.cls)
        |SELECT doc_id, cls AS pred, actual, cls = actual AS correct
        |FROM fin WHERE rn = 1""".stripMargin),

    // --- training-feature-matrix capstone ---------------------------------
    // The assembled per-order training row a downstream trainer reads:
    // leakage-safe target encoding (q118's operator), per-segment price
    // decile (exact ntile), basket size, binary label. One composition,
    // fully oracle-replayed.
    QuerySpec("q135_feature_matrix", ((s, d) => {
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
          (col("o_orderstatus") === "F").cast("int").as("label"))
      val te = FeaturePrep.targetEncode(base, "o_orderkey", "c_mktsegment",
        "label", 5, 10.0).select(col("o_orderkey"), col("te"))
      val items = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      base.join(te, Seq("o_orderkey"))
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .withColumn("price_bin", ntile(10).over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)))
        .select(col("o_orderkey"), col("c_mktsegment"), col("te"),
          col("price_bin"), col("n_items"), col("label"))
    }),
      """WITH base AS (SELECT o_orderkey AS k, c_mktsegment AS cat,
        |    o_totalprice, (o_orderstatus = 'F')::BIGINT AS y,
        |    CAST('0x' || substr(md5('te:' || o_orderkey::VARCHAR), 1, 15)
        |      AS BIGINT) % 5 AS fold
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |pf AS (SELECT cat, fold, sum(y)::BIGINT AS fs, count(*)::BIGINT AS fc
        |  FROM base GROUP BY 1, 2),
        |pc AS (SELECT cat, sum(fs)::BIGINT AS ts, sum(fc)::BIGINT AS tc
        |  FROM pf GROUP BY 1),
        |pr AS (SELECT sum(y)::DOUBLE / count(*)::DOUBLE AS mu FROM base),
        |it AS (SELECT l_orderkey, count(*)::BIGINT AS n_items
        |  FROM lineitem GROUP BY 1)
        |SELECT b.k AS o_orderkey, b.cat AS c_mktsegment,
        |  ((pc.ts - pf.fs)::DOUBLE + 10.0::DOUBLE * pr.mu) /
        |    ((pc.tc - pf.fc)::DOUBLE + 10.0::DOUBLE) AS te,
        |  ntile(10) OVER (PARTITION BY b.cat
        |    ORDER BY b.o_totalprice, b.k) AS price_bin,
        |  it.n_items, b.y::INT AS label
        |FROM base b JOIN pf ON b.cat = pf.cat AND b.fold = pf.fold
        |JOIN pc ON b.cat = pc.cat CROSS JOIN pr
        |JOIN it ON b.k = it.l_orderkey""".stripMargin),

    // --- CUPED variance-reduced A/B readout -------------------------------
    // Hash-assigned arms over event users; pre-period (Jan 1-14) value
    // sums are the covariate, post-period the metric. Per-event values
    // snap to cents BEFORE summing, so every sufficient statistic is an
    // exact integer and θ/x̄/means are a fixed handful of double ops.
    QuerySpec("q132_cuped", ((s, d) => {
      val cut = lit("2024-01-15").cast("timestamp")
      val cents = floor(col("value") * lit(100) + lit(0.5)).cast("long")
      val perUnit = Tables.events(s, d)
        .groupBy(col("user_id"),
          pmod(graft.functions.TextFunctions.hash60(
            concat(lit("ab:"), col("user_id").cast("string"))), lit(2L))
            .as("arm"))
        .agg(sum(when(col("ts") < cut, cents).otherwise(lit(0L))).as("xs"),
          sum(when(col("ts") >= cut, cents).otherwise(lit(0L))).as("ys"))
      Experiment.cuped(perUnit, 100.0)
    }),
      """WITH pu AS (SELECT user_id,
        |    CAST('0x' || substr(md5('ab:' || user_id::VARCHAR), 1, 15)
        |      AS BIGINT) % 2 AS arm,
        |    sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
        |      THEN floor(value * 100 + 0.5::DOUBLE)::BIGINT ELSE 0 END) AS xs,
        |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
        |      THEN floor(value * 100 + 0.5::DOUBLE)::BIGINT ELSE 0 END) AS ys
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT count(*)::HUGEINT AS n, sum(xs::HUGEINT) AS sx,
        |  sum(ys::HUGEINT) AS sy, sum(xs::HUGEINT * xs::HUGEINT) AS sxx,
        |  sum(xs::HUGEINT * ys::HUGEINT) AS sxy FROM pu),
        |th AS (SELECT (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE AS theta,
        |  sx::DOUBLE / n::DOUBLE AS xbar FROM g),
        |a AS (SELECT arm, count(*)::BIGINT AS n_units, sum(xs)::BIGINT AS sax,
        |  sum(ys)::BIGINT AS say FROM pu GROUP BY 1)
        |SELECT arm, n_units,
        |  (say::DOUBLE / n_units::DOUBLE) / 100.0::DOUBLE AS mean_y,
        |  ((say::DOUBLE / n_units::DOUBLE) - th.theta *
        |    ((sax::DOUBLE / n_units::DOUBLE) - th.xbar)) / 100.0::DOUBLE AS adj_mean,
        |  th.theta AS theta
        |FROM a CROSS JOIN th""".stripMargin),

    // --- per-group OLS regression (exact sufficient statistics) -----------
    // Price-vs-quantity trend per returnflag: slope/intercept from
    // DECIMAL(38,0)-exact sums (regr_slope's double accumulator is
    // partition-order-dependent — unusable under a hash-match gate).
    QuerySpec("q142_grouped_ols", ((s, d) =>
      Regression.groupedOls(Tables.lineitem(s, d), "l_returnflag",
        "l_quantity", "l_extendedprice", 1.0, 100.0)),
      """WITH f AS (SELECT l_returnflag AS g,
        |    floor(l_quantity * 1.0::DOUBLE + 0.5::DOUBLE)::BIGINT AS x,
        |    floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT AS y
        |  FROM lineitem),
        |s AS (SELECT g, count(*)::HUGEINT AS n, sum(x::HUGEINT) AS sx,
        |    sum(y::HUGEINT) AS sy, sum(x::HUGEINT * y::HUGEINT) AS sxy,
        |    sum(x::HUGEINT * x::HUGEINT) AS sxx
        |  FROM f GROUP BY 1),
        |t AS (SELECT g, n, sx, sy,
        |    CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
        |      THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
        |        * 0.01::DOUBLE END AS slope
        |  FROM s)
        |SELECT g AS l_returnflag, n::BIGINT AS n, round(slope, 6) AS slope,
        |  round(CASE WHEN slope IS NOT NULL THEN
        |    sy::DOUBLE / n::DOUBLE / 100.0::DOUBLE
        |      - slope * (sx::DOUBLE / n::DOUBLE / 1.0::DOUBLE) END, 6)
        |    AS intercept
        |FROM t""".stripMargin),

    // --- centroid silhouette: is the label partition geometrically real? ---------
    // a = distance to own prototype, b = nearest other prototype,
    // s = (b−a)/max(a,b) — the O(n·|labels|) scale form of the O(n²)
    // silhouette. Prototypes and distances snap to 6 dp before any
    // compare, so both engines branch identically.
    QuerySpec("q187_silhouette", ((s, d) =>
      ClusterEval.centroidSilhouette(
        Tables.embeddings(s, d), "vec_id", "label", "embedding")),
      // prototypes round to 6 dp BEFORE distances, distances round to
      // 6 dp BEFORE the a/b compare — mirrors ClusterEval exactly
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT label, i, avg(v[i]) AS m
        |  FROM e CROSS JOIN (SELECT unnest(range(1,
        |    (SELECT max(len(v)) FROM e) + 1)) AS i) idx
        |  GROUP BY 1, 2),
        |c AS (SELECT label, list(round(m, 6) ORDER BY i) AS cent FROM p GROUP BY 1),
        |d AS (SELECT e.vec_id, e.label, c.label AS clabel,
        |    round(sqrt(list_sum(list_transform(range(1, len(e.v) + 1),
        |      i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i])))), 6) AS d
        |  FROM e CROSS JOIN c),
        |per AS (SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN d END) AS a,
        |    min(CASE WHEN clabel != label THEN d END) AS b
        |  FROM d GROUP BY 1, 2),
        |s AS (SELECT label, CASE WHEN greatest(a, b) = 0 THEN 0.0
        |    ELSE (b - a) / greatest(a, b) END AS sil FROM per)
        |SELECT label, count(*)::BIGINT AS n, round(avg(sil), 6) AS mean_sil
        |FROM s GROUP BY 1""".stripMargin),

    // --- split-conformal prediction intervals ------------------------------------
    // Distribution-free ŷ ± q̂ coverage: per-quantity train-fold mean as
    // the predictor, q̂ = ⌈(n_cal+1)·0.9⌉-th smallest calibration
    // residual (integer order statistic over snapped cents — no float
    // quantile anywhere), audited by the test-fold coverage table.
    QuerySpec("q189_conformal", ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("qty_group"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"),
        pmod(col("l_orderkey"), lit(4)).as("fold"))
      Calibrate.conformalSplit(li, "qty_group", "cents", "fold")
    }),
      // integer order statistic: k = ceil((n_cal+1)*0.9) over snapped
      // residual units — no float quantile interpolation on either side
      """WITH b AS (SELECT l_quantity::BIGINT AS g,
        |    floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT AS cents,
        |    l_orderkey % 4 AS fold FROM lineitem),
        |m AS (SELECT g, sum(cents)::DOUBLE / count(*)::DOUBLE AS yhat
        |  FROM b WHERE fold <= 1 GROUP BY 1),
        |cal AS (SELECT floor(abs(b.cents::DOUBLE - m.yhat) * 100 + 0.5::DOUBLE)::BIGINT AS ru
        |  FROM b JOIN m USING (g) WHERE fold = 2),
        |k AS (SELECT ((count(*) + 1) * 90 + 99) // 100 AS k FROM cal),
        |byv AS (SELECT ru, count(*)::BIGINT AS c FROM cal GROUP BY 1),
        |cum AS (SELECT ru, sum(c) OVER (ORDER BY ru) AS cum FROM byv),
        |qh AS (SELECT min(ru) AS qhat_u FROM cum CROSS JOIN k WHERE cum >= k.k),
        |test AS (SELECT b.g,
        |    floor(abs(b.cents::DOUBLE - m.yhat) * 100 + 0.5::DOUBLE)::BIGINT AS ru
        |  FROM b JOIN m USING (g) WHERE fold = 3)
        |SELECT g AS qty_group, count(*)::BIGINT AS n_test,
        |  count(CASE WHEN ru <= qh.qhat_u THEN 1 END)::BIGINT AS n_covered,
        |  round(count(CASE WHEN ru <= qh.qhat_u THEN 1 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS coverage,
        |  qh.qhat_u::DOUBLE / 100.0 AS qhat
        |FROM test CROSS JOIN qh GROUP BY 1, qh.qhat_u""".stripMargin),

    // --- Wald SPRT early stopping (sequential A/B) -------------------------------
    // Per segment, the running Bernoulli log-likelihood ratio of
    // "purchase share ≥ 0.20" vs "≤ 0.15" with α = β = 0.05; both log
    // terms and both thresholds are 1e-9-snapped integer literals, so
    // the prefix sum is exact and the first-crossing index replays on
    // any engine.
    QuerySpec("q190_sprt", ((s, d) =>
      Experiment.sprt(
        // NULL user/ts rows are excluded on BOTH engines: the two
        // disagree on default NULL placement in window orders
        Tables.events(s, d)
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(
            pmod(col("user_id"), lit(10)).as("seg"),
            (col("event_type") === "purchase").cast("int").as("x"),
            col("ts"), col("event_id")),
        "seg", "x", "ts", "event_id", 0.15, 0.20)),
      {
        // the SAME 1e-9-snapped integer weights/thresholds the Spark side
        // computes (identical Scala expressions → identical literals)
        val w1 = math.round(math.log(0.20 / 0.15) * 1e9)
        val w0 = math.round(math.log((1 - 0.20) / (1 - 0.15)) * 1e9)
        val hi = math.round(math.log((1 - 0.05) / 0.05) * 1e9)
        val lo = math.round(math.log(0.05 / (1 - 0.05)) * 1e9)
        s"""WITH obs AS (SELECT user_id % 10 AS segment,
          |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
          |    ts, event_id FROM events
          |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
          |r AS (SELECT segment, x,
          |    count(*) OVER (PARTITION BY segment ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS step,
          |    sum(CASE WHEN x = 1 THEN $w1 ELSE $w0 END)
          |      OVER (PARTITION BY segment ORDER BY ts, event_id
          |        ROWS UNBOUNDED PRECEDING) AS llr
          |  FROM obs),
          |cr AS (SELECT segment, step, llr FROM r
          |  WHERE llr >= $hi OR llr <= $lo),
          |fc AS (SELECT segment, min(step) AS fstep FROM cr GROUP BY 1),
          |fl AS (SELECT r.segment, r.step, r.llr FROM r
          |  JOIN fc ON r.segment = fc.segment AND r.step = fc.fstep),
          |ls AS (SELECT segment, max(step) AS lstep FROM r GROUP BY 1),
          |ll AS (SELECT r.segment, r.llr FROM r
          |  JOIN ls ON r.segment = ls.segment AND r.step = ls.lstep),
          |g AS (SELECT segment, count(*)::BIGINT AS n_obs,
          |    sum(x)::BIGINT AS n_pos FROM obs GROUP BY 1)
          |SELECT g.segment, g.n_obs, g.n_pos,
          |  CASE WHEN fl.llr IS NULL THEN 'continue'
          |       WHEN fl.llr >= $hi THEN 'accept_h1'
          |       ELSE 'accept_h0' END AS decision,
          |  fl.step AS first_cross_step,
          |  round(ll.llr::DOUBLE / 1e9, 6) AS llr_final
          |FROM g LEFT JOIN fl ON g.segment = fl.segment
          |JOIN ll ON g.segment = ll.segment""".stripMargin
      }),

    // --- difference-in-differences (quasi-experimental lift) ---------------------
    // Treated = nations 0-11, cutover 1996-01-01 on the order date:
    // (ΔT) − (ΔC) over order-value cents — one 4-cell aggregate, means
    // rounded before the fixed DiD expression.
    QuerySpec("q191_did", ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (col("o_orderdate") >= lit("1996-01-01")).as("post"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      val cust = Tables.customer(s, d).select(
        col("c_custkey").as("o_custkey"),
        (col("c_nationkey") < 12).as("treated"))
      Experiment.diffInDiff(o.join(cust, Seq("o_custkey")),
        "treated", "post", "cents")
    }),
      """WITH j AS (SELECT (c.c_nationkey < 12) AS treated,
        |    (o.o_orderdate >= DATE '1996-01-01') AS post,
        |    floor(o.o_totalprice * 100 + 0.5::DOUBLE)::BIGINT AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (SELECT treated, post, count(*)::BIGINT AS n,
        |    sum(cents)::BIGINT AS s FROM j GROUP BY 1, 2),
        |cm AS (SELECT treated, post, n,
        |    round(s::DOUBLE / n::DOUBLE, 6) AS mean_cents FROM cells),
        |d AS (SELECT round(
        |    max(CASE WHEN treated AND post THEN mean_cents END)
        |  - max(CASE WHEN treated AND NOT post THEN mean_cents END)
        |  - (max(CASE WHEN NOT treated AND post THEN mean_cents END)
        |    - max(CASE WHEN NOT treated AND NOT post THEN mean_cents END)),
        |    6) AS did FROM cm)
        |SELECT treated, post, n, mean_cents, did FROM cm CROSS JOIN d""".stripMargin),
  )
}
