package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** The reference recommender and its evaluation: parse, resolve, sample,
  * offline build, hybrid fusion (blend, RRF, MMR, α sweep), calibration,
  * ranking metrics and online-experiment readouts of the served lists. */
private[graft] object HybridQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- document-text projection (reference P2) on the parser fixture --
    QuerySpec("q17_product_text", ((s, d) => {
      import s.implicits._
      s.createDataset(stanzaFixture).flatMap(AmazonMetaParser.parseStanza _).toDF()
        .select(col("asin"), OfflineIndexBuild.productText(
          col("title"), col("group"), col("categories")).as("document"))
    }),
      """SELECT * FROM (VALUES
        |  ('A1', 'Alpha Beta | Group: Book | Category: |Books[1]|Fiction[2]'),
        |  ('A3', 'Gamma | Category: |CDs[9]'))
        |AS t(asin, document)""".stripMargin),

    // --- resolver / sampling / evaluation -------------------------------
    QuerySpec("q22_resolver_substr", ((s, d) => QueryResolver.resolve(
      Tables.documents(s, d)
        .select(col("doc_id").cast("string").as("asin"), col("text").as("title")),
      "hash value table")),
      """WITH items AS (SELECT doc_id::VARCHAR AS id, text AS title FROM documents),
        |cand AS (
        |  SELECT id, title, 'exact_id' AS matched_by, 0 AS prec FROM items WHERE id = 'hash value table'
        |  UNION ALL
        |  SELECT id, title, 'substring' AS matched_by, 1 AS prec FROM items
        |  WHERE title IS NOT NULL AND contains(lower(title), 'hash value table'))
        |SELECT id, title, matched_by FROM cand
        |ORDER BY prec, length(title), id LIMIT 1""".stripMargin),

    QuerySpec("q23_resolver_exact", ((s, d) => QueryResolver.resolve(
      Tables.documents(s, d)
        .select(col("doc_id").cast("string").as("asin"), col("text").as("title")),
      "42")),
      """WITH items AS (SELECT doc_id::VARCHAR AS id, text AS title FROM documents),
        |cand AS (
        |  SELECT id, title, 'exact_id' AS matched_by, 0 AS prec FROM items WHERE id = '42'
        |  UNION ALL
        |  SELECT id, title, 'substring' AS matched_by, 1 AS prec FROM items
        |  WHERE title IS NOT NULL AND contains(lower(title), '42'))
        |SELECT id, title, matched_by FROM cand
        |ORDER BY prec, length(title), id LIMIT 1""".stripMargin),

    QuerySpec("q24_sample_inv", ((s, d) =>
      Sampling.sampleInvariants(Tables.documents(s, d), "doc_id", 100, 42L)),
      "SELECT 100::BIGINT AS n_rows, 100::BIGINT AS n_distinct, true AS in_range"),

    QuerySpec("q25_precision", ((s, d) => {
      val queries = partQueries(s, d)
      val edges = basketEdgesFor(s, d, queries)
      val ranked = CfRetriever.topNFor(edges, queries, 20)
        .select(col("src").as("query_id"), col("dst").as("item"), col("rnk"))
      val truth = edges.where(col("weight") >= 2)
        .select(col("src").as("query_id"), col("dst").as("item"))
      Evaluation.precisionAtK(ranked, truth, Seq(5, 10))
    }),
      s"""WITH $basketCtes,
        |f AS (SELECT * FROM sym WHERE src IN (SELECT p_partkey FROM part WHERE p_partkey <= 100)),
        |ranked AS (SELECT src AS query_id, dst AS item,
        |    row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |  FROM f QUALIFY rnk <= 20),
        |truth AS (SELECT src AS query_id, dst AS item FROM sym WHERE weight >= 2),
        |hits AS (SELECT r.query_id, r.item, r.rnk FROM ranked r
        |         SEMI JOIN truth t ON r.query_id = t.query_id AND r.item = t.item),
        |q AS (SELECT DISTINCT query_id FROM ranked),
        |ks AS (SELECT unnest([5, 10]) AS k)
        |SELECT q.query_id, ks.k,
        |  count(CASE WHEN h.rnk <= ks.k THEN 1 END) AS hits,
        |  count(CASE WHEN h.rnk <= ks.k THEN 1 END)::DOUBLE / ks.k::DOUBLE AS "precision"
        |FROM q CROSS JOIN ks LEFT JOIN hits h ON q.query_id = h.query_id
        |GROUP BY 1, 2""".stripMargin),

    QuerySpec("q26_mean_precision", ((s, d) => {
      val queries = partQueries(s, d)
      val edges = basketEdgesFor(s, d, queries)
      val ranked = CfRetriever.topNFor(edges, queries, 20)
        .select(col("src").as("query_id"), col("dst").as("item"), col("rnk"))
      val truth = edges.where(col("weight") >= 2)
        .select(col("src").as("query_id"), col("dst").as("item"))
      Evaluation.meanPrecision(Evaluation.precisionAtK(ranked, truth, Seq(5, 10)))
        .withColumn("mean_precision", round(col("mean_precision"), 6))
    }),
      s"""WITH $basketCtes,
        |f AS (SELECT * FROM sym WHERE src IN (SELECT p_partkey FROM part WHERE p_partkey <= 100)),
        |ranked AS (SELECT src AS query_id, dst AS item,
        |    row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |  FROM f QUALIFY rnk <= 20),
        |truth AS (SELECT src AS query_id, dst AS item FROM sym WHERE weight >= 2),
        |hits AS (SELECT r.query_id, r.item, r.rnk FROM ranked r
        |         SEMI JOIN truth t ON r.query_id = t.query_id AND r.item = t.item),
        |q AS (SELECT DISTINCT query_id FROM ranked),
        |ks AS (SELECT unnest([5, 10]) AS k),
        |pq AS (SELECT q.query_id, ks.k,
        |    count(CASE WHEN h.rnk <= ks.k THEN 1 END)::DOUBLE / ks.k::DOUBLE AS prec
        |  FROM q CROSS JOIN ks LEFT JOIN hits h ON q.query_id = h.query_id
        |  GROUP BY 1, 2)
        |SELECT k, round(avg(prec), 6) AS mean_precision, count(*) AS n_queries
        |FROM pq GROUP BY 1""".stripMargin),

    // --- hybrid flagship (reference E2) ---------------------------------
    QuerySpec("q27_hybrid_topk", ((s, d) => hybridTopK(s, d)),
      s"""WITH $hybridCtes
        |SELECT query_id, item, round(cs, 6) AS cs, fs, round(fin, 6) AS "final", rnk
        |FROM r WHERE rnk <= 10""".stripMargin),

    // --- reciprocal-rank fusion (score-free hybrid) ----------------------
    // The q27 arms re-fused by rank instead of calibrated score:
    // rrf = Σ 1/(60 + rank_arm). Same full-outer shape as blend.
    QuerySpec("q74_rrf_fusion", ((s, d) => {
      val q = queryVecs(s, d)
      val content = ContentRetriever.topK(Tables.embeddings(s, d), q, 60)
        .select(col("query_id"), col("vec_id").as("item"), col("rnk"))
      val cf = coLabelCf(s, d, q)
        .select(col("src").as("query_id"), col("dst").as("item"), col("rnk"))
      HybridScorer.rrf(content, cf, 60, 10)
        .withColumn("rrf", round(col("rrf"), 6))
    }),
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS s
        |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
        |content AS (SELECT query_id, item,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, item) AS rr
        |  FROM sc QUALIFY rr <= 60),
        |cf AS (SELECT a.vec_id AS query_id, b.vec_id AS item,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY b.vec_id) AS rr
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
        |  WHERE a.vec_id < 20 QUALIFY rr <= 60),
        |fu AS (SELECT coalesce(c.query_id, g.query_id) AS query_id,
        |    coalesce(c.item, g.item) AS item,
        |    coalesce(c.rr, 0)::BIGINT AS content_rnk,
        |    coalesce(g.rr, 0)::BIGINT AS cf_rnk,
        |    coalesce(1.0::DOUBLE / (60 + c.rr), 0.0) +
        |      coalesce(1.0::DOUBLE / (60 + g.rr), 0.0) AS rrf
        |  FROM content c FULL OUTER JOIN cf g
        |    ON c.query_id = g.query_id AND c.item = g.item),
        |r AS (SELECT query_id, item, content_rnk, cf_rnk, rrf,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, item) AS rnk
        |  FROM fu)
        |SELECT query_id, item, content_rnk, cf_rnk, round(rrf, 6) AS rrf, rnk
        |FROM r WHERE rnk <= 10""".stripMargin),

    // --- E3: content-arm vs hybrid-arm Precision@K ----------------------
    // The reference's headline experiment (`Hybrid_Recom_vecdb.py:237-292`
    // + precision_k.png) evaluates BOTH retrieval arms against
    // co-purchase ground truth; round 1 only evaluated a CF-ranked list.
    // Here the full arms feed Evaluation.precisionAtK: truth = co-label
    // pairs (the corpus' stand-in for co-purchase neighbors).
    QuerySpec("q35_content_precision", ((s, d) => {
      val ranked = ContentRetriever.topK(Tables.embeddings(s, d), queryVecs(s, d), 20)
        .select(col("query_id"), col("vec_id").as("item"), col("rnk"))
      Evaluation.precisionAtK(ranked, coLabelTruth(s, d), Seq(5, 10))
    }),
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS sim
        |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
        |ranked AS (SELECT query_id, item,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, item) AS rnk
        |  FROM sc QUALIFY rnk <= 20),
        |$truthCte,
        |$precisionTail""".stripMargin),

    QuerySpec("q36_hybrid_precision", ((s, d) => {
      val ranked = hybridTopK(s, d).select(col("query_id"), col("item"), col("rnk"))
      Evaluation.precisionAtK(ranked, coLabelTruth(s, d), Seq(5, 10))
    }),
      s"""WITH $hybridCtes,
        |ranked AS (SELECT query_id, item, rnk FROM r WHERE rnk <= 10),
        |$truthCte,
        |$precisionTail""".stripMargin),

    // --- E2 composed end-to-end from a STRING (reference :384-410) ------
    // The reference's interactive path starts from free text: resolve →
    // embed the resolved title (a fitted-model transform of a 1-row
    // frame) → content + CF retrieval → blend. Round 1 had every part
    // but never the composition (verdict missing #2). Fixture corpus so
    // the ranking is frozen in a VALUES oracle; float scores are dropped
    // (rank order is the contract, MLlib hash values are not).
    QuerySpec("q38_hybrid_from_string", ((s, d) => {
      val products = e2Products(s)
      val docs = products.withColumn("document", OfflineIndexBuild.productText(
        col("title"), col("group"), col("categories")))
      val resolved = QueryResolver.resolve(products, "gamma")
      val model = Embedder.fit(docs, "document", 64)
      val index = Embedder.embed(model, docs)
        .select(col("asin").as("vec_id"), col("embedding"))
      val qvec = Embedder.embed(model,
          resolved.select(col("id").as("query_id"), col("title").as("document")))
        .select(col("query_id"), col("embedding").as("q_emb"))
      val content = ContentRetriever.topK(index, qvec, 60)
        .select(col("query_id"), col("vec_id").as("item"),
          clamp01(col("sim")).as("cs"))
      val edges = CoPurchaseGraph.fromSimilar(products)
      val cf = CfRetriever.topNFor(edges, resolved.select(col("id").as("query_id")), 60)
        .select(col("src").as("query_id"), col("dst").as("item"), col("norm").as("fs"))
      // J5 title-enrichment lookup on the blended output (reference :229
      // attaches asin_to_title to every scored candidate).
      HybridScorer.blend(content, cf, 0.6, 10)
        .join(broadcast(products.select(col("asin").as("item"),
          col("title").as("item_title"))), Seq("item"))
        .select(col("query_id"), col("item"), col("item_title"), col("rnk"))
    }),
      // Frozen expected ranking for the fixture corpus: the CF arm boosts
      // A1 (A3's co-purchase neighbor, fs=1) to rank 1; the content arm
      // orders the rest by TF-IDF cosine against "Gamma Guide", ties by id.
      """SELECT * FROM (VALUES
        |  ('A3', 'A1', 'Alpha Book', 1), ('A3', 'A2', 'Beta Book', 2),
        |  ('A3', 'A4', 'Delta Music', 3), ('A3', 'A5', 'Epsilon Music', 4),
        |  ('A3', 'A6', 'Zeta Film Café', 5))
        |AS t(query_id, item, item_title, rnk)""".stripMargin),

    // --- E1 offline build → parquet sinks → load roundtrip (S6/S7) ------
    // The reference's full offline pipeline (parse → sample → graph +
    // text → embed → vector-store sink, `Hybrid_Recom_vecdb.py:331-383`)
    // against real parquet sinks with overwrite (wipe-every-run)
    // semantics, then loaded back and digested. Round 1 covered this
    // unit-only (verdict S6/S7 rows).
    QuerySpec("q42_offline_build", ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-offline-e2"
      val arts = OfflineIndexBuild.run(e2Products(s), sampleN = 100,
        seed = 42L, dim = 64)
      OfflineIndexBuild.write(arts, dir)
      val loaded = OfflineIndexBuild.load(s, dir)
      val idx = loaded.index.agg(count(lit(1)).as("n_items"),
        min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"),
        count(when(col("document").isNull, 1)).as("null_docs"))
      val edg = loaded.edges.agg(count(lit(1)).as("n_edges"),
        sum(col("weight")).as("w_sum"))
      idx.crossJoin(edg).select(col("n_items"),
        (col("dmin") === 64 && col("dmax") === 64).as("dim_ok"),
        (col("null_docs") === 0).as("docs_ok"),
        col("n_edges"), col("w_sum"))
    }),
      // Fixture-derived constants: 6 products survive the sample (all of
      // them; sampleN > |corpus|), directed similar-edges (A1→A2, A1→A3,
      // A2→A1, A3→A1, A4→A5, A5→A4, A5→A1) = 7 edges of weight 1.
      """SELECT 6::BIGINT AS n_items, true AS dim_ok, true AS docs_ok,
        |  7::BIGINT AS n_edges, 7::BIGINT AS w_sum""".stripMargin),

    // --- A10: title→id dictionary with dedup-on-title -------------------
    // The reference's title_to_asin dict comprehension keeps the LAST
    // duplicate title (dict-order accident, `Hybrid_Recom_vecdb.py:348`);
    // we declare the deterministic min-id keep (SURVEY §2.5 A10 note).
    QuerySpec("q40_title_dict", ((s, d) => Tables.documents(s, d)
      .groupBy(col("text").as("title"))
      .agg(min(col("doc_id")).as("id"), count(lit(1)).as("n_dups"))),
      "SELECT text AS title, min(doc_id) AS id, count(*) AS n_dups FROM documents GROUP BY 1"),

    // --- S1/S2: REAL file read (gz, ISO-8859-1, header stanza) ----------
    // Round 1 only exercised parseStanza on in-memory strings (verdict
    // missing #3); this parses an actual gzipped dump through the
    // `lineSep="\nId:"` record-splitting path, header dropped because its
    // pseudo-stanza has no ASIN.
    QuerySpec("q41_parse_file", ((s, d) => {
      val path = e2FixturePath()
      AmazonMetaParser.parseToDf(s, path)
        .select(col("asin"), col("title"), col("group"),
          size(col("categories")).cast("long").as("n_categories"),
          size(col("similar")).cast("long").as("n_similar"))
    }),
      """SELECT * FROM (VALUES
        |  ('A1', 'Alpha Book', 'Book', 1::BIGINT, 2::BIGINT),
        |  ('A2', 'Beta Book', 'Book', 1::BIGINT, 1::BIGINT),
        |  ('A3', 'Gamma Guide', 'Book', 2::BIGINT, 1::BIGINT),
        |  ('A4', 'Delta Music', 'Music', 1::BIGINT, 1::BIGINT),
        |  ('A5', 'Epsilon Music', 'Music', 1::BIGINT, 2::BIGINT),
        |  ('A6', 'Zeta Film Café', 'Video', 1::BIGINT, 0::BIGINT))
        |AS t(asin, title, "group", n_categories, n_similar)""".stripMargin),

    // --- amazon-meta stanza parser on the FIXTURES.md fixture -----------
    QuerySpec("q32_parse_products", ((s, d) => {
      import s.implicits._
      s.createDataset(stanzaFixture).flatMap(AmazonMetaParser.parseStanza _).toDF()
        .select(col("asin"), col("title"), col("group"),
          size(col("categories")).cast("long").as("n_categories"),
          size(col("similar")).cast("long").as("n_similar"))
    }),
      """SELECT * FROM (VALUES
        |  ('A1', 'Alpha Beta', 'Book', 2::BIGINT, 2::BIGINT),
        |  ('A3', 'Gamma', '', 1::BIGINT, 0::BIGINT))
        |AS t(asin, title, "group", n_categories, n_similar)""".stripMargin),

    // --- hybrid search: dense ⊕ sparse via reciprocal-rank fusion --------
    // The E2 hybrid re-expressed as modern hybrid SEARCH: for query docs
    // (every 100th), the dense arm is exact cosine top-30 over the
    // embeddings table and the sparse arm is BM25 top-30 on the doc's
    // first-5-token keyword query; RRF fuses the two rank lists
    // (q74's fusion, with a lexical arm instead of co-label CF).
    QuerySpec("q101_hybrid_search", ((s, d) => {
      val queries = Tables.tableRaw(s, d, "documents")
        .where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5))
            .as("query_text"))
      val sparse = Bm25.topK(Tables.documents(s, d), queries, 30, excludeSelf = true)
        .select(col("query_id"), col("doc_id").as("item"), col("rnk"))
      val qv = Tables.embeddingsRaw(s, d).where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val dense = ContentRetriever.topK(Tables.embeddings(s, d), qv, 30)
        .select(col("query_id"), col("vec_id").as("item"), col("rnk"))
      HybridScorer.rrf(dense, sparse, 60, 10)
        .select(col("query_id"), col("item"),
          col("content_rnk").as("dense_rnk"), col("cf_rnk").as("sparse_rnk"),
          round(col("rrf"), 6).as("rrf"), col("rnk"))
    }),
      s"""WITH ${bm25Sql(
        """qt AS (SELECT doc_id AS query_id, unnest(list_distinct(tk[1:5])) AS term
          |  FROM toks WHERE doc_id % 100 = 0)""".stripMargin, 30, excludeSelf = true)},
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qd AS (SELECT vec_id AS query_id, v AS qv2 FROM e WHERE vec_id % 100 = 0),
        |dsc AS (SELECT qd.query_id, e.vec_id AS item, ${cosSql("qd.qv2", "e.v")} AS s
        |  FROM qd CROSS JOIN e WHERE qd.query_id != e.vec_id),
        |dense AS (SELECT query_id, item,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, item) AS rr
        |  FROM dsc QUALIFY rr <= 30),
        |sp AS (SELECT query_id, doc_id AS item, rnk AS rr FROM bmr),
        |fu AS (SELECT coalesce(dn.query_id, sp.query_id) AS query_id,
        |    coalesce(dn.item, sp.item) AS item,
        |    coalesce(dn.rr, 0)::BIGINT AS dense_rnk,
        |    coalesce(sp.rr, 0)::BIGINT AS sparse_rnk,
        |    coalesce(1.0::DOUBLE / (60 + dn.rr), 0.0) +
        |      coalesce(1.0::DOUBLE / (60 + sp.rr), 0.0) AS rrf
        |  FROM dense dn FULL OUTER JOIN sp
        |    ON dn.query_id = sp.query_id AND dn.item = sp.item),
        |fr AS (SELECT query_id, item, dense_rnk, sparse_rnk, rrf,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, item) AS rnk
        |  FROM fu)
        |SELECT query_id, item, dense_rnk, sparse_rnk, round(rrf, 6) AS rrf, rnk
        |FROM fr WHERE rnk <= 10""".stripMargin),

    // --- graded ranking metrics: NDCG@10 / MRR / Recall@10 ----------------
    // Completes the E3 evaluation family beyond Precision@K: the hybrid
    // top-10 scored against co-label truth with position-weighted gain.
    // DCG discounts enter as exact nano-unit integers (the same literals
    // in the oracle), so DCG/IDCG are exact long sums and every metric
    // is one identical double division — no float-summation order.
    QuerySpec("q105_rank_metrics", ((s, d) =>
      Evaluation.rankMetrics(
        hybridTopK(s, d).select(col("query_id"), col("item"), col("rnk")),
        coLabelTruth(s, d))),
      {
        val wt = Evaluation.DcgNanoWeights
          .map { case (r, w) => s"($r, ${w}::BIGINT)" }.mkString(", ")
        val ideal = Evaluation.DcgNanoWeights
          .scanLeft(0 -> 0L) { case ((_, acc), (r, w)) => r -> (acc + w) }.tail
          .map { case (r, s) => s"($r, ${s}::BIGINT)" }.mkString(", ")
        s"""WITH $hybridCtes,
          |$truthCte,
          |ranked AS (SELECT query_id, item, rnk FROM r WHERE rnk <= 10),
          |wt AS (SELECT * FROM (VALUES $wt) AS w(rnk, w_n)),
          |ideal AS (SELECT * FROM (VALUES $ideal) AS i(n_cap, idcg_n)),
          |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM truth GROUP BY 1),
          |rel AS (SELECT rk.query_id, rk.rnk, w.w_n,
          |    CASE WHEN t.item IS NOT NULL THEN 1 ELSE 0 END AS hit
          |  FROM ranked rk JOIN wt w USING (rnk)
          |  LEFT JOIN truth t ON rk.query_id = t.query_id AND rk.item = t.item),
          |pq AS (SELECT query_id,
          |    sum(CASE WHEN hit = 1 THEN w_n ELSE 0 END)::BIGINT AS dcg_n,
          |    min(CASE WHEN hit = 1 THEN rnk END) AS first_hit,
          |    count(CASE WHEN hit = 1 THEN 1 END)::BIGINT AS n_hits
          |  FROM rel GROUP BY 1)
          |SELECT p.query_id, coalesce(n.n_rel, 0)::BIGINT AS n_rel,
          |  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0.0
          |       ELSE round(p.dcg_n::DOUBLE / i.idcg_n, 6) END AS ndcg10,
          |  coalesce(round(1.0::DOUBLE / p.first_hit, 6), 0.0) AS mrr,
          |  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0.0
          |       ELSE round(p.n_hits::DOUBLE / n.n_rel, 6) END AS recall10
          |FROM pq p LEFT JOIN nrel n ON p.query_id = n.query_id
          |LEFT JOIN ideal i ON i.n_cap = least(coalesce(n.n_rel, 0), 10)""".stripMargin
      }),

    // --- ROC AUC of the hybrid scorer (Mann-Whitney rank-sum) -------------
    // Threshold-free discrimination over the FULL fused candidate set
    // (not just top-10): does the blend rank any co-label positive above
    // any negative? Scores snap to 1e-9 fixed point before ranking so
    // tie groups are identical across engines; all rank arithmetic is
    // integral and the one division happens at the end.
    QuerySpec("q110_auc", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecs(s, d)
      val content = ContentRetriever.topK(emb, q, 60)
        .select(col("query_id"), col("vec_id").as("item"),
          clamp01(col("sim")).as("cs"))
      val cf = coLabelCf(s, d, q)
        .select(col("src").as("query_id"), col("dst").as("item"),
          col("norm").as("fs"))
      val scored = HybridScorer.blend(content, cf, 0.6, 200)
        .select(col("query_id"), col("item"),
          floor(col("final") * lit(1e9) + lit(0.5)).cast("long").as("score"))
      Evaluation.auc(scored, coLabelTruth(s, d))
    }),
      s"""WITH $hybridCtes,
        |$truthCte,
        |cand AS (SELECT query_id, item,
        |    floor(fin * 1e9 + 0.5::DOUBLE)::BIGINT AS score
        |  FROM r WHERE rnk <= 200),
        |lab AS (SELECT c.query_id, c.item, c.score,
        |    CASE WHEN t.item IS NOT NULL THEN 1 ELSE 0 END AS pos
        |  FROM cand c LEFT JOIN truth t
        |    ON c.query_id = t.query_id AND c.item = t.item),
        |rk AS (SELECT *, 2 * rank() OVER (PARTITION BY query_id ORDER BY score ASC)
        |    + count(*) OVER (PARTITION BY query_id, score) - 1 AS two_avg
        |  FROM lab),
        |ag AS (SELECT query_id, sum(pos)::BIGINT AS n_pos,
        |    (count(*) - sum(pos))::BIGINT AS n_neg,
        |    sum(CASE WHEN pos = 1 THEN two_avg END)::BIGINT AS s2
        |  FROM rk GROUP BY 1)
        |SELECT query_id, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |       ELSE round((s2 - n_pos * (n_pos + 1))::DOUBLE /
        |                  (2.0::DOUBLE * n_pos * n_neg), 6) END AS auc
        |FROM ag""".stripMargin),

    // --- MMR diversity rerank (serve-time) --------------------------------
    // Top-20 content retrieval per query, then greedy Maximal Marginal
    // Relevance to 10 picks at λ=0.7. Inputs snap to 1e-6 before the
    // greedy trace, so the oracle's unrolled 10-stage argmax replays the
    // selection bit-exactly.
    QuerySpec("q116_mmr_rerank", ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 40)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val cands = ContentRetriever.topK(emb, queries, 20)
        .select(col("query_id"), col("vec_id").as("item"),
          col("sim").as("rel"), col("embedding"))
      // floor-snap, not round(,6): the raw score doubles are identical on
      // both engines, but round()'s decimal re-parse can fork at a
      // 7th-digit half; floor(x*1e6+0.5)/1e6 is pure IEEE on both.
      Rerank.mmr(cands, 10, 0.7)
        .withColumn("mmr", floor(col("mmr") * lit(1e6) + lit(0.5)) / lit(1e6))
    }),
      // Greedy MMR unrolled to 10 argmax stages (the q94 unrolled-iteration
      // pattern): stage t scores the not-yet-picked candidates as
      // λ·rel − (1−λ)·max sim to sel{t-1} over 1e-6-snapped inputs — the
      // exact doubles the Spark greedy compares — and picks (score DESC,
      // item ASC). The complement is (1.0-0.7) computed IN DOUBLES, not a
      // 0.3 literal: they differ by 1 ulp and would fork the argmax.
      {
        val stages = (1 to 10).map { t =>
          s"""ms$t AS (SELECT c.query_id, c.item,
             |    0.7::DOUBLE * c.rel - (1.0::DOUBLE - 0.7::DOUBLE) *
             |      coalesce(mx.m, 0.0::DOUBLE) AS score
             |  FROM cand c
             |  LEFT JOIN (SELECT p.query_id, p.i, max(p.sim) AS m
             |      FROM pair p JOIN sel${t - 1} s
             |        ON p.query_id = s.query_id AND p.j = s.item
             |      GROUP BY 1, 2) mx
             |    ON c.query_id = mx.query_id AND c.item = mx.i
             |  ANTI JOIN sel${t - 1} s2
             |    ON c.query_id = s2.query_id AND c.item = s2.item),
             |pk$t AS MATERIALIZED (SELECT query_id, item, score, $t AS rnk
             |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             |          ORDER BY score DESC, item) AS rn FROM ms$t)
             |  WHERE rn = 1),
             |sel$t AS MATERIALIZED (SELECT query_id, item FROM sel${t - 1}
             |  UNION ALL SELECT query_id, item FROM pk$t)""".stripMargin
        }.mkString(",\n")
        val picks = (1 to 10).map(t => s"SELECT * FROM pk$t")
          .mkString(" UNION ALL ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 40),
          |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS s, e.v
          |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
          |cand AS MATERIALIZED (SELECT query_id, item,
          |    floor(s * 1e6 + 0.5::DOUBLE) / 1e6 AS rel, v,
          |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, item) AS rr
          |  FROM sc QUALIFY rr <= 20),
          |pair AS MATERIALIZED (SELECT a.query_id, a.item AS i, b.item AS j,
          |    floor((${cosSql("a.v", "b.v")}) * 1e6 + 0.5::DOUBLE) / 1e6 AS sim
          |  FROM cand a JOIN cand b
          |    ON a.query_id = b.query_id AND a.item != b.item),
          |sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
          |  CAST(NULL AS BIGINT) AS item WHERE false),
          |$stages
          |SELECT query_id, item, rnk,
          |  floor(score * 1e6 + 0.5::DOUBLE) / 1e6 AS mmr FROM ($picks)""".stripMargin
      }),

    // --- blend-weight model selection (α sweep) ---------------------------
    // Precision@10 of the q27 hybrid at six α values from ONE retrieval
    // pass: the arms are fused once, a broadcast α cross-join inflates
    // only the bounded candidate pool, and precision aggregates as exact
    // integer hits with a single final division.
    QuerySpec("q117_alpha_sweep", ((s, d) => {
      val (content, cf) = hybridArms(s, d)
      HybridScorer.alphaSweep(content, cf, coLabelTruth(s, d),
        Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0), 10)
    }),
      // The α-dependent blend re-ranks the SAME fused pool the q27 chain
      // builds (`fu` carries zero-filled cs/fs); every α's complement is
      // computed in doubles to match Spark's (1.0 - α) column op.
      s"""WITH $hybridCtes,
        |al AS (SELECT unnest([0.0::DOUBLE, 0.2::DOUBLE, 0.4::DOUBLE,
        |                      0.6::DOUBLE, 0.8::DOUBLE, 1.0::DOUBLE]) AS alpha),
        |sa AS (SELECT al.alpha, f.query_id, f.item,
        |    al.alpha * f.cs + (1.0::DOUBLE - al.alpha) * f.fs AS fin
        |  FROM fu f CROSS JOIN al),
        |ra AS (SELECT alpha, query_id, item,
        |    row_number() OVER (PARTITION BY alpha, query_id
        |      ORDER BY fin DESC, item) AS rnk
        |  FROM sa QUALIFY rnk <= 10),
        |$truthCte,
        |fl AS (SELECT r.alpha, r.query_id,
        |    CASE WHEN t.query_id IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM ra r LEFT JOIN truth t
        |    ON r.query_id = t.query_id AND r.item = t.item)
        |SELECT alpha, sum(hit)::BIGINT AS sum_hits,
        |  count(DISTINCT query_id)::BIGINT AS n_queries,
        |  sum(hit)::DOUBLE /
        |    (10.0::DOUBLE * count(DISTINCT query_id)::DOUBLE) AS precision
        |FROM fl GROUP BY 1""".stripMargin),

    // --- score calibration audit (reliability bins) -----------------------
    // Is final≈0.8 an ~80% hit rate? The full fused candidate pool (not
    // just top-k) bins into score deciles; each bin's exact positive
    // rate sits next to its fixed-point mean score.
    QuerySpec("q122_calibration", ((s, d) =>
      Evaluation.reliabilityBins(
        fusedPool(s, d).select(col("query_id"), col("item"), col("score")),
        coLabelTruth(s, d), 10)),
      // Bins over the RAW fin doubles (identical per-row arithmetic both
      // engines); the mean score fixed-point sums 1e-6 micro-units.
      s"""WITH $hybridCtes,
        |$truthCte,
        |fl AS (SELECT f.query_id, f.item, f.fin AS score,
        |    CASE WHEN t.query_id IS NULL THEN 0 ELSE 1 END AS pos
        |  FROM fu f LEFT JOIN truth t
        |    ON f.query_id = t.query_id AND f.item = t.item),
        |nb AS (SELECT query_id, item, score, pos,
        |    ntile(10) OVER (ORDER BY score, query_id, item) AS bin FROM fl)
        |SELECT bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
        |  sum(floor(score * 1e6 + 0.5::DOUBLE)::BIGINT)::DOUBLE /
        |    (1e6 * count(*)::DOUBLE) AS avg_score,
        |  sum(pos)::DOUBLE / count(*)::DOUBLE AS pos_rate
        |FROM nb GROUP BY 1""".stripMargin),

    // --- isotonic calibration (exact-integer PAV) -------------------------
    // Fits the monotone step function to (blend score, co-label hit):
    // the fix for the miscalibration q122 exposes. Merge decisions run
    // in exact long cross-products; the oracle replays the closed-form
    // max-min characterization of the same unique L2 projection.
    QuerySpec("q126_isotonic", ((s, d) => {
      val flagged = fusedPool(s, d)
        .join(coLabelTruth(s, d).dropDuplicates("query_id", "item")
          .withColumn("__y", lit(1)), Seq("query_id", "item"), "left_outer")
        .select(col("score"), coalesce(col("__y"), lit(0)).as("y"))
      Calibrate.isotonic(flagged, "score", "y")
    }),
      // PAV's unique solution via the closed-form max-min characterization:
      // fitted(k) = max_{i<=k} min_{j>=k} avg(y[i..j]) over score-pooled
      // blocks. avg ratios divide once into doubles; correctly-rounded
      // division is monotone in the rationals, so min/max over the doubles
      // equals the double of the rational min/max — bit-identical to the
      // Spark PAV's single output division.
      s"""WITH $hybridCtes,
        |$truthCte,
        |fli AS (SELECT f.fin AS score,
        |    CASE WHEN t.query_id IS NULL THEN 0 ELSE 1 END AS y
        |  FROM fu f LEFT JOIN truth t
        |    ON f.query_id = t.query_id AND f.item = t.item),
        |blk AS (SELECT score, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
        |  FROM fli GROUP BY 1),
        |ps AS (SELECT score, c, p,
        |    row_number() OVER (ORDER BY score) AS r,
        |    sum(c) OVER (ORDER BY score) AS cc,
        |    sum(p) OVER (ORDER BY score) AS cp FROM blk),
        |pairs AS (SELECT a.r AS i, b.r AS j,
        |    (b.cp - a.cp + a.p)::DOUBLE / (b.cc - a.cc + a.c)::DOUBLE AS avgv
        |  FROM ps a JOIN ps b ON a.r <= b.r),
        |mm AS (SELECT i, j,
        |    min(avgv) OVER (PARTITION BY i ORDER BY j DESC) AS m FROM pairs),
        |ft AS (SELECT j AS r, max(m) AS fitted FROM mm GROUP BY 1)
        |SELECT ps.score, ps.c AS n, ps.p AS n_pos, ft.fitted
        |FROM ps JOIN ft USING (r)""".stripMargin),

    // --- team-draft interleaving (online ranker A/B) ----------------------
    // One merged list per query from the content and CF rankers; each
    // slot remembers which team drafted it. Ranks and tie coins are
    // deterministic, so the draft replays exactly (unrolled oracle).
    QuerySpec("q137_team_draft", ((s, d) => {
      val q = queryVecs(s, d)
      val content = ContentRetriever.topK(Tables.embeddings(s, d), q, 10)
        .select(col("query_id"), col("vec_id").as("item"), col("rnk"))
      val cf = coLabelCf(s, d, q).where(col("rnk") <= 10)
        .select(col("src").as("query_id"), col("dst").as("item"), col("rnk"))
      Rerank.teamDraft(content, cf, 8)
    }),
      // The draft unrolled to 8 slots (MMR/q94 pattern): stage i computes
      // each query's available head of both lists (anti-join vs picks so
      // far), resolves team preference from pick counts + the md5 coin,
      // and falls back to the other team on an exhausted pool.
      {
        val stages = (1 to 8).map { i =>
          s"""aA$i AS (SELECT l.query_id, l.item FROM listA l
             |  ANTI JOIN sel${i - 1} s ON l.query_id = s.query_id AND l.item = s.item
             |  QUALIFY row_number() OVER (PARTITION BY l.query_id ORDER BY l.rr) = 1),
             |bB$i AS (SELECT l.query_id, l.item FROM listB l
             |  ANTI JOIN sel${i - 1} s ON l.query_id = s.query_id AND l.item = s.item
             |  QUALIFY row_number() OVER (PARTITION BY l.query_id ORDER BY l.rr) = 1),
             |pk$i AS MATERIALIZED (SELECT query_id, $i AS pos,
             |    CASE WHEN pick_a THEN a_item ELSE b_item END AS item,
             |    CASE WHEN pick_a THEN 'A' ELSE 'B' END AS team, pick_a
             |  FROM (SELECT s.query_id,
             |      CASE WHEN (CASE WHEN s.ca < s.cb THEN 0
             |                      WHEN s.cb < s.ca THEN 1
             |                      WHEN CAST('0x' || substr(md5('td:' || s.query_id::VARCHAR || ':' || '$i'), 1, 15) AS BIGINT) % 2 = 0 THEN 0
             |                      ELSE 1 END) = 0
             |        THEN (a.item IS NOT NULL) ELSE (b.item IS NULL) END AS pick_a,
             |      a.item AS a_item, b.item AS b_item
             |    FROM st${i - 1} s
             |    LEFT JOIN aA$i a ON s.query_id = a.query_id
             |    LEFT JOIN bB$i b ON s.query_id = b.query_id
             |    WHERE a.item IS NOT NULL OR b.item IS NOT NULL)),
             |sel$i AS MATERIALIZED (SELECT query_id, item FROM sel${i - 1}
             |  UNION ALL SELECT query_id, item FROM pk$i),
             |st$i AS MATERIALIZED (SELECT s.query_id,
             |    s.ca + coalesce((SELECT CASE WHEN p.pick_a THEN 1 ELSE 0 END
             |      FROM pk$i p WHERE p.query_id = s.query_id), 0) AS ca,
             |    s.cb + coalesce((SELECT CASE WHEN p.pick_a THEN 0 ELSE 1 END
             |      FROM pk$i p WHERE p.query_id = s.query_id), 0) AS cb
             |  FROM st${i - 1} s)""".stripMargin
        }.mkString(",\n")
        val picks = (1 to 8).map(i =>
          s"SELECT query_id, pos, item, team FROM pk$i").mkString(" UNION ALL ")
        s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
          |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS s
          |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
          |listA AS MATERIALIZED (SELECT query_id, item,
          |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, item) AS rr
          |  FROM sc QUALIFY rr <= 10),
          |listB AS MATERIALIZED (SELECT a.vec_id AS query_id, b.vec_id AS item,
          |    row_number() OVER (PARTITION BY a.vec_id ORDER BY b.vec_id) AS rr
          |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
          |  WHERE a.vec_id < 20 QUALIFY rr <= 10),
          |sel0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
          |  CAST(NULL AS BIGINT) AS item WHERE false),
          |st0 AS (SELECT query_id, 0 AS ca, 0 AS cb FROM q),
          |$stages
          |SELECT query_id, pos, item, team FROM ($picks)""".stripMargin
      }),

    // --- recommendation coverage + Gini concentration ----------------------
    // Health metrics over the q06 CF surface: how much of the catalog is
    // ever recommended, and how concentrated the impressions are.
    QuerySpec("q145_rec_coverage", ((s, d) =>
      Evaluation.coverageGini(
        CfRetriever.topN(basketEdges(s, d), 10), "dst",
        Tables.part(s, d), "p_partkey")),
      s"""WITH $basketCtes,
        |r AS (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS rnk
        |  FROM sym QUALIFY rnk <= 10),
        |c AS (SELECT dst AS item, count(*)::BIGINT AS cnt FROM r GROUP BY 1),
        |k AS (SELECT item, cnt, row_number() OVER (ORDER BY cnt, item) AS rnk
        |  FROM c),
        |g AS (SELECT count(*)::BIGINT AS rec_items, sum(cnt)::BIGINT AS total_recs,
        |    sum(rnk::HUGEINT * cnt::HUGEINT) AS rw FROM k),
        |p AS (SELECT count(*)::BIGINT AS catalog_n FROM part)
        |SELECT catalog_n, rec_items, total_recs,
        |  round(rec_items::DOUBLE / catalog_n::DOUBLE, 6) AS coverage,
        |  round(2.0::DOUBLE * rw::DOUBLE
        |      / (rec_items::DOUBLE * total_recs::DOUBLE)
        |    - (rec_items::DOUBLE + 1.0::DOUBLE) / rec_items::DOUBLE, 6) AS gini
        |FROM g CROSS JOIN p""".stripMargin),

    // --- IPS off-policy replay ---------------------------------------------------
    // Counterfactual value of "per segment, play the best logged
    // action" under a declared uniform-over-5-arms behavior policy —
    // the offline sibling of q137's team-draft interleaving. Segments =
    // user_id mod 10; reward = event value in cents.
    QuerySpec("q183_ips_replay", ((s, d) => {
      val log = Tables.events(s, d).select(
        pmod(col("user_id"), lit(10)).as("segment"),
        col("event_type"),
        floor(col("value") * lit(100) + lit(0.5)).cast("long").as("r"))
      Experiment.ipsReplay(log, "segment", "event_type", "r", 5)
    }),
      // deterministic argmax: rank by (mean reward DESC, action DESC) —
      // the mean is one division of two exact integers, identical in
      // both engines, so the rank (and thus the policy) replays exactly
      """WITH log AS (SELECT user_id % 10 AS segment, event_type,
        |    floor(value * 100 + 0.5::DOUBLE)::BIGINT AS r FROM events),
        |cells AS (SELECT segment, event_type AS action,
        |    count(*)::BIGINT AS n_cell, sum(r)::BIGINT AS r_cell
        |  FROM log GROUP BY 1, 2),
        |best AS (SELECT segment, action AS target_action,
        |    n_cell AS n_matched, r_cell AS r_best,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY r_cell::DOUBLE / n_cell::DOUBLE DESC,
        |        action DESC) AS rk
        |  FROM cells),
        |segs AS (SELECT segment, sum(n_cell)::BIGINT AS n_log,
        |    sum(r_cell)::BIGINT AS r_log FROM cells GROUP BY 1)
        |SELECT s.segment, s.n_log, b.target_action, b.n_matched,
        |  round(s.r_log::DOUBLE / s.n_log::DOUBLE, 6) AS v_logged,
        |  round(5 * b.r_best::DOUBLE / s.n_log::DOUBLE, 6) AS v_ips
        |FROM segs s JOIN best b ON s.segment = b.segment AND b.rk = 1""".stripMargin),

    // --- intra-list diversity of the served top-10 (beyond-accuracy audit) -------
    // Mean pairwise cosine distance WITHIN each query's rec list —
    // catches the precise-but-monotone page. Pair expansion is
    // k(k−1)/2 per list, never corpus × corpus.
    QuerySpec("q188_ild", ((s, d) => {
      val ranked = ContentRetriever.topK(
          Tables.embeddings(s, d), queryVecs(s, d), 10)
        .select(col("query_id"), col("vec_id").as("item"), col("rnk"))
      Evaluation.intraListDiversity(ranked,
        Tables.embeddings(s, d), "vec_id", "embedding")
    }),
      // the q08 top-10 lists re-derived, then pairwise within each list
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS sim
        |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
        |r AS (SELECT query_id, item,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, item) AS rnk
        |      FROM sc),
        |t AS (SELECT * FROM r WHERE rnk <= 10),
        |pr AS (SELECT a.query_id,
        |    1.0::DOUBLE - round(${cosSql("x.v", "y.v")}, 6) AS d
        |  FROM t a JOIN t b ON a.query_id = b.query_id AND a.rnk < b.rnk
        |  JOIN e x ON x.vec_id = a.item JOIN e y ON y.vec_id = b.item)
        |SELECT query_id, count(*)::BIGINT AS n_pairs, round(avg(d), 6) AS ild
        |FROM pr GROUP BY 1""".stripMargin),
  )
}
