package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Training-corpus curation and data quality: the curation gate and
  * corpus filter, mixing, sampling and splits, decontamination, profiling,
  * integrity audits, drift and data contracts. */
private[graft] object CurationQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- data mixing: per-language quotas (corpus rebalancing) ----------
    // Target mix en:60 de:25 fr:15 (es dropped — no quota), drawn
    // deterministically by md5 rank so the oracle replays the exact
    // selection; the salted two-phase keeps a dominant language from
    // becoming one straggler task.
    QuerySpec("q93_domain_mix", ((s, d) =>
      Sampling.domainMix(Tables.documents(s, d), "lang", "doc_id",
        Seq("en" -> 60, "de" -> 25, "fr" -> 15), 42L)),
      """WITH q AS (SELECT * FROM (VALUES ('en', 60), ('de', 25), ('fr', 15)) v(stratum, quota)),
        |r AS (SELECT d.lang AS stratum, d.doc_id AS key, q.quota,
        |    row_number() OVER (PARTITION BY d.lang
        |      ORDER BY md5('42:' || d.doc_id::VARCHAR), d.doc_id) AS rnk
        |  FROM documents d JOIN q ON d.lang = q.stratum)
        |SELECT stratum, key, rnk, quota::BIGINT AS quota
        |FROM r WHERE rnk <= quota""".stripMargin),

    // --- statistical curation gate: round-4 filters composed ------------
    // kept = English ∧ surface-quality ∧ LM-plausible (nll ≤ 0.82) ∧
    // not boilerplate (dup-span ratio < 0.9) ∧ decontaminated (no
    // 13-gram overlap with the every-89th-doc eval slice, eval docs
    // themselves excluded). q53 gates the dedup-side composition; this
    // is the statistical side — one plan, five filters, each also
    // individually oracle-proven (q19/q20/q85/q86/q82).
    QuerySpec("q90_curation_gate", ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // lang + quality are per-row projections over the same tokens —
      // the fused surfaceGate computes both in ONE corpus pass (the
      // separate-frames form scanned and re-tokenized twice, then
      // joined the two back on doc_id for nothing)
      val surface = TextAnalysis.surfaceGate(docs)
        .select(col("doc_id"), (col("pred_lang") === "en").as("lang_ok"),
          (col("quality") >= 0.5).as("quality_ok"))
      val lm = TextAnalysis.lmScore(docs)
        .select(col("doc_id"), (col("nll") <= 0.82).as("nll_ok"))
      val dup = Dedup.dupSpanCoverage(docs, 8)
        .select(col("doc_id"), (col("dup_ratio") < 0.9).as("dup_ok"))
      val bench = docs.where(col("doc_id") % 89 === 0)
      val contaminated = Dedup.decontaminateBloom(
        docs.where(col("doc_id") % 89 =!= 0), bench, 13)
        .select(col("doc_id"), lit(true).as("__hit"))
      docs.select(col("doc_id"))
        .join(surface, Seq("doc_id"))
        .join(lm, Seq("doc_id")).join(dup, Seq("doc_id"))
        .join(contaminated, Seq("doc_id"), "left")
        .withColumn("clean", col("doc_id") % 89 =!= 0 && col("__hit").isNull)
        .drop("__hit")
        .withColumn("kept", col("lang_ok") && col("quality_ok") &&
          col("nll_ok") && col("dup_ok") && col("clean"))
    }),
      s"""WITH $toksCte,
        |lang AS (SELECT doc_id,
        |  len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','it'], t)))::BIGINT AS h_en,
        |  len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], t)))::BIGINT AS h_de,
        |  len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','dans'], t)))::BIGINT AS h_fr,
        |  len(list_filter(tk, t -> list_contains(['el','la','los','y','es','un','una','en'], t)))::BIGINT AS h_es
        |  FROM toks),
        |lok AS (SELECT doc_id, (greatest(h_en, h_de, h_fr, h_es) > 0
        |                        AND h_en = greatest(h_en, h_de, h_fr, h_es)) AS lang_ok FROM lang),
        |qc AS (SELECT d.doc_id, len(t.tk)::BIGINT AS n_tokens, length(d.text) AS n_char,
        |  length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |  length(regexp_replace(d.text, '[^.,;:!?]', '', 'g')) AS punct_chars,
        |  CASE WHEN len(t.tk) = 0 THEN 0.0 ELSE list_sum(list_transform(t.tk, x -> length(x)))::DOUBLE / len(t.tk)::DOUBLE END AS mtl
        |  FROM documents d JOIN toks t USING (doc_id)),
        |qok AS (SELECT doc_id,
        |  ((CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE alpha_chars::DOUBLE / n_char::DOUBLE END) >= 0.6 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE punct_chars::DOUBLE / n_char::DOUBLE END) <= 0.1 THEN 0.25 ELSE 0.0 END) >= 0.5) AS quality_ok
        |  FROM qc),
        |sN AS (SELECT doc_id, array_to_string(tk, ' ') AS s FROM toks),
        |tris AS (SELECT doc_id, unnest(list_transform(range(1, len(s) - 1),
        |           i -> substr(s, i, 3))) AS tri FROM sN),
        |model AS (SELECT tri, count(*)::BIGINT AS cnt3 FROM tris GROUP BY 1),
        |pre AS (SELECT substr(tri, 1, 2) AS pre, sum(cnt3)::BIGINT AS cnt2 FROM model GROUP BY 1),
        |vv AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS v FROM model),
        |nok AS (SELECT t.doc_id,
        |    (round(-avg(ln((m.cnt3 + 1.0) / (p.cnt2 + vv.v))), 6) <= 0.82) AS nll_ok
        |  FROM tris t JOIN model m ON t.tri = m.tri
        |  JOIN pre p ON substr(t.tri, 1, 2) = p.pre CROSS JOIN vv
        |  GROUP BY t.doc_id),
        |occ8 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' ')) END) AS gram FROM toks),
        |df8 AS (SELECT gram, count(DISTINCT doc_id) AS df FROM occ8 GROUP BY 1),
        |dok AS (SELECT o.doc_id,
        |    (count(CASE WHEN df8.df >= 2 THEN 1 END)::DOUBLE / count(*)::DOUBLE < 0.9) AS dup_ok
        |  FROM occ8 o JOIN df8 ON o.gram = df8.gram GROUP BY 1),
        |g13 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 13 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(range(1, len(tk) - 11),
        |      i -> array_to_string(tk[i:i+12], ' '))) END) AS gram FROM toks),
        |contam AS (SELECT DISTINCT c.doc_id FROM g13 c
        |           JOIN (SELECT gram FROM g13 WHERE doc_id % 89 = 0) b ON c.gram = b.gram
        |           WHERE c.doc_id % 89 != 0)
        |SELECT d.doc_id, lok.lang_ok, qok.quality_ok, nok.nll_ok, dok.dup_ok,
        |  (d.doc_id % 89 != 0 AND contam.doc_id IS NULL) AS clean,
        |  (lok.lang_ok AND qok.quality_ok AND nok.nll_ok AND dok.dup_ok
        |   AND d.doc_id % 89 != 0 AND contam.doc_id IS NULL) AS kept
        |FROM documents d
        |JOIN lok USING (doc_id) JOIN qok USING (doc_id)
        |JOIN nok USING (doc_id) JOIN dok USING (doc_id)
        |LEFT JOIN contam ON d.doc_id = contam.doc_id""".stripMargin),

    // --- stratified exact sample: k docs per language -------------------
    QuerySpec("q58_stratified", ((s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 10, 42L)),
      """WITH r AS (SELECT lang AS stratum, doc_id AS key,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('42:' || doc_id::VARCHAR), doc_id) AS rnk
        |  FROM documents)
        |SELECT stratum, key, rnk FROM r WHERE rnk <= 10""".stripMargin),

    // --- benchmark decontamination --------------------------------------
    // The eval-set 8-gram contamination sweep: benchmark = every 97th doc;
    // corpus = the rest PLUS planted full copies of the benchmark docs
    // (id + 10^6) — guaranteed contamination the sweep must find, on top
    // of whatever n-grams the corpus shares naturally.
    QuerySpec("q75_decontaminate", ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 97 === 0)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
        .unionByName(bench.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
      Dedup.decontaminate(corpus, bench, 8)
    }),
      s"""WITH $toksCte,
        |g0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(range(1, len(tk) - 6),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |           tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) END) AS gram
        |  FROM toks),
        |bench AS (SELECT doc_id AS bench_id, gram FROM g0 WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, gram FROM g0 WHERE doc_id % 97 != 0
        |         UNION ALL
        |         SELECT doc_id + 1000000 AS doc_id, gram FROM g0 WHERE doc_id % 97 = 0)
        |SELECT c.doc_id, count(DISTINCT c.gram) AS n_overlap_grams,
        |  count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM corp c JOIN bench b ON c.gram = b.gram GROUP BY 1""".stripMargin),

    // --- bloom-prefiltered decontamination (big-benchmark shape) --------
    // q75 broadcasts the benchmark postings as an exact hash table; this
    // is the contract when the eval suite is too big for that: a
    // 10-bits/item bloom sketch prefilters corpus postings MAP-SIDE (no
    // false negatives), and only survivors pay the exact verify join.
    // Output is bit-identical to the exact sweep (13-gram GPT-3 rule,
    // planted copies at +2·10^6) — the oracle proves the sketch lost
    // nothing and the verify step added nothing.
    QuerySpec("q82_bloom_decon", ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 89 === 0)
      val corpus = docs.where(col("doc_id") % 89 =!= 0)
        .unionByName(bench.select((col("doc_id") + 2000000L).as("doc_id"),
          col("text")))
      Dedup.decontaminateBloom(corpus, bench, 13)
    }),
      s"""WITH $toksCte,
        |g0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 13 THEN []::VARCHAR[]
        |    ELSE list_distinct(list_transform(range(1, len(tk) - 11),
        |      i -> array_to_string(tk[i:i+12], ' '))) END) AS gram
        |  FROM toks),
        |bench AS (SELECT doc_id AS bench_id, gram FROM g0 WHERE doc_id % 89 = 0),
        |corp AS (SELECT doc_id, gram FROM g0 WHERE doc_id % 89 != 0
        |         UNION ALL
        |         SELECT doc_id + 2000000 AS doc_id, gram FROM g0 WHERE doc_id % 89 = 0)
        |SELECT c.doc_id, count(DISTINCT c.gram) AS n_overlap_grams,
        |  count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM corp c JOIN bench b ON c.gram = b.gram GROUP BY 1""".stripMargin),

    // --- deterministic train/val/test split ------------------------------
    // hash60(seed:key) mod 100 < {80,90,100}: pure map-side, stable under
    // any repartitioning (rand(seed) is not), oracle-replayable.
    QuerySpec("q80_hash_split", ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id", "42",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))),
      """WITH b AS (SELECT doc_id AS key,
        |    CAST('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT key, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // --- capstone corpus filter: what the pipeline actually ships -------
    // kept = canonical under dedup (exact + MinHash evidence) ∧ English ∧
    // quality ≥ 0.5 — the keep decision composed from the dedup, language
    // and quality operators in one plan.
    QuerySpec("q53_corpus_filter", ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = Dedup.keepList(docs, 3, 16, 8, 0.5)
        .select(col("doc_id"), col("is_kept").as("canonical"))
      // lang + quality in ONE corpus pass (surfaceGate, the q90 fusion —
      // identical columns by construction), one join instead of two
      val gate = TextAnalysis.surfaceGate(docs)
        .select(col("doc_id"), (col("pred_lang") === "en").as("lang_ok"),
          (col("quality") >= 0.5).as("quality_ok"))
      keep.join(gate, Seq("doc_id"))
        .withColumn("kept", col("canonical") && col("lang_ok") && col("quality_ok"))
    }),
      s"""WITH RECURSIVE
        |$toksCte,
        |$shCte,
        |sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
        |    list_min(list_transform(s, x ->
        |      (((j * 2654435761) % 2147483647 + 1) * (cast('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)
        |        + ((j * 40503 + 11) % 2147483647)) % 2147483647))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |keyed AS (SELECT doc_id, sg,
        |    unnest(list_transform(range(0, 8), b -> b || ':' || array_to_string(sg[b*2+1:b*2+2], ','))) AS band_key
        |  FROM sig),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |      FROM keyed x JOIN keyed y USING (band_key) WHERE x.doc_id < y.doc_id),
        |mh AS (SELECT a, b FROM cand JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id
        |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
        |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))::DOUBLE >= 0.5),
        |eh AS (SELECT doc_id, md5(lower(trim(text))) AS ch FROM documents),
        |exct AS (SELECT x.doc_id AS a, y.doc_id AS b FROM eh x JOIN eh y ON x.ch = y.ch AND x.doc_id < y.doc_id),
        |allp AS (SELECT a, b FROM exct UNION SELECT a, b FROM mh),
        |sym AS (SELECT a AS x, b AS y FROM allp UNION SELECT b AS x, a AS y FROM allp),
        |reach(x, y) AS (
        |  SELECT doc_id AS x, doc_id AS y FROM documents
        |  UNION
        |  SELECT r.x, s2.y FROM reach r JOIN sym s2 ON r.y = s2.x),
        |comp AS (SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY 1),
        |lh AS (SELECT doc_id,
        |  len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','it'], t)))::BIGINT AS hits_en,
        |  len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], t)))::BIGINT AS hits_de,
        |  len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','dans'], t)))::BIGINT AS hits_fr,
        |  len(list_filter(tk, t -> list_contains(['el','la','los','y','es','un','una','en'], t)))::BIGINT AS hits_es
        |  FROM toks),
        |lang AS (SELECT doc_id,
        |  CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
        |       WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
        |       WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
        |       WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |  FROM lh),
        |qc AS (SELECT d.doc_id, len(t.tk)::BIGINT AS n_tokens, length(d.text) AS n_char,
        |  length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |  length(regexp_replace(d.text, '[^.,;:!?]', '', 'g')) AS punct_chars,
        |  CASE WHEN len(t.tk) = 0 THEN 0.0 ELSE list_sum(list_transform(t.tk, x -> length(x)))::DOUBLE / len(t.tk)::DOUBLE END AS mean_token_len
        |  FROM documents d JOIN toks t USING (doc_id)),
        |qual AS (SELECT doc_id,
        |  (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE alpha_chars::DOUBLE / n_char::DOUBLE END) >= 0.6 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE punct_chars::DOUBLE / n_char::DOUBLE END) <= 0.1 THEN 0.25 ELSE 0.0 END) AS quality
        |  FROM qc)
        |SELECT c.doc_id, (c.component = c.doc_id) AS canonical,
        |  (lang.pred_lang = 'en') AS lang_ok, (qual.quality >= 0.5) AS quality_ok,
        |  ((c.component = c.doc_id) AND lang.pred_lang = 'en' AND qual.quality >= 0.5) AS kept
        |FROM comp c JOIN lang USING (doc_id) JOIN qual USING (doc_id)""".stripMargin,
      heavy = true),

    // --- single-pass column profiling (ingest audit) ----------------------
    // Null/distinct/min/max per column in ONE scan; nulls planted in
    // c_mktsegment (every 7th customer) so the null counter has work.
    QuerySpec("q103_profile", ((s, d) => {
      val c = Tables.customer(s, d).withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_mktsegment")))
      DataQuality.profile(c, Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    }),
      {
        val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        val per = cols.map { c =>
          s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
             |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |  count(DISTINCT $c)::BIGINT AS n_distinct,
             |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val FROM c""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH c AS (SELECT c_custkey, c_name, c_nationkey,
          |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
          |  FROM customer)
          |$per""".stripMargin
      }),

    // --- referential-integrity audit (orphan counts) ----------------------
    // Anti-join orphan counts per relationship; the third check audits
    // against a customer SUBSET (every 10th dropped) so nonzero orphan
    // counts are exercised, not just zeros.
    QuerySpec("q104_fk_audit", ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      DataQuality.fkAudit(Seq(
        DataQuality.FkCheck("lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
        DataQuality.FkCheck("orders_customer", o, "o_custkey", cust, "c_custkey"),
        DataQuality.FkCheck("orders_customer_subset", o, "o_custkey",
          cust.where(col("c_custkey") % 10 =!= 0), "c_custkey")))
    }),
      """SELECT 'lineitem_orders' AS relation,
        |  (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_orphans
        |UNION ALL
        |SELECT 'orders_customer',
        |  (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
        |UNION ALL
        |SELECT 'orders_customer_subset',
        |  (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey % 10 != 0
        |       AND c.c_custkey = o.o_custkey))::BIGINT""".stripMargin),

    // --- weighted sampling without replacement (A-ES) ----------------------
    // Importance draw over documents with weight = n_chars: inclusion
    // probability ∝ length, priorities md5-derived so the DuckDB oracle
    // replays the identical selection.
    QuerySpec("q112_weighted_sample", ((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d)
          .select(col("doc_id").as("key"), col("n_chars").cast("double").as("weight")),
        "key", "weight", 50, "w42")),
      """WITH w AS (SELECT doc_id AS key, n_chars::DOUBLE AS weight,
        |    ln((CAST('0x' || substr(md5('w42:' || doc_id::VARCHAR), 1, 15) AS BIGINT) + 1)::DOUBLE
        |       / 1152921504606846976.0::DOUBLE) / n_chars::DOUBLE AS es
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT key, weight,
        |    row_number() OVER (ORDER BY es DESC, key) AS rnk FROM w)
        |SELECT key, weight, rnk FROM r WHERE rnk <= 50""".stripMargin),

    // --- PSI drift audit (train-vs-serve distribution shift) --------------
    // Population Stability Index of the purchase-value distribution
    // against the click-value reference, 10 fixed-width bins from the
    // reference range — the feature-store drift alarm; edges need only a
    // min/max aggregate, never a global percentile sort.
    QuerySpec("q113_psi_drift", ((s, d) => {
      val ev = Tables.events(s, d)
      DataQuality.psi(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"),
        "value", 10)
    }),
      """WITH ref AS (SELECT value::DOUBLE AS v FROM events WHERE event_type = 'click'),
        |cur AS (SELECT value::DOUBLE AS v FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT min(v) AS lo, max(v) AS hi FROM ref),
        |br AS (SELECT least(9, greatest(0, CASE WHEN e.hi = e.lo THEN 0
        |      ELSE floor((v - e.lo) / (e.hi - e.lo) * 10)::BIGINT END))::BIGINT AS bin
        |  FROM ref CROSS JOIN e),
        |bc AS (SELECT least(9, greatest(0, CASE WHEN e.hi = e.lo THEN 0
        |      ELSE floor((v - e.lo) / (e.hi - e.lo) * 10)::BIGINT END))::BIGINT AS bin
        |  FROM cur CROSS JOIN e),
        |nr AS (SELECT bin, count(*)::BIGINT AS n_ref FROM br GROUP BY 1),
        |nc AS (SELECT bin, count(*)::BIGINT AS n_cur FROM bc GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 10))::BIGINT AS bin),
        |cnt AS (SELECT s.bin, coalesce(nr.n_ref, 0)::BIGINT AS n_ref,
        |    coalesce(nc.n_cur, 0)::BIGINT AS n_cur
        |  FROM spine s LEFT JOIN nr ON s.bin = nr.bin LEFT JOIN nc ON s.bin = nc.bin),
        |tot AS (SELECT sum(n_ref)::DOUBLE AS tr, sum(n_cur)::DOUBLE AS tc FROM cnt),
        |ctb AS (SELECT bin, n_ref, n_cur,
        |    floor(((n_cur + 0.5::DOUBLE) / (tc + 5.0::DOUBLE)
        |         - (n_ref + 0.5::DOUBLE) / (tr + 5.0::DOUBLE)) *
        |      ln(((n_cur + 0.5::DOUBLE) / (tc + 5.0::DOUBLE)) /
        |         ((n_ref + 0.5::DOUBLE) / (tr + 5.0::DOUBLE))) * 1e9
        |      + 0.5::DOUBLE)::BIGINT AS c_n
        |  FROM cnt CROSS JOIN tot)
        |SELECT bin, n_ref, n_cur, round(c_n / 1e9, 6) AS psi_contrib,
        |  round(sum(c_n) OVER () / 1e9, 6) AS psi_total
        |FROM ctb""".stripMargin),

    // --- declarative data-contract suite ----------------------------------
    // The expectation run a pipeline gates promotion on: each declared
    // check becomes one aggregate; the report is exact violation counts.
    // The FK check intentionally FAILS on this corpus (planted orphans,
    // same ground truth q104 audits).
    QuerySpec("q136_expectations", ((s, d) => {
      val li = Tables.lineitem(s, d); val or = Tables.orders(s, d)
      val cu = Tables.customer(s, d)
      Expectations.run(Seq(
        Expectations.NotNull("customer_name_not_null", cu, "c_name"),
        Expectations.UniqueKey("orders_pk", or, Seq("o_orderkey")),
        Expectations.UniqueKey("lineitem_pk", li,
          Seq("l_orderkey", "l_linenumber")),
        Expectations.InRange("quantity_1_50", li, "l_quantity", 1, 50),
        Expectations.Accepted("status_domain", or, "o_orderstatus",
          Seq("F", "O", "P")),
        Expectations.Ref("orders_customer_fk", or, "o_custkey",
          cu, "c_custkey")))
    }),
      """SELECT 'customer_name_not_null' AS check_name,
        |  (SELECT count(*) FROM customer)::BIGINT AS n_rows,
        |  (SELECT count(*) FROM customer WHERE c_name IS NULL)::BIGINT AS n_violations,
        |  (SELECT count(*) FROM customer WHERE c_name IS NULL) = 0 AS pass
        |UNION ALL
        |SELECT 'orders_pk', (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)::BIGINT,
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) = 0
        |UNION ALL
        |SELECT 'lineitem_pk', (SELECT count(*) FROM lineitem)::BIGINT,
        |  (SELECT count(*) FROM lineitem)::BIGINT -
        |    (SELECT count(*) FROM (SELECT 1 FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |      GROUP BY l_orderkey, l_linenumber))::BIGINT,
        |  (SELECT count(*) FROM lineitem) =
        |    (SELECT count(*) FROM (SELECT 1 FROM lineitem
        |      WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |      GROUP BY l_orderkey, l_linenumber))
        |UNION ALL
        |SELECT 'quantity_1_50', (SELECT count(*) FROM lineitem)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)::BIGINT,
        |  (SELECT count(*) FROM lineitem
        |    WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) = 0
        |UNION ALL
        |SELECT 'status_domain', (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM orders
        |    WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O', 'P'))::BIGINT,
        |  (SELECT count(*) FROM orders
        |    WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O', 'P')) = 0
        |UNION ALL
        |SELECT 'orders_customer_fk', (SELECT count(*) FROM orders)::BIGINT,
        |  (SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey)::BIGINT,
        |  (SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey) = 0""".stripMargin),

    // --- robust median/MAD outliers ------------------------------------------
    // Price outliers per returnflag on the median/MAD scale (k=1.5 —
    // a uniform distribution has max |dev| ≈ 2·MAD, so the tails flag).
    QuerySpec("q151_mad_outliers", ((s, d) =>
      DataQuality.madOutliers(Tables.lineitem(s, d), "l_returnflag",
        "l_extendedprice", 1.5, Seq("l_orderkey", "l_linenumber"))),
      """WITH c AS (SELECT l_returnflag AS g, l_orderkey, l_linenumber,
        |    floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT AS cents
        |  FROM lineitem),
        |m AS (SELECT g, median(cents) AS med FROM c GROUP BY 1),
        |d AS (SELECT c.g, c.l_orderkey, c.l_linenumber, c.cents, m.med,
        |    abs(c.cents::DOUBLE - m.med) AS dev
        |  FROM c JOIN m USING (g)),
        |m2 AS (SELECT g, median(dev) AS mad FROM d GROUP BY 1)
        |SELECT d.g AS l_returnflag, d.l_orderkey, d.l_linenumber,
        |  d.cents, d.med, m2.mad
        |FROM d JOIN m2 USING (g)
        |WHERE m2.mad > 0 AND d.dev > 1.5 * m2.mad""".stripMargin),

    // --- order-free table integrity digest -----------------------------------
    // Merkle-style proof a copy moved every lineitem row unchanged:
    // per-row 60-bit hash summed exactly — no sort, any engine replays.
    QuerySpec("q152_table_digest", ((s, d) =>
      DataQuality.tableDigest(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_returnflag"),
          floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
            .as("cents")),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag",
          "cents"))),
      """SELECT count(*)::BIGINT AS n_rows,
        |  (sum(CAST('0x' || substr(md5(
        |    l_orderkey::VARCHAR || chr(1) || l_linenumber::VARCHAR || chr(1) ||
        |    l_partkey::VARCHAR || chr(1) || l_returnflag || chr(1) ||
        |    floor(l_extendedprice * 100 + 0.5::DOUBLE)::BIGINT::VARCHAR),
        |    1, 15) AS BIGINT)::HUGEINT)
        |   % 4611686018427387904::HUGEINT)::BIGINT AS digest
        |FROM lineitem""".stripMargin),

    // --- Benford first-digit audit -----------------------------------------------
    // Does o_totalprice follow the log-law a natural multi-magnitude
    // amount should? Digit histogram + snapped-grid expectation + χ²
    // contributions; one map-side extraction, one 9-key aggregate.
    QuerySpec("q181_benford", ((s, d) =>
      DataQuality.benfordAudit(Tables.orders(s, d), "o_totalprice")),
      // the Benford expectation is snapped to a 1e-9 grid on BOTH sides
      // before the χ² arithmetic — the snap absorbs the one cross-engine
      // ±ulp ln (margins of the 9 constants verified ≥1e-4 of the grid)
      """WITH obs AS (SELECT
        |    substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT
        |      AS digit,
        |    count(*)::BIGINT AS n
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |h AS (SELECT d.range::INT AS digit, coalesce(obs.n, 0)::BIGINT AS n
        |  FROM range(1, 10) d LEFT JOIN obs ON d.range = obs.digit),
        |t AS (SELECT sum(n)::BIGINT AS total FROM h),
        |p AS (SELECT digit, n, total,
        |    floor(ln(1 + 1.0 / digit::DOUBLE) / ln(10) * 1e9 + 0.5) / 1e9
        |      AS pe
        |  FROM h, t)
        |SELECT digit, n, round(n::DOUBLE / total::DOUBLE, 6) AS share,
        |  round(pe, 6) AS expected,
        |  round((n::DOUBLE - total::DOUBLE * pe)
        |      * (n::DOUBLE - total::DOUBLE * pe)
        |    / (total::DOUBLE * pe), 6) AS chi2_term
        |FROM p""".stripMargin),
  )
}
