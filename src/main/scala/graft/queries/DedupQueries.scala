package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Near-duplicate detection: exact, n-gram Jaccard, MinHash, SimHash,
  * embedding cosine, media, duplicate spans, fuzzy entity resolution and
  * the dedup keep-list. */
private[graft] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- dedup suite ----------------------------------------------------
    QuerySpec("q13_dedup_exact", ((s, d) => Dedup.exact(Tables.documents(s, d))),
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM documents)
        |SELECT doc_id, content_hash,
        |  count(*) OVER (PARTITION BY content_hash) AS group_size,
        |  min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
        |  doc_id != min(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
        |FROM h""".stripMargin),

    // ADAPTIVE df cap (round 12): the default derives maxDf from the
    // corpus's own df distribution — uncapped while the whole
    // distribution predicts ≤ 512·|docs| join rows, else the largest
    // cap fitting a verification-priced 16·|docs| (the old fixed 1000
    // admitted a measured 4.50G-row join on the adversarial 60× corpus
    // = spill death; the adaptive default completes it in 237 s). At
    // every test sf the whole distribution fits the gate, so the cap
    // resolves to "disabled" and the result is bit-identical to the
    // uncapped oracle; values stay exact at ANY cap (see
    // Dedup.ngramJaccard's bound machinery).
    QuerySpec("q14_ngram_jaccard", ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), 3, 0.05)),
      s"""WITH $toksCte,
        |$shCte,
        |cards AS (SELECT doc_id, len(s)::BIGINT AS card FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |      FROM inv x JOIN inv y USING (shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, inter, ca.card AS card_a, cb.card AS card_b,
        |  inter::DOUBLE / (ca.card + cb.card - inter)::DOUBLE AS jaccard
        |FROM p JOIN cards ca ON p.a = ca.doc_id JOIN cards cb ON p.b = cb.doc_id
        |WHERE inter::DOUBLE / (ca.card + cb.card - inter)::DOUBLE >= 0.05""".stripMargin,
      heavy = true),

    QuerySpec("q15_minhash_cand", ((s, d) =>
      Dedup.minhashCandidates(Tables.documents(s, d), 3, 16, 8)),
      s"""WITH $toksCte,
        |$shCte,
        |sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
        |    list_min(list_transform(s, x ->
        |      (((j * 2654435761) % 2147483647 + 1) * (cast('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)
        |        + ((j * 40503 + 11) % 2147483647)) % 2147483647))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |keyed AS (SELECT doc_id, sg,
        |    unnest(list_transform(range(0, 8), b -> b || ':' || array_to_string(sg[b*2+1:b*2+2], ','))) AS band_key
        |  FROM sig),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS bands_matched
        |      FROM keyed x JOIN keyed y USING (band_key) WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, bands_matched,
        |  list_sum(list_transform(range(1, 17), i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END))::DOUBLE / 16 AS est_jaccard
        |FROM p JOIN sig sa ON p.a = sa.doc_id JOIN sig sb ON p.b = sb.doc_id""".stripMargin),

    QuerySpec("q16_simhash_fp", ((s, d) =>
      Dedup.simhashFingerprints(Tables.documents(s, d))),
      s"""WITH $toksCte,
        |t AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        |h AS (SELECT doc_id, cast('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h60 FROM t),
        |bits AS (SELECT doc_id, bb.b AS b,
        |    sum(CASE WHEN (h60 >> bb.b) % 2 = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb GROUP BY 1, 2),
        |s AS (SELECT doc_id, sum(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
        |      FROM bits GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.sh, 0)::BIGINT AS simhash
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin),

    // --- dedup keep-list: evidence union → components → canonical ------
    // The decision a corpus pipeline actually ships: which docs survive
    // dedup. Exact-dup + MinHash-LSH-nominated candidates whose TRUE
    // Jaccard clears τ (exact-verified edges), Hash-Min connected
    // components, min-id canonical. Oracle = recursive-CTE transitive
    // closure in DuckDB (hard hash signal on the full clustering).
    QuerySpec("q44_dedup_keep", ((s, d) =>
      Dedup.keepList(Tables.documents(s, d), 3, 16, 8, 0.5)),
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
        |  SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x)
        |SELECT doc_id, component, component = doc_id AS is_kept FROM (
        |  SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY 1)""".stripMargin,
      heavy = true),

    // --- multimodal near-duplicate detection ----------------------------
    // The media-dedup composition: real container blob → REAL decode →
    // byte-histogram features over the decoded raster/PCM
    // (mapInPartitions batch, unit-normalized) → cosine pairs at 0.9999.
    // Planted byte-identical copies (offset +4000002 ≡ 0 mod 3, so the
    // copy keeps its media type and therefore its container and decoded
    // buffer) are the only pairs above the bar — the decision a media
    // pipeline makes before paying for perceptual hashing.
    QuerySpec("q97_media_dedup", ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .where(col("doc_id") % 23 === 0)
      val planted = base.select((col("doc_id") + 4000002L).as("doc_id"),
        col("text"))
      val feats = Multimodal.featuresBatched(
          Multimodal.withBlob(base.unionByName(planted))).toDF()
        .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
      Dedup.cosinePairs(feats, 0.9999)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
    }),
      // Plant offset +4000002 ≡ 0 (mod 3) so the copy keeps its media type
      // (same container, same decoded buffer → sim 1 through the REAL
      // codec); the histogram replays the decoded raster/PCM bytes.
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 23 = 0),
        |u AS (SELECT doc_id, text FROM base
        |      UNION ALL SELECT doc_id + 4000002 AS doc_id, text FROM base),
        |${mediaHistSql("u")},
        |grid AS (SELECT u.doc_id, bb.bin FROM u
        |         CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bb),
        |v AS (SELECT g.doc_id,
        |        list(CASE WHEN mn.nrm IS NULL OR mn.nrm = 0 THEN 0.0
        |                  ELSE coalesce(mh.c, 0.0) / mn.nrm END ORDER BY g.bin) AS vec
        |      FROM grid g
        |      LEFT JOIN mh ON g.doc_id = mh.doc_id AND g.bin = mh.bin
        |      LEFT JOIN mn ON g.doc_id = mn.doc_id
        |      GROUP BY g.doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  round(list_dot_product(x.vec, y.vec), 6) AS sim
        |FROM v x JOIN v y ON x.doc_id < y.doc_id
        |WHERE list_dot_product(x.vec, y.vec) >= 0.9999""".stripMargin),

    // --- cross-doc duplicate-span coverage (memorization risk) ----------
    // Per doc: fraction of its 8-gram occurrences that appear in ≥1
    // other document — the relational form of the suffix-array dedup
    // metric; flags boilerplate even when no pair crosses a Jaccard
    // threshold. Corpus carries planted copies (doc_id+3·10^6 for every
    // 101st doc) whose coverage must be 1.0 — and it is, by the oracle.
    QuerySpec("q86_dup_spans", ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      Dedup.dupSpanCoverage(docs.unionByName(planted), 8)
    }),
      s"""WITH $toksCte,
        |base AS (SELECT doc_id, tk FROM toks
        |         UNION ALL
        |         SELECT doc_id + 3000000 AS doc_id, tk FROM toks WHERE doc_id % 101 = 0),
        |occ AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 8 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' ')) END) AS gram
        |  FROM base),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1),
        |per AS (SELECT o.doc_id, count(*)::BIGINT AS n_grams,
        |    count(CASE WHEN df.df >= 2 THEN 1 END)::BIGINT AS n_dup
        |  FROM occ o JOIN df ON o.gram = df.gram GROUP BY 1)
        |SELECT b.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(per.n_dup, 0)::BIGINT AS n_dup,
        |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
        |       ELSE round(per.n_dup::DOUBLE / per.n_grams::DOUBLE, 6) END AS dup_ratio
        |FROM (SELECT DISTINCT doc_id FROM base) b
        |LEFT JOIN per ON b.doc_id = per.doc_id""".stripMargin),

    // --- embedding-cosine near-dup on RAW documents ---------------------
    // Embed the text, threshold-pair in embedding space. The contract
    // earned in-plan: every EXACT duplicate pair (md5-equal normalized
    // text ⇒ identical embedding) must be found with cosine ≈ 1 — the
    // recall floor of embedding-space dedup. Embedding values are
    // murmur3-dependent, hence the digest; n_exact_pairs is recomputed
    // relationally by the oracle.
    QuerySpec("q55_embed_dups", ((s, d) => {
      // The corpus has no exact duplicates, so 10 known copies are
      // PLANTED (same text, offset ids) — the recall contract is then
      // non-vacuous: embedding-space dedup must find every planted pair
      // at cosine ≈ 1 regardless of what the hashing embeds to.
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(base.where(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val emb = Embedder.fitEmbed(corpus)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val pairs = Dedup.cosinePairs(emb, 0.995, "vec_id", "embedding")
      val hashed = corpus.select(col("doc_id"), md5(lower(trim(col("text")))).as("ch"))
      val exactPairs = hashed.as("x")
        .join(hashed.as("y"), col("x.ch") === col("y.ch") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      pairs.select(col("a"), col("b"), col("sim"), lit(1).as("in_pairs"))
        .join(exactPairs.withColumn("in_exact", lit(1)), Seq("a", "b"), "full_outer")
        .agg(
          count(when(col("in_exact").isNotNull, 1)).as("n_exact_pairs"),
          (count(when(col("in_exact").isNotNull, 1)) ===
            count(when(col("in_exact").isNotNull && col("sim") >= 0.9999, 1)))
            .as("all_exact_found"))
    }),
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10),
        |h AS (SELECT doc_id, md5(lower(trim(text))) AS ch FROM corpus)
        |SELECT count(*) AS n_exact_pairs, true AS all_exact_found
        |FROM h x JOIN h y ON x.ch = y.ch AND x.doc_id < y.doc_id""".stripMargin),

    // --- SimHash near-dup pairs (pigeonhole chunk join) -----------------
    QuerySpec("q39_simhash_pairs", ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), 3)),
      s"""WITH $toksCte,
        |t AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        |h AS (SELECT doc_id, cast('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h60 FROM t),
        |bits AS (SELECT doc_id, bb.b AS b,
        |    sum(CASE WHEN (h60 >> bb.b) % 2 = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bb GROUP BY 1, 2),
        |s AS (SELECT doc_id, sum(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
        |      FROM bits GROUP BY 1),
        |fp AS (SELECT d.doc_id, coalesce(s.sh, 0)::BIGINT AS sh
        |       FROM documents d LEFT JOIN s USING (doc_id)),
        |keyed AS (SELECT doc_id, sh,
        |    unnest(list_transform(range(0, 4), c -> c || ':' || ((sh >> (c*15)) % 32768))) AS chunk_key
        |  FROM fp),
        |p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |      FROM keyed x JOIN keyed y USING (chunk_key) WHERE x.doc_id < y.doc_id)
        |SELECT a, b, bit_count(xor(fa.sh, fb.sh))::INT AS hamming
        |FROM p JOIN fp fa ON p.a = fa.doc_id JOIN fp fb ON p.b = fb.doc_id
        |WHERE bit_count(xor(fa.sh, fb.sh)) <= 3""".stripMargin),

    // --- fuzzy entity resolution (blocked levenshtein) ---------------------
    // A dirty feed (every part name with its 3rd character dropped)
    // resolved against the canonical name catalog: prefix-blocked
    // candidate join + length-band filter + exact edit-distance verify +
    // per-probe argmin — never |probes|×|catalog| pairs.
    QuerySpec("q111_fuzzy_match", ((s, d) => {
      val part = Tables.part(s, d)
      val catalog = part.groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("cand_id"))
        .select(col("cand_id"), col("name"))
      val probes = part.select(col("p_partkey").as("probe_id"),
        concat(substring(col("p_name"), 1, 2),
          substring(col("p_name"), 4, 10000)).as("name"))
      FuzzyJoin.resolve(probes, catalog, maxDist = 2)
    }),
      """WITH cat AS (SELECT min(p_partkey)::BIGINT AS cand_id, p_name AS name
        |  FROM part GROUP BY p_name),
        |pr AS (SELECT p_partkey AS probe_id,
        |    substr(p_name, 1, 2) || substr(p_name, 4) AS name FROM part),
        |cand AS (SELECT pr.probe_id, cat.cand_id,
        |    levenshtein(lower(pr.name), lower(cat.name))::BIGINT AS dist
        |  FROM pr JOIN cat
        |    ON substr(lower(pr.name), 1, 2) = substr(lower(cat.name), 1, 2)
        |   AND abs(len(pr.name) - len(cat.name)) <= 2
        |  WHERE levenshtein(lower(pr.name), lower(cat.name)) <= 2)
        |SELECT probe_id, cand_id, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |      ORDER BY dist, cand_id) AS rn FROM cand)
        |WHERE rn = 1""".stripMargin),

    // --- LSH sketch-quality audit (candidates vs exact Jaccard) -----------
    // The audit that justifies trusting MinHash at 100 TB where the
    // exact join is unaffordable: precision/recall of the band-bucket
    // candidates against the exact n-gram Jaccard pairs at τ=0.2, every
    // count an exact integer, one division per metric.
    QuerySpec("q130_lsh_quality", ((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = Dedup.ngramJaccard(docs, 3, 0.2, maxDf = 1000)
        .select(col("a"), col("b")).withColumn("__e", lit(1))
      val cand = Dedup.minhashCandidates(docs, 3, 16, 8)
        .select(col("a"), col("b")).withColumn("__c", lit(1))
      exact.join(cand, Seq("a", "b"), "full_outer")
        .agg(sum(coalesce(col("__e"), lit(0))).as("n_exact"),
          sum(coalesce(col("__c"), lit(0))).as("n_cand"),
          sum(when(col("__e") === 1 && col("__c") === 1, 1).otherwise(0))
            .as("n_hit"))
        .select(col("n_exact"), col("n_cand"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_cand").cast("double"))
            .as("precision"),
          (col("n_hit").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    }),
      // Exact pairs at τ=0.2 (the q14 chain) vs band-bucket candidates
      // (the q15 chain); INTERSECT of distinct pair sets, one division
      // per metric.
      s"""WITH $toksCte,
        |$shCte,
        |cards AS (SELECT doc_id, len(s)::BIGINT AS card FROM sh),
        |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |p1 AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |      FROM inv x JOIN inv y USING (shingle) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
        |ex AS (SELECT a, b FROM p1
        |  JOIN cards ca ON p1.a = ca.doc_id JOIN cards cb ON p1.b = cb.doc_id
        |  WHERE inter::DOUBLE / (ca.card + cb.card - inter)::DOUBLE >= 0.2),
        |sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
        |    list_min(list_transform(s, x ->
        |      (((j * 2654435761) % 2147483647 + 1) * (cast('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)
        |        + ((j * 40503 + 11) % 2147483647)) % 2147483647))) AS sg
        |  FROM sh WHERE len(s) > 0),
        |keyed AS (SELECT doc_id,
        |    unnest(list_transform(range(0, 8), b -> b || ':' || array_to_string(sg[b*2+1:b*2+2], ','))) AS band_key
        |  FROM sig),
        |cd AS (SELECT x.doc_id AS a, y.doc_id AS b FROM keyed x
        |  JOIN keyed y USING (band_key) WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
        |cnt AS (SELECT (SELECT count(*) FROM ex) AS ne,
        |  (SELECT count(*) FROM cd) AS nc,
        |  (SELECT count(*) FROM (SELECT * FROM cd INTERSECT SELECT * FROM ex)) AS nh)
        |SELECT ne::BIGINT AS n_exact, nc::BIGINT AS n_cand, nh::BIGINT AS n_hit,
        |  nh::DOUBLE / nc::DOUBLE AS precision, nh::DOUBLE / ne::DOUBLE AS recall
        |FROM cnt""".stripMargin,
      heavy = true),
  )
}
