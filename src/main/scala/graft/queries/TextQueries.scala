package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Text analysis and multimodal plumbing: fingerprints, language ID,
  * quality and LM scores, vocabulary, chunking, keywords, packing,
  * repetition, PII scrubbing and media metadata. */
private[graft] object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    // --- text analysis --------------------------------------------------
    QuerySpec("q18_fingerprints", ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d))),
      s"""WITH $toksCte
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(tk, x ->
        |    cast('0x' || substr(md5(x), 1, 15) AS BIGINT) % 2147483647)),
        |    (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
        |FROM toks""".stripMargin),

    QuerySpec("q19_lang_id", ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
      s"""WITH $toksCte,
        |h AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens,
        |  len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','it'], t)))::BIGINT AS hits_en,
        |  len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','ein','nicht','mit'], t)))::BIGINT AS hits_de,
        |  len(list_filter(tk, t -> list_contains(['le','la','les','et','est','un','une','dans'], t)))::BIGINT AS hits_fr,
        |  len(list_filter(tk, t -> list_contains(['el','la','los','y','es','un','una','en'], t)))::BIGINT AS hits_es
        |  FROM toks)
        |SELECT doc_id, n_tokens, hits_en, hits_de, hits_fr, hits_es,
        |  CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
        |       WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
        |       WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
        |       WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM h""".stripMargin),

    QuerySpec("q20_quality", ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
      s"""WITH $toksCte,
        |m AS (SELECT d.doc_id, d.text, t.tk FROM documents d JOIN toks t USING (doc_id)),
        |c AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens, length(text) AS n_char,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_chars,
        |  len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','it','der','die','das','und','ist','ein','nicht','mit','le','la','les','et','est','un','une','dans','el','la','los','y','es','un','una','en'], t))) AS stop_hits,
        |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk)::DOUBLE END AS mean_token_len
        |  FROM m)
        |SELECT doc_id, n_tokens, mean_token_len,
        |  CASE WHEN n_char = 0 THEN 0.0 ELSE punct_chars::DOUBLE / n_char::DOUBLE END AS punct_ratio,
        |  CASE WHEN n_char = 0 THEN 0.0 ELSE alpha_chars::DOUBLE / n_char::DOUBLE END AS alpha_ratio,
        |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits::DOUBLE / n_tokens::DOUBLE END AS stopword_ratio,
        |  (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE alpha_chars::DOUBLE / n_char::DOUBLE END) >= 0.6 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN n_char = 0 THEN 0.0 ELSE punct_chars::DOUBLE / n_char::DOUBLE END) <= 0.1 THEN 0.25 ELSE 0.0 END
        |  )::DOUBLE AS quality
        |FROM c""".stripMargin),

    QuerySpec("q21_token_counts", ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))::BIGINT AS bpe_tokens
        |FROM documents""".stripMargin),

    // --- sketch-guided heavy hitters (exact-verified) -------------------
    // freqItems nominates ≤1/support candidates in one pass; exact
    // counts over candidates keep the true >3% terms. The sketch only
    // accelerates — the output is exact and plain-SQL-replayable.
    QuerySpec("q87_heavy_hitters", ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), 0.03)),
      s"""WITH $toksCte,
        |t AS (SELECT unnest(tk) AS term FROM toks),
        |n AS (SELECT count(*) AS n_total FROM t),
        |c AS (SELECT term, count(*)::BIGINT AS cnt FROM t GROUP BY 1)
        |SELECT term, cnt, round(cnt::DOUBLE / n_total::DOUBLE, 6) AS freq
        |FROM c CROSS JOIN n WHERE cnt > 0.03 * n_total""".stripMargin),

    // --- char-trigram LM surprise score (statistical quality filter) ----
    // NLL under an add-one-smoothed conditional trigram model of the
    // corpus itself; the model is alphabet-bounded (≤|Σ|³ rows at any
    // corpus size) so scoring is a broadcast join, not a shuffle.
    QuerySpec("q85_lm_score", ((s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d))),
      s"""WITH $toksCte,
        |s AS (SELECT doc_id, array_to_string(tk, ' ') AS s FROM toks),
        |tris AS (SELECT doc_id, unnest(list_transform(range(1, len(s) - 1),
        |           i -> substr(s, i, 3))) AS tri FROM s),
        |model AS (SELECT tri, count(*)::BIGINT AS cnt3 FROM tris GROUP BY 1),
        |pre AS (SELECT substr(tri, 1, 2) AS pre, sum(cnt3)::BIGINT AS cnt2
        |        FROM model GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(tri, 3, 1)) AS v FROM model)
        |SELECT t.doc_id, count(*)::BIGINT AS n_tris,
        |  round(-avg(ln((m.cnt3 + 1.0) / (p.cnt2 + v.v))), 6) AS nll
        |FROM tris t JOIN model m ON t.tri = m.tri
        |JOIN pre p ON substr(t.tri, 1, 2) = p.pre
        |CROSS JOIN v
        |GROUP BY t.doc_id""".stripMargin),

    // --- corpus vocabulary: term/document frequency -----------------------
    // The IDF-vocabulary build: explode tokens once, one shuffle on term,
    // df + tf in the same aggregate; min-df pruning drops the hapax tail
    // that dominates vocabulary size.
    QuerySpec("q65_vocabulary", ((s, d) => {
      // per-doc tf is map-side (TermCounts): the old shape exploded one
      // row per TOKEN and paid a (term, doc) exchange before the term
      // rollup — now the only exchange is the term-key merge. df counts
      // doc ROWS per term, so this leans on doc_id being unique (it is:
      // documents' primary key).
      val tf = graft.functions.TextFunctions.termCounts(
        graft.functions.TextFunctions.tokens(col("text")))
      Tables.documents(s, d)
        .select(explode(tf).as("tc"))
        .select(col("tc.term").as("term"), col("tc.tf").as("n"))
        .groupBy("term").agg(count(lit(1)).as("df"), sum(col("n")).as("tf"))
        .where(col("df") >= 3)
    }),
      s"""WITH $toksCte,
        |t AS (SELECT doc_id, unnest(tk) AS term FROM toks),
        |g AS (SELECT term, doc_id, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT term, count(*) AS df, sum(n)::BIGINT AS tf
        |FROM g GROUP BY term HAVING count(*) >= 3""".stripMargin),

    // Batch path = the relational sessionizer (spillable window sort, no
    // object state — a mega-user spills instead of OOMing a task; round-2
    // verdict #1). The result contract stays the mapGroupsWithState final
    // state: each user's LAST session — selected with one more pass over
    // the tiny (user, session) frame. EventStreamSpec proves batch ≡
    // mapGroupsWithState; the streaming runtime keeps sessionize.
    // --- sliding-window document chunking (RAG / context prep) ---------
    // 50-token windows every 40 tokens; chunk content digested by md5 so
    // the oracle hash-checks every chunk's exact tokens without the
    // output carrying the text.
    QuerySpec("q72_chunking", ((s, d) =>
      TextAnalysis.chunk(Tables.documents(s, d), 50, 40)),
      s"""WITH $toksCte,
        |st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 40)) AS start
        |       FROM toks WHERE len(tk) > 0)
        |SELECT doc_id, (start // 40)::BIGINT AS chunk_id,
        |  least(50, len(tk) - start)::BIGINT AS n_tokens,
        |  md5(array_to_string(tk[start+1:start+50], ' ')) AS chunk_md5
        |FROM st""".stripMargin),

    // --- per-document TF-IDF keywords -----------------------------------
    // Top-3 terms per doc by tf·ln((N+1)/(df+1)) — keyword extraction
    // composed from the vocabulary shuffle + a doc-key ranked window.
    QuerySpec("q73_keywords", ((s, d) =>
      TextAnalysis.keywords(Tables.documents(s, d), 3)),
      s"""WITH $toksCte,
        |t AS (SELECT doc_id, unnest(tk) AS term FROM toks),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf * ln((n_docs + 1.0) / (df + 1.0)) AS score
        |       FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM sc)
        |SELECT doc_id, term, rnk, round(score, 6) AS score FROM r WHERE rnk <= 3""".stripMargin),

    // --- sequence packing (concatenate-and-cut) --------------------------
    // Every document's tokens on one global tape, cut every 512 tokens;
    // one row per (doc, bin) overlap. Two-level prefix sum — no global
    // single-task sort (see TextAnalysis.packSequences).
    QuerySpec("q76_pack_sequences", ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), 512, 128)),
      s"""WITH $toksCte,
        |nt AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens FROM toks WHERE len(tk) > 0),
        |o AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
        |  FROM nt),
        |b AS (SELECT doc_id, n_tokens, start,
        |    unnest(range(start // 512, (start + n_tokens - 1) // 512 + 1)) AS bin_id
        |  FROM o)
        |SELECT doc_id, n_tokens, start, bin_id::BIGINT AS bin_id,
        |  (least(start + n_tokens, (bin_id + 1) * 512) -
        |   greatest(start, bin_id * 512))::BIGINT AS tok_in_bin
        |FROM b""".stripMargin),

    // --- within-document repetition (boilerplate filter) -----------------
    QuerySpec("q78_repetition", ((s, d) =>
      TextAnalysis.repetition(Tables.documents(s, d), 3)),
      s"""WITH $toksCte,
        |g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
        |    ELSE list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gr
        |  FROM toks)
        |SELECT doc_id, len(gr)::BIGINT AS n_grams,
        |  len(list_distinct(gr))::BIGINT AS n_distinct,
        |  CASE WHEN len(gr) = 0 THEN 0.0
        |       ELSE round(1.0::DOUBLE - len(list_distinct(gr))::DOUBLE / len(gr)::DOUBLE, 6)
        |  END AS rep_ratio
        |FROM g""".stripMargin),

    // --- PII scrubbing ----------------------------------------------------
    // Emails/phones are injected deterministically (doc_id % 5 / % 7) so
    // the redaction has real work; the md5 digests the redacted text.
    QuerySpec("q79_pii_scrub", ((s, d) => {
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.piiScrub(injected)
    }),
      """WITH t AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
        |  md5(regexp_replace(regexp_replace(txt,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM t""".stripMargin),

    // --- multimodal plumbing --------------------------------------------
    // REAL codec round-trip (round 9): blobs are genuine PNG / filmstrip
    // PNG / WAV containers; the emitted width/height/n_frames come from a
    // real javax.imageio / javax.sound header probe of those bytes. The
    // oracle can replay the values because the encode side derives the
    // container dims from the text length and the codecs are lossless.
    QuerySpec("q30_media_meta", ((s, d) =>
      Multimodal.decodeBatched(Multimodal.withBlob(Tables.documents(s, d))).toDF()),
      // Real-codec contract: width/height/n_frames/decoded_bytes come from
      // a real PNG/WAV header probe on the Spark side; the oracle replays
      // the encode-side dimension rule (audio has no raster → 0×0, one PCM
      // frame per text byte; stills decode 1 frame; filmstrips
      // height/frame_h = 1+n%30 frames).
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  (CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 16 + n % 240 END)::INT AS width,
        |  (CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 16 + (n * 7) % 240 END)::INT AS height,
        |  (CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN n ELSE 1 + n % 30 END)::INT AS n_frames,
        |  (CASE doc_id % 3
        |     WHEN 0 THEN (16 + n % 240) * (16 + (n * 7) % 240)
        |     WHEN 1 THEN n
        |     ELSE (16 + n % 240) * (16 + (n * 7) % 240) * (1 + n % 30)
        |   END)::BIGINT AS decoded_bytes
        |FROM m""".stripMargin),

    // Byte-histogram features over the REAL decoded buffer (PNG raster /
    // WAV PCM — the feature-extract stage of the media pipeline),
    // digested bin-by-bin. The payload is the doc's text bytes cycled to
    // the raster length and the corpus is ASCII, so the oracle can
    // recompute the decoded-byte counts from character codes with a
    // cycling-repetition weight.
    QuerySpec("q45_media_features", ((s, d) =>
      Multimodal.featuresBatched(Multimodal.withBlob(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "v")))
        .select(col("doc_id"), col("bin"), round(col("v"), 6).as("v"))),
      s"""WITH ${mediaHistSql("documents")},
        |grid AS (SELECT d.doc_id, bb.bin FROM documents d
        |         CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bb)
        |SELECT g.doc_id, g.bin::INT AS bin,
        |  round(CASE WHEN mn.nrm IS NULL OR mn.nrm = 0 THEN 0.0
        |             ELSE coalesce(mh.c, 0.0) / mn.nrm END, 6) AS v
        |FROM grid g
        |LEFT JOIN mh ON g.doc_id = mh.doc_id AND g.bin = mh.bin
        |LEFT JOIN mn ON g.doc_id = mn.doc_id""".stripMargin),

    // EXECUTED aspect-preserving resize to a 64x64 box (round-10 item 2):
    // one map-side pass decodes each visual payload, nearest-neighbor
    // resamples every frame under the integer rule src_x = ⌊x·W/outW⌋
    // (SQL-replayable position-by-position), re-encodes the real PNG,
    // decodes THAT back and digests the round-tripped raster — px_sum /
    // px_wsum are exact integer digests the oracle recomputes from the
    // text, so the full decode→resample→encode→decode chain is
    // hash-verified, and roundtrip_ok pins losslessness in-plan.
    QuerySpec("q54_media_resize", ((s, d) =>
      Multimodal.resizeDigest(Multimodal.withBlob(Tables.documents(s, d)), 64, 64)
        .toDF()),
      // Visual rows only (audio has no raster). The oracle replays the
      // EXECUTED resample: out pixel (f,y,x) reads source position
      // (f·H + ⌊y·H/out_h⌋)·W + ⌊x·W/out_w⌋ of the cycled text payload,
      // and the digests sum the round-tripped bytes — so a DuckDB
      // recomputation from raw text must hash-match what Spark read back
      // out of the re-encoded PNG. Empty text ⇒ zero-filled raster
      // (cycle()'s rule), pinned here as byte = 0 when n = 0.
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id % 3 <> 1),
        |d AS (SELECT doc_id, text, n,
        |    (16 + n % 240)::INT AS width,
        |    (16 + (n * 7) % 240)::INT AS height,
        |    CASE WHEN doc_id % 3 = 2 THEN 1 + n % 30 ELSE 1 END AS frames
        |  FROM m),
        |o AS (SELECT doc_id, text, n, width, height, frames,
        |    greatest(1, floor(width * least(64.0 / width, 64.0 / height, 1.0)))::INT AS out_w,
        |    greatest(1, floor(height * least(64.0 / width, 64.0 / height, 1.0)))::INT AS out_h
        |  FROM d),
        |pos AS (SELECT doc_id, text, n, width, height, frames, out_w, out_h,
        |    unnest(range(0, frames * out_h * out_w)) AS p
        |  FROM o),
        |px AS (SELECT doc_id, width, height, out_w, out_h, frames, p,
        |    CASE WHEN n = 0 THEN 0
        |         ELSE ord(substr(text,
        |           ((((p // (out_h * out_w)) * height
        |              + ((p % (out_h * out_w)) // out_w) * height // out_h) * width
        |             + (p % out_w) * width // out_w) % n) + 1, 1))
        |    END AS byte
        |  FROM pos)
        |SELECT doc_id, width, height, out_w, out_h, frames::INT AS n_frames,
        |  sum(byte)::BIGINT AS px_sum, sum((p + 1) * byte)::BIGINT AS px_wsum,
        |  true AS roundtrip_ok
        |FROM px GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin),

    // Every 5th frame index of each video payload (frame-sample stage).
    QuerySpec("q46_frame_sample", ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.decodeBatched(Multimodal.withBlob(Tables.documents(s, d))), 5)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))),
      """SELECT doc_id, unnest(range(1, n_frames + 1, 5))::BIGINT AS frame_idx
        |FROM (SELECT doc_id, 1 + (octet_length(encode(text)) % 30) AS n_frames
        |      FROM documents WHERE doc_id % 3 = 2)""".stripMargin),

    // --- per-language token entropy + type-token ratio ---------------------
    // Corpus-diversity audit for data mixing: Shannon entropy of each
    // language's token distribution, fixed-point Σ c·ln c so the big sum
    // is exact integers.
    QuerySpec("q147_entropy", ((s, d) =>
      TextAnalysis.sliceEntropy(Tables.documents(s, d), "lang")),
      """WITH tk AS (SELECT lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      t -> t != '') AS tk
        |  FROM documents),
        |t AS (SELECT lang, unnest(tk) AS term FROM tk),
        |c AS (SELECT lang, term, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT lang, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |    sum(floor(c::DOUBLE * ln(c::DOUBLE) * 1000000.0::DOUBLE
        |      + 0.5::DOUBLE)::BIGINT)::BIGINT AS s
        |  FROM c GROUP BY 1)
        |SELECT lang, n_tokens, n_types,
        |  round(n_types::DOUBLE / n_tokens::DOUBLE, 6) AS ttr,
        |  round((ln(n_tokens::DOUBLE)
        |    - s::DOUBLE / 1000000.0::DOUBLE / n_tokens::DOUBLE)
        |    / ln(2.0::DOUBLE), 6) AS entropy_bits
        |FROM a""".stripMargin),
  )
}
