package graft
package queries

import graft.operators._
import graft.sources.{AmazonMetaParser, BuildOnce, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What the query families share: the Spark-side frames (query sets,
  * retrieval arms, fixtures, build-once artifacts) and the DuckDB CTE
  * fragments their oracles splice in. */
private[graft] object QueryHelpers {

  // ---------------------------------------------------------------- Spark side

  def clamp01(c: Column): Column = greatest(lit(0.0), least(lit(1.0), c))

  /** Co-purchase edges from the order basket (SURVEY §2 A1/J1/J2 on the
    * driver corpus: parts sharing an order; FIXTURES.md §3). */
  def basketEdges(s: SparkSession, d: String): DataFrame =
    CoPurchaseGraph.symmetrize(CoPurchaseGraph.fromOrders(Tables.lineitem(s, d)))

  /** Basket edges pruned to orders touching the query set — same result
    * for any edge with an endpoint in `queries`, a fraction of the cost
    * (see CoPurchaseGraph.fromOrdersFor). */
  def basketEdgesFor(s: SparkSession, d: String, queries: DataFrame): DataFrame =
    CoPurchaseGraph.symmetrize(
      CoPurchaseGraph.fromOrdersFor(Tables.lineitem(s, d), queries))

  /** The restricted query set used by q07/q25/q26 (raw scan: ~100 rows
    * post-filter, always broadcast). */
  def partQueries(s: SparkSession, d: String): DataFrame =
    Tables.tableRaw(s, d, "part").where(col("p_partkey") <= 100)
      .select(col("p_partkey").as("query_id"))

  /** Query vectors: the first `n` ids of the embeddings table. Raw scan —
    * the pushed vec_id filter leaves ≤ n rows headed for a broadcast, so
    * the fan-out repartition would only add a shuffle stage. */
  def queryVecs(s: SparkSession, d: String, n: Int = 20): DataFrame =
    Tables.embeddingsRaw(s, d).where(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** nProbe for the RECALL-GATED serve queries (q34/q68): 75 % of the
    * index's adaptive cell count — the 12-of-16 fraction the gates were
    * originally measured at, held constant so the candidate volume (and
    * the measured recall floors) survive the √N cell-count default.
    * Un-gated serve queries (q37/q43/q92) keep their fixed small nProbe:
    * their contracts are structural, and fixed-nProbe serving is the
    * trade a deployment tunes per its own recall target
    * (SCALE.md, round 10, "Recall contract at the sf dirs"). */
  def gateProbes(s: SparkSession, d: String): Int =
    math.ceil(0.75 * IvfIndexStore.nCells(s, d)).toInt

  /** Co-label CF arm shared by q27/q74: top-60 co-label neighbors per
    * query with (src, dst, weight, norm, rnk). The src side is restricted
    * to the query ids BEFORE the co-label self-join: CfRetriever's
    * src∈queries semi-join cannot be pushed through the join by Catalyst,
    * so without this the pair expansion is quadratic in the whole table to
    * keep |Q| sources (round-1 verdict scale-killer #3). */
  def coLabelCf(s: SparkSession, d: String, q: DataFrame): DataFrame = {
    val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val qlbl = lbl.join(q.select(col("query_id").as("vec_id")).hint("broadcast"),
      Seq("vec_id"), "left_semi")
    val edges = qlbl.as("x")
      .join(lbl.as("y"), col("x.label") === col("y.label") &&
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
        lit(1L).as("weight"))
    CfRetriever.topNFor(edges, q.select(col("query_id")), 60)
  }

  /** The q27 retrieval arms as score frames: content (query_id, item,
    * cs) and co-label CF (query_id, item, fs) at depth 60 — shared by
    * the blend/sweep/calibration queries. */
  def hybridArms(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val q = queryVecs(s, d)
    val content = ContentRetriever.topK(Tables.embeddings(s, d), q, 60)
      .select(col("query_id"), col("vec_id").as("item"), clamp01(col("sim")).as("cs"))
    val cf = coLabelCf(s, d, q)
      .select(col("src").as("query_id"), col("dst").as("item"), col("norm").as("fs"))
    (content, cf)
  }

  /** Full fused candidate pool with the α=0.6 blend score and NO
    * ranking window — what score-distribution consumers (q122
    * reliability, q126 isotonic) need; blend()'s per-query sort would
    * be dead work there. Same pool and arithmetic as blend(alpha = 0.6). */
  def fusedPool(s: SparkSession, d: String): DataFrame = {
    val (content, cf) = hybridArms(s, d)
    HybridScorer.candidatePool(content, cf)
      .withColumn("score", HybridScorer.blendScore(0.6))
  }

  /** Flagship hybrid top-k (reference E2, `Hybrid_Recom_vecdb.py:213-231`):
    * content arm = exact cosine top-60 over the embeddings table; CF arm =
    * co-label graph top-60; blend α=0.6; top-10 per query. */
  def hybridTopK(s: SparkSession, d: String): DataFrame = {
    val (content, cf) = hybridArms(s, d)
    HybridScorer.blend(content, cf, 0.6, 10)
      .withColumn("cs", round(col("cs"), 6))
      .withColumn("final", round(col("final"), 6))
  }

  /** Perturb an orders projection (must carry o_orderkey + cents) into
    * the "old" snapshot BOTH CDC law queries diff against — q157 (MERGE
    * apply) and q169 (retractable aggregate maintenance). Keys ≡ 3
    * (mod 13) dropped → inserts; ≡ 7 price doubled → updates; ≡ 5
    * re-keyed past 10^9 → ghost rows → deletes. One definition so the
    * two laws can never drift apart silently. */
  def cdcOldSnapshot(ord: DataFrame): DataFrame =
    ord.where(pmod(col("o_orderkey"), lit(13)) =!= 3)
      .withColumn("cents", when(pmod(col("o_orderkey"), lit(13)) === 7,
        col("cents") * 2).otherwise(col("cents")))
      .unionByName(ord.where(pmod(col("o_orderkey"), lit(13)) === 5)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))

  /** Co-label ground truth for the E3 evaluation queries: items sharing
    * the query's label (the corpus' co-purchase-neighbor analog). */
  def coLabelTruth(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddingsRaw(s, d).where(col("vec_id") < 20)
      .select(col("vec_id"), col("label"))
    q.as("x")
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")).as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("item"))
  }

  /** Six-product amazon-meta corpus for the composed E2 pipeline (q38)
    * and the real-file parse path (q41). Titles/groups/similar-lists are
    * chosen so every operator in the chain has work to do: a substring
    * resolve ("gamma" → A3), a co-purchase graph with cross-group edges,
    * and a latin-1 title (Café) exercising the ISO-8859-1 read. */
  val e2Stanzas = Seq(
    "Id:   1\nASIN: A1\n  title: Alpha Book\n  group: Book\n  similar: 2  A2  A3\n  categories: 1\n   |Books[1]",
    "Id:   2\nASIN: A2\n  title: Beta Book\n  group: Book\n  similar: 1  A1\n  categories: 1\n   |Books[1]",
    "Id:   3\nASIN: A3\n  title: Gamma Guide\n  group: Book\n  similar: 1  A1\n  categories: 2\n   |Books[1]\n   |Guides[2]",
    "Id:   4\nASIN: A4\n  title: Delta Music\n  group: Music\n  similar: 1  A5\n  categories: 1\n   |CDs[3]",
    "Id:   5\nASIN: A5\n  title: Epsilon Music\n  group: Music\n  similar: 2  A4  A1\n  categories: 1\n   |CDs[3]",
    "Id:   6\nASIN: A6\n  title: Zeta Film Café\n  group: Video\n  similar: 0\n  categories: 1\n   |Video[4]")

  /** Write the e2 corpus as a gzipped ISO-8859-1 amazon-meta dump —
    * header lines before the first `Id:` included, so the file-read path
    * (`lineSep = "\nId:"`) proves it drops the header stanza. Idempotent
    * tmp artifact (q41's fixture). The filename carries a content
    * fingerprint (like IvfIndexStore.root): editing e2Stanzas can never
    * hit a stale artifact from an earlier code state. Written via
    * temp-file-then-rename so a crashed write never persists a
    * truncated fixture. */
  def e2FixturePath(): String = synchronized {
    val bytes = ("# Full information about the test products\n# (header)\n\n" +
      e2Stanzas.mkString("\n\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val fp = java.util.UUID.nameUUIDFromBytes(bytes).toString.take(8)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val f = new java.io.File(dir, s"graft-amazon-meta-fixture-$fp.txt.gz")
    if (!f.exists()) {
      val tmp = java.io.File.createTempFile("graft-amazon-meta-", ".tmp", dir)
      val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(tmp))
      try out.write(bytes)
      finally out.close()
      if (!tmp.renameTo(f) && !f.exists())
        throw new java.io.IOException(s"could not publish fixture $f")
    }
    f.getAbsolutePath
  }

  /** Build-once ([[BuildOnce]]) half-corpus index + upserted other half
    * for q66, under the IVF store's root. The overwrite-then-append pair
    * is safe to rerun: the overwrite wipes the path, so a repeated build
    * never double-appends. */
  def ensureUpsertedIndex(s: SparkSession, d: String): String = {
    val root = IvfIndexStore.root(d) + "/upsert-check"
    BuildOnce.ensure(root) {
      IvfIndexStore.ensure(s, d)
      val model = IvfIndexStore.loadModel(d)
      val emb = Tables.embeddings(s, d)
      Ivf.writeIndex(Ivf.assign(model, emb.where(col("vec_id") % 2 === 0)), s"$root/index")
      Ivf.upsertIndex(model, emb.where(col("vec_id") % 2 === 1), s"$root/index")
    }
    s"$root/index"
  }

  /** The e2 corpus as a parsed product DataFrame. */
  def e2Products(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(e2Stanzas).flatMap(AmazonMetaParser.parseStanza _).toDF()
  }

  /** amazon-meta stanza fixture (FIXTURES.md §1 edge cases). */
  val stanzaFixture = Seq(
    "Id:   1\nASIN: A1\n  title: Alpha Beta\n  group: Book\n  similar: 2 A2 A3\n  categories: 2\n   |Books[1]|Fiction[2]\n   |Books[1]|Arts[3]",
    "Id:   2\nASIN: A2\n  group: Music\n  similar: 1 A1\n  categories: 0",
    "Id:   3\nASIN: A3\n  title: Gamma\n  group: \n  similar: 0\n  categories: 1\n   |CDs[9]")

  // ------------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE fragments (kept identical across oracle queries). */
  val toksCte =
    "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t != '') AS tk FROM documents)"
  val shCte =
    "sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[] ELSE list_distinct(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s FROM toks)"
  val basketCtes =
    """items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
      |e AS (SELECT a.item AS src, b.item AS dst, count(*) AS weight
      |      FROM items a JOIN items b USING (okey) WHERE a.item < b.item GROUP BY 1, 2),
      |sym AS (SELECT src, dst, weight FROM e
      |        UNION ALL SELECT dst AS src, src AS dst, weight FROM e)""".stripMargin
  /** The 42 Morton shift/mask terms of Layout.zValue as DuckDB SQL. */
  def zSql(a: String, b: String): String =
    (0 until 21).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i})",
      s"((($b >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  def cosSql(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)) = 0 THEN 0.0 " +
      s"ELSE list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))) END"

  /** Decoded-payload replay for the real-codec Multimodal oracles. Given
    * a CTE/table `src(doc_id, text)`, emits `mm(doc_id, n, tt)` — payload
    * byte length and REAL decoded-buffer length per media type (image
    * W·H, filmstrip W·H·frames, WAV one byte per sample; dims rule
    * W=16+n%240, H=16+7n%240, frames=1+n%30 — [[Multimodal.withBlob]]) —
    * and `mh(doc_id, bin, c)`, the 16-bin histogram of the decoded
    * buffer: byte i of the text repeats `reps(i) = ⌊(tt-1-i)/n⌋+1` times
    * (0 when i ≥ tt) under the cycle-fill rule, so the histogram of real
    * lossless-codec output is recomputable from the text alone.
    *
    * Empty-payload rule (round-9 ADVICE): an EMPTY text on a visual doc
    * still carries a real tt-byte raster — [[Multimodal.withBlob]]'s
    * cycle() zero-fills it — so all tt bytes land in bin 0 (0 % 16);
    * the `n = 0 AND tt > 0` branch pins that on the oracle side. An
    * empty AUDIO payload has tt = 0 and stays the all-zero vector. */
  def mediaHistSql(src: String): String =
    s"""mm AS (SELECT doc_id, text, octet_length(encode(text)) AS n,
      |    CASE doc_id % 3
      |      WHEN 0 THEN (16 + octet_length(encode(text)) % 240)
      |                  * (16 + (octet_length(encode(text)) * 7) % 240)
      |      WHEN 1 THEN octet_length(encode(text))
      |      ELSE (16 + octet_length(encode(text)) % 240)
      |           * (16 + (octet_length(encode(text)) * 7) % 240)
      |           * (1 + octet_length(encode(text)) % 30)
      |    END AS tt
      |  FROM $src),
      |mpos AS (SELECT doc_id, n, tt, unnest(range(0, n)) AS i, text FROM mm),
      |mrep AS (SELECT doc_id, ord(substr(text, i + 1, 1)) % 16 AS bin,
      |    CASE WHEN i >= tt THEN 0 ELSE (tt - 1 - i) // n + 1 END AS reps
      |  FROM mpos),
      |mh0 AS (SELECT doc_id, bin, sum(reps)::DOUBLE AS c FROM mrep
      |        GROUP BY 1, 2 HAVING sum(reps) > 0),
      |mh AS (SELECT doc_id, bin, c FROM mh0
      |       UNION ALL
      |       SELECT doc_id, 0 AS bin, tt::DOUBLE AS c FROM mm
      |       WHERE n = 0 AND tt > 0),
      |mn AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM mh GROUP BY 1)""".stripMargin

  /** BM25 CTE chain mirroring [[Bm25.topK]] operation-for-operation
    * (every fractional literal carries ::DOUBLE so DuckDB never slips
    * into DECIMAL arithmetic; per-term contributions snap to 1e-9 via
    * floor(x+0.5) fixed-point exactly like the Spark side). Caller
    * supplies the query-terms CTE `qt(query_id, term)`; the chain ends
    * in `bmr(query_id, doc_id, score, rnk)` with rnk <= `k`. */
  def bm25Sql(qtCte: String, k: Int, excludeSelf: Boolean): String = {
    val excl = if (excludeSelf) "WHERE doc_id != query_id " else ""
    s"""$toksCte,
      |bpost AS (SELECT doc_id, term, count(*)::BIGINT AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY 1, 2),
      |bdl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM bpost GROUP BY 1),
      |bdf AS (SELECT term, count(*)::BIGINT AS df FROM bpost GROUP BY 1),
      |bst AS (SELECT count(*)::BIGINT AS n_docs,
      |  sum(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
      |$qtCte,
      |bc AS (SELECT qt.query_id, p.doc_id,
      |    ln(1.0::DOUBLE + (bst.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
      |      (p.tf * (1.2::DOUBLE + 1.0)) /
      |      (p.tf + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE * bdl.dl) / bst.avgdl))
      |    AS contrib
      |  FROM bpost p JOIN bdf f USING (term) JOIN qt USING (term)
      |  JOIN bdl ON p.doc_id = bdl.doc_id CROSS JOIN bst),
      |bsc AS (SELECT query_id, doc_id,
      |    sum(floor(contrib * 1e9 + 0.5::DOUBLE)::BIGINT)::BIGINT / 1e9 AS s
      |  FROM bc ${excl}GROUP BY 1, 2),
      |bmr AS (SELECT query_id, doc_id, round(s, 6) AS score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
      |  FROM bsc QUALIFY rnk <= $k)""".stripMargin
  }

  /** The q27 hybrid pipeline as a reusable CTE chain ending in `r`
    * (ranked blended candidates with rnk). */
  lazy val hybridCtes: String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
      |sc AS (SELECT q.query_id, e.vec_id AS item, ${cosSql("q.qv", "e.v")} AS s
      |       FROM q CROSS JOIN e WHERE q.query_id != e.vec_id),
      |content AS (SELECT query_id, item, greatest(0.0, least(1.0, s)) AS cs,
      |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, item) AS rr
      |  FROM sc QUALIFY rr <= 60),
      |cf AS (SELECT a.vec_id AS query_id, b.vec_id AS item, 1.0::DOUBLE AS fs,
      |    row_number() OVER (PARTITION BY a.vec_id ORDER BY b.vec_id) AS rr
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
      |  WHERE a.vec_id < 20 QUALIFY rr <= 60),
      |fu AS (SELECT coalesce(c.query_id, g.query_id) AS query_id,
      |    coalesce(c.item, g.item) AS item,
      |    coalesce(c.cs, 0.0) AS cs, coalesce(g.fs, 0.0) AS fs,
      |    0.6 * coalesce(c.cs, 0.0) + 0.4 * coalesce(g.fs, 0.0) AS fin
      |  FROM content c FULL OUTER JOIN cf g ON c.query_id = g.query_id AND c.item = g.item),
      |r AS (SELECT query_id, item, cs, fs, fin,
      |    row_number() OVER (PARTITION BY query_id ORDER BY fin DESC, item) AS rnk FROM fu)""".stripMargin

  /** Co-label ground truth CTE (expects an `e` CTE carrying label). */
  val truthCte: String =
    """truth AS (SELECT a.vec_id AS query_id, b.vec_id AS item
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
      |  WHERE a.vec_id < 20)""".stripMargin

  /** Precision@K tail over `ranked`(query_id,item,rnk) and `truth`. */
  val precisionTail: String =
    """hits AS (SELECT r2.query_id, r2.item, r2.rnk FROM ranked r2
      |         SEMI JOIN truth t ON r2.query_id = t.query_id AND r2.item = t.item),
      |qq AS (SELECT DISTINCT query_id FROM ranked),
      |ks AS (SELECT unnest([5, 10]) AS k)
      |SELECT qq.query_id, ks.k,
      |  count(CASE WHEN h.rnk <= ks.k THEN 1 END) AS hits,
      |  count(CASE WHEN h.rnk <= ks.k THEN 1 END)::DOUBLE / ks.k::DOUBLE AS "precision"
      |FROM qq CROSS JOIN ks LEFT JOIN hits h ON qq.query_id = h.query_id
      |GROUP BY 1, 2""".stripMargin
}
