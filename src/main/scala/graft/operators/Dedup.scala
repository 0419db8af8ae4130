package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines.
  *
  * Not present in the reference (its corpus is keyed by unique ASIN); these
  * are the standard web-scale text-dedup operators, each expressed so the
  * expensive part is an *equi*-join Spark can hash-partition — never an
  * all-pairs comparison:
  *
  *  - exact:    one groupBy on a content hash (md5) — one shuffle.
  *  - n-gram Jaccard: inverted-index join on shingles (docs sharing ≥1
  *    shingle), then |A∩B| via groupBy — pairs never materialize unless
  *    they actually share content.
  *  - MinHash+LSH: signature (map-side fold) → band keys → equi-join on
  *    band key. At 100 TB only band-collisions shuffle.
  *  - SimHash: 60-bit fingerprint (map-side) → chunk keys (pigeonhole) →
  *    equi-join on chunk, Hamming ≤ r filter.
  *  - Embedding cosine: threshold pairs via LSH/IVF candidates; the
  *    brute-force variant is kept for verification at test scale.
  */
object Dedup {

  /** Exact dedup on normalized text. Output: one row per doc with its
    * content-group size and whether it is the canonical (min-id) copy. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol).as("doc_id"),
      md5(lower(trim(col(textCol)))).as("content_hash"))
    val w = Window.partitionBy("content_hash")
    hashed
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_duplicate", (col("doc_id") =!= col("canonical_id")))
  }

  /** Sentinel for [[ngramJaccard]]'s `maxDf`: derive the cap at run time
    * from the corpus's OWN df distribution (see [[adaptiveMaxDf]]) — the
    * self-protecting default. An explicit positive `maxDf` always wins;
    * `Int.MaxValue` explicitly disables the cap. */
  val AdaptiveMaxDf: Int = -1

  /** Uncapped-gate budget of the adaptive default: if the WHOLE df
    * distribution predicts at most `PairsPerDocBudget × |docs|` join
    * rows, the cap stays disabled and the operator takes the cheap
    * single-join path (no bound machinery at all). 512 gives two
    * orders of magnitude headroom over a measured healthy corpus
    * (sf0.1: 254 uncapped join rows/doc) while refusing the measured
    * adversarial blow-up (60× replica corpus: 15,000 join rows/doc
    * under the old fixed maxDf=1000 = 4.50G rows = local-spill death;
    * SCALE.md round-11 table). */
  private[graft] val PairsPerDocBudget = 512L

  /** Capped-regime budget: once the cap ENGAGES, every admitted
    * candidate pair may enter the exact-verification branch, whose rows
    * carry the two docs' heavy-shingle sets (~KBs, not the 48-byte
    * light-join row) — so admitted volume must be priced for that
    * payload, not for narrow rows. 16 pairs/doc × a ~4 KB verification
    * row ≈ 64 KB/doc of worst-case verification traffic — the same
    * order as the corpus's own text bytes, i.e. the operator never
    * shuffles more than a few× the data it read. (Round-12 measurement:
    * the first adaptive rule priced the capped regime at 512/doc in
    * NARROW rows, picked cap=528 on the 60× corpus — admitting a
    * bimodal 142M-pair boilerplate band — and died in verification
    * shuffle; see SCALE.md.) */
  private[graft] val CappedPairsPerDocBudget = 16L

  /** The adaptive-cap rule, pure so DedupSpec can pin it: given the
    * df histogram `(df, nShingles)` (df ≥ 2 bands only) and the corpus
    * size, two tiers —
    *
    *  - TOTAL predicted volume Σ n(df)·C(df,2) fits
    *    [[PairsPerDocBudget]]·|docs| → `Int.MaxValue` (cap disabled,
    *    cheap single-join path; the healthy-corpus common case);
    *  - otherwise the cap engages: pick the LARGEST cap — a distinct df
    *    value — whose cumulative volume fits the verification-priced
    *    [[CappedPairsPerDocBudget]]·|docs|; even the smallest band
    *    overflowing → 1 (refuse all quadratic work: a corpus of
    *    wholesale-identical shingle sets is [[exact]]'s job, and its
    *    pair OUTPUT is itself quadratic).
    *
    * Volume math in Double — precision near the budget boundary is
    * irrelevant and df² overflows Long on a 100 TB corpus. */
  private[graft] def adaptiveMaxDf(hist: Seq[(Long, Long)],
                                   nDocs: Long): Int =
    adaptiveMaxDfFromBands(hist.map { case (df, nsh) =>
      (df, nsh.toDouble * df.toDouble * (df - 1).toDouble / 2.0)
    }, nDocs)

  /** [[adaptiveMaxDf]] over pre-aggregated volume bands — the form the
    * operator feeds from Spark (round 13): each band is (capCandidate =
    * the band's max df, exactVolume = Σ C(df,2) over the band's
    * shingles, computed EXACTLY executor-side). Banding keeps the
    * driver collect bounded on adversarial df distributions (≤
    * [[HistExactMaxDf]] exact rows + ~54 log₂ buckets) without
    * approximating any volume: the total-gate decision is identical to
    * the exact histogram's, and an engaged cap is merely restricted to
    * band boundaries above [[HistExactMaxDf]] — conservative, never
    * over-budget. */
  private[graft] def adaptiveMaxDfFromBands(bands: Seq[(Long, Double)],
                                            nDocs: Long): Int = {
    val docs = math.max(nDocs, 1L).toDouble
    if (bands.map(_._2).sum <= docs * PairsPerDocBudget) return Int.MaxValue
    val budget = docs * CappedPairsPerDocBudget
    var cum = 0.0
    var cap = 1L
    var overflowed = false
    bands.sortBy(_._1).foreach { case (c, v) =>
      cum += v
      if (!overflowed && cum <= budget) cap = c
      else overflowed = true
    }
    math.min(cap, Int.MaxValue.toLong).toInt
  }

  /** df values ≤ this collect as exact histogram rows; above it they
    * aggregate into log₂ volume bands (see [[adaptiveMaxDfFromBands]]).
    * 1024 covers every measured healthy corpus' full df range exactly;
    * only boilerplate tails land in buckets. */
  private[graft] val HistExactMaxDf = 1024L

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Live capped-path postings checkpoints, WEAKLY referenced: the
    * registry must never extend block lifetime — the returned plan's
    * own LogicalRDD holds the RDD strongly while the caller holds the
    * frame, and once the caller drops it the ContextCleaner path works
    * exactly as before (the weak ref clears with it). The ref target is
    * the checkpointed RDD, not the Dataset wrapper, because the wrapper
    * is unreachable the moment this method returns (only its plan
    * survives inside the composed result) and a wrapper ref would clear
    * while the blocks are still live — turning release into a no-op. */
  private val liveCappedPostings =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  private def registerPostings(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        liveCappedPostings.add(
          new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](lr.rdd))
      case _ => ()
    }

  /** First-class release hook for adaptive [[ngramJaccard]]'s
    * capped-path postings blocks (VERDICT r13 item 3 — the lifetime
    * contract was a doc sentence, "reap between calls or pass explicit
    * maxDf"; this makes it enforceable): BLOCKING-unpersists every
    * registered postings checkpoint still alive and returns how many it
    * dropped. A serving loop calling adaptive mode per iteration calls
    * this between iterations, AFTER consuming the previous result —
    * the released plans cannot be re-run (localCheckpoint severs
    * lineage). Uncapped (healthy-corpus) calls register nothing — they
    * hold no state to release. Already-collected refs are drained
    * silently: they mean the ContextCleaner got there first. */
  def releasePostings(): Int = {
    var released = 0
    var ref = liveCappedPostings.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        rdd.unpersist(blocking = true)
        released += 1
      }
      ref = liveCappedPostings.poll()
    }
    released
  }

  /** Pairwise n-gram Jaccard via a document-frequency-capped inverted
    * index. Output: (a, b, inter, card_a, card_b, jaccard) for pairs with
    * jaccard ≥ minJaccard; a < b canonical.
    *
    * Scale design (round-1 verdict #4: no shingle key may carry unbounded
    * postings — one boilerplate shingle shared by 1M docs is 10¹² join
    * rows):
    *
    *  1. postings get a df column (window over shingle — the SAME hash
    *     partitioning the self-join needs, so no extra exchange) and only
    *     df ≤ maxDf postings enter the quadratic join;
    *  2. the per-pair intersection counted from capped postings is a
    *     LOWER bound; each doc's count of heavy (df > maxDf) shingles
    *     rides along, giving the upper bound
    *     inter ≤ light_inter + min(heavy_a, heavy_b);
    *  3. pairs where the bounds already agree (min(heavy)=0 — all pairs,
    *     in a corpus without boilerplate) are emitted exactly; only pairs
    *     where BOTH docs hold heavy shingles AND the upper bound clears
    *     the threshold re-check exactly — the intersection partitions
    *     along the cap, so inter = light_inter + |heavy_a ∩ heavy_b| and
    *     the re-check intersects the docs' HEAVY shingle sets only
    *     (boilerplate-tail-sized), never the full sets.
    *
    * Values are therefore EXACT at any maxDf. The one semantic cap:
    * a pair sharing ONLY heavy shingles (light_inter = 0) is never a
    * candidate — i.e. near-dups whose entire overlap is corpus-wide
    * boilerplate are out of scope, which is the standard (and desired)
    * spam-shingle exclusion at 100 TB.
    *
    * The DEFAULT cap is adaptive (round-12; the round-11 probe measured
    * the old fixed default maxDf=1000 admitting a 4.50G-row join on the
    * adversarial 60× corpus = guaranteed spill death): [[adaptiveMaxDf]]
    * picks the largest cap whose predicted join volume fits
    * [[PairsPerDocBudget]]·|docs|, before the quadratic join is
    * committed. An explicit `maxDf` always wins; `Int.MaxValue`
    * disables the cap and recovers the textbook exact algorithm.
    *
    * Gate plumbing (round 14; ADVICE r13 found the round-13 shape
    * demanding corpus-scale executor memory+disk on EVERY adaptive
    * call, including the healthy-corpus common case): the df-band
    * histogram is a plain STREAMING aggregation over the postings plan
    * — one corpus scan, nothing stored — and what happens next depends
    * on the decision:
    *
    *  - cap DISABLED (healthy corpus, the common case): the main plan
    *    reads the streaming postings plan directly. Nothing is ever
    *    materialized — the default path holds zero session state,
    *    keeps source fault tolerance, and cannot silently demand
    *    corpus-scale storage at 100 TB. (Cost: the corpus is shingled
    *    once for the gate and once in the main plan — the cheap
    *    single-join path reads postings once, so materializing to save
    *    that scan would trade corpus-scale storage for nothing.)
    *  - cap ENGAGED (boilerplate/adversarial corpus): the postings are
    *    NOW materialized once with an eager SERIALIZED localCheckpoint
    *    — the heavy set and every join leg of the bound machinery read
    *    those blocks instead of re-shingling per leg (the r12 shape's
    *    measured death on the 60× corpus). Serialized deliberately: a
    *    deserialized store pays SizeEstimator sampling walks per
    *    partition — the q165/SCALE.md round-13 pathology.
    *
    * The histogram collect is BOUNDED: exact df rows to
    * [[HistExactMaxDf]], log₂ volume bands above, so an adversarial df
    * distribution cannot ship unbounded rows to the driver. The one
    * remaining scalar job is `docs.count()` (metadata-cheap on a
    * parquet source); callers that already know it pass `numDocsHint`.
    * On a cluster, localCheckpoint blocks die with an executor —
    * callers running under executor churn should persist the postings
    * themselves and pass an explicit cap instead.
    *
    * Session-state lifetime (capped path only): the postings blocks
    * back the RETURNED plan, so they stay live until the caller drops
    * the DataFrame and a GC lets the ContextCleaner reap them — OR the
    * caller invokes [[releasePostings]], the first-class release hook
    * (round 14): a serving loop calling adaptive mode repeatedly calls
    * it between iterations, after the previous result is consumed, and
    * holds at most one call's blocks without depending on GC timing.
    * Releasing while a returned capped-path plan is still unconsumed
    * invalidates that plan (localCheckpoint severs lineage — there is
    * nothing to recompute from). */
  def ngramJaccard(docs: DataFrame, n: Int, minJaccard: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxDf: Int = AdaptiveMaxDf,
                   numDocsHint: Long = -1L): DataFrame = {
    // Cardinality rides along the inverted index (one extra long per posting)
    // instead of being re-joined afterwards: that removes two shuffle joins
    // and a recompute of the shingle projection, and the two identical join
    // sides shuffle once (Spark reuses the exchange for self-joins).
    val sets = docs.select(col(idCol).as("doc_id"),
      shingleSet(col(textCol), n).as("shingles"))
    val invBase = sets
      .select(col("doc_id"), size(col("shingles")).cast("long").as("card"),
        explode(col("shingles")).as("shingle"))
    val (cap, inv) =
      if (maxDf != AdaptiveMaxDf) (maxDf, invBase)
      else {
        val volExpr = sum(col("df").cast("double") *
          (col("df") - 1).cast("double") / lit(2.0)).as("vol")
        // band key: exact df up to HistExactMaxDf; NEGATIVE log₂ bucket
        // ids above it (negated so bucket ids can never collide with
        // small exact-df keys). Volumes are exact either way. The
        // aggregation STREAMS over the postings plan — the decision
        // costs one scan and zero storage (round 14; the r13 shape
        // checkpointed the full postings frame before deciding).
        val bands = invBase.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") >= 2)
          .groupBy(when(col("df") <= HistExactMaxDf, col("df"))
            .otherwise(-floor(log(2.0, col("df").cast("double"))).cast("long"))
            .as("band"))
          .agg(max("df").as("cap"), volExpr)
          .select("cap", "vol")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val nDocs = if (numDocsHint > 0) numDocsHint else docs.count()
        val resolved = adaptiveMaxDfFromBands(bands, nDocs)
        if (resolved != Int.MaxValue) {
          // ADVICE r12: the engaged cap silently shrinks output vs the
          // old uncapped default — make it diagnosable from the logs.
          val admitted = bands.filter(_._1 <= resolved).map(_._2).sum
          logger.warn(s"ngramJaccard adaptive df-cap ENGAGED: maxDf=$resolved " +
            f"over $nDocs%d docs (predicted candidate pairs $admitted%.3g, " +
            s"verification budget ${CappedPairsPerDocBudget}/doc); pairs " +
            "sharing only heavier shingles are excluded — pass an explicit " +
            "maxDf to override; postings materialized serialized for the " +
            "bound machinery — serving loops release via releasePostings()")
          // materialize ONLY now that the bound machinery (≥4 plan legs
          // reading postings) justifies the storage; register for the
          // explicit release hook
          val snap = invBase.localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          registerPostings(snap)
          (resolved, snap)
        } else (resolved, invBase)
      }
    // The HEAVY shingle set (df > cap) is computed by aggregation and
    // anti-joined away: it holds at most |postings|/cap keys by
    // definition, so it is broadcast-sized in any healthy corpus and the
    // cap costs one partial-agg shuffle of distinct shingle counts — not
    // the full postings sort a window-df would pay. (AQE falls back to a
    // shuffled anti-join if an adversarial corpus makes it big.)
    val heavy = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > cap).select("shingle")
    val light =
      if (cap == Int.MaxValue) inv
      else inv.join(heavy, Seq("shingle"), "left_anti")
    val cand = light.as("x").join(light.as("y"), "shingle")
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("light_inter"),
        first(col("x.card")).as("card_a"), first(col("y.card")).as("card_b"))
    if (cap == Int.MaxValue) {
      // No cap ⇒ light_inter IS the intersection; skip the bound machinery
      // so the common path stays one join + one aggregation.
      cand
        .withColumn("jaccard", col("light_inter").cast("double") /
          (col("card_a") + col("card_b") - col("light_inter")).cast("double"))
        .where(col("jaccard") >= minJaccard)
        .select(col("a"), col("b"), col("light_inter").as("inter"),
          col("card_a"), col("card_b"), col("jaccard"))
    } else {
      // per-doc heavy COUNT (narrow, joins every candidate) and heavy
      // SET (array payload, joins ONLY the verification sliver): the
      // exact intersection partitions along the df cap — inter =
      // light_inter + |heavy_a ∩ heavy_b| — so verification needs the
      // docs' HEAVY shingles only, never the full sets. On a healthy
      // corpus the heavy set is the boilerplate tail (a few shingles per
      // doc), so even a verification-heavy workload shuffles KBs per
      // pair, not the whole document's shingle set (round 12: the
      // full-set join was the measured spill death on the 60× corpus).
      // TWO aggregates, not one (ADVICE r12): a fused count+collect_list
      // aggregate made the two narrow `bounded` joins shuffle array
      // payloads they never read; split, the count aggregate stays
      // 16 bytes/row and only the `verified` sliver pays for arrays.
      val heavyPostings = inv.join(heavy, Seq("shingle"), "left_semi")
      val heavyCnt = heavyPostings
        .groupBy("doc_id").agg(count(lit(1)).as("heavy"))
      val heavySets = heavyPostings
        .groupBy("doc_id").agg(collect_list(col("shingle")).as("hs"))
      val bounded = cand
        .join(heavyCnt.select(col("doc_id").as("a"), col("heavy").as("heavy_a")),
          Seq("a"), "left")
        .join(heavyCnt.select(col("doc_id").as("b"), col("heavy").as("heavy_b")),
          Seq("b"), "left")
        .na.fill(0L, Seq("heavy_a", "heavy_b"))
        .withColumn("slack", least(col("heavy_a"), col("heavy_b")))
        .withColumn("inter_ub", col("light_inter") + col("slack"))
        // necessary condition: even the upper bound must clear τ
        .where(col("inter_ub").cast("double") /
          (col("card_a") + col("card_b") - col("inter_ub")).cast("double")
          >= minJaccard)
      val exactNow = bounded.where(col("slack") === 0)
        .withColumn("inter", col("light_inter"))
      val verified = bounded.where(col("slack") > 0)
        .join(heavySets.select(col("doc_id").as("a"), col("hs").as("hsa")),
          Seq("a"))
        .join(heavySets.select(col("doc_id").as("b"), col("hs").as("hsb")),
          Seq("b"))
        .withColumn("inter", col("light_inter") +
          size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      exactNow.select("a", "b", "inter", "card_a", "card_b")
        .unionByName(verified.select("a", "b", "inter", "card_a", "card_b"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("card_a") + col("card_b") - col("inter")).cast("double"))
        .where(col("jaccard") >= minJaccard)
        .select("a", "b", "inter", "card_a", "card_b", "jaccard")
    }
  }

  /** MinHash signatures: (doc_id, sig array<long>) — map-side only. */
  def minhashSignatures(docs: DataFrame, n: Int, perms: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      minhashSig(shingleSet(col(textCol), n), perms).as("sig"))

  /** LSH candidate pairs: docs sharing ≥1 MinHash band, with the number of
    * agreeing bands and the signature-agreement estimate of Jaccard.
    * Only the (band_key → doc) inverted index shuffles. */
  def minhashCandidates(docs: DataFrame, n: Int, perms: Int, bands: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(perms % bands == 0, "perms must be divisible by bands")
    val sigs = minhashSignatures(docs, n, perms, idCol, textCol)
      .where(size(col("sig")) > 0) // docs too short to shingle can't match
    val keyed = sigs.select(col("doc_id"), col("sig"),
      explode(bandKeys(col("sig"), bands, perms / bands)).as("band_key"))
    keyed.as("x").join(keyed.as("y"), "band_key")
      .where(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("bands_matched"),
        first(zip_with(col("x.sig"), col("y.sig"),
          (p, q) => when(p === q, 1).otherwise(0)).as("agree")).as("agree"))
      .withColumn("est_jaccard",
        aggregate(col("agree"), lit(0), _ + _).cast("double") / lit(perms))
      .select("a", "b", "bands_matched", "est_jaccard")
  }

  /** SimHash fingerprints (doc_id, simhash) — map-side only. */
  def simhashFingerprints(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using the
    * pigeonhole principle: split the 60-bit fingerprint into
    * (maxHamming+1) chunks — any pair within distance maxHamming agrees on
    * ≥1 whole chunk, so candidates come from an equi-join on
    * (chunk_index, chunk_value). */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 60 / chunks
    val fp = simhashFingerprints(docs, idCol, textCol)
    val keyed = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until chunks).map(c =>
        concat_ws(":", lit(c),
          shiftright(col("simhash"), c * bitsPer) % lit(1L << bitsPer))): _*))
        .as("chunk_key"))
    keyed.as("x").join(keyed.as("y"), "chunk_key")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        hamming(col("x.simhash"), col("y.simhash")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over near-duplicate evidence edges — the
    * canonical-selection step of a corpus dedup pipeline. Hash-Min label
    * propagation: every doc starts labeled with its own id; each round
    * takes the min of its label and its neighbors' labels; at fixpoint
    * the label IS the min doc id of the component.
    *
    * Scale shape: one equi-join + one groupBy per round, O(component
    * diameter) rounds — dup clusters are stars/short chains, so this
    * converges in 2-4 rounds regardless of corpus size (the classic
    * large-graph CC recipe). The driver-side loop only reads a changed-
    * row COUNT per round — an observed metric of the label checkpoint,
    * so convergence costs zero extra jobs; labels are localCheckpoint'd
    * so lineage stays flat (a reliable checkpoint on a cluster).
    *
    * @param ids   (doc_id)
    * @param pairs (a, b) undirected near-dup evidence
    * @return (doc_id, component) with component = min id reachable
    */
  def components(ids: DataFrame, pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    // checkpointed once; each round's join re-exchanges it on y (an AQE
    // checkpoint captures UnknownPartitioning, and the A/B-measured
    // verdict is that the AQE-coalesced re-exchange beats pinning at
    // bench scale — SCALE.md round 8). The frame is near-dup-sliver-
    // sized, so the per-round exchange is small regardless.
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint()
    // The iteration runs ONLY over nodes that carry evidence edges — in a
    // dedup workload a sliver of the corpus — so per-round state scales
    // with |near-dup subgraph|, not |corpus|. Every untouched doc is its
    // own component by definition and joins back in one final pass.
    var labels = edges.select(col("x").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("component"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("y"), col("component")), Seq("y"))
        .groupBy(col("x").as("doc_id")).agg(min("component").as("nbr_min"))
      // carry the pre-update label through the round so the convergence
      // probe can ride the checkpoint action as an OBSERVED metric —
      // the old probe joined next against the previous labels and
      // counted, a second (join-shaped) job per round
      val propagated = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("comp2"),
          col("component").as("old"))
      // Pointer jump (path doubling): component(v) ← component(component(v)).
      // Pure propagation needs O(diameter) rounds — a pathological dup
      // CHAIN of length > maxIter would exit unconverged and silently
      // mislabel; with the jump each round squares the reach, so maxIter
      // 15 covers diameter 2^15 and the changed==0 exit is the converged
      // fixpoint for any realistic input.
      val obs = Observation()
      val next = propagated.as("a")
        .join(propagated.select(col("doc_id").as("comp2"),
          col("comp2").as("jump")).as("b"), Seq("comp2"), "left")
        .select(col("doc_id"),
          least(col("comp2"), coalesce(col("jump"), col("comp2")))
            .as("component"),
          col("old"))
        .observe(obs, coalesce(sum(when(col("component") =!= col("old"),
          lit(1L))), lit(0L)).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      // the checkpoint materialization was the old checkpoint's last
      // consumer (the probe no longer re-reads it)
      Iterate.release(labels)
      // drop the probe column: a bare select atop the checkpoint — its
      // only plan leaf is the new checkpoint, so next round's release
      // still frees exactly this round's blocks
      labels = next.select("doc_id", "component")
      iter += 1
    }
    ids.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** End-to-end dedup keep-list: union exact-dup and MinHash-LSH
    * evidence, cluster via [[components]], keep the min-id doc of each
    * cluster. Output (doc_id, component, is_kept) — the filter a corpus
    * pipeline applies before training.
    *
    * Merge evidence is EXACT-VERIFIED (round-2 verdict #4): band
    * collisions only nominate candidates; each candidate pair re-checks
    * TRUE Jaccard on the full shingle sets before its edge enters
    * [[components]]. A 16-perm estimate has σ≈0.125 at τ=0.5 — without
    * the re-check, false-merge edges glue unrelated docs together and
    * connected components amplify every false positive transitively.
    * The verification is cheap by construction: it touches only band-
    * collision pairs, and the shingle-set join is an equi-join on doc id. */
  def keepList(docs: DataFrame, n: Int, perms: Int, bands: Int,
               minJaccard: Double,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exactEdges = exact(docs, idCol, textCol)
      .where(col("is_duplicate"))
      .select(col("canonical_id").as("a"), col("doc_id").as("b"))
    val sets = docs.select(col(idCol).as("doc_id"),
      shingleSet(col(textCol), n).as("s"))
    val nearEdges = minhashCandidates(docs, n, perms, bands, idCol, textCol)
      .select(col("a"), col("b"))
      .join(sets.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(sets.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .where(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")).cast("double")
        >= minJaccard)
      .select(col("a"), col("b"))
    val comp = components(docs.select(col(idCol).as("doc_id")),
      exactEdges.unionByName(nearEdges))
    comp.withColumn("is_kept", col("component") === col("doc_id"))
  }

  /** Benchmark decontamination — the n-gram contamination check every
    * training-data pipeline runs before a corpus ships (strip documents
    * that contain evaluation-set n-grams, the GPT-3/PaLM 8-to-13-gram
    * rule). Not a dedup of the corpus against itself: an asymmetric
    * corpus ⋈ benchmark overlap where the benchmark side is tiny.
    *
    * Output: one row per CONTAMINATED corpus doc —
    * (doc_id, n_overlap_grams, n_bench_docs); clean docs don't appear
    * (the caller anti-joins to drop contaminated ids).
    *
    * Scale shape: both sides explode to distinct (id, md5(gram)) postings
    * — the join key is the 128-bit digest, never the gram text, so
    * shuffle rows stay narrow. The benchmark side is |eval set| ≪
    * corpus and broadcasts; the corpus side streams map-side through the
    * broadcast hash join and only MATCHING postings reach the per-doc
    * aggregate. At 100 TB this is one pipelined pass over the corpus scan
    * plus an aggregate over the (rare) hits. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def postings(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
          explode(shingleSet(col(textCol), n)).as("gram"))
        .select(col(out), md5(col("gram")).as("g"))
    postings(corpus, "doc_id")
      .join(postings(benchmark, "bench_id").hint("broadcast"), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_overlap_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** [[decontaminate]] behind a bloom-filter prefilter — the shape for a
    * benchmark too large to broadcast as an exact hash table. A 10M-gram
    * eval suite is ~320 MB of md5 postings (breaks the broadcast budget)
    * but ~12 MB as a 10-bits/item bloom: the corpus side drops
    * non-matching postings MAP-SIDE against the sketch (no false
    * negatives, so nothing real is lost), and only the ~FPR-sized
    * survivor stream pays the exact shuffle join that removes false
    * positives. At 100 TB the expensive exact join sees
    * |true hits| + FPR·|corpus postings| rows instead of |corpus
    * postings| — the sketch turns a corpus-wide shuffle into a trickle.
    *
    * Output is EXACTLY [[decontaminate]]'s (the exact join re-verifies
    * every survivor), which is the correctness contract: bloom loses
    * nothing, the verify step adds nothing. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int,
                         bitsPerItem: Int = 10,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import graft.functions.expressions.BloomFunctions
    def postings(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
          explode(shingleSet(col(textCol), n)).as("gram"))
        .select(col(out), md5(col("gram")).as("g"))
    val bench = postings(benchmark, "bench_id")
    // sketch sizing from the benchmark's own cardinality: one tiny agg
    // row (the count) feeds the bloom build; both are benchmark-side
    // passes, never corpus scans.
    val nGrams = math.max(1L,
      bench.select(countDistinct(col("g"))).collect()(0).getLong(0))
    // BloomFilterAggregate silently CLAMPS its sizing to
    // spark.sql.optimizer.runtime.bloomFilter.{maxNumItems (4M),
    // maxNumBits (~67M)} — at a 10M-gram eval suite the documented
    // 10-bits/item FPR would silently degrade. Raise the caps to the
    // requested sizing before the sketch is built (correctness is never
    // at risk — the exact verify join removes all false positives — but
    // the prefilter's selectivity is the whole point of this operator).
    val conf = corpus.sparkSession.conf
    def raiseTo(key: String, want: Long): Unit =
      if (conf.get(key).toLong < want) conf.set(key, want.toString)
    raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nGrams)
    raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      nGrams * bitsPerItem)
    val bloom = bench.agg(
      BloomFunctions.bloomAgg(col("g"), nGrams, nGrams * bitsPerItem).as("bf"))
    val survivors = postings(corpus, "doc_id")
      .where(BloomFunctions.mightContain(bloom, col("g")))
    survivors
      .join(bench, Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_overlap_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Cross-document duplicate-span coverage — the memorization-risk
    * metric behind suffix-array dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): for each document,
    * the fraction of its n-gram OCCURRENCES that also appear in at least
    * one other document. High coverage = boilerplate / templated /
    * copied text even when no single pair crosses a Jaccard threshold.
    *
    * Relational rendering of the suffix-array idea: every n-gram
    * occurrence becomes a posting keyed by its md5 (narrow shuffle
    * rows); one aggregate computes cross-doc document frequency; a join
    * back marks each occurrence as shared/unique. Two shuffles total
    * (df + per-doc rollup), both equi-keyed — no suffix array needed
    * because the span length is fixed.
    *
    * Output: (doc_id, n_grams, n_dup, dup_ratio) — docs shorter than n
    * tokens report 0 grams. */
  def dupSpanCoverage(docs: DataFrame, n: Int,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions
    val occ = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.shingles(TextFunctions.tokens(col(textCol)), n))
          .as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("g"))
    val df = occ.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"))
    val perDoc = occ.join(df, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, 1)).as("n_dup"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_dup").cast("double") /
            col("n_grams").cast("double"), 6)).as("dup_ratio"))
  }

  /** Embedding near-duplicates: exact threshold pairs (brute force). The
    * verification baseline; the scale path blocks by an LSH/IVF cell
    * column first (see ContentRetriever/Lsh). */
  def cosinePairs(emb: DataFrame, minSim: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val l = emb.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .where(col("sim") >= minSim)
      .select("a", "b", "sim")
  }
}
