package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Dedup-suite semantics on crafted near/exact duplicates. */
class DedupSpec extends SparkTestBase {

  private def docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The quick brown fox jumps over the lazy dog  "), // exact dup modulo case/trim
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup (1 word)
    (4L, "completely different text about spark and parquet files"),
    (5L, "xy"))) // too short to 3-shingle
    .toDF("doc_id", "text")

  test("exact: case/whitespace-normalized dup groups, canonical = min id") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == (2L, 1L, false))
    assert(out(2L) == (2L, 1L, true)) // duplicate of 1
    assert(out(3L) == (1L, 3L, false))
  }

  test("ngramJaccard: identical docs have jaccard 1.0; near dups in between") {
    val pairs = Dedup.ngramJaccard(docs, 3, 0.01).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccard df-cap: capped result equals uncapped (exact values), including the both-heavy correction path") {
    // Docs engineered so a shingle ("a b c" and neighbors) is shared by
    // MANY docs (df > maxDf → heavy) while each near-dup pair also shares
    // rare shingles — with maxDf = 3 the heavy shingles leave the
    // inverted index, light_inter underestimates, and only the
    // upper-bound + array_intersect verification branch (slack > 0) can
    // restore the exact intersection.
    // "common header text" appears in all 8 docs (df=8 > maxDf=3 →
    // heavy); per-doc bodies are unique except docs 7/8, which are
    // identical. Cross pairs share ONLY the heavy shingle and sit below
    // τ=0.2 in the uncapped result too, so capped == uncapped must hold
    // exactly — and pair (7,8) has light_inter=7 < inter=8 with
    // slack=min(1,1)=1, forcing the verification branch to restore
    // jaccard 1.0 (light_inter alone would give 7/9).
    val boiler = "common header text"
    val many = (1L to 6L).map(i =>
      (i, s"$boiler alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
    val dup = Seq((7L, s"$boiler alpha0 beta0 gamma0 delta0 epsilon0 zeta0 eta0"),
      (8L, s"$boiler alpha0 beta0 gamma0 delta0 epsilon0 zeta0 eta0"))
    val d = spark.createDataFrame(many ++ dup).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(d, 3, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    val capped = Dedup.ngramJaccard(d, 3, 0.2, maxDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    assert(uncapped == Map((7L, 8L) -> ((8L, 1.0))))
    assert(capped == uncapped) // same pairs, same exact inter AND jaccard
  }

  test("adaptiveMaxDf two tiers: disabled while the TOTAL volume fits " +
    "512/doc; once the cap engages it is priced for verification " +
    "payloads at 16/doc; 1 when even the smallest band overflows") {
    // healthy corpus: whole distribution under the uncapped gate
    assert(Dedup.adaptiveMaxDf(Seq((2L, 10L), (5L, 3L)), 100L) == Int.MaxValue)
    assert(Dedup.adaptiveMaxDf(Seq.empty, 100L) == Int.MaxValue)
    // still healthy: total 45100 <= 100*512 even though it would blow
    // the capped-regime budget — the gate keeps the cheap path
    assert(Dedup.adaptiveMaxDf(Seq((2L, 100L), (10L, 1000L)), 100L)
      == Int.MaxValue)
    // one boilerplate band blows the gate -> capped regime at 16/doc
    // (1600): cum at 2 = 5 fits, df=1000 band (~5e8) overflows -> 2
    assert(Dedup.adaptiveMaxDf(Seq((2L, 5L), (1000L, 1000L)), 100L) == 2)
    // capped regime is CUMULATIVE at the verification-priced budget:
    // total 123200 > 51200 gate; 16/doc budget 1600 -> cum at 2 = 100
    // fits, cum at 10 = 45100 overflows -> cap 2 (not 10)
    val hist = Seq((2L, 100L), (10L, 1000L), (40L, 100L))
    assert(Dedup.adaptiveMaxDf(hist, 100L) == 2)
    // all-duplicate pathology: even the first band overflows -> 1
    assert(Dedup.adaptiveMaxDf(Seq((2L, 1000000000L)), 10L) == 1)
  }

  test("adaptiveMaxDfFromBands: banded volumes decide identically to the " +
    "exact histogram on the gate, and an engaged cap picks the largest " +
    "fitting band boundary") {
    // identical decision to the exact-histogram form when bands ARE
    // exact df values (the df <= 1024 regime: every test corpus)
    val hist = Seq((2L, 100L), (10L, 1000L), (40L, 100L))
    val bands = hist.map { case (df, n) => (df, n.toDouble * df * (df - 1) / 2) }
    assert(Dedup.adaptiveMaxDfFromBands(bands, 100L)
      == Dedup.adaptiveMaxDf(hist, 100L))
    // bucketed regime: one band summarizes dfs 1025..2048 with its max
    // df as the cap candidate and the EXACT summed volume — the gate
    // total is unchanged, and the engaged cap lands on the boundary
    val bucketed = Seq((2L, 50.0), (2000L, 2.0e9))
    assert(Dedup.adaptiveMaxDfFromBands(bucketed, 100L) == 2)
    // whole distribution under the gate -> disabled, buckets or not
    assert(Dedup.adaptiveMaxDfFromBands(Seq((2000L, 100.0)), 100L)
      == Int.MaxValue)
  }

  test("ngramJaccard adaptive default: a corpus-wide boilerplate shingle " +
    "that blows the volume budget is excluded automatically, planted " +
    "near-dups still found with exact values") {
    // 1100 docs all sharing one boilerplate shingle (df=1100 ->
    // C(1100,2) = 604k predicted join rows > budget 1102*512 = 564k);
    // docs 9001/9002 are a planted near-dup pair sharing rare shingles.
    val boiler = "common header text"
    val base = (1L to 1100L).map(i => (i, s"$boiler alpha$i beta$i gamma$i"))
    val pair = Seq(
      (9001L, s"$boiler alpha0 beta0 gamma0 delta0"),
      (9002L, s"$boiler alpha0 beta0 gamma0 delta0"))
    val d = spark.createDataFrame(base ++ pair).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(d, 3, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    // the planted pair survives through its LIGHT (df=2) shingles with
    // the exact uncapped values: shingle sets are identical -> 1.0
    assert(got.keySet == Set((9001L, 9002L)))
    assert(got((9001L, 9002L))._2 == 1.0)
    // and the exactness contract: an explicit uncapped run agrees on
    // every pair that clears the threshold
    val uncapped = Dedup.ngramJaccard(d, 3, 0.2, maxDf = Int.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(5))).toMap
    assert(got == uncapped)
  }

  test("adaptive capped path holds bounded, releasable state: ONE " +
    "postings checkpoint per call, releasePostings() drops it, and a " +
    "no-release serving loop is the only way to accumulate (round 14)") {
    // same cap-engaging corpus shape as the adaptive-default test
    val boiler = "common header text"
    val base = (1L to 1100L).map(i => (i, s"$boiler alpha$i beta$i gamma$i"))
    val pair = Seq(
      (9001L, s"$boiler alpha0 beta0 gamma0 delta0"),
      (9002L, s"$boiler alpha0 beta0 gamma0 delta0"))
    val d = spark.createDataFrame(base ++ pair).toDF("doc_id", "text")
    Dedup.releasePostings() // drain registrations from earlier tests
    // Baseline as an ID SET, asserted on the NEW-id delta: earlier
    // suites' lingering blocks live in the same session-global map and
    // the async ContextCleaner may unpersist them mid-test after any
    // GC — a size-based baseline flaked exactly that way (size dropped
    // below `before` between baseline and check). Foreign removals can
    // only shrink the baseline set, never add to the delta, so the
    // delta assertion is immune to cleaner timing.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def newIds() =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    // no-reap repeats, as in SCALE.md round 13 (VERDICT r13 item 3): a
    // serving loop that releases between iterations holds at most ONE
    // call's blocks at any moment — state is bounded by contract, not
    // by GC timing. Each call's result is consumed before release.
    for (i <- 1 to 3) {
      val got = Dedup.ngramJaccard(d, 3, 0.2)
      assert(newIds().size == 1,
        s"capped-path call $i must register exactly one postings checkpoint")
      val keys = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(keys == Set((9001L, 9002L)))
      assert(Dedup.releasePostings() == 1,
        s"release after call $i must drop exactly the one live checkpoint")
      assert(newIds().isEmpty,
        s"no new persisted RDDs may remain after release $i")
    }
    // released plans cannot be re-run (doc'd contract) — but a FRESH
    // call after release is fully functional
    val again = Dedup.ngramJaccard(d, 3, 0.2).collect()
    assert(again.length == 1)
    Dedup.releasePostings()
  }

  test("minhashCandidates: identical docs match on all bands with est 1.0") {
    val cand = Dedup.minhashCandidates(docs, 3, 16, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(cand((1L, 2L)) == (8L, 1.0))
    // doc 5 (unshingleable) must never appear as a candidate
    assert(!cand.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("simhashPairs: identical docs at hamming 0; near dups close") {
    val pairs = Dedup.simhashPairs(docs, 14).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("components: a 60-node chain converges within default iterations (pointer jumping)") {
    // pure min-propagation would need 59 rounds > maxIter 15; the path-
    // doubling step must close the chain to one component labeled 1
    val s = spark
    val ids = s.createDataFrame((1L to 60L).map(Tuple1(_))).toDF("doc_id")
    val chain = s.createDataFrame((1L to 59L).map(i => (i, i + 1))).toDF("a", "b")
    val comp = Dedup.components(ids, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 60)
    assert(comp.values.forall(_ == 1L))
  }

  test("components: disjoint clusters get their own min-id labels") {
    val s = spark
    val ids = s.createDataFrame(Seq(1L, 2L, 3L, 10L, 11L, 20L).map(Tuple1(_))).toDF("doc_id")
    val pairs = s.createDataFrame(Seq((1L, 2L), (2L, 3L), (10L, 11L))).toDF("a", "b")
    val comp = Dedup.components(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("keepList exact-verifies band collisions: estimate-only false merges rejected") {
    // 40 doc pairs, each with true 3-shingle Jaccard 11/25 = 0.44 < τ=0.5
    // (13 shared prefix words + 7 private tail words ⇒ 11 shared shingles,
    // 18 per doc). With 16 permutations, P(est ≥ 0.5 | j=0.44) ≈ 0.38, so
    // the corpus almost surely arms ≥1 pair whose ESTIMATE clears τ while
    // its true Jaccard does not — exactly the false merge that estimate-
    // evidence clustering would commit and exact verification must reject.
    val docs = spark.createDataFrame((0 until 40).flatMap { i =>
      val shared = (0 until 13).map(k => s"p${i}w$k").mkString(" ")
      Seq((i * 2L, s"$shared ${(0 until 7).map(k => s"p${i}a$k").mkString(" ")}"),
        (i * 2 + 1L, s"$shared ${(0 until 7).map(k => s"p${i}b$k").mkString(" ")}"))
    }).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(docs, 3, 16, 8)
    val overEstimated = cand.where(col("est_jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(overEstimated.nonEmpty, "trap not armed: no pair over-estimated ≥ τ")
    val comp = Dedup.keepList(docs, 3, 16, 8, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc is its own component: no pair clears TRUE τ, including
    // the over-estimated ones
    assert(comp.values.toSeq.distinct.size == 80)
    overEstimated.foreach { case (a, b) => assert(comp(a) != comp(b)) }
  }

  test("keepList merges pairs whose true Jaccard clears the threshold") {
    val d = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // j well over 0.5
      (3L, "completely unrelated text about spark parquet shuffle")))
      .toDF("doc_id", "text")
    val comp = Dedup.keepList(d, 3, 16, 8, 0.5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(comp(1L) == (1L, true) && comp(2L) == (1L, false))
    assert(comp(3L) == (3L, true))
  }

  test("cosinePairs: threshold keeps only similar vectors") {
    val emb = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("dupSpanCoverage: full copy = 1.0, unique doc = 0.0, short doc = 0 grams") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d e f g h i j"),          // original
      (2L, "a b c d e f g h i j"),          // full copy -> both 1.0
      (3L, "q w e r t y u i o p z x c v"),  // unique -> 0.0
      (4L, "too short")))                   // < 8 tokens -> 0 grams
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out(1L) == (3L, 1.0) && out(2L) == (3L, 1.0))
    assert(out(3L)._2 == 0.0 && out(3L)._1 == 7L)
    assert(out(4L) == (0L, 0.0))
  }
}
