package graft

import graft.functions.VectorFunctions._
import graft.operators.{Concentration, CoPurchaseGraph, Evaluation,
  HybridScorer, Timeseries}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The SURVEY §5 property-based suite (ScalaCheck generators, one Spark
  * job per property): invariants that must hold for ANY input, not just
  * the crafted fixtures. Each property batches all generated cases into
  * a single DataFrame so the whole suite stays a handful of jobs. */
class PropertiesSpec extends SparkTestBase {

  /** Deterministic sample of `n` values from a generator. */
  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("cosine ∈ [-1,1] and cosine(v,v)=1 for any nonzero float vector") {
    // pairs share a dimension (the index contract); values are arbitrary
    val vecPair = Gen.choose(1, 8).flatMap { d =>
      for {
        a <- Gen.listOfN(d, Gen.choose(-10f, 10f))
        b <- Gen.listOfN(d, Gen.choose(-10f, 10f))
      } yield (a.toArray, b.toArray)
    }
    val pairs = sample(vecPair, 60).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
    val df = spark.createDataFrame(pairs.map { case (i, a, _) => (i, a, a) })
      .toDF("id", "va", "vb")
      .withColumn("self", cosine(col("va"), col("vb")))
    val paired = spark.createDataFrame(pairs)
      .toDF("id", "va", "vb")
      .withColumn("x", cosine(col("va"), col("vb")))
    paired.collect().foreach { r =>
      val x = r.getDouble(3)
      assert(!x.isNaN && x >= -1.0 - 1e-9 && x <= 1.0 + 1e-9)
    }
    df.collect().foreach { r =>
      val norm = r.getSeq[Float](1).map(x => x.toDouble * x).sum
      val s = r.getDouble(3)
      if (norm > 1e-12) assert(math.abs(s - 1.0) < 1e-5)
      else assert(s == 0.0) // zero vector → declared 0 similarity
    }
  }

  test("normalized CF weights ∈ (0,1] with per-src max exactly 1, any weighted edges") {
    val edge = for {
      s <- Gen.choose(1L, 8L); t <- Gen.choose(1L, 20L).suchThat(_ != s)
      w <- Gen.choose(1L, 1000L)
    } yield (s, t, w)
    val edges = sample(edge, 120).distinct
    val df = spark.createDataFrame(edges).toDF("src", "dst", "weight")
      // collapse duplicate (src,dst) like the real builder would
      .groupBy("src", "dst").agg(max("weight").as("weight"))
    val out = CoPurchaseGraph.normalized(df).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, n) => assert(n > 0.0 && n <= 1.0) }
    out.groupBy(_._1).foreach { case (_, g) =>
      assert(math.abs(g.map(_._2).max - 1.0) < 1e-12)
    }
  }

  test("blend: final = α·cs+(1−α)·fs ∈ [0,1], ≤k rows with contiguous ranks, for any score sets") {
    val scoreRow = for {
      q <- Gen.choose(1L, 4L); it <- Gen.choose(1L, 30L)
      s <- Gen.choose(0.0, 1.0)
    } yield (q, it, s)
    val cont = sample(scoreRow, 80).distinctBy(r => (r._1, r._2))
    val cf = sample(scoreRow, 80).map { case (q, i, s) => (q, i + 15L, s) }
      .distinctBy(r => (r._1, r._2))
    val cdf = spark.createDataFrame(cont).toDF("query_id", "item", "cs")
    val fdf = spark.createDataFrame(cf).toDF("query_id", "item", "fs")
    val alpha = 0.37
    val out = HybridScorer.blend(cdf, fdf, alpha, 7).collect()
    assert(out.nonEmpty)
    val contM = cont.map(r => (r._1, r._2) -> r._3).toMap
    val cfM = cf.map(r => (r._1, r._2) -> r._3).toMap
    out.foreach { r =>
      val (q, it) = (r.getLong(0), r.getLong(1))
      val fin = r.getDouble(4)
      val expect = alpha * contM.getOrElse((q, it), 0.0) +
        (1 - alpha) * cfM.getOrElse((q, it), 0.0)
      assert(math.abs(fin - expect) < 1e-12)
      assert(fin >= 0.0 && fin <= 1.0)
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 7)
      assert(rs.map(_.getInt(5)).sorted.sameElements(1 to rs.length))
    }
  }

  test("blend == the full-outer-join formulation row for row (rnk included) " +
    "for any unique-key arms: random, one arm empty, full overlap, forced ties") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // the formulation the union + one-exchange pool replaced
    def fullOuterBlend(content: DataFrame, cf: DataFrame, alpha: Double, k: Int) = {
      val w = Window.partitionBy("query_id").orderBy(col("final").desc, col("item").asc)
      content.join(cf, Seq("query_id", "item"), "full_outer")
        .select(col("query_id"), col("item"),
          coalesce(col("cs"), lit(0.0)).as("cs"), coalesce(col("fs"), lit(0.0)).as("fs"))
        .withColumn("final", lit(alpha) * col("cs") + lit(1.0 - alpha) * col("fs"))
        .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    }
    def scored(g: Gen[Double]) = for {
      q <- Gen.choose(1L, 5L); it <- Gen.choose(1L, 40L); s <- g
    } yield (q, it, s)
    def uniq(rows: Seq[(Long, Long, Double)]) = rows.distinctBy(r => (r._1, r._2))
    val anyScore = Gen.choose(0.0, 1.0)
    // a five-value grid makes equal finals (and equal arm scores) common
    val gridScore = Gen.choose(0, 4).map(_ / 4.0)
    val random = uniq(sample(scored(anyScore), 120))
    val randomCf = uniq(sample(scored(anyScore), 120).map { case (q, i, s) => (q, i + 20L, s) })
    val ties = uniq(sample(scored(gridScore), 120))
    val tiesCf = uniq(sample(scored(gridScore), 120).map { case (q, i, s) => (q, i + 10L, s) })
    val none = Seq.empty[(Long, Long, Double)]
    val cases = Seq(
      "random" -> (random, randomCf),
      "empty cf arm" -> (random, none),
      "empty content arm" -> (none, randomCf),
      "full overlap" -> (random, random.map { case (q, i, s) => (q, i, 1.0 - s) }),
      "forced ties" -> (ties, tiesCf))
    for ((name, (c, f)) <- cases; alpha <- Seq(0.5, 0.37); k <- Seq(1, 7, 100)) {
      val cdf = spark.createDataFrame(c).toDF("query_id", "item", "cs")
      val fdf = spark.createDataFrame(f).toDF("query_id", "item", "fs")
      val got = HybridScorer.blend(cdf, fdf, alpha, k).collect()
      val want = fullOuterBlend(cdf, fdf, alpha, k).collect()
      assert(got.length == want.length && got.toSet == want.toSet,
        s"$name, alpha=$alpha, k=$k: blend diverged from the full-outer formulation")
    }
  }

  test("precision@K ∈ [0,1] and hits ≤ min(K, |ranked|) for any ranked/truth sets") {
    val qg = Gen.choose(1L, 5L)
    val ranked = sample(qg, 40).distinct.flatMap(q =>
      (1 to 6).map(rk => (q, q * 100 + rk, rk)))
    val truth = sample(for { q <- qg; it <- Gen.choose(1L, 600L) } yield (q, it), 60)
      .distinct
    val rdf = spark.createDataFrame(ranked).toDF("query_id", "item", "rnk")
    val tdf = spark.createDataFrame(truth).toDF("query_id", "item")
    val out = Evaluation.precisionAtK(rdf, tdf, Seq(3, 5, 50)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val k = r.getInt(1); val hits = r.getLong(2); val p = r.getDouble(3)
      assert(hits >= 0 && hits <= math.min(k, 6))
      assert(p >= 0.0 && p <= 1.0)
      assert(math.abs(p - hits.toDouble / k) < 1e-12)
    }
    // every (query, K) combination present, including zero-hit rows
    assert(out.length == ranked.map(_._1).distinct.length * 3)
  }

  test("as-of join equals the naive per-probe maximum for any event set") {
    import graft.operators.AsOfJoin
    val evGen = for {
      user <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 50L)
      probe <- Gen.oneOf(true, false)
    } yield (user, t, probe)
    val evs = sample(evGen, 80).zipWithIndex.map { case ((u, t, p), i) =>
      (i.toLong, u, new java.sql.Timestamp(t * 1000), if (p) "purchase" else "view", i.toDouble)
    }
    val df = spark.createDataFrame(evs)
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = AsOfJoin.latestBefore(df, "view", "purchase")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // naive reference: for each probe, max (ts, id)-ordered view with ts <=
    val views = evs.filter(_._4 == "view")
    evs.filter(_._4 == "purchase").foreach { case (id, u, t, _, _) =>
      val expected = views.filter(v => v._2 == u && !v._3.after(t))
        .sortBy(v => (v._3.getTime, v._1)).lastOption.map(_._1).getOrElse(-1L)
      assert(got(id) == expected, s"probe $id: got ${got(id)}, want $expected")
    }
  }

  test("bucketed as-of equals plain for any event set and any bucket size") {
    import graft.operators.AsOfJoin
    val evGen = for {
      user <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 50L)
      probe <- Gen.oneOf(true, false)
    } yield (user, t, probe)
    val evs = sample(evGen, 80).zipWithIndex.map { case ((u, t, p), i) =>
      (i.toLong, u, new java.sql.Timestamp(t * 1000), if (p) "purchase" else "view", i.toDouble)
    }
    val df = spark.createDataFrame(evs)
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toSet
    val plain = canon(AsOfJoin.latestBefore(df, "view", "purchase"))
    // bucket sizes straddling the 0..50 s timeline: sub-second (every
    // event its own bucket), 7 s (boundaries mid-stream), and one
    // giant bucket (degenerates to the plain path)
    for (bucketUs <- Seq(500000L, 7000000L, 1000000000000L))
      assert(canon(AsOfJoin.latestBeforeBucketed(df, "view", "purchase", bucketUs))
        == plain, s"bucketUs=$bucketUs diverges")
  }

  test("SQ8 dequantization error ≤ scale/2 per element for any float vector") {
    import graft.operators.Quantize
    val vecGen = Gen.choose(1, 12).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-100f, 100f)).map(_.toArray))
    val vecs = sample(vecGen, 50).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = Quantize.int8(df).join(df, "vec_id").collect()
    q.foreach { r =>
      val scale = r.getDouble(r.fieldIndex("scale"))
      val codes = r.getSeq[Long](r.fieldIndex("codes"))
      val orig = r.getSeq[Float](r.fieldIndex("embedding"))
      codes.zip(orig).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
          s"code $c scale $scale orig $x")
      }
    }
  }

  test("gini ∈ [0, 1) and hhi ∈ [1/n, 1] for any positive value multiset") {
    // arbitrary grouped positive-cent distributions, many shapes
    val groupGen = for {
      n <- Gen.choose(1, 40)
      vs <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
    } yield vs
    val rows = sample(groupGen, 30).zipWithIndex.flatMap { case (vs, g) =>
      vs.zipWithIndex.map { case (v, i) => (s"g$g", i.toLong, v) }
    }
    val s2 = spark
    import s2.implicits._
    val df = rows.toDF("g", "k", "v")
    val gini = Concentration.giniBy(df, "g", "k", "v").collect()
    gini.foreach { r =>
      val (n, gv) = (r.getLong(1), r.getDouble(3))
      assert(gv >= 0.0 && gv < 1.0, s"gini $gv out of range")
      // rank-form upper bound is (n-1)/n
      assert(gv <= (n - 1).toDouble / n + 1e-9, s"gini $gv exceeds (n-1)/n")
    }
    val hhi = Concentration.hhiBy(df, "g", "k", "v").collect()
    hhi.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(3))
      assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9, s"hhi $h n $n")
    }
  }

  test("kmSurvival is nonincreasing in t and bounded in [0, 1]") {
    val subjGen = for {
      t <- Gen.choose(0L, 50L)
      ev <- Gen.oneOf(0L, 1L)
    } yield (t, ev)
    val s2 = spark
    import s2.implicits._
    val df = sample(subjGen, 300).toDF("t", "ev")
    val curve = Timeseries.kmSurvival(df, "t", "ev")
      .orderBy("t").collect().map(r => (r.getLong(0), r.getDouble(4)))
    curve.foreach { case (_, sv) =>
      assert(sv >= 0.0 && sv <= 1.0 + 1e-9, s"survival $sv") }
    curve.sliding(2).foreach {
      case Array((t1, s1v), (t2, s2v)) =>
        assert(t1 < t2 && s2v <= s1v + 1e-9,
          s"survival must not increase: $s1v -> $s2v")
      case _ =>
    }
    // at-risk counts telescope: n_risk(t_next) = n_risk(t) - c(t)
    val rows = Timeseries.kmSurvival(df, "t", "ev").orderBy("t")
      .collect().map(r => (r.getLong(1), r.getLong(2) + r.getLong(3)))
    rows.sliding(2).foreach {
      case Array((n1, c1), (n2, _)) => assert(n2 == n1 - c1)
      case _ =>
    }
  }

  test("termCounts == HOF reference and conserves the token total, any token array") {
    import graft.functions.TextFunctions
    // arbitrary short lowercase tokens with heavy collision probability,
    // so multiplicities > 1 are common
    val arrGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 3).flatMap(l =>
        Gen.listOfN(l, Gen.alphaLowerChar).map(_.mkString))))
    val rows = sample(arrGen, 150).zipWithIndex
      .map { case (a, i) => (i.toLong, a) }
    val df = spark.createDataFrame(rows).toDF("id", "toks")
    // bit-exact parity with the pure-built-in reference
    val diff = df.select(TextFunctions.termCounts(col("toks")).as("x"),
        TextFunctions.termCountsHof(col("toks")).as("y"))
      .where(col("x") =!= col("y"))
    assert(diff.count() == 0)
    // conservation: Σ tf == token count, distinct terms == array_distinct
    val bad = df.select(size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).as("u"),
        TextFunctions.termCounts(col("toks")).as("tc"))
      .withColumn("tfsum", aggregate(col("tc"), lit(0L), (a, x) => a + x.getField("tf")))
      .where(col("tfsum") =!= col("n") || size(col("tc")) =!= col("u"))
    assert(bad.count() == 0)
  }

  test("perGroupTopK == (ord DESC, id ASC) row_number window for any " +
    "grouped numeric rows (duplicate ord values, tiny and huge groups)") {
    // the aggregate graft.operators.Ivf/Pq rank with instead of a sorted
    // window (round 11) — equivalence must hold for ANY scored frame,
    // including duplicated similarity values (tie ranks decided purely
    // by id), groups below k, and ord values of either sign
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      g <- Gen.choose(1L, 12L)
      id <- Gen.choose(0L, 400L)
      // coarse grid forces heavy sim collisions → tie-order stress
      s <- Gen.choose(-5, 5).map(_ / 4.0)
    } yield (g, id, s)
    val rows = sample(rowGen, 600).distinct // (g, id) must be unique keys
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = spark.createDataFrame(rows).toDF("g", "id", "s")
    for (k <- Seq(1, 4, 25)) {
      val viaHeap = graft.functions.expressions.TopKAggregate
        .perGroupTopK(df, "g", "id", "s", k)
      val w = Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)
      val viaWindow = df.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k)
        .select(col("g"), col("id"), col("s"), col("rnk").cast("int"))
      assert(viaHeap.exceptAll(viaWindow).count() == 0 &&
        viaWindow.exceptAll(viaHeap).count() == 0,
        s"k=$k: heap top-k diverged from the window")
    }
  }
}
