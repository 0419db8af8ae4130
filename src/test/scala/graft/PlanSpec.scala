package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale design (SCALE.md) depends
  * on these plan shapes, so they are asserted, not assumed. Uses
  * sf0.001 — plan shape is scale-independent for these checks. */
class PlanSpec extends SparkTestBase {

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf())
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.optimizedPlan.toString
  }

  test("per-group top-k compiles to WindowGroupLimit (rank pushdown)") {
    assert(planOf("q04_supplier_top_parts").contains("WindowGroupLimit"))
    assert(planOf("q06_cf_topn").contains("WindowGroupLimit"))
  }

  test("dimension joins broadcast (q03 nation)") {
    assert(planOf("q03_nation_revenue").contains("BroadcastHashJoin"))
  }

  test("query-vector filter is pushed into the parquet scan (q08)") {
    val p = planOf("q08_knn")
    assert(p.contains("PushedFilters") &&
      (p.contains("LessThan(vec_id,20)") || p.contains("LessThan(vec_id, 20)")))
  }

  test("global top-k compiles to TakeOrderedAndProject (q02, resolver)") {
    assert(planOf("q02_top_orders").contains("TakeOrderedAndProject"))
    assert(planOf("q22_resolver_substr").contains("TakeOrderedAndProject"))
  }

  test("no cartesian product in the equi-join families") {
    // intended non-equi joins: the broadcast NLJ of the exact brute-force
    // kNN family (q08/q09/q10/q27/q33/q35/q36) and the ≤5-row K-values
    // crossJoin inside precisionAtK (q25/q26/q35/q36) — everything keyed
    // (dedup, graph, LSH buckets, IVF cells) must join on keys.
    for (q <- Seq("q05_graph_edges", "q06_cf_topn", "q07_cf_for_queries",
        "q12_lsh_pairs", "q13_dedup_exact", "q14_ngram_jaccard",
        "q15_minhash_cand", "q39_simhash_pairs", "q48_lsh_multiprobe",
        "q28_events_window", "q49_event_stats")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q29 batch sessionization is relational: no object-state operator") {
    // The mega-user guard (round-2 verdict #1): the batch plan must be
    // window + aggregate (spillable sort), never MapGroups object state.
    val p = planOf("q29_sessions")
    assert(!p.contains("MapGroups"), s"q29 batch plan uses object state:\n$p")
    assert(p.contains("Window"), "q29 should sessionize via window functions")
  }

  test("text analysis stays map-side: single stage, no exchange beyond fan-out") {
    // one fan-out repartition (test-corpus artifact), zero shuffles from
    // the operator itself
    val p = planOf("q18_fingerprints")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected map-side plan, got $exchanges exchanges:\n$p")
  }

  test("q65 vocabulary pays ONE hash exchange (per-doc tf is map-side)") {
    // TermCounts folded the (term, doc) pre-aggregate into the scan; the
    // only shuffle left is the term-key merge (fan-out repartition, if
    // present, is RoundRobin — not counted).
    val p = SparkEntry.queries("q65_vocabulary")(spark, sf())
      .queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 1, s"expected one term exchange, got $ex:\n$p")
  }

  test("round-4 joins stay keyed: no cartesian/NLJ in q83/q84/q86/q91") {
    for (q <- Seq("q83_interval_join", "q84_negative_sample",
        "q86_dup_spans", "q91_zorder")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q96 z-score rides ONE user_id exchange (both window aggs share the sort)") {
    val p = planOf("q96_anomaly_zscore")
    val exchanges = "Exchange".r.findAllIn(
      SparkEntry.queries("q96_anomaly_zscore")(spark, sf())
        .queryExecution.executedPlan.toString).length
    assert(exchanges <= 2, s"expected one window exchange (+fan-out), got $exchanges")
    assert(!p.contains("CartesianProduct"))
  }

  test("q85 LM scoring joins broadcast (alphabet-bounded model)") {
    val p = planOf("q85_lm_score")
    assert(p.contains("BroadcastHashJoin"), "model/prefix joins should broadcast")
  }

  test("bucketed fact-fact join is exchange-free under forced sort-merge (q99)") {
    // The BucketedStore contract: both scans are pre-partitioned on the
    // join key, so even with broadcast forbidden the join needs NO
    // shuffle — the 100 TB co-location story, asserted structurally.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.sources.BucketedStore.ensure(spark, sf())
      val joined = graft.sources.BucketedStore.lineitem(spark, sf())
        .join(graft.sources.BucketedStore.orders(spark, sf()),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .select("l_orderkey", "l_extendedprice", "o_orderpriority")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n$p")
      assert(joined.count() ===
        graft.sources.Tables.lineitem(spark, sf()).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q81 PQ serving: ADC hot loop is the codegen'd expression, probe side broadcasts") {
    val df = SparkEntry.queries("q81_pq_serve")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("adcscore") || p.contains("AdcScore") ||
      p.toLowerCase.contains("adc"), "AdcScore expression missing from plan")
    assert(p.contains("BroadcastHashJoin"), "probed-query join should broadcast")
  }

  test("q115 corr matrix is one scan, one aggregate, no join") {
    val p = planOf("q115_corr_matrix")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"one scan each in executed+optimized plan, got $scans") // 1 per plan dump
    assert(!p.contains("Join"), "sufficient-statistics design needs no join")
  }

  test("q117 alpha sweep retrieves ONCE: embeddings scanned at most twice") {
    // content arm + cf arm each read embeddings; the 6-alpha sweep must
    // NOT multiply scans (executedPlan only — one dump).
    val df = SparkEntry.queries("q117_alpha_sweep")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    // arms: content(embeddings+queries=2) + cf(label scans=3) + truth(3);
    // the alpha inflation itself must add ZERO scans (broadcast values) —
    // at 6 alphas a per-alpha re-retrieval would show ~6x this count
    assert(scans <= 8, s"alpha sweep multiplied scans: $scans\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("broadcast"),
      "alpha list should broadcast")
  }

  test("q118 target encoding never shuffles the fact table") {
    val df = SparkEntry.queries("q118_target_encode")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the fact->aggregate joins must be broadcast, not shuffle joins
    assert(p.contains("BroadcastHashJoin"), "aggregates should broadcast back")
    assert(!p.contains("SortMergeJoin"), s"fact table got shuffled for a join:\n$p")
  }

  test("q119 feature hashing is a single shuffle: explode then one agg") {
    val df = SparkEntry.queries("q119_feature_hash")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"hashing-trick features need one shuffle, got $exchanges")
    assert(p.contains("Generate"), "token explode should be a Generate")
  }

  test("q116 MMR pairwise term joins on query_id, never cross") {
    val df = SparkEntry.queries("q116_mmr_rerank")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "pairwise sims must equi-join")
  }

  test("q131 star flatten: every dimension broadcasts, fact join stays bucketed") {
    graft.sources.BucketedStore.ensure(spark, sf())
    val df = SparkEntry.queries("q131_star_flatten")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    // ≥5 dims broadcast; at test scale the orders side may broadcast
    // too (correct at that size — the bucketed SMJ-without-exchange
    // fact-fact shape is asserted by the dedicated q99 test above)
    assert(bhj >= 5, s"5 dims should broadcast, got $bhj BHJs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"star flatten should need no fact shuffle:\n$p")
  }

  test("sketch states shuffle only the fixed register space (q153/q160)") {
    // the groupBy key is the register/word id — every exchange must hash
    // on those synthetic ids, never on the sketched data column
    for (q <- Seq("q153_hll_distinct", "q160_bloom")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!"Exchange hashpartitioning\\(l_\\w+key".r.findFirstIn(p).isDefined,
        s"$q must never shuffle the data's key column:\n$p")
    }
  }

  test("q160 bloom probe joins the filter as a broadcast") {
    assert(planOf("q160_bloom").contains("BroadcastHashJoin"))
  }

  test("q161 histogram quantiles: both window aggs share one exchange") {
    val df = SparkEntry.queries("q161_hist_quantiles")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    // bin groupBy + the (cum, n) windows + final groupBy all hash on
    // event_type(+bin): ≤2 exchanges total, none over raw events rows
    assert(ex <= 2, s"expected ≤2 exchanges, got $ex:\n$p")
  }

  test("q162 trending: one conditional aggregate, top-k takes ordered") {
    val p = planOf("q162_trending")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q176 HHI: two hash aggregations, no window, no cartesian") {
    val p = planOf("q176_supplier_hhi")
    assert(!p.contains("Window"), s"HHI must not rank:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"))
  }

  test("q174 gini: the rank window partitions by the group key") {
    // a global (empty-partition) window here would funnel every customer
    // through one task — the window spec must carry the nation key
    val p = planOf("q174_nation_gini")
    assert(p.contains("Window"), "rank form needs a window")
    assert(p.matches("(?s).*windowspecdefinition\\(c_nationkey.*"),
      s"window must partition by c_nationkey:\n$p")
  }

  test("q178 assortativity: edges materialize once for three consumers") {
    val p = planOf("q178_assortativity")
    assert(!p.contains("CartesianProduct"))
    // the basket-expansion subtree must be checkpointed, not re-derived
    // by the degree build and each decoration join
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"expected a checkpointed edge frame:\n$p")
  }

  test("q165 user-kNN: no join above the pair aggregation, top-k pushes down") {
    // The norm counts ride THROUGH the pair aggregation (attached to
    // posting rows before pairing); the tail is explode-symmetrize →
    // window, with NO pair-sized join. Plans print root-first, so every
    // Join must appear BELOW (after) the symmetrizing Generate, and the
    // rank filter must compile to WindowGroupLimit so the one window
    // exchange carries capped rows.
    val df = SparkEntry.queries("q165_user_knn")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"top-k must push down:\n$p")
    val gen = p.indexOf("Generate")
    assert(gen >= 0, s"expected explode symmetrization:\n$p")
    val joinAbove = p.substring(0, gen).contains("Join")
    assert(!joinAbove, s"pair-sized frame must not be joined post-expansion:\n$p")
  }

  test("q14 adaptive dedup, healthy corpus: gate resolves uncapped — " +
    "the plan is fully streaming and the call leaves ZERO persisted " +
    "state (round 14; ADVICE r13)") {
    // The r13 shape checkpointed the full postings frame before the
    // gate decision, demanding corpus-scale executor memory+disk on
    // every adaptive call even when the cap resolved disabled (the
    // healthy-corpus common case). Round 14: the histogram streams and
    // an uncapped resolution returns the streaming plan — nothing is
    // materialized, nothing survives the call. (The capped path's
    // single-materialization + releasePostings() contract is pinned on
    // a cap-engaging corpus in DedupSpec.)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("q14_ngram_jaccard")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Scan ExistingRDD") && !p.contains("LogicalRDD"),
      s"uncapped adaptive plan must not read a materialization:\n$p")
    assert(p.contains("Scan parquet"),
      s"uncapped adaptive plan should stream from the source:\n$p")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"uncapped adaptive call must leave zero persisted state, leaked RDDs: $leaked")
  }

  test("q53 fused corpus gate: at most two parquet scans of documents") {
    // the lang+quality arms ride ONE surfaceGate pass (the unfused
    // form joined two separate frames, each re-scanning and
    // re-tokenizing the corpus); with keepList's own pass that is two
    // document scans total — a third appearing here means an arm has
    // fallen back off the fused projection
    val p = planOf("q53_corpus_filter")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"fused gate should scan documents <= 2x, saw $scans:\n$p")
  }

  test("q177 survival: windows sort the duration frame, not subjects") {
    // the per-subject reduction (groupBy custkey) must happen BEFORE any
    // window; the windows are over the distinct-duration frame
    val df = SparkEntry.queries("q177_survival")(spark, sf())
    val opt = df.queryExecution.optimizedPlan
    // count plan nodes: Window must sit above the duration aggregation
    val s = opt.toString
    val winIdx = s.indexOf("Window")
    val aggIdx = s.indexOf("Aggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected Aggregate (subject reduce) BELOW the windows:\n$s")
  }

  test("one-query hybrid serve: window-free probe, no full-outer join, " +
    "blend adds exactly ONE query_id exchange") {
    // The single-request path: IvfIndexStore.serve → CfRetriever.topNFor
    // → HybridScorer.blend. Its latency is set by its job count, so the
    // shapes that removed jobs are pinned: the probe is collected once
    // (no probe-rank Window, no centroid join), and the blend fuses the
    // arms behind one query_id exchange that its window reuses (no
    // FULL OUTER sort-merge join shuffling both arms on (query_id, item)).
    import graft.operators.{CfRetriever, HybridScorer, IvfIndexStore}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val query = emb.where(col("vec_id") === 7L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val edges = emb.where(col("vec_id") < 100 && col("vec_id") =!= 7L)
      .select(lit(7L).as("src"), col("vec_id").as("dst"),
        (col("vec_id") % 5 + 1).as("weight"))
    val content = IvfIndexStore.serve(spark, sf(), query, 60, 4)
      .select(col("query_id"), col("vec_id").as("item"), col("sim").as("cs"))
    val cf = CfRetriever.topNFor(edges, query.select("query_id"), 60)
      .select(col("src").as("query_id"), col("dst").as("item"), col("norm").as("fs"))
    val fused = HybridScorer.blend(content, cf, 0.6, 10)
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    def queryIdExchanges(df: DataFrame) =
      "Exchange hashpartitioning\\(query_id".r.findAllIn(plan(df)).length
    assert(!plan(content).contains("Window"),
      s"the IVF probe runs a window again:\n${plan(content)}")
    // the index scan is rooted at the probed cells' directories only,
    // never at the whole index
    val indexDir = IvfIndexStore.root(sf()) + "/index"
    val probedDirs = graft.operators.Ivf.probeCells(IvfIndexStore.loadModel(sf()), query, 4)._2
      .map(c => s"cell=$c").filter(c => new java.io.File(s"$indexDir/$c").exists()).toSet
    val scanRoots = content.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.location.rootPaths
    }.flatten
    assert(probedDirs.nonEmpty && probedDirs.size <= 4)
    assert(scanRoots.map(_.getName).toSet == probedDirs && scanRoots.size == probedDirs.size,
      s"index scan roots ${scanRoots.mkString(", ")}, probed $probedDirs")
    assert(!plan(fused).contains("FullOuter"),
      s"the blend is a full-outer join again:\n${plan(fused)}")
    val added = queryIdExchanges(fused) - queryIdExchanges(content) - queryIdExchanges(cf)
    assert(added == 1, s"blend added $added query_id exchanges:\n${plan(fused)}")
    assert(fused.collect().map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 10))
  }
}
