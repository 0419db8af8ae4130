package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Headline benchmark. Two modes:
  *
  *  - FORKED (default when >SPARK_GRAFT_FORK queries are requested): the
  *    suite is split into chunks and each chunk runs in a FRESH child
  *    JVM (same flags/classpath, temp cwd). Round 5/6 showed in-suite
  *    times wander 3-20× vs isolated runs — accumulated block-manager /
  *    code-cache / GC state from 100+ prior queries lands on whichever
  *    query runs late, and the deterministic block reap (r6) only
  *    partially cured it on the driver's box. A fresh JVM per chunk is
  *    the BENCH_ISOLATED protocol made official: every published number
  *    is within one JVM of cold, warmed by the untimed warmup set.
  *    JVM/session startup is NOT in any timed region (the baseline
  *    equally excludes its index build). A child that leaves no complete
  *    artifact falls back to in-process execution of that chunk — the
  *    artifact always covers every query. Each child's `[bench]` lines
  *    are copied to this process' stderr.
  *  - IN-PROCESS (SPARK_GRAFT_FORK=0, or small query subsets): the
  *    classic single-JVM loop with the deterministic persistent-block
  *    reap between queries.
  *
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS, SPARK_GRAFT_QUERIES
  * (comma subset), SPARK_GRAFT_WARM=N (1 untimed warmup then N timed
  * runs, report the MIN; N=1 ≡ the historical run-twice-report-2nd),
  * SPARK_GRAFT_FORK=<chunk size; 0 disables forking>.
  *
  * A query whose setup throws, or whose every run throws, is a failure:
  * it keeps its -1.0 row in "queries", is left out of the total, is
  * named under "failed" in BENCH_FULL*.json, and makes Bench exit 1
  * after everything is written.
  */
object Bench {

  /** The `heavy` specs, in numeric qNN order — the ones whose ten join+agg
    * rounds (or multi-million-row pair shuffles) leave enough JVM state
    * (code cache, GC history, block-manager churn) to inflate whatever
    * runs after them in the same JVM. r7 evidence: with plain
    * `names.grouped(10)` the string-sort clusters these together, and
    * the LAST one in a chunk absorbs all its predecessors — q167 read
    * 10.9 s chunked after q149+q163+q165 vs 2.56 s truly alone (its r6
    * number exactly), q94 45.2 s in-suite vs 7.8 isolated. Topology
    * rule: at most ONE of these per fork chunk, always placed LAST, so
    * every heavy runs on light-query context (≈ the isolated-warm
    * protocol) and no light query ever follows a heavy. */
  private[graft] val heavyNames: Seq[String] = SparkEntry.specs.filter(_.heavy)
    .sortBy(_.shortKey.drop(1).toInt).map(_.name)

  /** One benched query's reported time plus its own ambient evidence:
    * 1-min load sampled at query start and hypervisor-steal%% across
    * the query's sample window (setup excluded; warmup + reaps
    * included — steal is a rate, so the window just needs to cover the
    * timed region). Motivation (VERDICT r13): every round's driver-
    * channel outliers forced an after-the-fact isolated-rerun chase
    * because the artifact carried load only at chunk starts — a row
    * that carries its own load1/steal%% at measurement time is
    * adjudicable from the artifact alone. -1.0 = not measurable
    * (non-Linux /proc, or a zero-width window). `failure` names what
    * threw (setup, or every run); a failed row's `sec` is -1.0. */
  private[graft] final case class QueryRun(name: String, sec: Double,
                                           load1: Double, stealPct: Double,
                                           failure: Option[String] = None)

  /** The suite total: failed rows are left out, never summed as -1.0. */
  private[graft] def total(results: Seq[QueryRun]): Double =
    results.filter(_.failure.isEmpty).map(_.sec).sum

  private[graft] def load1(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative (steal, total) jiffies from /proc/stat's aggregate cpu
    * line; None where unreadable. Steal is the 8th value after the
    * "cpu" tag; total sums the canonical 8 time buckets (guest time is
    * already inside user on Linux, so summing 10 would double-count). */
  private[graft] def stealTotal(): Option[(Long, Long)] =
    try {
      Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu "))
        .map { l =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          (if (f.length > 7) f(7) else 0L, f.take(8).sum)
        }
    } catch { case NonFatal(_) => None }

  /** Steal%% across a (before, after) pair of [[stealTotal]] readings. */
  private[graft] def stealPctOf(a: Option[(Long, Long)],
                                b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0).toDouble / (t1 - t0).toDouble
      case _ => -1.0
    }

  /** reap()'s clearCache guard logs its first failure instead of
    * silently swallowing (VERDICT r13 item 6): a CacheManager failure
    * that persisted would otherwise quietly turn min-samples non-iid. */
  @volatile private var reapClearCacheWarned = false

  /** Select the reported time from a run's sample vector. `warmed`
    * drops the first (untimed warmup) sample; of the rest the MIN is
    * reported — interference can only RAISE a sample, so the min
    * converges on plan cost from above. Failed runs carry +Infinity
    * (a failure can only LOWER an elapsed time, so it must never win
    * the min); all-failed reports -1 so the artifact stays finite.
    * Returns (reported, timedSamples). */
  private[graft] def pickReported(samples: Seq[Double],
                                  warmed: Boolean): (Double, Seq[Double]) = {
    val timed = if (warmed) samples.tail else samples
    val dt = timed.min
    (if (dt.isInfinity) -1.0 else dt, timed)
  }

  /** Pack `names` into fork chunks of ≤ `chunkSize`: light queries in
    * sorted runs of `chunkSize−1`, then one heavy appended per chunk
    * (heavies beyond the light-group count run solo). Deterministic,
    * covers every name exactly once. chunkSize 1 = every query solo
    * (the isolated protocol; without the special case a heavy would
    * still be appended to each 1-light group). */
  private[graft] def topoChunks(names: Seq[String],
                                chunkSize: Int): Seq[Seq[String]] = {
    val heavy = heavyNames.filter(names.contains)
    val light = names.filterNot(heavy.contains)
    if (chunkSize <= 1 || light.isEmpty)
      (light ++ heavy).map(Seq(_))
    else {
      val groups = light.grouped(math.max(1, chunkSize - 1)).toSeq
      groups.zipWithIndex.map { case (g, i) => g ++ heavy.lift(i) } ++
        heavy.drop(groups.size).map(Seq(_))
    }
  }

  /** The run's query list. A comma list in SPARK_GRAFT_QUERIES keeps
    * ITS order — forked children receive their chunk through this env
    * var, and re-sorting would put the chunk's heavy (placed LAST by
    * [[topoChunks]]) back in front of its light queries, timing every
    * light on post-heavy JVM state. Unknown names are dropped with a
    * LOUD stderr line — a silent drop reads as "that query was fast
    * enough not to notice missing" in the output. */
  private[graft] def resolveNames(env: Option[String]): Seq[String] =
    env match {
      case Some(list) =>
        val asked = list.split(",").toSeq.map(_.trim).distinct
        val (known, unknown) = asked.partition(SparkEntry.queries.contains)
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] UNKNOWN query names dropped: ${unknown.mkString(", ")}")
        known
      case None => SparkEntry.queries.keys.toSeq.sorted
    }

  private def mkSession(): SparkSession = {
    val spark = GraftSession(GraftSession.envCores(32))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `specs` in this JVM and return one [[QueryRun]] per query. */
  private[graft] def runInProcess(spark: SparkSession, sfDir: String,
                                  specs: Seq[QuerySpec]): Seq[QueryRun] = {
    // Warm the JVM/codegen/parquet-footer paths so the first timed query
    // per family doesn't absorb session cold-start (it would at any scale
    // factor): q01 = relational agg/shuffle machinery, q08 = vector
    // expressions + window rank, q16 = the md5 hash expression family,
    // q31 = the MLlib pipeline path.
    for (w <- Seq("q01_pricing", "q08_knn", "q16_simhash_fp", "q31_embed_docs"))
      try SparkEntry.byName(w).run(spark, sfDir).count()
      catch { case NonFatal(_) => () }
    // Also warm the iterative-loop machinery — Iterate.roll
    // (localCheckpoint + ContextCleaner release) and
    // observe-on-checkpoint — which no registry warmup touches, yet
    // every graph/fixpoint heavy pays cold on its only timed suite run
    // (isolated rows don't: the warm protocol's untimed first run
    // absorbs it). Tiny in-memory frame, ~1 s, skipped for light-only
    // chunks. Alternating-JVM A/B on cold q163 (storm window, mins:
    // 10.99 off vs 9.8 on; medians 11.4 vs 10.2): ~1.2 s of the cold
    // gap is this machinery; the rest is the query's own per-round
    // codegen, not warmable generically.
    if (specs.exists(_.heavy)) try {
      import org.apache.spark.sql.{DataFrame, Observation}
      import org.apache.spark.sql.functions.{count, lit, col}
      var f: DataFrame = spark.range(1000).toDF("x")
      var prev: Option[DataFrame] = None
      for (_ <- 1 to 2) {
        val obs = Observation()
        val cp = graft.operators.Iterate.roll(
          f.withColumn("x", col("x") + 1)
            .observe(obs, count(lit(1)).as("n")), prev)
        obs.get("n"); prev = Some(cp); f = cp
      }
      prev.foreach(graft.operators.Iterate.release)
    } catch { case NonFatal(_) => () }
    specs.map { spec =>
      val name = spec.name
      // Build-once artifacts are constructed OUTSIDE the timed region:
      // the benched number is serving cost, matching how the baseline
      // measures (pre-built index, timed queries). Setups must be
      // DISK-backed (all in-tree ones write stores): the reap between
      // repeats drops every in-memory persisted/checkpointed frame, so
      // an in-memory setup artifact would be rebuilt inside repeat 2's
      // timed region (or crash it). A failed setup fails the query
      // without running it: its body would self-heal the artifact inside
      // the timed region and report build time as serving time.
      val setupFailure =
        try { spec.setup.foreach(_(spark, sfDir)); None }
        catch { case NonFatal(t) =>
          System.err.println(s"[bench] $name setup failed: $t")
          Some(s"setup: $t")
        }
      // SPARK_GRAFT_WARM=N: one untimed warmup run (codegen/broadcast/
      // footer costs), then N timed runs, report the MINIMUM — N=1 is
      // the historical "run twice, report the second" protocol exactly.
      // N>1 exists because this box shows bursty hypervisor-level
      // interference at the seconds scale (BENCH_ISOLATED_r8 notes):
      // the min over in-JVM repeats is the cheapest estimator of plan
      // cost that a transient burst can only raise, never lower. The
      // full sample vector goes to stderr so the artifact can carry it.
      // WARM must parse to a positive int to enable warm mode: WARM=0 or
      // garbage means warm OFF (None), matching the documented WARM=N
      // contract — the old getOrElse(1).max(1) silently turned WARM=0
      // (a plausible attempt to disable) INTO warm mode.
      val warmRuns = sys.env.get("SPARK_GRAFT_WARM")
        .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
      // A FAILED run records +Infinity, not its elapsed-to-failure time:
      // the min estimator's rationale (interference can only RAISE a
      // sample) inverts for failures, which can only LOWER one — a 0.3 s
      // OOM must never beat a 45 s success. All-runs-failed reports the
      // -1.0 marker (pickReported's contract) so downstream mins/sums
      // can't mistake a failure for a fast run; the [bench] line carries
      // the FAILED marker and the fail-tokened sample vector.
      // The reap (below) runs BETWEEN repeats too, not just between
      // queries (round 13): a query that leaves per-run session state
      // otherwise times repeat N against N−1 runs of ContextCleaner
      // backlog — BENCH_ISOLATED_r12's monotonic 6.6→28.4→55.2 s repeat
      // growth came about exactly this way (SCALE.md round 13, "q165's
      // monotonic in-JVM growth": superseded localCheckpoint blocks
      // survive until a GC proves them dead; later block stores then
      // stall 20–30 s per task in SizeEstimator walks), and an explicit
      // between-repeat reap held the same query flat at 5–7 s. The reap
      // sits OUTSIDE the timed region, so samples are iid under the min
      // estimator's model.
      def reap(): Unit = {
        try spark.catalog.clearCache()
        catch { case NonFatal(t) =>
          if (!reapClearCacheWarned) {
            reapClearCacheWarned = true
            System.err.println(
              s"[bench] reap: clearCache failed (further failures silenced): $t")
          }
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
      // ambient window: load1 at query start, steal jiffies across the
      // sample loop (QueryRun's contract) — read BEFORE the first
      // sample, AFTER the last
      val qLoad1 = load1()
      val steal0 = stealTotal()
      var runFailure: Option[String] = None
      val samples =
        if (setupFailure.isDefined) Seq(Double.PositiveInfinity)
        else (1 to (1 + warmRuns.getOrElse(0))).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { spec.run(spark, sfDir).count(); true }
                   catch { case NonFatal(t) =>
                     if (runFailure.isEmpty) runFailure = Some(s"run: $t")
                     false
                   }
          val el = (System.nanoTime() - t0) / 1e9
          reap()
          if (ok) el else Double.PositiveInfinity
        }
      val qSteal = stealPctOf(steal0, stealTotal())
      val (reported, timed) = pickReported(samples, warmRuns.isDefined)
      val failure = setupFailure.orElse(runFailure.filter(_ => reported < 0))
      System.err.println(f"[bench] $name%-24s $reported%8.2f s" +
        (if (setupFailure.isDefined) "  FAILED (setup threw)"
         else if (reported < 0) "  FAILED (all runs threw)" else "") +
        (if (timed.size > 1)
           timed.map(s => if (s.isInfinity) "fail" else f"$s%.2f")
             .mkString("  (samples: ", " ", ")")
         else "") +
        // ambient evidence on the line itself so the isolated channel's
        // artifacts (tools/isolated_bench.py parses this) are as
        // self-adjudicating as the suite artifact
        f"  [ambient load1 $qLoad1%.2f steal $qSteal%.2f%%]")
      // Dead localCheckpoint/broadcast blocks are reaped by the
      // ContextCleaner only after a GC proves them unreachable; across
      // a long suite they otherwise pile up in the block manager and
      // squeeze execution memory (BENCH_r05's suite-wide spill churn).
      // reap() above runs DETERMINISTICALLY after every repeat — so the
      // last repeat's state is already gone before the next query.
      // clearCache() first — defensive: no operator registers a
      // DataFrame cache today, but if one ever does (a future setup),
      // dropping only RDD blocks would leave stale CacheManager entries
      // shadowing later identical plans.
      // BLOCKING unpersist + a GC: the async form left an iterative
      // query's blocks/broadcasts alive into its successor (r7: q65 ran
      // 0.65 s isolated but 30-50 s when it followed q63's ten
      // checkpoint rounds in the same JVM).
      QueryRun(name, reported, qLoad1, qSteal, failure)
    }
  }

  /** A child's BENCH_FULL.json as [[QueryRun]]s, in file order. Missing
    * ambient columns read as -1.0 markers, never as a parse failure, so
    * an ambient-format skew can't discard a chunk's timings. */
  private[graft] def readArtifact(file: java.io.File): Seq[QueryRun] = {
    val root = new ObjectMapper().readTree(file)
    val qs = root.path("queries")
    qs.fieldNames().asScala.toSeq.map { n =>
      val amb = root.path("ambient").path(n)
      QueryRun(n, qs.path(n).asDouble(), amb.path(0).asDouble(-1.0),
        amb.path(1).asDouble(-1.0),
        Option(root.path("failed").get(n)).map(_.asText()))
    }
  }

  /** Writes one artifact; on failure, the line to report (a silent failure
    * would leave the last run's file looking fresh). */
  private[graft] def writeArtifact(file: String, payload: String): Option[String] =
    try { Files.writeString(Paths.get(file), payload); None }
    catch { case NonFatal(e) => Some(s"[bench] could not write $file: $e") }

  private def deleteTree(dir: java.io.File): Unit =
    Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))

  /** Spawn one child JVM per chunk (temp cwd: the child's own
    * BENCH_FULL.json can never clobber the parent artifact). The child's
    * `[bench]` lines are copied to stderr. Returns None if the child left
    * no complete artifact — caller falls back in-process; a child that
    * exits 1 over failed queries still returns its rows. The temp dir is
    * deleted unless the child failed, when its path is printed. */
  private def runChunkForked(chunk: Seq[String]): Option[Seq[QueryRun]] = {
    var dir: java.io.File = null
    try {
      dir = Files.createTempDirectory("graft-bench-").toFile
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq.filterNot(a => a.startsWith("-agentlib") ||
          a.startsWith("-javaagent"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.directory(dir)
      pb.redirectErrorStream(true)
      val log = new java.io.File(dir, "child.log")
      pb.redirectOutput(log)
      pb.environment().put("SPARK_GRAFT_QUERIES", chunk.mkString(","))
      pb.environment().put("SPARK_GRAFT_FORK", "0") // no recursive forking
      // the child's BENCH_FULL.json (in its temp cwd) is the RESULT
      // CHANNEL — a parent probe run's no-artifact flag must not leak
      // in, or every chunk would "fail" and fall back into one shared
      // JVM (the accumulated-state mode forking exists to prevent)
      pb.environment().remove("SPARK_GRAFT_NO_ARTIFACT")
      val p = pb.start()
      val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); p.waitFor() }
      Files.readAllLines(log.toPath).asScala
        .filter(_.startsWith("[bench]")).foreach(System.err.println)
      val full = new java.io.File(dir, "BENCH_FULL.json")
      val got =
        if (done && full.exists()) Some(readArtifact(full))
          .filter(_.map(_.name).sorted == chunk.sorted)
        else None
      if (got.isEmpty || p.exitValue() != 0)
        System.err.println(s"[bench] child exit ${p.exitValue()}" +
          (if (got.isEmpty) ", no complete artifact" else "") + s"; kept $dir")
      else deleteTree(dir)
      got
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] fork failed: ${e.getMessage}" +
        Option(dir).fold("")(d => s"; kept $d"))
      None
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = resolveNames(sys.env.get("SPARK_GRAFT_QUERIES"))
    // default 6 (was 10): a full 193-query local rerun with one-heavy
    // topology chunks of 10 still showed mid-chunk iterative queries
    // (k-core, triangles, BFS, dedup-CC) inflating their successors —
    // those are now in the heavy list, and the shorter light runs bound
    // how much JVM context any query accumulates before it is timed
    val chunkSize = sys.env.get("SPARK_GRAFT_FORK").map(_.toInt).getOrElse(6)
    lazy val spark = mkSession() // only created if some chunk runs here
    // 1-min load sampled before each chunk, kept in the cwd artifact
    // only (stdout line schema unchanged): the box shows bursty
    // co-tenant storms (BENCH_ISOLATED_r8 notes), and a storm-hit suite
    // run should be diagnosable from the artifact alone — a chunk whose
    // queries all inflated 3x against their isolated rows under a
    // load1=15 start is window contamination, not regression.
    val chunkLoads = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val results: Seq[QueryRun] =
      if (chunkSize > 0 && names.size > chunkSize) {
        val chunks = topoChunks(names, chunkSize)
        chunks.zipWithIndex.flatMap { case (chunk, i) =>
          chunkLoads += (s"chunk${i + 1}:${chunk.last}" -> load1())
          System.err.println(
            s"[bench] chunk ${i + 1}/${chunks.size}: ${chunk.head}..${chunk.last}")
          runChunkForked(chunk).getOrElse {
            System.err.println(s"[bench] chunk ${i + 1} fell back in-process")
            runInProcess(spark, sfDir, chunk.map(SparkEntry.byName))
          }
        }
      } else runInProcess(spark, sfDir, names.map(SparkEntry.byName))
    val total = Bench.total(results)
    val failed = results.filter(_.failure.isDefined)
    // The harness keeps only the TAIL of this process' output (2000
    // chars observed) — a full-name 185-query JSON line gets its head
    // cut off and fails to parse (BENCH_r03 "parsed": null). Two
    // artifacts:
    //  1. stdout: ONE compact JSON line (short query keys "q81", 2-dp
    //     values) sized to survive the tail window;
    //  2. BENCH_FULL.json in cwd: the same numbers with full names, 3-dp.
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def r2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    // Short-key value precision (round 15, VERDICT r14 item 8): the
    // stdout line must survive the harness's ~2000-char output-tail
    // window (BENCH_r13 lost its head there and PERF_r14 lost its
    // whole prev baseline). 193 quoted qNN keys alone cost ~1640
    // chars, so "<1800 chars" is arithmetically unreachable — this
    // trims what CAN be trimmed without distorting round-over-round
    // ratios: ≥1 s values carry 1 decimal (quantization ≤5%), sub-1 s
    // values keep 2 (1 dp there would inject ±20%+ phantom deltas into
    // a >10% regression gate). ~130 chars saved; the full-fidelity
    // numbers are in the cwd artifacts either way.
    def rShort(v: Double) =
      if (v >= 1) BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      else r2(v)
    // Short keys truncate at the first '_'; SparkEntry refuses two specs
    // sharing a qNN, so no key is emitted twice.
    val qsShort = results
      .map(q => "\"" + q.name.takeWhile(_ != '_') + "\":" + rShort(q.sec))
      .mkString("{", ",", "}")
    val qsFull = results.map(q => "\"" + q.name + "\":" + r3(q.sec))
      .mkString("{", ",", "}")
    // per-query ambient evidence ([load1_at_query_start, steal_pct over
    // the sample window]; -1 = unmeasurable) — artifact only, like
    // load1_at_chunk_start: the stdout line is sized for the harness's
    // tail window and stays schema-stable
    val ambFull = results
      .map(q => "\"" + q.name + "\":[" + r2(q.load1) + "," + r2(q.stealPct) + "]")
      .mkString(""","ambient":{""", ",", "}")
    // SPARK_GRAFT_NO_ARTIFACT=1: skip the cwd artifact — ad-hoc probe
    // runs from the repo root would clobber the committed driver file.
    // Belt-and-braces (a probe DID clobber it once, and the flag only
    // helps when remembered): a SUBSET run from a repo checkout (.git in
    // cwd) never writes either — keyed on the RESOLVED list covering the
    // registry, not on env-var presence, so a wrapper that passes the
    // full 193 names explicitly still records its run. Forked children
    // run subsets in temp cwds (no .git) and MUST write — the file is
    // their result channel; the driver's full-suite run sets no
    // SPARK_GRAFT_QUERIES. The skip is announced on stderr: a silent
    // skip leaves yesterday's numbers in the file looking fresh.
    val subsetInRepo = names.toSet != SparkEntry.queries.keySet &&
      Files.exists(Paths.get(".git"))
    if (subsetInRepo)
      System.err.println("[bench] subset run in a repo checkout: NOT writing BENCH_FULL.json")
    // every failure, name -> what threw; {} on a clean run
    val failedMap = new java.util.LinkedHashMap[String, String]()
    failed.foreach(q => failedMap.put(q.name, q.failure.get))
    val failedPart = ""","failed":""" + new ObjectMapper().writeValueAsString(failedMap)
    // load1 key LAST and only when chunks ran: forked children (FORK=0)
    // never emit it.
    val loadPart =
      if (chunkLoads.isEmpty) ""
      else chunkLoads.map { case (k, v) => "\"" + k + "\":" + r2(v) }
        .mkString(""","load1_at_chunk_start":{""", ",", "}")
    val writeFailures =
      if (sys.env.contains("SPARK_GRAFT_NO_ARTIFACT") || subsetInRepo) Nil
      else {
        val payload =
          s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsFull,"sf":"$sfDir"$ambFull$failedPart$loadPart}""" + "\n"
        // BENCH_FULL.json stays (the forked-child result channel and the
        // historical artifact name); the core-count-keyed copy exists so
        // a multi-config session (32c then 8c run in the same cwd,
        // VERDICT r14 item 5) stops clobbering its own per-query ambient
        // evidence — both runs' artifacts survive side by side.
        val cpusKey = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
        Seq("BENCH_FULL.json", s"BENCH_FULL_c$cpusKey.json").flatMap(writeArtifact(_, payload))
      }
    writeFailures.foreach(System.err.println)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsShort,"sf":"$sfDir"}""")
    try SparkSession.getActiveSession.foreach(_.stop()) catch { case NonFatal(_) => () }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: " +
        failed.map(q => s"${q.name} (${q.failure.get})").mkString(", "))
    if (failed.nonEmpty || writeFailures.nonEmpty) sys.exit(1)
  }
}
