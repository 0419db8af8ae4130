package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
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
  *    artifact turns its chunk into failed rows (never re-timed in this
  *    JVM, whose accumulated state is what forking avoids). Each
  *    child's `[bench]` and `[reap]` lines are copied to this process'
  *    stderr.
  *  - IN-PROCESS (SPARK_GRAFT_FORK=0, or small query subsets): the
  *    classic single-JVM loop with the deterministic persistent-block
  *    reap between queries.
  *
  * Env: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS, SPARK_GRAFT_QUERIES
  * (comma subset, [[SparkEntry.select]]: an unknown name fails the run
  * before anything is timed), SPARK_GRAFT_FORK=<chunk size; 0 disables
  * forking>.
  *
  * Every query is timed once: one run of its body, cold but for the
  * untimed warmup set, with the block reap after it. The run is wrapped
  * in [[QueryMetrics.measure]], and its figures plus the setup's
  * seconds (`setup_s`) are the row's "metrics" in BENCH_FULL*.json and
  * a short `[jobs … gap …]` bracket on its `[bench]` line.
  *
  * A query whose setup throws, whose run throws, or whose forked
  * chunk left no complete artifact is a failure: it keeps its -1.0 row
  * in "queries", is left out of the total, is named under "failed" in
  * BENCH_FULL*.json, and makes Bench exit 1 after everything is written.
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
    * the query's timed run (setup excluded; the reap after it
    * included — steal is a rate, so the window just needs to cover the
    * timed region), so a row is adjudicable from the artifact alone
    * (VERDICT r13). -1.0 = not measurable
    * (non-Linux /proc, or a zero-width window). `failure` names what
    * threw (setup, or the run); a failed row's `sec` is -1.0, any
    * other is unrounded (rounded once, in [[render]]). `metrics`: the
    * `setup_s` and, for a run that started, its [[QueryMetrics]]. */
  private[graft] final case class QueryRun(name: String, sec: Double,
                                           load1: Double, stealPct: Double,
                                           failure: Option[String] = None,
                                           metrics: ListMap[String, Double] = ListMap.empty)

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
    // every graph/fixpoint heavy pays cold on its one timed run. Tiny
    // in-memory frame, ~1 s, skipped for light-only chunks.
    // Alternating-JVM A/B on cold q163 (storm window, mins: 10.99 off
    // vs 9.8 on; medians 11.4 vs 10.2): ~1.2 s of the cold gap is this
    // machinery; the rest is the query's own per-round codegen, not
    // warmable generically.
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
      // DISK-backed (all in-tree ones write stores): the reap after each
      // query drops every in-memory persisted/checkpointed frame, so an
      // in-memory setup artifact would be rebuilt inside a later
      // query's timed region. A failed setup fails the query without
      // running it: its body would self-heal the artifact inside the
      // timed region and report build time as serving time.
      val setup0 = System.nanoTime()
      val setupFailure = spec.prepare(spark, sfDir, "bench")
      val setupS = ListMap("setup_s" -> (System.nanoTime() - setup0) / 1e9)
      // ambient window: load1 at query start, steal jiffies across the
      // timed run and its reap (QueryRun's contract)
      val qLoad1 = load1()
      val steal0 = stealTotal()
      // One timed run, then the reap OUTSIDE the timed region. Dead
      // localCheckpoint/broadcast blocks are reaped by the ContextCleaner
      // only after a GC proves them unreachable; across a long suite they
      // otherwise pile up in the block manager and squeeze execution
      // memory (BENCH_r05's suite-wide spill churn), or stall later
      // block stores in SizeEstimator walks (SCALE.md round 13, "q165's
      // monotonic in-JVM growth"). Reaping deterministically after every
      // query keeps that state out of the next query's timed run.
      val (failure, m) =
        if (setupFailure.isDefined) (setupFailure, ListMap.empty[String, Double])
        else {
          val run = QueryMetrics.measure(spark) {
            try { spec.run(spark, sfDir).count(); None }
            catch { case NonFatal(t) => Some(s"run: $t") }
          }
          GraftSession.reap(spark); System.gc()
          run
        }
      val row = QueryRun(name, if (failure.isEmpty) m("wall_s") else -1.0, qLoad1,
        stealPctOf(steal0, stealTotal()), failure, setupS ++ m)
      System.err.println(benchLine(row))
      row
    }
  }

  /** A row's seconds on the stdout line and the `[bench]` line alike, so
    * a forked row reads the same on both. ≥1 s values carry 1 decimal
    * (≤5% quantization; 193 quoted qNN keys alone cost ~1640 chars of the
    * stdout line, VERDICT r14 item 8), sub-1 s values keep 2: 1 dp there
    * would inject ±20%+ phantom deltas into a >10% regression gate. */
  private[graft] def shortSec(v: Double): java.math.BigDecimal = dp(v, if (v >= 1) 1 else 2)

  private def dp(v: Double, n: Int): java.math.BigDecimal =
    BigDecimal(v).setScale(n, BigDecimal.RoundingMode.HALF_UP).bigDecimal

  /** The `[bench]` stderr line of one row: its time, what threw, its
    * ambient evidence and, for a run that started, a layer bracket. */
  private[graft] def benchLine(q: QueryRun): String =
    f"[bench] ${q.name}%-24s ${shortSec(q.sec).toPlainString}%8s s" +
      q.failure.fold("")(f => s"  FAILED (${f.takeWhile(_ != ':')} threw)") +
      f"  [ambient load1 ${q.load1}%.2f steal ${q.stealPct}%.2f%%]" +
      (if (!q.metrics.contains("driver_gap_ms")) ""
       else Seq("jobs", "tasks", "plan_ms", "compiles", "compile_ms", "gc_ms", "driver_gap_ms")
         .map(k => f"${k.stripPrefix("driver_")} ${q.metrics(k)}%.0f").mkString("  [", " ", "]"))

  /** A child's BENCH_FULL.json as [[QueryRun]]s, in file order. Missing
    * ambient columns read as -1.0 markers, never as a parse failure, so
    * an ambient-format skew can't discard a chunk's timings. A clean
    * row's time is its unrounded `metrics.wall_s` where the child wrote
    * one (an artifact without "metrics" reads its "queries" value). */
  private[graft] def readArtifact(file: java.io.File): Seq[QueryRun] = {
    val root = new ObjectMapper().readTree(file)
    val qs = root.path("queries")
    qs.fieldNames().asScala.toSeq.map { n =>
      val amb = root.path("ambient").path(n)
      val mj = root.path("metrics").path(n)
      val metrics = ListMap.from(mj.fieldNames().asScala.map(k => k -> mj.path(k).asDouble()))
      val failure = Option(root.path("failed").get(n)).map(_.asText())
      QueryRun(n, metrics.get("wall_s").filter(_ => failure.isEmpty)
          .getOrElse(qs.path(n).asDouble()),
        amb.path(0).asDouble(-1.0), amb.path(1).asDouble(-1.0), failure, metrics)
    }
  }

  /** Writes one artifact; on failure, the line to report (a silent failure
    * would leave the last run's file looking fresh). */
  private[graft] def writeArtifact(file: String, payload: String): Option[String] =
    try { Files.writeString(Paths.get(file), payload); None }
    catch { case NonFatal(e) => Some(s"[bench] could not write $file: $e") }

  /** A forked chunk's rows: the child's artifact when it holds exactly
    * the chunk's queries, else one failed row per query naming `why`.
    * The chunk is never re-timed in this JVM: it carries the accumulated
    * state that forking exists to avoid. */
  private[graft] def chunkRows(chunk: Seq[String], artifact: Option[Seq[QueryRun]],
                               why: String): Seq[QueryRun] =
    artifact.filter(_.map(_.name).sorted == chunk.sorted)
      .getOrElse(chunk.map(QueryRun(_, -1.0, -1.0, -1.0, Some(why))))

  /** Spawn one child JVM per chunk (temp cwd: the child's own
    * BENCH_FULL.json can never clobber the parent artifact). The child's
    * `[bench]` and `[reap]` lines are copied to stderr. A child that
    * exits 1 over failed queries still returns its rows; one that left
    * no complete artifact returns failed rows ([[chunkRows]]). The temp
    * dir is deleted unless the child failed, when its path is printed. */
  private def runChunkForked(chunk: Seq[String]): Seq[QueryRun] = {
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
      val p = pb.start()
      val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); p.waitFor() }
      Files.readAllLines(log.toPath).asScala
        .filter(l => l.startsWith("[bench]") || l.startsWith("[reap]"))
        .foreach(System.err.println)
      val full = new java.io.File(dir, "BENCH_FULL.json")
      // a child killed mid-write leaves a file that does not parse
      val got =
        if (done && full.exists()) scala.util.Try(readArtifact(full)).toOption
        else None
      val rows = chunkRows(chunk, got,
        s"child exit ${p.exitValue()}, no complete artifact")
      if (p.exitValue() != 0 || rows.exists(_.failure.isDefined))
        System.err.println(s"[bench] child exit ${p.exitValue()}; kept $dir")
      else graft.sources.BuildOnce.deleteTree(dir)
      rows
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] fork failed: $e" +
        Option(dir).fold("")(d => s"; kept $d"))
      chunkRows(chunk, None, s"fork failed: $e")
    }
  }

  /** The run's stdout line and its BENCH_FULL*.json payload.
    *
    * The harness keeps only the TAIL of this process' output (2000 chars
    * observed) — a full-name 185-query JSON line gets its head cut off
    * and fails to parse (BENCH_r03 "parsed": null). So the stdout line
    * keys each query by `qNN` alone, and the payload carries the same
    * numbers with full names, 3 dp, plus per-query ambient evidence
    * ([load1 at query start, steal% over the timed run], -1 =
    * unmeasurable), every failure (name -> what threw, {} on a clean
    * run), every row's "metrics" (unrounded; counts as integers) and,
    * LAST and only when chunks ran (forked children never emit it), the
    * 1-min load at each chunk start. Each time is rounded here, once. */
  private[graft] def render(results: Seq[QueryRun], sfDir: String,
                            chunkLoads: Seq[(String, Double)]): (String, String) = {
    def obj(kvs: Iterable[(String, AnyRef)]) = {
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      kvs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def head(queries: Seq[(String, AnyRef)]): Seq[(String, AnyRef)] =
      Seq("metric" -> "total", "value" -> dp(total(results), 3),
        "unit" -> "sec", "queries" -> obj(queries), "sf" -> sfDir)
    // Short keys truncate at the first '_'; SparkEntry refuses two specs
    // sharing a qNN, so no key is emitted twice.
    val line = head(results.map(q => q.name.takeWhile(_ != '_') -> shortSec(q.sec)))
    val full = head(results.map(q => q.name -> dp(q.sec, 3))) ++ Seq(
      "ambient" -> obj(results.map(q =>
        q.name -> java.util.List.of(dp(q.load1, 2), dp(q.stealPct, 2)))),
      "failed" -> obj(results.flatMap(q => q.failure.map(q.name -> _))),
      "metrics" -> obj(results.filter(_.metrics.nonEmpty).map(q => q.name ->
        obj(q.metrics.map { case (k, v) =>
          k -> (if (v.isWhole) Long.box(v.toLong) else Double.box(v)) })))) ++
      (if (chunkLoads.isEmpty) Nil
       else Seq("load1_at_chunk_start" -> obj(chunkLoads.map { case (k, v) => k -> dp(v, 2) })))
    val json = new ObjectMapper()
    (json.writeValueAsString(obj(line)), json.writeValueAsString(obj(full)) + "\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val specs = SparkEntry.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    val names = specs.map(_.name)
    // default 6 (was 10): a full 193-query local rerun with one-heavy
    // topology chunks of 10 still showed mid-chunk iterative queries
    // (k-core, triangles, BFS, dedup-CC) inflating their successors —
    // those are now in the heavy list, and the shorter light runs bound
    // how much JVM context any query accumulates before it is timed
    val chunkSize = sys.env.get("SPARK_GRAFT_FORK").map(_.toInt).getOrElse(6)
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
          runChunkForked(chunk)
        }
      } else {
        val spark = GraftSession(GraftSession.envCores(32))
        spark.sparkContext.setLogLevel("WARN")
        runInProcess(spark, sfDir, specs)
      }
    val failed = results.filter(_.failure.isDefined)
    // A SUBSET run from a repo checkout (.git in cwd) writes no cwd
    // artifact: an ad-hoc probe run from the repo root would clobber
    // the committed driver file (one did, once). Keyed on the SELECTED
    // list covering the registry, not on env-var presence, so a wrapper
    // that passes the full 193 names explicitly still records its run.
    // Forked children run subsets in temp cwds (no .git) and MUST write
    // — the file is their result channel; the driver's full-suite run
    // sets no SPARK_GRAFT_QUERIES. The skip is announced on stderr: a
    // silent skip leaves yesterday's numbers in the file looking fresh.
    val subsetInRepo = names.size != SparkEntry.specs.size &&
      Files.exists(Paths.get(".git"))
    if (subsetInRepo)
      System.err.println("[bench] subset run in a repo checkout: NOT writing BENCH_FULL.json")
    val (line, payload) = render(results, sfDir, chunkLoads.toSeq)
    val writeFailures =
      if (subsetInRepo) Nil
      else {
        // BENCH_FULL.json stays (the forked-child result channel and the
        // historical artifact name); the core-count-keyed copy exists so
        // a multi-config session (32c then 8c run in the same cwd,
        // VERDICT r14 item 5) stops clobbering its own per-query ambient
        // evidence — both runs' artifacts survive side by side.
        val cpusKey = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
        Seq("BENCH_FULL.json", s"BENCH_FULL_c$cpusKey.json").flatMap(writeArtifact(_, payload))
      }
    writeFailures.foreach(System.err.println)
    println(line)
    try SparkSession.getActiveSession.foreach(_.stop()) catch { case NonFatal(_) => () }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: " +
        failed.map(q => s"${q.name} (${q.failure.get})").mkString(", "))
    if (failed.nonEmpty || writeFailures.nonEmpty) sys.exit(1)
  }
}
