package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Dev tool (round 15): decompose WHERE wall-clock goes for a query at
  * the session's core count — task/stage/job counts, summed executor
  * run/CPU/GC time, shuffle fetch wait, spill, (de)serialization — so
  * the 8-core-vs-32-core anti-scaling family (VERDICT r14 item 2:
  * q55/q14/q165/q127/q63/q149/q128 run 2-4x faster on a quarter of the
  * cores in the driver's scaling channel) can be attributed to
  * scheduling floor vs GC vs spill vs per-task contention from the
  * artifact alone.
  *
  * Session is bench-identical (master local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions=$SPARK_GRAFT_CPUS); run the probe once per core
  * count in SEPARATE JVMs, exactly like the driver's two bench runs:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe <sfDir> q165_user_knn,q55_embed_dups 2"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.ScaleProbe <sfDir> q165_user_knn,q55_embed_dups 2"
  *
  * Reading the output: `wall*cores - run` is executor-slot idle+overhead
  * (scheduling floor / stage barriers / driver time); `run - cpu` inside
  * a task is blocking (fetch wait, spill I/O, lock contention, GC inside
  * the task thread is jvmGcTime); per-sample lines keep cold (sample 1)
  * and warm states separate because the driver channel times cold.
  *
  * Besides registry names, `v186_c<N>` runs q186's HITS at roll cadence
  * N (the open cold bisect of its cadence). A conf A/B passes the conf
  * as a `-Dspark.*` JVM system property, which SparkConf reads.
  */
object ScaleProbe {
  private class Acc extends SparkListener {
    val tasks, runMs, cpuMs, gcMs, deserMs, resSerMs, fetchWaitMs,
      spillMemB, spillDiskB, shufReadB, shufWriteB, shufWriteMs,
      peakMemMax = new AtomicLong
    @volatile var jobs, stages = 0
    // (start, end) wall-clock of every job — merged into covered time so
    // `wall - covered` exposes DRIVER-side serial work (planning,
    // codegen, roll bookkeeping) between the jobs of a sequential loop
    val jobWindows = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      jobWindows.put(j.jobId, Array(j.time, -1L))
    }
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val w = jobWindows.get(e.jobId)
      if (w != null) w(1) = e.time
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages += 1
    def coveredMs(): Long = {
      import scala.jdk.CollectionConverters._
      val iv = jobWindows.values.asScala.toSeq
        .filter(w => w(1) > 0).map(w => (w(0), w(1))).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      for ((s, e) <- iv) {
        if (curS < 0) { curS = s; curE = e }
        else if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curS >= 0) covered += curE - curS
      covered
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        resSerMs.addAndGet(m.resultSerializationTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillMemB.addAndGet(m.memoryBytesSpilled)
        spillDiskB.addAndGet(m.diskBytesSpilled)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufWriteMs.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
        peakMemMax.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
    def reset(): Unit = {
      Seq(tasks, runMs, cpuMs, gcMs, deserMs, resSerMs, fetchWaitMs,
        spillMemB, spillDiskB, shufReadB, shufWriteB, shufWriteMs,
        peakMemMax).foreach(_.set(0))
      jobs = 0; stages = 0
      jobWindows.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q165_user_knn", "q55_embed_dups"))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    // "prelude=q1,q2,..": run these untimed first (with the bench's
    // reap between), replicating the fork-chunk JVM state the driver
    // channel times heavies under — the anti-scaling reproduces ONLY
    // in that state (fresh-JVM cold runs are core-count-neutral)
    val prelude = args.lift(3).filter(_.startsWith("prelude="))
      .map(_.stripPrefix("prelude=").split(",").toSeq).getOrElse(Nil)
    val cpus = GraftSession.envCores(32)
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    def reap(): Unit = {
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    for (p <- prelude) {
      try { SparkEntry.setups.get(p).foreach(_(spark, sfDir))
            SparkEntry.queries(p)(spark, sfDir).count() }
      catch { case NonFatal(t) =>
        System.err.println(s"[scaleprobe] prelude $p failed: $t")
      }
      reap()
    }
    println(s"# ScaleProbe cores=$cpus sf=$sfDir reps=$reps prelude=${prelude.size}")
    println("query\tsample\twall_s\tjobs\tstages\ttasks\trun_s\tcpu_s\tgc_s" +
      "\tdeser_s\tfetch_s\tspill_mem_mb\tspill_disk_mb\tshuf_r_mb\tshuf_w_mb" +
      "\tshufw_s\tpeak_mem_mb\tidle_s\tjobcov_s\tdrivergap_s")
    // hits cadence arms: v186_c<N>
    val hRe = "v186_c(\\d+)".r
    def resolve(name: String): (SparkSession, String) => DataFrame =
      name match {
        case hRe(c) => (s, d) =>
          graft.operators.GraphMetrics.hitsImpl(
            graft.operators.CoPurchaseGraph.fromOrders(
              graft.sources.Tables.lineitem(s, d)), 5,
            graft.operators.PageRank.BroadcastMaxNodes, c.toInt)
        case n => SparkEntry.queries(n)
      }
    for (name <- names) {
      val fn = resolve(name)
      try SparkEntry.setups.get(name).foreach(_(spark, sfDir))
      catch { case NonFatal(t) =>
        System.err.println(s"[scaleprobe] $name setup failed: $t")
      }
      for (i <- 1 to reps) {
        acc.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(700) // let the async listener bus drain
        val run = acc.runMs.get / 1e3
        val idle = wall * cpus - run
        println(f"$name\t$i\t$wall%.2f\t${acc.jobs}\t${acc.stages}\t" +
          f"${acc.tasks.get}\t$run%.1f\t${acc.cpuMs.get / 1e3}%.1f\t" +
          f"${acc.gcMs.get / 1e3}%.1f\t${acc.deserMs.get / 1e3}%.1f\t" +
          f"${acc.fetchWaitMs.get / 1e3}%.1f\t${acc.spillMemB.get / 1000000}%d\t" +
          f"${acc.spillDiskB.get / 1000000}%d\t${acc.shufReadB.get / 1000000}%d\t" +
          f"${acc.shufWriteB.get / 1000000}%d\t${acc.shufWriteMs.get / 1e3}%.1f\t" +
          f"${acc.peakMemMax.get / 1000000}%d\t$idle%.1f\t" +
          f"${acc.coveredMs() / 1e3}%.1f\t${wall - acc.coveredMs() / 1e3}%.1f")
        reap()
      }
    }
    spark.stop()
  }
}
