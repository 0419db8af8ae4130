package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed table layout — the co-located fact-fact join primitive.
  *
  * At 100 TB the `lineitem ⋈ orders` join is two tables that are BOTH
  * far too large to broadcast, so a plain join shuffles every byte of
  * both sides on every run. Bucketing pays that shuffle ONCE at write
  * time: each table is hash-partitioned into `Buckets` files on its join
  * key (Spark's bucket spec — `pmod(murmur3(key), n)` — the same hash
  * family `repartition` uses, so one up-front repartition yields exactly
  * one file per bucket) and every subsequent join reads matching buckets
  * side by side with ZERO exchange (PlanSpec asserts the executed plan
  * has no ShuffleExchange under forced sort-merge).
  *
  * This is the layout decision the reference never faces — its whole
  * corpus lives in one Python process (`Hybrid_Recom_vecdb.py:331-383`)
  * — but it is the first thing a lake deployment of this engine does to
  * its fact tables: amortized write-side partitioning instead of
  * per-query shuffles, the same trade [[graft.operators.IvfIndexStore]]
  * makes for vectors.
  *
  * Artifacts are external tables in one [[BuildOnce]] store under the JVM
  * tmpdir, fingerprinted by both source parquets like the index stores:
  * regenerated testdata never hits a stale layout. Registration is
  * idempotent per session — a fresh JVM re-attaches the existing
  * bucketed files via `CREATE TABLE … CLUSTERED BY … LOCATION` without
  * rewriting anything (the build-once / serve-many contract).
  */
object BucketedStore {

  val Buckets = 8
  private val LayoutVersion = "v1"
  private val Keys = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  // fingerprint BOTH inputs: a regenerated lineitem with an untouched
  // orders file must not keep serving the old bucketed lineitem
  private[graft] def root(sfDir: String): String =
    BuildOnce.root(s"bucketed-$LayoutVersion", sfDir, Keys.map(_._1))

  /** Catalog name of a bucketed base table: the store root made an
    * identifier, so two corpus fingerprints never share a table. */
  def tableName(sfDir: String, base: String): String =
    s"${base}_b${Buckets}_" +
      new java.io.File(root(sfDir)).getName.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  /** Build (or re-attach) the bucketed fact tables. Idempotent. */
  def ensure(spark: SparkSession, sfDir: String): Unit = synchronized {
    val dir = root(sfDir)
    BuildOnce.ensure(dir) {
      // repartition on the bucket hash first so each write task holds
      // exactly one bucket's rows -> one file per bucket (a bucket
      // spread over many small files costs extra opens per scan and
      // loses the per-bucket sort guarantee).
      for ((base, key) <- Keys)
        Tables.tableRaw(spark, sfDir, base)
          .repartition(Buckets, col(key))
          .write.bucketBy(Buckets, key).sortBy(key)
          .option("path", s"$dir/$base").mode("overwrite")
          .saveAsTable(tableName(sfDir, base))
    }
    // Files built by an earlier JVM: re-attach, don't rewrite.
    for ((base, key) <- Keys if !spark.catalog.tableExists(tableName(sfDir, base))) {
      val ddl = spark.read.parquet(s"$dir/$base").schema.toDDL
      spark.sql(s"""CREATE TABLE ${tableName(sfDir, base)} ($ddl) USING PARQUET
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS
                   |LOCATION '$dir/$base'""".stripMargin)
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir); spark.table(tableName(sfDir, "lineitem"))
  }

  def orders(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir); spark.table(tableName(sfDir, "orders"))
  }
}
