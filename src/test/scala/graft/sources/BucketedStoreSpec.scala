package graft.sources

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The bucketed fact tables follow both of their inputs. */
class BucketedStoreSpec extends SparkTestBase {

  test("a regenerated lineitem is served, not the stale bucketed copy") {
    val d = Files.createTempDirectory("bucketed-regen").toString
    val roots = scala.collection.mutable.ArrayBuffer[String]()
    val tables = scala.collection.mutable.ArrayBuffer[String]()
    def track(): Unit = {
      roots += BucketedStore.root(d)
      tables ++= Seq("lineitem", "orders").map(BucketedStore.tableName(d, _))
    }
    try {
      for (t <- Seq("lineitem", "orders"))
        Files.copy(Paths.get(s"${sf()}/$t.parquet"), Paths.get(s"$d/$t.parquet"))
      track()
      BucketedStore.ensure(spark, d)
      val full = Tables.tableRaw(spark, sf(), "lineitem")
      assert(BucketedStore.lineitem(spark, d).count() == full.count())

      // orders.parquet stays as it was; only lineitem is regenerated
      val li = s"$d/lineitem.parquet"
      val subset = full.where(col("l_orderkey") % 2 === 0)
      val n = subset.count()
      assert(n > 0 && n < full.count())
      subset.write.mode("overwrite").parquet(li)
      val f = new java.io.File(li)
      f.setLastModified(f.lastModified() + 60000L) // a new fingerprint even within one clock tick
      track()
      assert(BucketedStore.lineitem(spark, d).count() == n)
    } finally {
      tables.distinct.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      deleteTrees(d +: roots.toSeq)
    }
  }
}
