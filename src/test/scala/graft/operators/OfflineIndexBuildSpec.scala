package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** End-to-end offline build (reference E1): sample → graph → doc text →
  * embed → parquet sinks → reload. */
class OfflineIndexBuildSpec extends SparkTestBase {

  private def products = {
    val rows = (1 to 30).map { i =>
      (s"A$i", s"Product number $i about topic ${i % 5}",
        if (i % 3 == 0) "" else "Book",
        if (i % 4 == 0) Seq.empty[String] else Seq(s"|Cat[${i % 5}]"),
        Seq(s"A${i % 30 + 1}", s"A${(i + 7) % 30 + 1}", "ZZZ"))
    } :+ (("BAD", "", "Book", Seq.empty[String], Seq.empty[String]))
    spark.createDataFrame(rows).toDF("asin", "title", "group", "categories", "similar")
  }

  test("run: sampled index with correct-dim embeddings; edges in-sample, no self-loops") {
    val a = OfflineIndexBuild.run(products, 20, 42L, 16)
    assert(a.index.count() == 20)
    assert(a.index.where(col("asin") === "BAD").count() == 0) // P1 filter
    val dims = a.index.select(size(col("embedding"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(16))
    assert(a.edges.where(col("src") === col("dst")).count() == 0)
    assert(a.edges.where(col("dst") === "ZZZ").count() == 0) // out-of-sample
    // document text carries the projection (title always present)
    val doc = a.index.where(col("group") === "Book")
      .select(col("document")).limit(1).collect().head.getString(0)
    assert(doc.contains(" | Group: Book"))
  }

  test("write + load roundtrip preserves both artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-index").toString
    try {
      val a = OfflineIndexBuild.run(products, 10, 1L, 8)
      OfflineIndexBuild.write(a, dir)
      OfflineIndexBuild.write(a, dir) // overwrite semantics: second run is a wipe
      val b = OfflineIndexBuild.load(spark, dir)
      assert(b.index.count() == 10)
      assert(b.edges.count() == a.edges.count())
      assert(b.index.schema("embedding").dataType.simpleString == "array<float>")
    } finally deleteTrees(Seq(dir))
  }
}
