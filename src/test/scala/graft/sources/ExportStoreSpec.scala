package graft.sources

import graft.SparkTestBase

/** Publish fidelity: read-back manifest equals the source manifest. */
class ExportStoreSpec extends SparkTestBase {

  test("partitioned export preserves every row and byte (digest equality)") {
    ExportStore.ensure(spark, sf())
    val src = ExportStore.manifest(Tables.documents(spark, sf()))
      .collect().map(_.toString).sorted
    val back = ExportStore.manifest(ExportStore.documents(spark, sf()))
      .collect().map(_.toString).sorted
    assert(src.nonEmpty && src.sameElements(back))
  }

  test("export layout partitions by lang: one directory per language") {
    ExportStore.ensure(spark, sf())
    val dirs = new java.io.File(s"${ExportStore.root(sf())}/documents_by_lang")
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang="))
    assert(dirs.length >= 2, s"expected lang= partition dirs, got ${dirs.toSeq}")
  }

  test("documents builds the export on first read: no setup needs to run first") {
    val d = java.nio.file.Files.createTempDirectory("export-fresh").toString
    try {
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
        java.nio.file.Paths.get(s"$d/documents.parquet"))
      assert(ExportStore.documents(spark, d).count() ==
        Tables.documents(spark, d).count())
    } finally deleteTrees(Seq(d, ExportStore.root(d)))
  }
}
