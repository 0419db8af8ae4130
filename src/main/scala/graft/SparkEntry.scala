package graft

import graft.queries._
import graft.queries.QueryHelpers.hybridTopK
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY §2 (plus the LLM-data-pipeline extensions)
  * is exposed as a named query over the driver parquet corpus
  * (TESTDATA.md), each declared once as a [[QuerySpec]] in its family's
  * file under `queries/`. Every harness main picks its queries through
  * [[select]].
  */
object SparkEntry {

  /** Flagship query on the sf0.001 corpus: the hybrid top-10 whose rows
    * the smoke test checks. */
  def entry(spark: SparkSession): DataFrame =
    hybridTopK(spark, "/root/testdata/sf0.001")

  val specs: Seq[QuerySpec] =
    RelationalQueries.specs ++ GraphQueries.specs ++ RetrievalQueries.specs ++
      HybridQueries.specs ++ DedupQueries.specs ++ TextQueries.specs ++
      EventQueries.specs ++ LearningQueries.specs ++ CurationQueries.specs

  private def dups(keys: Seq[String]): Seq[String] = keys.diff(keys.distinct)
  require(dups(specs.map(_.name)).isEmpty,
    s"query name declared twice: ${dups(specs.map(_.name)).mkString(", ")}")
  // Bench's stdout line keys each query by qNN alone
  require(dups(specs.map(_.shortKey)).isEmpty,
    s"qNN short key shared: ${dups(specs.map(_.shortKey)).mkString(", ")}")

  val byName: Map[String, QuerySpec] = specs.map(q => q.name -> q).toMap

  /** The specs a harness main runs. No list: every spec, by name. A comma
    * list keeps its own order (a forked Bench chunk is timed with its
    * heavy query last) and drops repeats. Unknown names throw, all of
    * them named, before anything runs: a dropped name would read as a
    * lower total or a shorter pass list. */
  def select(list: Option[String]): Seq[QuerySpec] = list match {
    case None => specs.sortBy(_.name)
    case Some(l) =>
      val asked = l.split(",").toSeq.map(_.trim).distinct
      val unknown = asked.filterNot(byName.contains)
      require(unknown.isEmpty,
        s"unknown query names: ${unknown.map(n => s"'$n'").mkString(", ")}")
      asked.map(byName)
  }
}
