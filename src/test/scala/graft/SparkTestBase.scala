package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SharedSpark {
  lazy val session: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.session
  def sf(which: String = "0.001"): String = s"/root/testdata/sf$which"

  /** Deletes a test's private corpus and the stores built under it. */
  def deleteTrees(paths: Seq[String]): Unit =
    paths.map(new java.io.File(_)).filter(_.exists).foreach { f =>
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
}
