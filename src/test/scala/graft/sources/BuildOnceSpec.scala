package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The publish protocol every persisted store shares: one build per
  * directory, no marker for a build that throws, a root that moves with
  * any input's size or mtime, and one root left per kind and corpus. */
class BuildOnceSpec extends AnyFunSuite {

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))

  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("build-once-")
    try body(d.toString)
    finally deleteTree(d)
  }

  test("a second ensure does not build again; a nested ensure builds once") {
    withTempDir { d =>
      var outer, inner = 0
      for (_ <- 1 to 2)
        BuildOnce.ensure(s"$d/outer") {
          BuildOnce.ensure(s"$d/outer/inner") { inner += 1 }
          outer += 1
        }
      assert((outer, inner) == ((1, 1)))
      assert(BuildOnce.isBuilt(s"$d/outer") && BuildOnce.isBuilt(s"$d/outer/inner"))
    }
  }

  test("a build that throws leaves no marker; the next ensure builds again") {
    withTempDir { d =>
      val e = intercept[IllegalStateException] {
        BuildOnce.ensure(d) { throw new IllegalStateException("boom") }
      }
      assert(e.getMessage == "boom")
      assert(!BuildOnce.isBuilt(d))
      var runs = 0
      BuildOnce.ensure(d) { runs += 1 }
      assert(runs == 1 && BuildOnce.isBuilt(d))
    }
  }

  test("root fingerprints every input: size or mtime of either moves it") {
    withTempDir { d =>
      val a = Paths.get(s"$d/a.parquet")
      val b = Paths.get(s"$d/b.parquet")
      Files.write(a, Array[Byte](1, 2, 3))
      Files.write(b, Array[Byte](4))
      def root = BuildOnce.root("kind-v1", d, Seq("a", "b"))
      def fp(p: java.nio.file.Path) = s"${p.toFile.length()}-${p.toFile.lastModified()}"
      val first = root
      assert(first == s"${System.getProperty("java.io.tmpdir")}/graft-kind-v1-" +
        s"${d.replaceAll("[^A-Za-z0-9._-]", "_")}-${fp(a)}-${fp(b)}")

      val aTime = a.toFile.lastModified()
      Files.write(a, Array[Byte](1, 2, 3, 4))
      a.toFile.setLastModified(aTime) // only a's size differs
      val afterSize = root
      assert(afterSize != first)

      b.toFile.setLastModified(b.toFile.lastModified() + 60000L) // only b's mtime differs
      assert(root != afterSize)
    }
  }

  test("a rebuild after a regenerated input leaves exactly one root") {
    withTempDir { d =>
      val a = Paths.get(s"$d/a.parquet")
      Files.write(a, Array[Byte](1))
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      val tag = d.replaceAll("[^A-Za-z0-9._-]", "_")
      def name(dir: String) = new java.io.File(dir).getName
      val other = BuildOnce.root("kind-v1", s"$d-other", Seq("a")) // another corpus dir
      def roots = tmp.list().toSeq
        .filter(n => n.startsWith("graft-kind-") && n.contains(tag) && n != name(other))
      val first = BuildOnce.root("kind-v1", d, Seq("a"))
      var second, third = ""
      try {
        BuildOnce.ensure(other) {}
        BuildOnce.ensure(first) {}
        Files.write(a, Array[Byte](1, 2)) // regenerated: a new fingerprint
        second = BuildOnce.root("kind-v1", d, Seq("a"))
        assert(second != first)
        BuildOnce.ensure(second) { BuildOnce.ensure(s"$second/nested") {} }
        assert(roots == Seq(name(second)), s"roots left: $roots")
        assert(BuildOnce.isBuilt(s"$second/nested") && BuildOnce.isBuilt(other))

        third = BuildOnce.root("kind-v2", d, Seq("a")) // a new layout version
        BuildOnce.ensure(third) {}
        assert(roots == Seq(name(third)), s"roots left: $roots")
        assert(BuildOnce.isBuilt(other))
      } finally
        Seq(other, first, second, third).filter(_.nonEmpty).foreach(r => deleteTree(Paths.get(r)))
    }
  }
}
