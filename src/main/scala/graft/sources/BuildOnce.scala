package graft.sources

/** The one build-once rule of every persisted store. A store lives in a
  * directory named for its kind (with its layout version) and for the
  * size and mtime of each input it is built from, so a layout change or
  * a regenerated input is never served stale. It counts as built once
  * `<dir>/_BUILT` exists, written only after the build returns. The build
  * of a [[root]] then deletes the roots it supersedes: its tmpdir
  * siblings of the same kind (any `-v<N>`) and corpus dir. Marker, lock
  * and cleanup are single-JVM / local-FS scoped.
  */
object BuildOnce {

  /** Each [[root]] handed out -> the name pattern of the roots it
    * supersedes. A root nested inside a store is never a key. */
  private val superseded = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** `tmpdir/graft-<kind>-<path-safe sfDir>-<len>-<mtime>[-<len>-<mtime>…]`
    * over each `sfDir/<input>.parquet`: one stat per input and no
    * directory walk, since serving calls this several times per request. */
  def root(kind: String, sfDir: String, inputs: Seq[String]): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = inputs.map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      s"${f.length()}-${f.lastModified()}"
    }.mkString("-")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-$kind-$tag-$fp"
    superseded.computeIfAbsent(dir, _ => java.util.regex.Pattern.quote(
      s"graft-${kind.replaceFirst("-v\\d+$", "")}") + "(-v\\d+)?-" +
      java.util.regex.Pattern.quote(tag) + "(-\\d+-\\d+)" * inputs.size)
    dir
  }

  def isBuilt(dir: String): Boolean = new java.io.File(s"$dir/_BUILT").exists()

  /** Runs `build` unless `dir` is built, then marks it built and deletes
    * what it supersedes (best effort: a leftover never fails the build).
    * The lock is reentrant: the PQ store's build ensures the IVF store. */
  def ensure(dir: String)(build: => Unit): Unit = synchronized {
    if (isBuilt(dir)) return
    build
    val self = new java.io.File(dir)
    self.mkdirs()
    new java.io.File(s"$dir/_BUILT").createNewFile()
    Option(superseded.get(dir)).foreach { pattern =>
      self.getParentFile.listFiles()
        .filter(f => f.getName.matches(pattern) && f.getName != self.getName)
        .foreach(f => scala.util.Try(deleteTree(f)))
    }
  }

  /** Deletes `dir` and everything under it. */
  private[graft] def deleteTree(dir: java.io.File): Unit =
    java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
}
