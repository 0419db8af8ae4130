package graft.sources

/** The one build-once / serve-many rule of every persisted store. A store
  * lives in a directory named for its kind (with its layout version) and
  * for the size and mtime of each input it is built from, so a layout
  * change or a regenerated input is never served stale. It counts as
  * built once `<dir>/_BUILT` exists, written only after the build
  * returns. Marker and lock are single-JVM / local-FS scoped.
  */
object BuildOnce {

  /** `tmpdir/graft-<kind>-<path-safe sfDir>-<len>-<mtime>[-<len>-<mtime>…]`
    * over each `sfDir/<input>.parquet`: one stat per input and no
    * directory walk, since serving calls this several times per request. */
  def root(kind: String, sfDir: String, inputs: Seq[String]): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = inputs.map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      s"${f.length()}-${f.lastModified()}"
    }.mkString("-")
    s"${System.getProperty("java.io.tmpdir")}/graft-$kind-$tag-$fp"
  }

  def isBuilt(dir: String): Boolean = new java.io.File(s"$dir/_BUILT").exists()

  /** Runs `build` unless `dir` is built, then marks it built. The lock is
    * reentrant: the PQ store's build ensures the IVF store inside it. */
  def ensure(dir: String)(build: => Unit): Unit = synchronized {
    if (isBuilt(dir)) return
    build
    new java.io.File(dir).mkdirs()
    new java.io.File(s"$dir/_BUILT").createNewFile()
  }
}
