package graft.queries

/** Staged /tmp fixtures, keyed by the data they are built from and the
  * code that builds them.
  *
  * [[tag]] embeds a CONTENT FINGERPRINT (name + size + mtime of every
  * parquet file in the source sf dir, MD5'd) alongside the sanitized dir
  * name: two distinct input dirs that sanitize to the same string can no
  * longer collide, and regenerating table data in-place at the same path
  * changes the fingerprint — so stale staged files are abandoned instead
  * of silently reused (they produce confusing oracle mismatches otherwise).
  *
  * [[codeTag]] is the same idea over the compiled classes, so a fixture
  * root ([[root]]) moves whenever the data OR the code that builds it
  * changes: there is no marker to bump by hand, and two builds of the
  * engine (say a parent and a change run side by side) never share or
  * clobber a fixture. [[once]] is the one reuse check every staged
  * fixture goes through.
  */
object Staging {
  def tag(dir: String): String = {
    val base = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // sf tables are Spark-written DIRECTORIES named <table>.parquet; a
    // directory's own length/mtime does not reliably change when a data
    // file inside is rewritten in place — fingerprint the data files one
    // level down, not the directory entry
    val listing = entries.flatMap { f =>
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName)
          .map(c => s"${f.getName}/${c.getName}:${c.length}:${c.lastModified}")
      else Array(s"${f.getName}:${f.length}:${f.lastModified}")
    }.mkString("|")
    s"${base}_${digest(listing)}"
  }

  /** The staging root of fixture `family` for the sf dir:
    * `/tmp/graft_<family>/<tag>_<codeTag><variant>`. `variant` tells
    * apart fixtures of one family built with different parameters
    * (spool slice counts, a content fingerprint of the input frame).
    */
  def root(family: String, sfDir: String, variant: String = ""): String =
    rootIn("/tmp", codeTag, family, sfDir, variant)

  private[queries] def rootIn(base: String, code: String, family: String,
      sfDir: String, variant: String): String =
    s"$base/graft_$family/${tag(sfDir)}_$code$variant"

  /** Build fixture `family` at its [[root]] unless a complete build is
    * already there; returns the root. `build` writes in place under the
    * root it is given.
    */
  def once(family: String, sfDir: String, variant: String = "")(
      build: String => Unit): String =
    at(root(family, sfDir, variant))(build)

  /** [[once]] at an explicit root. A root without the `_STAGED` marker
    * (never built, or a build that died half way) is wiped and rebuilt;
    * the marker is written only after `build` returns. Concurrent first
    * callers in one JVM build a root once: the lock is per root, so a
    * build may stage other fixtures inside its own (nesting is a DAG,
    * so the locks cannot cycle).
    */
  private[queries] def at(root: String)(build: String => Unit): String = {
    locks.computeIfAbsent(root, _ => new Object).synchronized {
      val marker = new java.io.File(root, "_STAGED")
      if (!marker.exists()) {
        val dir = new java.io.File(root)
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
        dir.mkdirs()
        build(root)
        marker.createNewFile()
      }
    }
    root
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Digest of the compiled code the fixtures are built by: the class
    * tree's [[digestTree]] when the classes come from a directory (sbt
    * tests), the jar's [[digestJar]] otherwise (sbt `runMain` forks from
    * a fresh copy of the packaged jar per run, so the jar file's own
    * mtime names the run, not the code). Folded into [[root]] (and so
    * into the pooled-report root, [[PooledReports]]) so an edited
    * implementation ABANDONS its stale fixtures instead of being gated
    * against them — for an output-changing edit a loud-but-confusing
    * oracle failure, for an output-preserving one silent staleness.
    */
  private[queries] lazy val codeTag: String = {
    val src = Option(getClass.getProtectionDomain.getCodeSource)
      .flatMap(cs => Option(cs.getLocation)).map(u => new java.io.File(u.toURI))
    src match {
      case Some(f) if f.isDirectory => digestTree(f)
      case Some(f) => digestJar(f)
      case None => "nosrc"
    }
  }

  /** Stable digest of a directory tree's (relative path, length, mtime)
    * listing — the [[tag]] fingerprint over code instead of data. Two
    * trees that differ in any file's content-length or mtime tag
    * differently.
    */
  private[queries] def digestTree(dir: java.io.File): String = {
    val base = dir.toPath
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(s"${base.relativize(f.toPath)}:${f.length}:${f.lastModified}")
    digest(walk(dir).mkString("|"))
  }

  /** Digest of a jar's entries (name, CRC-32, size), read from its
    * central directory: the packaged content, not the file's metadata.
    */
  private[queries] def digestJar(jar: java.io.File): String = {
    val z = new java.util.zip.ZipFile(jar)
    try {
      import scala.jdk.CollectionConverters._
      digest(z.entries().asScala.map(e => s"${e.getName}:${e.getCrc}:${e.getSize}")
        .toSeq.sorted.mkString("|"))
    } finally z.close()
  }

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
}
