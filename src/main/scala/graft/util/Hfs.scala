package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem probes for on-disk artifacts (ANN indexes, streaming state
  * stores) routed through Hadoop's `FileSystem` API — the SAME layer Spark's
  * own reads and writes go through. A bare `java.io.File` check against an
  * `hdfs://` or `s3a://` index dir always answers "absent", which turns a
  * written tombstone table into silently-served deleted rows; resolving the
  * path through its own filesystem keeps the existence probe and the data
  * access consistent on every scheme (local paths resolve to the local FS
  * and behave exactly as before).
  *
  * Mutation helpers (`touch`, `delete`, `rename`, `copy`) cover the
  * maintenance markers and staged-generation publishes. NOTE `rename` is only atomic
  * where the underlying store's rename is (local FS, HDFS); the index
  * SWAP protocol ([[graft.operators.Upsert.swapDirs]]) additionally needs
  * `ATOMIC_MOVE` and therefore still requires a local path — these helpers
  * widen the PROBES, not the swap guarantee.
  *
  * Listings serve footer-only schema reads too: [[sparkDataFiles]] lists
  * a table the way Spark's file index does, so
  * [[TinyParquet.openStore]] can read the schema from the same footer
  * Spark's inference job would, without running that job.
  */
object Hfs {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf(spark)), p)
  }

  private def conf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Create an empty marker file (parents included), like `createNewFile`. */
  def touch(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.create(p, true).close()
  }

  /** Recursive delete; absent paths are a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.delete(p, true)
    ()
  }

  /** List immediate children names of a directory (empty when absent). */
  def list(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Modification time (epoch millis) of a path; Long.MinValue when
    * absent — callers compare, never arithmetic.
    */
  def mtime(spark: SparkSession, path: String): Long = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Long.MinValue else f.getFileStatus(p).getModificationTime
  }

  /** Recursively list DATA file paths under a table directory, skipping
    * hidden and underscore-prefixed names at every level (the parquet
    * reader's own convention — `_manifest`, `_SUCCESS`, `.staging`
    * never count as data). Empty when the directory is absent. Cost is
    * one filesystem listing — FILES-sized, never row-sized — which is
    * what makes it the right probe for incremental manifest
    * maintenance: finding "what was appended" must not scan the table.
    */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Unit = f.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath) else out += st.getPath.toString
      }
    }
    walk(p)
    out.toSeq
  }

  /** The data files Spark's file index lists under a table directory,
    * sorted by full path string — the order in which Spark's parquet
    * schema inference takes the first footer. Mirrors `InMemoryFileIndex`:
    * names starting with `.`, or with `_` unless they hold a `=` (a
    * partition directory), are skipped at every level, as are
    * `._COPYING_` files. None when the listing cannot be mirrored
    * exactly, so the caller leaves the read to Spark: the path is absent
    * or not a directory, a parquet summary file (`_metadata`,
    * `_common_metadata`) is present, or a sub-directory is not a `k=v`
    * partition directory. Cost is one filesystem listing, never a job —
    * what [[TinyParquet.openStore]] needs for a footer-only schema read.
    */
  private[util] def sparkDataFiles(spark: SparkSession, path: String): Option[Seq[String]] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p) || !f.getFileStatus(p).isDirectory) return None
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Boolean = f.listStatus(d).forall { st =>
      val n = st.getPath.getName
      if (n.startsWith("_metadata") || n.startsWith("_common_metadata")) false
      else if ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")) true
      else if (st.isDirectory) n.contains("=") && walk(st.getPath)
      else { out += st.getPath.toString; true }
    }
    if (walk(p)) Some(out.sorted.toSeq) else None
  }

  /** Rename within one filesystem (the Hadoop contract; fails across FSs). */
  def rename(spark: SparkSession, src: String, dst: String): Boolean = {
    val (f, s) = fs(spark, src)
    f.rename(s, new Path(dst))
  }

  /** Recursive copy of a file or directory within its filesystem; throws
    * when `src` is absent or `dst` exists. Carries a frozen side table or
    * sidecar into a new index generation byte-for-byte, with no Spark job.
    */
  def copy(spark: SparkSession, src: String, dst: String): Unit = {
    val (f, s) = fs(spark, src)
    org.apache.hadoop.fs.FileUtil.copy(f, s, f, new Path(dst), false, conf(spark))
    ()
  }

  /** Create a directory and its parents (no-op when present). */
  def mkdirs(spark: SparkSession, path: String): Unit = {
    val (f, p) = fs(spark, path)
    f.mkdirs(p)
    ()
  }

  /** Write a small UTF-8 marker/identity file atomically: full content to
    * a temp sibling, then ONE overwrite-rename — a crash mid-write cannot
    * leave a truncated file, and a crash mid-publish cannot leave the
    * target ABSENT either (a delete-then-rename pair has that window; for
    * the `_stream_checkpoint` identity record an absent file silently
    * downgrades the pairing guard to the adopt-anything grandfather path).
    */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    val qp = f.makeQualified(p)
    val tmp = f.makeQualified(new Path(p.getParent, s".${p.getName}.tmp"))
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FileContext.rename(OVERWRITE) replaces the destination in a single
    // FS operation (FileSystem.rename has no overwrite mode).
    org.apache.hadoop.fs.FileContext.getFileContext(qp.toUri, conf(spark))
      .rename(tmp, qp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The path as its filesystem qualifies it (scheme + authority +
    * normalized form) — the stable spelling for identity comparisons.
    */
  def qualified(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    f.makeQualified(p).toString
  }

  /** Read a small UTF-8 file fully. */
  def readString(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}
