package graft.streaming

import graft.SparkSpec
import graft.ext.Layout
import org.apache.spark.sql.functions._

/** Streaming data-skipping-manifest maintenance: incremental folds equal
  * a from-scratch manifest, the repair-then-fold discipline converges on
  * replay, and the pruning the manifest exists for actually skips files.
  */
class StreamManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Spool one single-file batch (mtime = arrival order). */
  private def spoolFile(df: org.apache.spark.sql.DataFrame, spool: String,
      i: Int): Unit = {
    val stage = s"$spool/.stage_$i"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1)
    val target = new java.io.File(spool, f"spool_$i%03d.parquet")
    java.nio.file.Files.move(part.head.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    target.setLastModified(1600000000000L + i * 60000L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  private def docs(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"text$i", i * 10)).toDF("doc_id", "txt", "m")

  private def runStream(base: String): Unit =
    DocStreams.runManifestAppendOnce(spark, s"$base/spool", s"$base/table",
      s"$base/ckpt", "doc_id long, txt string, m long",
      statsCols = Seq("doc_id"), keyCols = Seq("doc_id"))

  private def stats(base: String) =
    spark.read.parquet(s"$base/table/_manifest")
      .select(col("min_doc_id"), col("max_doc_id"), col("n_rows"),
        col("key_doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).mkString(","))).sorted.toList

  test("streamed manifest equals a from-scratch manifest, and pruning skips files") {
    val base = tmpDir("graft_smanifest")
    new java.io.File(s"$base/spool").mkdirs()
    spoolFile(docs(0, 10), s"$base/spool", 0)
    spoolFile(docs(10, 20), s"$base/spool", 1)
    spoolFile(docs(20, 30), s"$base/spool", 2)
    runStream(base)
    val incremental = stats(base)
    // from-scratch over the SAME table must agree (file names differ in
    // the manifest rows; the stats multiset is what matters)
    Layout.writeManifest(spark, s"$base/table", Seq("doc_id"),
      keyCols = Seq("doc_id"))
    stats(base) shouldBe incremental
    // the range predicate prunes to the one batch that holds it
    val (pruned, read, total) = Layout.manifestPrunedRead(spark, s"$base/table",
      col("max_doc_id") >= 12 && col("min_doc_id") <= 15)
    read should be < total
    pruned.filter(col("doc_id").between(12, 15)).count() shouldBe 4L
    // the key fingerprint answers a point lookup without a full scan
    val (pt, ptRead, _) = Layout.manifestPrunedRead(spark, s"$base/table",
      Layout.keyMember("doc_id", lit(25L)))
    ptRead should be < total
    pt.filter(col("doc_id") === 25L).count() shouldBe 1L
  }

  test("a replayed batch converges: repair drops the stale fold, re-fold lands once") {
    val base = tmpDir("graft_smanifest_replay")
    new java.io.File(s"$base/spool").mkdirs()
    spoolFile(docs(0, 10), s"$base/spool", 0)
    spoolFile(docs(10, 20), s"$base/spool", 1)
    runStream(base)
    val before = stats(base)
    val table = s"$base/table"
    // simulate the crash-replay of batch 1: the marker never landed, so
    // the batch re-runs — repair, overwrite (new file names), re-fold
    graft.util.Hfs.delete(spark, s"$table/_batch_1")
    Layout.dropManifestFiles(spark, table, "/ingest_batch=1/")
    // coalesce(1): the streamed batch arrived as one spool file → one
    // partition; the replay must land the same file layout for the
    // stats multiset to compare file-for-file
    docs(10, 20).coalesce(1).write.mode("overwrite")
      .parquet(s"$table/ingest_batch=1")
    Layout.appendToManifest(spark, table)
    graft.util.Hfs.touch(spark, s"$table/_batch_1")
    stats(base) shouldBe before
    // and the manifest carries no dead paths: every file it lists reads
    val files = spark.read.parquet(s"$table/_manifest")
      .select(col("__file")).as[String].collect()
    spark.read.option("basePath", table).parquet(files.toIndexedSeq: _*)
      .count() shouldBe 20L
  }

  test("a table dir paired with one checkpoint rejects another") {
    val base = tmpDir("graft_smanifest_pair")
    new java.io.File(s"$base/spool").mkdirs()
    spoolFile(docs(0, 5), s"$base/spool", 0)
    runStream(base)
    intercept[IllegalArgumentException] {
      DocStreams.runManifestAppendOnce(spark, s"$base/spool", s"$base/table",
        s"$base/ckpt_other", "doc_id long, txt string, m long",
        statsCols = Seq("doc_id"), keyCols = Seq("doc_id"))
    }
  }
}
