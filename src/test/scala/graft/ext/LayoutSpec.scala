package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Physical-layout operators: z-order interleave + clustering locality,
  * small-file compaction.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def morton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map(b =>
      (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum

  private def tmp(name: String): String =
    graft.SparkSpec.tempDir(name).toString

  test("zOrder2 matches the reference Morton interleave bit for bit") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L), (1023L, 1L),
      (1023L, 1023L), (512L, 256L))
    val got = cases.toDF("x", "y")
      .select(Layout.zOrder2(col("x"), col("y"), 10).as("z"))
      .as[Long].collect()
    got.toSeq shouldBe cases.map { case (x, y) => morton(x, y, 10) }
  }

  test("z-clustered files have narrow spans on BOTH dimensions vs random layout") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 4096).map(_ =>
      (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong)).toDF("x", "y")
    val dst = tmp("graft_zorder")
    Layout.clusterByZOrder(df, col("x"), col("y"), 10, dst, files = 16)
    // per-FILE spans of each dimension, via the file the row came from
    val spans = spark.read.parquet(dst)
      .select(col("x"), col("y"),
        element_at(split(input_file_name(), "/"), -1).as("f"))
      .groupBy(col("f"))
      .agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .agg(avg(col("sx")).as("ax"), avg(col("sy")).as("ay"))
      .head()
    // a random 16-way split would span ~the full 0..1023 on both dims
    // (expected ≈ 1017); contiguous z-ranges bound both well below half
    spans.getAs[Double]("ax") should be < 512.0
    spans.getAs[Double]("ay") should be < 512.0
    // content preserved
    spark.read.parquet(dst).count() shouldBe 4096
  }

  test("manifest pruning skips files, keeps every matching row, empty selection is sound") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 4096).map(i =>
      (i.toLong, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong)).toDF("id", "x", "y")
    val dst = tmp("graft_manifest")
    Layout.clusterByZOrder(df, col("x"), col("y"), 10, dst, files = 16)
    Layout.writeManifest(spark, dst, Seq("x", "y"))
    // the manifest dir is invisible to the table's own readers
    spark.read.parquet(dst).count() shouldBe 4096
    // manifest rows: one per data file, with n_rows summing to the table
    val m = spark.read.parquet(s"$dst/_manifest")
    m.count() shouldBe 16
    m.agg(sum(col("n_rows"))).head().getLong(0) shouldBe 4096L
    // selective rectangle: pruned read skips files AND loses no rows
    val keep = col("max_x") >= 100 && col("min_x") <= 163 &&
      col("max_y") >= 200 && col("min_y") <= 263
    val (pruned, nRead, nTotal) = Layout.manifestPrunedRead(spark, dst, keep)
    nTotal shouldBe 16
    nRead should be < nTotal
    val got = pruned.filter(col("x").between(100, 163) && col("y").between(200, 263))
      .select("id").as[Long].collect().sorted
    val want = df.filter(col("x").between(100, 163) && col("y").between(200, 263))
      .select("id").as[Long].collect().sorted
    got shouldBe want
    want.length should be > 0
    // a predicate outside the domain selects zero files and zero rows,
    // with the table's schema intact
    val (none, zero, _) = Layout.manifestPrunedRead(spark, dst,
      col("min_x") > 5000)
    zero shouldBe 0
    none.columns.toSeq shouldBe Seq("id", "x", "y")
    none.count() shouldBe 0L
  }

  test("key fingerprints skip files on point lookups; appendToManifest covers only new files") {
    val df = (0 until 4096).map(i =>
      (i.toLong, (i % 1024).toLong, ((i * 7) % 1024).toLong)).toDF("id", "x", "y")
    val dst = tmp("graft_keymanifest")
    Layout.clusterByZOrder(df, col("x"), col("y"), 10, dst, files = 16)
    Layout.writeManifest(spark, dst, Seq("x", "y"), keyCols = Seq("id"),
      keyBits = 256)
    // a point lookup through the fingerprint: skips files AND finds the row
    val (pruned, nRead, nTotal) = Layout.manifestPrunedRead(spark, dst,
      Layout.keyMember("id", lit(123L), keyBits = 256))
    nTotal shouldBe 16
    nRead should be < nTotal // 256 buckets over 256 rows/file ⇒ real skips
    pruned.filter(col("id") === 123L).count() shouldBe 1L
    // no false negatives across a key sample
    Seq(0L, 999L, 2048L, 4095L).foreach { k =>
      val (p2, _, _) = Layout.manifestPrunedRead(spark, dst,
        Layout.keyMember("id", lit(k), keyBits = 256))
      p2.filter(col("id") === k).count() shouldBe 1L
    }
    // append new rows as new files, fold them into the manifest
    // incrementally: the old rows keep their manifest rows (same count),
    // the new file is covered, and lookups into the appended range work
    val before = spark.read.parquet(s"$dst/_manifest")
      .select("__file").as[String].collect().toSet
    (5000 until 5100).map(i => (i.toLong, (i % 1024).toLong, ((i * 7) % 1024).toLong))
      .toDF("id", "x", "y").coalesce(1).write.mode("append").parquet(dst)
    Layout.appendToManifest(spark, dst)
    val after = spark.read.parquet(s"$dst/_manifest")
    after.count() shouldBe (before.size + 1).toLong
    after.select("__file").as[String].collect().toSet should contain allElementsOf before
    val (p3, n3, t3) = Layout.manifestPrunedRead(spark, dst,
      Layout.keyMember("id", lit(5050L), keyBits = 256))
    t3 shouldBe 17
    n3 should be < t3
    p3.filter(col("id") === 5050L).count() shouldBe 1L
  }

  test("compactParquet merges small files evenly and preserves content") {
    val df = (0 until 10000).map(i => (i.toLong, s"row $i payload")).toDF("id", "s")
    val frag = tmp("graft_frag") + "/t"
    df.repartition(64).write.parquet(frag)
    val fragFiles = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".parquet"))
    fragFiles shouldBe 64
    val dst = tmp("graft_compact") + "/t"
    val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(frag))
    val files = Layout.compactParquet(spark, frag, dst, targetBytes = bytes / 3)
    // ceil(bytes / floor(bytes/3)) — 3, or 4 when the floor leaves a remainder
    files should (be(3) or be(4))
    val written = new java.io.File(dst).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    written.length shouldBe files
    // even sizes: round-robin repartition — no file dominates
    val sizes = written.map(_.length().toDouble)
    (sizes.max / sizes.min) should be < 2.0
    // content identical
    spark.read.parquet(dst).as[(Long, String)].collect().sorted shouldBe
      df.as[(Long, String)].collect().sorted
  }
}
