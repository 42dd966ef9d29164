package graft.util

import graft.SparkSpec

/** Probes and small-file writes through the Hadoop FS layer. The
  * behavioral contract under test here is the one the ADVICE flagged:
  * `writeString` must publish via a single overwrite-rename (no
  * delete-then-rename window in which the target is absent), and must
  * leave no temp sibling behind.
  */
class HfsSpec extends SparkSpec {

  test("writeString creates, overwrites in place, and leaves no temp file") {
    val dir = graft.SparkSpec.tempDir("graft_hfs").toString
    val p = s"$dir/marker.txt"
    Hfs.writeString(spark, p, "first")
    Hfs.readString(spark, p) shouldBe "first"
    // overwrite path: FileContext.rename(OVERWRITE) replaces the live file
    Hfs.writeString(spark, p, "second")
    Hfs.readString(spark, p) shouldBe "second"
    // no .marker.txt.tmp sibling survives either write
    Hfs.list(spark, dir) shouldBe Seq("marker.txt")
  }

  test("exists/touch/delete/list/mkdirs/rename round-trip on a local scheme") {
    val dir = graft.SparkSpec.tempDir("graft_hfs").toString
    Hfs.exists(spark, s"$dir/a") shouldBe false
    Hfs.touch(spark, s"$dir/a")
    Hfs.exists(spark, s"$dir/a") shouldBe true
    Hfs.mkdirs(spark, s"$dir/sub")
    Hfs.rename(spark, s"$dir/a", s"$dir/sub/a") shouldBe true
    Hfs.list(spark, s"$dir/sub") shouldBe Seq("a")
    Hfs.delete(spark, s"$dir/sub")
    Hfs.exists(spark, s"$dir/sub") shouldBe false
    Hfs.list(spark, s"$dir/sub") shouldBe Seq.empty
  }
}
