package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.nio.file.Files

class ZipSourceSpec extends SparkSpec {

  private def makeZip(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("entriesOf skips directories and system files, keeps payload bytes") {
    val zip = makeZip(
      "docs/" -> "", // written as file but named like dir — kept (size 0)
      "docs/a.pdf" -> "AAA",
      "__MACOSX/b.pdf" -> "junk",
      "._c.pdf" -> "junk",
      ".DS_Store" -> "junk",
      "photo/img1.png" -> "PNGDATA",
    )
    val names = ZipSource.entriesOf("t.zip", zip).map(_.name).toSeq
    names should contain allOf ("docs/a.pdf", "photo/img1.png")
    names.exists(_.contains("__MACOSX")) shouldBe false
    names.exists(_.endsWith(".DS_Store")) shouldBe false
    names.exists(_.startsWith("._")) shouldBe false
    ZipSource.entriesOf("t.zip", zip).find(_.name == "docs/a.pdf").get.size shouldBe 3L
  }

  test("readZips scans a directory of archives distributed") {
    val dir = graft.SparkSpec.tempDir("graft_zip").toFile
    val f1 = new FileOutputStream(s"$dir/a.zip"); f1.write(makeZip("x.csv" -> "1,2", "img/y.png" -> "YY")); f1.close()
    val f2 = new FileOutputStream(s"$dir/b.zip"); f2.write(makeZip("z.pdf" -> "ZZZ")); f2.close()
    val df = ZipSource.readZips(spark, dir.getAbsolutePath)
    df.count() shouldBe 3
    df.filter(col("name") === "z.pdf").select("size").head().getLong(0) shouldBe 3L
  }

  test("bucketByField routes entries by path segment; dedup keeps one copy") {
    import spark.implicits._
    val entries = Seq(
      ("a.zip", "image/x.png", 2L),
      ("a.zip", "document/r.pdf", 3L),
      ("a.zip", "misc/q.txt", 1L),
      ("b.zip", "other/x.png", 2L), // same basename+size as first ⇒ dup
    ).toDF("archive", "name", "size")
    val bucketed = ZipSource.bucketByField(entries, Seq("image", "document"))
    bucketed.filter(col("bucket") === "image").count() shouldBe 1
    bucketed.filter(col("bucket").isNull).count() shouldBe 2
    ZipSource.dedupEntries(entries).count() shouldBe 3
  }
}
