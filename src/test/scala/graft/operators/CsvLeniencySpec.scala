package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** S1 leniency semantics (reference: tests/services/csv-import.test.js:
  * 36-63, :378-386): empty files, header-only files, and malformed rows
  * must not abort the scan.
  */
class CsvLeniencySpec extends SparkSpec {

  // escape='"' = RFC doubled-quote style, matching the reference's writer
  private def readAllString(path: String) =
    spark.read.option("header", true).option("mode", "PERMISSIVE")
      .option("escape", "\"")
      .schema("a string, b string")
      .csv(path)

  private def write(content: String): String = {
    val f = graft.SparkSpec.tempDir("graft_csv").resolve("in.csv")
    Files.writeString(f, content)
    f.toString
  }

  test("header-only file yields zero rows, not an error") {
    readAllString(write("a,b\n")).count() shouldBe 0
  }

  test("empty rows are skipped") {
    val df = readAllString(write("a,b\n1,2\n\n3,4\n"))
    df.count() shouldBe 2
  }

  test("ragged/malformed rows survive in PERMISSIVE mode") {
    val df = readAllString(write("a,b\n1\n2,3,4\n\"unclosed,5\n"))
    df.count() should be >= 2L // parser keeps what it can; no exception
  }

  test("quoted values with commas and escaped quotes round-trip") {
    val df = readAllString(write("a,b\n\"x, y\",\"He said \"\"hi\"\"\"\n"))
    val r = df.collect().head
    r.getString(0) shouldBe "x, y"
    r.getString(1) shouldBe """He said "hi""""
  }
}
