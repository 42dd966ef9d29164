package graft.util

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guard: every single-path parquet read in the engine goes
  * through [[TinyParquet.openStore]], so no store open pays Spark's
  * schema-inference job. A bare `.read.parquet(` call is allowed only as
  * the opener's own fallback; reads that pass options (`basePath`),
  * several paths or a schema spell the reader differently and are not
  * matched. Comment lines are skipped.
  */
class StoreOpenGuardSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft")

  test("no bare single-path .read.parquet( outside TinyParquet.openStore") {
    Files.isDirectory(root) shouldBe true
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.size should be > 50
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("*") || code.startsWith("/*") || code.startsWith("//"))
      if code.contains(".read.parquet(")
    } yield (root.relativize(f).toString, i + 1, code)
    val (opener, others) = hits.partition(_._1 == Paths.get("util", "TinyParquet.scala").toString)
    withClue(others.map { case (f, n, c) => s"$f:$n: $c" }.mkString("\n")) {
      others shouldBe empty
    }
    // the fallback inside openStore itself
    opener.map(_._3) shouldBe Seq("case None => spark.read.parquet(path)")
  }
}
