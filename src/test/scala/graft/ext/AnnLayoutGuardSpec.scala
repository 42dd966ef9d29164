package graft.ext

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guard: the ANN layouts' code stays written once. Every
  * layout's compaction and rebuild publish through the one swap in
  * [[AnnIndex.compact]] and [[AnnIndex.rebuild]], and the composed-layout
  * routing (which nested directory owns a rotated index's tables) lives
  * only in [[AnnIndex]]'s layout table — so no other source may spell
  * the `"opqivfpq"` layout name as a literal. Row tables are appended
  * only by the one row writer (plus the tombstone log), and the IVF
  * family's query paths probe through one probed scan. Comment lines
  * are skipped.
  */
class AnnLayoutGuardSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft")
  private val annIndex = root.resolve("ext/AnnIndex.scala")

  private def codeLines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (l.trim, i + 1) }
      .filterNot { case (c, _) =>
        c.startsWith("*") || c.startsWith("/*") || c.startsWith("//") }
      .toSeq

  test("AnnIndex publishes through at most two swapDirs calls (compact, rebuild)") {
    Files.isRegularFile(annIndex) shouldBe true
    val swaps = codeLines(annIndex).filter(_._1.contains("Upsert.swapDirs("))
    withClue(swaps.map { case (c, n) => s"AnnIndex.scala:$n: $c" }.mkString("\n")) {
      swaps.size should be <= 2
    }
  }

  test("the composed-layout name \"opqivfpq\" appears in no source but AnnIndex") {
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.size should be > 50
    val hits = for {
      f <- sources if f != annIndex
      (code, n) <- codeLines(f) if code.contains("\"opqivfpq\"")
    } yield s"${root.relativize(f)}:$n: $code"
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }

  private def annIndexHits(needle: String): Seq[String] =
    codeLines(annIndex).filter(_._1.contains(needle))
      .map { case (c, n) => s"AnnIndex.scala:$n: $c" }

  test("AnnIndex appends rows in at most two places (the row writer, the tombstones)") {
    val appends = annIndexHits("mode(\"append\")")
    withClue(appends.mkString("\n")) { appends.size should be <= 2 }
  }

  test("AnnIndex probes coarse clusters in exactly one place (the probed scan)") {
    val probes = annIndexHits("probeClusters(")
    withClue(probes.mkString("\n")) { probes.size shouldBe 1 }
  }
}
