package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source guard: every staged fixture decides reuse through
  * [[Staging.once]] and nothing else — no hand-kept completion marker,
  * no `_SUCCESS` probe standing in for one. A marker that someone must
  * remember to bump lets a staged copy built by older code gate newer
  * code. Spec scratch space has one source too: every spec temp dir
  * and file lives in a [[graft.SparkSpec.tempDir]], under a per-JVM root
  * that is deleted at exit. Comment lines are skipped.
  */
class StagingGuardSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main/scala/graft/queries")
  private val staging = root.resolve("Staging.scala")
  private val banned = Seq("createNewFile", "_DONE", "_STAGED", "_SUCCESS\").exists")

  private def codeLines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (l.trim, i + 1) }
      .filterNot { case (c, _) =>
        c.startsWith("*") || c.startsWith("/*") || c.startsWith("//") }
      .toSeq

  test("no source under queries/ but Staging.scala writes or probes a reuse marker") {
    Files.isRegularFile(staging) shouldBe true
    val sources = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.size should be > 10
    val hits = for {
      f <- sources if f != staging
      (code, n) <- codeLines(f) if banned.exists(b => code.contains(b))
    } yield s"${root.relativize(f)}:$n: $code"
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }

  test("no spec but SparkSpec creates a temp directory or file") {
    val specs = Paths.get("src/test/scala/graft")
    val sparkSpec = specs.resolve("SparkSpec.scala")
    Files.isRegularFile(sparkSpec) shouldBe true
    // this guard names the call it bans
    val allowed = Set(sparkSpec, specs.resolve("queries/StagingGuardSpec.scala"))
    val sources = Files.walk(specs).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.size should be > 50
    val hits = for {
      f <- sources if !allowed(f)
      (code, n) <- codeLines(f)
      if code.contains("createTempDirectory") || code.contains("createTempFile")
    } yield s"${specs.relativize(f)}:$n: $code"
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }
}
