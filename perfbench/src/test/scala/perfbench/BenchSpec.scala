package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The benchmark's own contract: deterministic inputs, the tail rule and a
  * metric catalogue that `BENCHMARK.json` mirrors. No Spark session.
  */
class BenchSpec extends AnyFunSuite with Matchers {

  private def tmp(): File = JFiles.createTempDirectory("perfbench").toFile

  /** relative path -> sha256 of every file under `dir` */
  private def digests(dir: File): Map[String, String] =
    JFiles.walk(dir.toPath).iterator().asScala.filter(JFiles.isRegularFile(_)).map { p =>
      dir.toPath.relativize(p).toString ->
        MessageDigest.getInstance("SHA-256").digest(JFiles.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap

  private val ui = Gen.ImportSpec(rows = 3000, stored = 500, parts = 200, suppliers = 50, tags = 16,
    requests = 3)

  test("the same seed gives byte-identical import inputs and the same planted expectations") {
    val (a, b) = (tmp(), tmp())
    val ea = Gen.importData(a, 7L, ui)
    val eb = Gen.importData(b, 7L, ui)
    digests(a) shouldBe digests(b)
    digests(a).keySet should contain allOf ("part.csv", "stored.jsonl", "req000.csv", "media000/media.zip")
    ea.expect shouldBe eb.expect
    ea.requestFiles.map(_._3) shouldBe eb.requestFiles.map(_._3)
  }

  test("another seed gives other inputs") {
    val (a, b) = (tmp(), tmp())
    Gen.importData(a, 7L, ui)
    Gen.importData(b, 8L, ui)
    digests(a)("req000.csv") should not be digests(b)("req000.csv")
    digests(a)("media000/media.zip") should not be digests(b)("media000/media.zip")
  }

  test("the import generator plants what it reports") {
    val e = Gen.importData(tmp(), 3L, ui.copy(requests = 0)).expect
    e.invalidRows.toDouble / e.csvRows shouldBe 0.01 +- 0.006
    e.duplicateRows.toDouble / e.csvRows shouldBe 0.24 +- 0.04
    e.containsValues should be > 0
    e.updated should be > 0L
    e.created + e.updated shouldBe e.distinctValidKeys.toLong
    e.sample.exists(_.earlier.nonEmpty) shouldBe true
    e.noteSizes.size should be > 1 // ragged repeatable cells
  }

  test("media archives plant prefix collisions") {
    val d = Gen.importData(tmp(), 5L, ui)
    d.requestFiles.map(_._3.mediaPrefixCollisions).sum should be > 0
    d.requestFiles.map(_._3.mediaMatchedRows).sum should be > 0
  }

  test("curation and vector inputs are deterministic") {
    val (a, b) = (tmp(), tmp())
    Gen.curationData(a, 9L, base = 50, copies = 2) shouldBe Gen.curationData(b, 9L, base = 50, copies = 2)
    digests(a) shouldBe digests(b)
    val (v1, v2) = (new Gen.VecGen(9L, 8, 3), new Gen.VecGen(9L, 8, 3))
    (1 to 5).foreach(_ => v1.next().toSeq shouldBe v2.next().toSeq)
  }

  test("exact top-k follows the engine's tie rule and excludes the query itself") {
    val live = Map(1L -> Array(1f, 0f), 2L -> Array(1f, 0f), 3L -> Array(0f, 1f), 4L -> Array(0.9f, 0.1f))
    Gen.bruteTopK(Array(1f, 0f), 2L, live, 2) shouldBe Seq(1L, 4L)
  }

  test("the tail rule reports the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val Some((p, v, beyond)) = Stats.tail(xs)
    p shouldBe 90
    beyond should be >= Stats.TailBeyond
    xs.count(_ > Stats.quantile(xs, 0.91)) should be < Stats.TailBeyond
    v shouldBe Stats.quantile(xs, 0.90)
    Stats.tail((1 to 20).map(_.toDouble)).map(_._1) shouldBe Some(52)
    Stats.tail((1 to 10).map(_.toDouble)) shouldBe None
  }

  test("every metric name matches [A-Za-z0-9_.-]+ and carries a unit") {
    val all = Metrics.endToEnd ++ Metrics.perLayer
    all.map(_._1).distinct.size shouldBe all.size
    all.foreach { case (name, unit) =>
      name should fullyMatch regex Metrics.NamePattern
      unit should fullyMatch regex "[A-Za-z0-9_/%.-]{1,16}"
    }
    Metrics.perLayer.size should be <= 128
  }

  test("BENCHMARK.json lists exactly the catalogue's metrics and known workloads") {
    val f = Seq(new File("BENCHMARK.json"), new File("../BENCHMARK.json")).find(_.exists())
    assume(f.isDefined, "BENCHMARK.json not found")
    val json = new ObjectMapper().readTree(f.get)
    def entries(key: String) = json.get(key).elements().asScala.toSeq
    entries("end_to_end").map(m => m.get("name").asText -> m.get("unit").asText) shouldBe Metrics.endToEnd
    entries("per_layer").map(m => m.get("name").asText -> m.get("unit").asText) shouldBe Metrics.benchmarked
    entries("workloads").map(_.get("name").asText).foreach(Main.workloads should contain(_))
    entries("end_to_end").foreach(m => m.get("bound").asDouble should (be > 0.0 and be <= 0.25))
  }
}
