package graft.queries

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Staging.once]], the one reuse check every staged fixture goes
  * through: a root is keyed by the data fingerprint and the code digest,
  * built once per key, wiped when half built, and built once under
  * concurrent first touch. The specs substitute their own code tag (and a
  * scratch base dir) through [[Staging.rootIn]].
  */
class StagingSpec extends AnyFunSuite with Matchers {

  private val base = graft.SparkSpec.tempDir("graft_staging_spec").toFile
  private val sf = { val d = new File(base, "sf0"); d.mkdirs(); d.getPath }
  private def root(code: String, family: String = "fix") =
    Staging.rootIn(base.getPath, code, family, sf, "")

  private def write(dir: String, name: String, body: String): Unit =
    Files.writeString(new File(dir, name).toPath, body)
  private def read(dir: String, name: String): String =
    Files.readString(new File(dir, name).toPath)

  test("a second call with the same key does not rebuild") {
    val builds = new AtomicInteger
    val r1 = Staging.at(root("codeA")) { r => builds.incrementAndGet(); write(r, "data", "one") }
    val r2 = Staging.at(root("codeA")) { r => builds.incrementAndGet(); write(r, "data", "two") }
    r2 shouldBe r1
    builds.get shouldBe 1
    read(r1, "data") shouldBe "one"
    new File(r1, "_STAGED").isFile shouldBe true
  }

  test("a different code tag builds a new root and leaves the old root untouched") {
    val a = Staging.at(root("codeB1"))(write(_, "data", "old"))
    val before = new File(a).listFiles().map(f => (f.getName, f.length, f.lastModified)).toSet
    val b = Staging.at(root("codeB2"))(write(_, "data", "new"))
    b should not be a
    a should endWith(s"/graft_fix/${Staging.tag(sf)}_codeB1")
    b should endWith(s"/graft_fix/${Staging.tag(sf)}_codeB2")
    new File(a).listFiles().map(f => (f.getName, f.length, f.lastModified)).toSet shouldBe before
    read(a, "data") shouldBe "old"
    read(b, "data") shouldBe "new"
  }

  test("a root without a marker (half built) is wiped before the rebuild") {
    val r = root("codeC")
    new File(r, "sub").mkdirs()
    write(r, "stale", "left by a build that died")
    write(s"$r/sub", "part-0", "partial")
    val builds = new AtomicInteger
    Staging.at(r) { d =>
      builds.incrementAndGet()
      new File(d).list().toSeq shouldBe empty // the build starts from an empty root
      write(d, "data", "fresh")
    }
    builds.get shouldBe 1
    new File(r).list().toSet shouldBe Set("data", "_STAGED")
    // a build that throws leaves no marker, so the next call rebuilds
    val r2 = root("codeC2")
    an[IllegalStateException] should be thrownBy
      Staging.at(r2) { d => write(d, "half", "x"); throw new IllegalStateException("boom") }
    new File(r2, "_STAGED").exists shouldBe false
    Staging.at(r2)(write(_, "data", "ok"))
    new File(r2).list().toSet shouldBe Set("data", "_STAGED")
  }

  test("two threads that touch one root first build it once") {
    val r = root("codeD")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            go.await()
            Staging.at(r) { d =>
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the other thread arrives
              write(d, "data", "built")
            }
          }
        })
      }
      go.countDown()
      calls.map(_.get(30, TimeUnit.SECONDS)) shouldBe Seq(r, r)
    } finally pool.shutdown()
    builds.get shouldBe 1
    read(r, "data") shouldBe "built"
  }

  test("nested once calls do not deadlock") {
    // a build that stages other fixtures inside its own, on its own
    // thread and on a worker thread (the sweep and the ANN index builds
    // do both): a lock shared across roots would block the worker forever
    val outer = root("codeE", "outer")
    val inner1 = root("codeE", "inner1")
    val inner2 = root("codeE", "inner2")
    val pool = Executors.newSingleThreadExecutor()
    try {
      Staging.at(outer) { d =>
        Staging.at(inner1)(write(_, "data", "same thread"))
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = Staging.at(inner2)(write(_, "data", "worker"))
        }).get(30, TimeUnit.SECONDS) shouldBe inner2
        write(d, "data", "outer")
      }
    } finally pool.shutdown()
    Seq(outer, inner1, inner2).foreach(r => new File(r, "_STAGED").isFile shouldBe true)
  }

  test("a jar's code tag follows its entries, not the jar file's mtime") {
    def jar(name: String, body: String, mtime: Long): File = {
      val f = new File(base, name)
      val z = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
      z.putNextEntry(new java.util.zip.ZipEntry("graft/A.class"))
      z.write(body.getBytes("UTF-8"))
      z.closeEntry()
      z.close()
      f.setLastModified(mtime)
      f
    }
    val a = Staging.digestJar(jar("a.jar", "one", 1000000L))
    Staging.digestJar(jar("copy.jar", "one", 2000000L)) shouldBe a // a per-run copy
    Staging.digestJar(jar("b.jar", "two", 1000000L)) should not be a // recompiled
  }

  test("the live root is keyed by the sf dir fingerprint and the compiled code") {
    Staging.codeTag should fullyMatch regex "[0-9a-f]{12}|nosrc"
    Staging.root("fam", sf) shouldBe s"/tmp/graft_fam/${Staging.tag(sf)}_${Staging.codeTag}"
    Staging.root("fam", sf, "_n3") shouldBe
      s"/tmp/graft_fam/${Staging.tag(sf)}_${Staging.codeTag}_n3"
  }
}
