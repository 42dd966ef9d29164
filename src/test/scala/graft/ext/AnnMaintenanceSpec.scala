package graft.ext

import java.io.File

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maintenance verbs over EVERY persisted ANN layout, driven by one
  * table: build → append → deleteIds → update → applyDiff → compact, with
  * the served set checked against the expected live set after each step.
  * Serving runs at full probe and k above the corpus size, so every live
  * id is a candidate for every query: the served ids must be exactly the
  * live set (less the query's own id), an updated id must be served once
  * per query (a second live generation would show as a duplicate row or a
  * corrupted sum), and compaction must not change the served top-k.
  */
class AnnMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val rnd = new scala.util.Random(23)
  private def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
  // ids 0..35; ids 0..23 are built, 24..31 appended, 32..35 inserted by
  // the CDC diff
  private val corpus = (0 until 36).map(i => (i.toLong, vec()))
    .toDF("vec_id", "embedding").localCheckpoint(eager = true)
  // the re-embeddings of the updated ids (5 by update, 7 by the diff)
  private val reembedded = Seq(5L, 7L).map(i => (i, vec()))
    .toDF("vec_id", "embedding").localCheckpoint(eager = true)
  private val queries = corpus.filter($"vec_id" < 2)
  private val k = 48

  private def ids(from: Int, until: Int) = corpus.filter(
    $"vec_id" >= from && $"vec_id" < until)

  /** One layout: how to build it and how to serve it. `nested` is where a
    * composed layout's tombstones must land.
    */
  private case class Case(name: String, build: (DataFrame, String) => Unit,
      serve: String => DataFrame, nested: Option[String] = None)

  private val cases = Seq(
    Case("pq",
      (c, d) => AnnIndex.buildPq(c, "vec_id", "embedding", d, m = 4, ksub = 8, iters = 1),
      d => AnnIndex.pqTopK(spark, d, queries, "vec_id", "embedding", k)),
    Case("ivf",
      (c, d) => AnnIndex.buildIvf(c, "vec_id", "embedding", d, nlist = 4, iters = 1),
      d => AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, d), queries,
        "vec_id", "embedding", k, nprobe = 4)),
    Case("ivfpq",
      (c, d) => AnnIndex.buildIvfPq(c, "vec_id", "embedding", d, nlist = 4,
        m = 4, ksub = 8, iters = 1),
      d => AnnIndex.ivfPqTopK(spark, AnnIndex.readIvfPq(spark, d), queries,
        "vec_id", "embedding", k, nprobe = 4)),
    Case("ivfpq keepVectors",
      (c, d) => AnnIndex.buildIvfPq(c, "vec_id", "embedding", d, nlist = 4,
        m = 4, ksub = 8, iters = 1, keepVectors = true),
      d => AnnIndex.ivfPqTopKRefined(spark, AnnIndex.readIvfPq(spark, d), queries,
        "vec_id", "embedding", k, nprobe = 4, refine = 2)),
    Case("sq",
      (c, d) => AnnIndex.buildSq(c, "vec_id", "embedding", d),
      d => AnnIndex.sqTopK(spark, d, queries, "vec_id", "embedding", k)),
    Case("ivfsq",
      (c, d) => AnnIndex.buildIvfSq(c, "vec_id", "embedding", d, nlist = 4, iters = 1),
      d => AnnIndex.ivfSqTopK(spark, AnnIndex.readIvfSq(spark, d), queries,
        "vec_id", "embedding", k, nprobe = 4)),
    Case("bq",
      (c, d) => AnnIndex.buildBq(c, "vec_id", "embedding", d, dim = dim),
      d => AnnIndex.bqTopK(spark, d, queries, "vec_id", "embedding", k,
        shortlist = 64)),
    Case("pcapq",
      (c, d) => AnnIndex.buildPcaPq(c, "vec_id", "embedding", d, dim = dim,
        m = 4, ksub = 8, iters = 1),
      d => AnnIndex.rotatedPqTopK(spark, d, queries, "vec_id", "embedding", k),
      nested = Some("pq")),
    Case("opq",
      (c, d) => AnnIndex.buildOpq(c, "vec_id", "embedding", d, dim = dim,
        m = 4, ksub = 8, iters = 1, opqIters = 1),
      d => AnnIndex.rotatedPqTopK(spark, d, queries, "vec_id", "embedding", k),
      nested = Some("pq")),
    Case("opqivfpq",
      (c, d) => AnnIndex.buildOpqIvfPq(c, "vec_id", "embedding", d, dim = dim,
        nlist = 4, m = 4, ksub = 8, iters = 1, opqIters = 1),
      d => AnnIndex.opqIvfPqTopK(spark, d, queries, "vec_id", "embedding", k,
        nprobe = 4),
      nested = Some("ivfpq")))

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.delete(); d.getAbsolutePath
  }

  /** Every file under `dir` with its size, relative to `dir`. */
  private def listing(dir: String): Set[(String, Long)] = {
    val root = new File(dir).toPath
    val it = java.nio.file.Files.walk(root).iterator()
    var out = Set.empty[(String, Long)]
    while (it.hasNext) {
      val p = it.next()
      if (p.toFile.isFile) out += (root.relativize(p).toString -> p.toFile.length)
    }
    out
  }

  /** Served rows as (query_id, rank, neighbor_id, score), in rank order. */
  private def served(c: Case, dir: String): Seq[(Long, Int, Long, Double)] =
    c.serve(dir).collect().toSeq.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"), r.getDouble(3)))
      .sortBy(r => (r._1, r._2))

  private def checkServed(c: Case, dir: String, live: Set[Long],
      step: String): Seq[(Long, Int, Long, Double)] = {
    val rows = served(c, dir)
    withClue(s"${c.name} after $step: ") {
      for (q <- Seq(0L, 1L)) {
        val got = rows.filter(_._1 == q).map(_._3)
        got.toSet.subsetOf(live) shouldBe true
        (live - q).subsetOf(got.toSet) shouldBe true
        // one live generation per id: the updated ids are served once
        got.count(_ == 5L) shouldBe 1
        got.count(_ == 7L) shouldBe 1
        got.size shouldBe got.distinct.size
      }
    }
    rows
  }

  private def checkTombstones(c: Case, dir: String): Unit =
    c.nested.foreach { n =>
      withClue(s"${c.name}: ") {
        new File(s"$dir/tombstones").exists() shouldBe false
        new File(s"$dir/$n/tombstones").exists() shouldBe true
      }
    }

  for (c <- cases)
    test(s"${c.name}: build, append, delete, update, applyDiff and compact keep the served set live") {
      val dir = tmpDir("graft_annmaint")
      c.build(ids(0, 24), dir)
      var live = (0L until 24L).toSet
      checkServed(c, dir, live, "build")

      AnnIndex.append(spark, dir, ids(24, 32), "vec_id", "embedding")
      live ++= 24L until 32L
      checkServed(c, dir, live, "append")

      AnnIndex.deleteIds(spark, dir, corpus.filter($"vec_id".isin(3, 25)), "vec_id")
      live --= Seq(3L, 25L)
      checkServed(c, dir, live, "deleteIds")
      checkTombstones(c, dir)

      AnnIndex.update(spark, dir, reembedded.filter($"vec_id" === 5), "vec_id", "embedding")
      checkServed(c, dir, live, "update")

      val diff = Seq((32L, "insert"), (33L, "insert"), (34L, "insert"),
        (35L, "insert"), (7L, "update"), (9L, "delete"), (26L, "delete"))
        .toDF("vec_id", "change")
      val rows = ids(32, 36).unionByName(reembedded.filter($"vec_id" === 7))
      AnnIndex.applyDiff(spark, dir, diff, "vec_id", rows, "vec_id", "embedding")
      live = live ++ (32L until 36L) -- Seq(9L, 26L)
      val beforeCompact = checkServed(c, dir, live, "applyDiff")
      checkTombstones(c, dir)
      AnnIndex.tombstoneDebt(spark, dir) should be > 0.0

      AnnIndex.compact(spark, dir)
      AnnIndex.tombstoneDebt(spark, dir) shouldBe 0.0
      val afterCompact = checkServed(c, dir, live, "compact")
      afterCompact.map(r => (r._1, r._2, r._3)) shouldBe
        beforeCompact.map(r => (r._1, r._2, r._3))
      afterCompact.zip(beforeCompact).foreach { case (a, b) =>
        a._4 shouldBe (b._4 +- 1e-9)
      }
      // the fresh generation carries no tombstone log or sequence sidecar
      val owner = c.nested.fold(dir)(n => s"$dir/$n")
      new File(s"$owner/tombstones").exists() shouldBe false
      new File(s"$owner/_next_seq").exists() shouldBe false
    }

  test("compact refuses a dir with no meta or an unknown layout and leaves every table in place") {
    val dir = tmpDir("graft_annmaint_refuse")
    AnnIndex.buildIvfPq(ids(0, 24), "vec_id", "embedding", dir, nlist = 4,
      m = 4, ksub = 8, iters = 1, keepVectors = true)
    AnnIndex.deleteIds(spark, dir, corpus.filter($"vec_id" === 3), "vec_id")
    val parent = new File(dir).getParentFile
    def siblings = parent.list().filter(_.startsWith(new File(dir).getName)).toSet

    AnnIndex.writeMeta(spark, dir, m = 4, sub = 4, nlist = 4, layout = "nope")
    val unknown = listing(dir)
    val before = siblings
    an[IllegalStateException] should be thrownBy AnnIndex.compact(spark, dir)
    listing(dir) shouldBe unknown
    siblings shouldBe before

    org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$dir/meta"))
    val noMeta = listing(dir)
    an[Exception] should be thrownBy AnnIndex.compact(spark, dir)
    listing(dir) shouldBe noMeta
    siblings shouldBe before
  }
}
