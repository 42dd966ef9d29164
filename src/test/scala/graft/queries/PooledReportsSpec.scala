package graft.queries

import graft.SparkSpec

/** Pooled report serving ([[PooledReports]]): the wrap must be invisible
  * to correctness — a pooled gate returns the same rows whether it builds
  * its pool entry inline (standalone invocation) or reads a pre-staged
  * one — and the curated set must respect its own selection rule (report
  * gates only: no canary member, no parity pipeline, no streamed store
  * read may ever be pooled, because their measured wall IS their graded
  * story).
  */
class PooledReportsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def poolPath(name: String) =
    s"/tmp/graft_pool/${Staging.tag(dir)}_${Staging.codeTag}/$name"

  test("wrap is the identity for non-pooled gates") {
    val d = ParityQueries.all.head
    assert(!PooledReports.PooledGateNames(d.name))
    PooledReports.wrap(d) should be theSameInstanceAs d
  }

  test("curated set hygiene: every pooled name is a real gate; no canary, parity, or streamed gate is pooled") {
    val all = graft.SparkEntry.queries.keySet
    PooledReports.PooledGateNames.filterNot(all) shouldBe empty
    // mirrors Bench.canaryRef — the host-probe members whose wall is the
    // canary signal; pooling one would blind the host_factor estimate
    val canary = Set("x_pagerank", "x_text_bm25", "x_triangle_count",
      "x_dedup_crossmodal", "x_corpus_effective_near", "x_knn_ivfpq_refine",
      "x_index_health", "x_dedup_minhash", "x_dedup_semantic", "x_asof_join")
    PooledReports.PooledGateNames.intersect(canary) shouldBe empty
    // streamed gates price their marginal store read; parity gates (the
    // only non-x_ names) price the reference-comparison plans
    PooledReports.PooledGateNames.filter(_.startsWith("x_stream_")) shouldBe empty
    PooledReports.PooledGateNames.filterNot(_.startsWith("x_")) shouldBe empty
  }

  test("a pooled gate builds inline on first touch and serves identical rows from the pool") {
    val d = ExtensionQueries.textTokens
    assert(PooledReports.PooledGateNames(d.name))
    val wrapped = PooledReports.wrap(d)
    wrapped.name shouldBe d.name
    wrapped.oracle shouldBe d.oracle

    graft.util.Hfs.delete(spark, poolPath(d.name))
    val expected = d.fn(spark, dir).orderBy("doc_id").collect()
    val first = wrapped.fn(spark, dir).orderBy("doc_id").collect()
    first shouldBe expected
    graft.util.Hfs.exists(spark, s"${poolPath(d.name)}/_POOLED") shouldBe true

    val second = wrapped.fn(spark, dir).orderBy("doc_id").collect()
    second shouldBe expected
  }

  test("the pool root is code-fingerprinted: a changed build abandons the stale pool") {
    // r20 VERDICT item 2: the root must move when the COMPILED CODE
    // changes, not only when the data changes — digestTree is the
    // fingerprint over the class tree, so two trees differing in one
    // file's length or mtime must tag differently (a recompile always
    // changes at least one class file's mtime)
    val t = graft.SparkSpec.tempDir("graft_codetag").toFile
    val f = new java.io.File(t, "A.class")
    java.nio.file.Files.write(f.toPath, "one".getBytes)
    f.setLastModified(1000000L)
    val tag1 = Staging.digestTree(t)
    java.nio.file.Files.write(f.toPath, "four".getBytes) // length changes
    f.setLastModified(1000000L)
    val tag2 = Staging.digestTree(t)
    tag2 should not be tag1
    f.setLastModified(2000000L) // mtime-only change (same length)
    val tag3 = Staging.digestTree(t)
    tag3 should not be tag2
    // and the live root embeds the live code tag
    Staging.codeTag should fullyMatch regex "[0-9a-f]{12}|nosrc"
    poolPath("x").contains(Staging.codeTag) shouldBe true
  }

  test("ensureAll surfaces a failed build by name; the others still stage") {
    // r20 VERDICT item 3: a failed pooled build must be attributable in
    // the bench record — ensureEntries returns the failing names
    val good = ExtensionQueries.textLangId
    graft.util.Hfs.delete(spark, poolPath(good.name))
    graft.util.Hfs.delete(spark, poolPath("__boom__"))
    val failed = PooledReports.ensureEntries(spark, dir, Seq(
      good.name -> good.fn,
      "__boom__" -> ((_, _) => throw new RuntimeException("forced"))),
      parallelism = 2)
    failed shouldBe Seq("__boom__")
    graft.util.Hfs.exists(spark, s"${poolPath(good.name)}/_POOLED") shouldBe true
    graft.util.Hfs.exists(spark, s"${poolPath("__boom__")}/_POOLED") shouldBe false
  }
}
