package graft.ext

import graft.SparkSpec

class IncrementalComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(dir: String): Map[Long, Long] =
    IncrementalComponents.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental updates equal batch components on the union, through cross-generation merges") {
    val dir = graft.SparkSpec.tempDir("graft_inc_comps").toString + "/c"
    // batch 1: two separate clusters
    IncrementalComponents.update(spark, dir,
      Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"))
    labels(dir) shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L)
    // batch 2: extend cluster 1 through an existing member
    IncrementalComponents.update(spark, dir,
      Seq((2L, 3L)).toDF("id_a", "id_b"))
    labels(dir) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // batch 3: MERGE the two clusters through non-canonical members — every
    // member of the absorbed component must relabel, not just the pair's ids
    IncrementalComponents.update(spark, dir,
      Seq((6L, 3L)).toDF("id_a", "id_b"))
    val fin = labels(dir)
    fin shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L)
    // equality with the batch form on the union of every pair ever seen
    val all = Seq((1L, 2L), (5L, 6L), (2L, 3L), (6L, 3L)).toDF("id_a", "id_b")
    val nodes = all.select($"id_a".as("id")).union(all.select($"id_b")).distinct()
    val batch = Dedup.connectedComponents(nodes, "id", all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fin shouldBe batch
  }

  test("generation counter rides the _next_seq sidecar; pre-sidecar stores adopt it") {
    val dir = graft.SparkSpec.tempDir("graft_inc_comps").toString + "/c"
    IncrementalComponents.update(spark, dir, Seq((1L, 2L)).toDF("id_a", "id_b"))
    IncrementalComponents.update(spark, dir, Seq((2L, 3L)).toDF("id_a", "id_b"))
    // two generations written → the sidecar holds the NEXT seq (2)
    graft.util.Hfs.readString(spark, s"$dir/_next_seq").trim shouldBe "2"
    // a store written before the sidecar existed: delete it — the next
    // update must fall back to the one-time max(__seq) scan, NOT restart
    // at 0 (a reused seq would make the per-id max_by ambiguous)
    graft.util.Hfs.delete(spark, s"$dir/_next_seq")
    IncrementalComponents.update(spark, dir, Seq((3L, 9L)).toDF("id_a", "id_b"))
    graft.util.Hfs.readString(spark, s"$dir/_next_seq").trim shouldBe "3"
    spark.read.parquet(dir).agg(org.apache.spark.sql.functions.max($"__seq"))
      .head().getLong(0) shouldBe 2L
    labels(dir) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L)
  }

  test("readWithNodes pads isolated nodes; empty updates are no-ops") {
    val dir = graft.SparkSpec.tempDir("graft_inc_comps").toString + "/c"
    // empty update against a missing store: nothing written, read-side safe
    IncrementalComponents.update(spark, dir, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    IncrementalComponents.readWithNodes(spark, dir,
        Seq(7L).toDF("id"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((7L, 7L))
    IncrementalComponents.update(spark, dir, Seq((1L, 2L)).toDF("id_a", "id_b"))
    // a later empty batch (all self-pairs) leaves the store untouched
    IncrementalComponents.update(spark, dir, Seq((4L, 4L)).toDF("id_a", "id_b"))
    IncrementalComponents.readWithNodes(spark, dir,
        Seq(1L, 2L, 9L).toDF("id"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      Array((1L, 1L), (2L, 1L), (9L, 9L))
  }
}
