package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** Upsert merge semantics + rewrite-and-swap physical write
  * (reference: importData, server/services/csv-import.js:362-409).
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("merge upsert splits created/updated; within-batch dup keys last-write-wins") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val incoming = Seq((2L, "b2"), (3L, "c"), (3L, "c2")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = true)
    r.updated shouldBe 1
    r.created shouldBe 1
    val rows = r.merged.orderBy("id").collect()
    rows.map(x => (x.getLong(0), x.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (2L, "b2"), (3L, "c2")) // last occurrence of 3 wins
  }

  test("merge upsert with duplicate target keys: all dup rows replaced, key counted once") {
    val target = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("id", "v")
    val incoming = Seq((1L, "x")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = true)
    val rows = r.merged.collect().map(x => (x.getLong(0), x.getString(1))).sorted
    rows shouldBe Seq((1L, "x"), (2L, "b")) // both id=1 target rows replaced
    r.updated shouldBe 1L // distinct target keys, not target rows
    r.created shouldBe 0L
  }

  test("merge append keeps everything, counts created only") {
    val target = Seq((1L, "a")).toDF("id", "v")
    val incoming = Seq((1L, "dup"), (2L, "b")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = false)
    r.created shouldBe 2
    r.updated shouldBe 0
    r.merged.count() shouldBe 3
  }

  test("writeSwap(MergeResult) default: counters read AFTER the swap are the pre-swap truth") {
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    val target = spark.read.parquet(dir)
    val incoming = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = true)
    Upsert.writeSwap(spark, r, dir, snapshotCounters = true)
    // post-swap the table holds all 3 keys; a naive re-count would say
    // updated=2/created=0 — the snapshot taken before the swap must win
    r.created shouldBe 1
    r.updated shouldBe 1
    spark.read.parquet(dir).count() shouldBe 3
  }

  test("writeSwap(MergeResult) opt-out: unread counters fail loudly after the swap") {
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    val target = spark.read.parquet(dir)
    val incoming = Seq((1L, "x"), (2L, "b")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = true)
    Upsert.writeSwap(spark, r, dir, snapshotCounters = false)
    val e = intercept[IllegalStateException] { r.created }
    e.getMessage should include("writeSwap")
    // counters read BEFORE an opted-out swap stay valid afterwards
    val dir2 = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir2)
    val r2 = Upsert.merge(spark.read.parquet(dir2), incoming, "id", upsert = true)
    r2.updated shouldBe 1
    Upsert.writeSwap(spark, r2, dir2, snapshotCounters = false)
    r2.updated shouldBe 1
    r2.created shouldBe 1
  }

  test("append mode: counters stay readable after an opted-out swap (no target dependence)") {
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    val target = spark.read.parquet(dir)
    val incoming = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    val r = Upsert.merge(target, incoming, "id", upsert = false)
    Upsert.writeSwap(spark, r, dir, snapshotCounters = false)
    // the append thunk counts only `incoming` — replacing the target can't
    // skew it, so no poisoning applies
    r.created shouldBe 2
    r.updated shouldBe 0
    spark.read.parquet(dir).count() shouldBe 3
  }

  test("writeSwap atomically replaces the table directory") {
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "old")).toDF("id", "v").write.parquet(dir)
    val merged = Seq((1L, "new"), (2L, "b")).toDF("id", "v")
    Upsert.writeSwap(spark, merged, dir)
    val back = spark.read.parquet(dir).orderBy("id").collect()
    back.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe Seq((1L, "new"), (2L, "b"))
    new java.io.File(dir + ".bak").exists() shouldBe false
  }

  test("snapshotDiff classifies insert/update/delete, drops unchanged, null-safe") {
    val before = Seq(
      (1L, Option("a"), Option(1.0)),  // unchanged
      (2L, Option("b"), Option(2.0)),  // value changes
      (3L, Option.empty[String], Option(3.0)), // null -> value: update
      (4L, Option("d"), Option(4.0)),  // deleted
      (6L, Option("f"), Option.empty[Double])) // null stays null: unchanged
      .toDF("id", "s", "v")
    val after = Seq(
      (1L, Option("a"), Option(1.0)),
      (2L, Option("b"), Option(9.0)),
      (3L, Option("c"), Option(3.0)),
      (5L, Option("e"), Option(5.0)),  // inserted
      (6L, Option("f"), Option.empty[Double]))
      .toDF("id", "s", "v")
    val out = Upsert.snapshotDiff(before, after, "id")
      .as[(Long, String)].collect().toMap
    out shouldBe Map(2L -> "update", 3L -> "update", 4L -> "delete", 5L -> "insert")
    an[IllegalArgumentException] should be thrownBy
      Upsert.snapshotDiff(before, after.drop("v"), "id")
    // NULL keys never equi-match (SQL convention): a null-key row only
    // in `before` is a DELETE, only in `after` an INSERT — presence is
    // decided by side markers, not by the (null) key column
    val nb = Seq((Option(1L), "x")).toDF("id", "s")
      .unionByName(Seq((Option.empty[Long], "gone")).toDF("id", "s"))
    val na = Seq((Option(1L), "x")).toDF("id", "s")
      .unionByName(Seq((Option.empty[Long], "new")).toDF("id", "s"))
    val nout = Upsert.snapshotDiff(nb, na, "id")
      .select("change").as[String].collect().sorted.toSeq
    nout shouldBe Seq("delete", "insert")
  }

  test("restoreIfCrashed recovers a swap that died between its two moves") {
    // crashed-swap state: dir is GONE, .bak holds the only generation
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "survivor")).toDF("id", "v").write.parquet(dir + ".bak")
    Upsert.restoreIfCrashed(dir)
    spark.read.parquet(dir).collect().map(_.getString(1)).toSeq shouldBe Seq("survivor")
    new java.io.File(dir + ".bak").exists() shouldBe false
    // no-op when the dir exists (a true post-swap leftover must NOT be
    // moved over a live table)
    Seq((9L, "leftover")).toDF("id", "v").write.parquet(dir + ".bak")
    Upsert.restoreIfCrashed(dir)
    spark.read.parquet(dir).collect().map(_.getString(1)).toSeq shouldBe Seq("survivor")
    new java.io.File(dir + ".bak").exists() shouldBe true
  }

  test("swapDirs refuses schemes without atomic directory rename") {
    // ftp has a FileSystem impl in hadoop-common but rename there is not
    // an atomic metadata operation; the swap must refuse at plan time
    // (instantiation parses the URI only — no connection is attempted)
    val e = intercept[IllegalArgumentException] {
      Upsert.swapDirs("ftp://example.invalid/t.tmp", "ftp://example.invalid/t")
    }
    e.getMessage should include("atomic directory rename")
  }

  test("writeSwap after a crashed swap preserves the stranded generation") {
    // the data-loss scenario from the crash-recovery doc: .bak is the only
    // copy; a later writeSwap must restore it (so the lazy merge reads it)
    // rather than deleting it as a leftover
    val dir = graft.SparkSpec.tempDir("graft_upsert").toString + "/table"
    Seq((1L, "old")).toDF("id", "v").write.parquet(dir + ".bak")
    // build the merge against the RESTORED table path, as a recovered
    // caller would (restoreIfCrashed first, then read)
    Upsert.restoreIfCrashed(dir)
    val target = spark.read.parquet(dir)
    val r = Upsert.merge(target, Seq((2L, "new")).toDF("id", "v"), "id", upsert = true)
    Upsert.writeSwap(spark, r, dir, snapshotCounters = true)
    val back = spark.read.parquet(dir).orderBy("id").collect()
    back.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe Seq((1L, "old"), (2L, "new"))
    r.created shouldBe 1
    r.updated shouldBe 0
  }
}
