package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deterministic training-shard export: re-export reproducibility,
  * sequence/shard integrity, manifest reconcile, and shard balance.
  */
class ShardExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  // a few hundred sequences' worth of packed rows from a synthetic corpus
  private def packed = {
    val docs = (0 until 300).map(i =>
      (i.toLong, (1 to (i % 50) + 10).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    Packing.packSequences(docs, "doc_id", "text", 16)
      .localCheckpoint(eager = true)
  }

  private def dataFileOf(shardDir: java.io.File): java.io.File = {
    val fs = shardDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    fs.length shouldBe 1 // one deterministically-ordered file per shard
    fs.head
  }

  test("re-export is byte-identical per shard; a sequence never splits shards") {
    val p = packed
    val (d1, d2) = (tmpDir("graft_shards1"), tmpDir("graft_shards2"))
    val m1 = ShardExport.export(spark, p, 8, d1).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val m2 = ShardExport.export(spark, p, 8, d2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    m1 shouldBe m2
    m1.keySet shouldBe (0 until 8).toSet // every shard non-empty here
    (0 until 8).foreach { s =>
      val f1 = dataFileOf(new java.io.File(d1, s"shard_id=$s"))
      val f2 = dataFileOf(new java.io.File(d2, s"shard_id=$s"))
      java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f1.toPath),
        java.nio.file.Files.readAllBytes(f2.toPath)) shouldBe true
    }
    // a sequence is the training unit: all rows of a seq_id in ONE shard
    spark.read.parquet(d1).groupBy($"seq_id")
      .agg(countDistinct($"shard_id").as("n"))
      .filter($"n" =!= 1).count() shouldBe 0L
    // balance: deterministic hash assignment spreads sequences evenly
    // enough that no shard exceeds twice the mean
    val rows = m1.values.map(_._1)
    rows.max should be <= 2 * (rows.sum / rows.size)
  }

  test("within-shard physical order is the order_key sort; verify() reconciles") {
    val dst = tmpDir("graft_shards3")
    ShardExport.export(spark, packed, 4, dst)
    (0 until 4).foreach { s =>
      val keys = spark.read
        .parquet(new java.io.File(dst, s"shard_id=$s").getAbsolutePath)
        .select($"order_key").as[String].collect().toSeq
      keys shouldBe keys.sorted // read-back order IS the content-key order
    }
    ShardExport.verify(spark, dst)
      .filter(!$"consistent").count() shouldBe 0L
    // tamper one shard: drop its last row and rewrite — reconcile flags
    // exactly that shard
    val s0 = new java.io.File(dst, "shard_id=0").getAbsolutePath
    val torn = spark.read.parquet(s0).limit(1).localCheckpoint(eager = true)
    torn.write.mode("overwrite").parquet(s0)
    val bad = ShardExport.verify(spark, dst).filter(!$"consistent")
      .select($"shard_id").as[Int].collect().toSeq
    bad shouldBe Seq(0)
  }

  test("a wholly missing shard reads as inconsistent, not NULL") {
    val dst = tmpDir("graft_shards5")
    ShardExport.export(spark, packed, 4, dst)
    // delete an ENTIRE shard directory: the recomputed side has no row,
    // so the comparison is one-sided — the worst tear must still land in
    // filter(!consistent), not escape as NULL
    val s1 = new java.io.File(dst, "shard_id=1")
    s1.listFiles().foreach(_.delete())
    s1.delete() shouldBe true
    val v = ShardExport.verify(spark, dst).localCheckpoint(eager = true)
    v.filter($"consistent".isNull).count() shouldBe 0L
    v.filter(!$"consistent").select($"shard_id").as[Int].collect()
      .toSeq shouldBe Seq(1)
    // and the loader-side contract check catches it either way round:
    // filter(consistent).count == manifest rows fails for the torn set
    v.filter($"consistent").count() shouldBe 3L
  }

  test("incremental re-export: only changed shards rewrite; untouched files are byte- and mtime-identical") {
    val p = packed
    val gen1 = p.filter($"doc_id" % 7 =!= 3).localCheckpoint(eager = true)
    val dst = tmpDir("graft_shards_incr")
    ShardExport.export(spark, gen1, 8, dst)
    val before = (0 until 8).flatMap { sid =>
      val d = new java.io.File(dst, s"shard_id=$sid")
      if (!d.isDirectory) None
      else {
        val f = dataFileOf(d)
        Some(sid -> ((f.lastModified(),
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)))
      }
    }.toMap
    val report = ShardExport.exportIncremental(spark, p, 8, dst)
      .as[(Int, String)].collect().toMap
    report should not be empty
    report.values.toSet should contain oneOf ("rewritten", "new")
    // the brought-up-to-date export equals a FULL export of the new
    // generation: manifests equal, every rewritten shard byte-identical
    val ref = tmpDir("graft_shards_incr_ref")
    ShardExport.export(spark, p, 8, ref)
    def manifest(d: String) = spark.read.parquet(s"$d/_manifest")
      .as[(Int, Long, String, String, String)].collect().toSet
    manifest(dst) shouldBe manifest(ref)
    (0 until 8).foreach { sid =>
      val f = dataFileOf(new java.io.File(dst, s"shard_id=$sid"))
      if (report.contains(sid)) {
        java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.file.Files.readAllBytes(
            dataFileOf(new java.io.File(ref, s"shard_id=$sid")).toPath)
        ) shouldBe true
      } else {
        // untouched: not even reopened — same mtime, same bytes
        f.lastModified() shouldBe before(sid)._1
        java.nio.file.Files.readAllBytes(f.toPath).toSeq shouldBe before(sid)._2
      }
    }
    ShardExport.verify(spark, dst).filter(!$"consistent").count() shouldBe 0L
    // shrink to a single shard's sequences: every other shard DELETES
    val a = ShardExport.assign(p, 8)
    val keepSeqs = a.filter($"shard_id" === 0).select($"seq_id").distinct()
    val gen3 = p.join(keepSeqs, Seq("seq_id"), "left_semi")
    val report3 = ShardExport.exportIncremental(spark, gen3, 8, dst)
      .as[(Int, String)].collect().toMap
    (1 until 8).foreach { sid =>
      report3.get(sid) shouldBe Some("deleted")
      new java.io.File(dst, s"shard_id=$sid").exists() shouldBe false
    }
    report3.get(0) shouldBe None // shard 0's content did not change
    spark.read.parquet(s"$dst/_manifest").select($"shard_id")
      .as[Int].collect().toSeq shouldBe Seq(0)
    ShardExport.verify(spark, dst).filter(!$"consistent").count() shouldBe 0L
  }

  test("a crash-torn incremental swap heals by re-running; staging leaves no residue") {
    val p = packed
    val gen1 = p.filter($"doc_id" % 7 =!= 3).localCheckpoint(eager = true)
    val dst = tmpDir("graft_shards_heal")
    ShardExport.export(spark, gen1, 8, dst)
    val ref = tmpDir("graft_shards_heal_ref")
    ShardExport.export(spark, p, 8, ref)
    // find a shard whose content changes between generations and plant
    // the crash state: that shard's files already advanced to the new
    // generation while the PUBLISHED manifest is still the old one —
    // exactly what a crash inside the swap phase leaves behind
    def mrows(d: String) = spark.read.parquet(s"$d/_manifest")
      .as[(Int, Long, String, String, String)].collect().map(r => r._1 -> r).toMap
    val changedSid = (0 until 8).find(s =>
      mrows(dst).get(s) != mrows(ref).get(s)).get
    val dstShard = new java.io.File(dst, s"shard_id=$changedSid")
    dstShard.listFiles().foreach(_.delete())
    new java.io.File(ref, s"shard_id=$changedSid").listFiles()
      .filter(_.isFile).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dstShard, f.getName).toPath)
      }
    // the tear is visible: the advanced shard fails the manifest reconcile
    ShardExport.verify(spark, dst)
      .filter(!$"consistent").select($"shard_id").as[Int]
      .collect().toSet should contain(changedSid)
    // healing = re-running with the same inputs: the old manifest is
    // still published, so the diff re-selects every touched shard
    // (including the one that already advanced — determinism re-produces
    // its bytes) and the final state equals a clean full export
    ShardExport.exportIncremental(spark, p, 8, dst)
    ShardExport.verify(spark, dst).filter(!$"consistent").count() shouldBe 0L
    mrows(dst) shouldBe mrows(ref)
    (0 until 8).foreach { sid =>
      java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(
          dataFileOf(new java.io.File(dst, s"shard_id=$sid")).toPath),
        java.nio.file.Files.readAllBytes(
          dataFileOf(new java.io.File(ref, s"shard_id=$sid")).toPath)
      ) shouldBe true
    }
    // staged rewrites cleaned up after themselves
    new java.io.File(dst).listFiles()
      .count(_.getName.startsWith(".incr-stage")) shouldBe 0
  }

  test("fsck audits shard sets: membership plus torn-shard reconcile") {
    import graft.ext.{StoreMaintenance, StoreRef}
    val p = packed
    val dst = tmpDir("graft_shards_fsck")
    ShardExport.export(spark, p, 4, dst)
    val base = p.select($"doc_id").distinct()
    val ok = StoreMaintenance.fsck(spark, base, "doc_id",
      Seq(StoreRef("sh", "shards", dst))).head()
    ok.getAs[Long]("missing_ids") shouldBe 0L
    ok.getAs[Long]("orphan_ids") shouldBe 0L
    ok.getAs[Long]("torn_shards") shouldBe 0L
    ok.getAs[Boolean]("consistent") shouldBe true
    // plant a torn shard (drop all but one row and rewrite): membership
    // now ALSO drifts, but the torn count is the loader-grade signal
    val s0 = new java.io.File(dst, "shard_id=0").getAbsolutePath
    val torn = spark.read.parquet(s0).limit(1).localCheckpoint(eager = true)
    torn.write.mode("overwrite").parquet(s0)
    val bad = StoreMaintenance.fsck(spark, base, "doc_id",
      Seq(StoreRef("sh", "shards", dst))).head()
    bad.getAs[Long]("torn_shards") shouldBe 1L
    bad.getAs[Boolean]("consistent") shouldBe false
    // a non-shard store still reports torn_shards = 0 (schema-stable)
    ok.schema.fieldNames should contain("torn_shards")
  }

  test("empty and degenerate inputs fail or pass loudly") {
    intercept[IllegalArgumentException] {
      ShardExport.assign(packed, 0)
    }
    // incremental under a DIFFERENT shard count refuses: the count is
    // the hash-assignment layout, and a mismatched diff would re-key
    // every sequence while claiming a small delta
    val dg = tmpDir("graft_shards_guard")
    ShardExport.export(spark, packed, 8, dg)
    intercept[IllegalArgumentException] {
      ShardExport.exportIncremental(spark, packed, 4, dg)
    }
    // and with no prior export at all it refuses before touching disk
    intercept[IllegalArgumentException] {
      ShardExport.exportIncremental(spark, packed, 8, tmpDir("graft_shards_none"))
    }
    // single shard still works and carries the whole table
    val dst = tmpDir("graft_shards4")
    val m = ShardExport.export(spark, packed, 1, dst).collect()
    m.length shouldBe 1
    m.head.getLong(1) shouldBe packed.count()
  }
}
