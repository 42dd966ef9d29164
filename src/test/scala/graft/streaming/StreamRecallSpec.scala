package graft.streaming

import graft.SparkSpec
import graft.ext.AnnIndex
import org.apache.spark.sql.functions._

/** Streaming recall monitor: one log row per batch inside the batch's
  * exactly-once transaction, measured against the index's own live
  * vectors, converging under crash-replay.
  */
class StreamRecallSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Seq[Long], seed: Int) = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def stageSpool(slices: Seq[Seq[Long]], all: Map[Long, Array[Float]]): String = {
    val spool = graft.SparkSpec.tempDir("graft_rec_spool").toString
    slices.zipWithIndex.foreach { case (ids, i) =>
      val stage = s"$spool/.s$i"
      ids.map(id => (id, all(id))).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val target = new java.io.File(spool, f"spool_$i%03d.parquet")
      java.nio.file.Files.move(part.head.toPath, target.toPath)
      target.setLastModified(1600000000000L + i * 60000L)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    }
    spool
  }

  test("recall log: one row per batch, final row equals a direct measurement, crash-replay converges") {
    val base = vecs(0L until 24L, 31)
    val all = base.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val idx = graft.SparkSpec.tempDir("graft_rec_idx").toString + "/i"
    AnnIndex.buildIvfPq(base.filter($"vec_id" < 12), "vec_id", "embedding",
      idx, nlist = 2, m = 4, ksub = 8, iters = 1, keepVectors = true)
    val spool = stageSpool(Seq((12L until 18L), (18L until 24L)), all)
    val ckpt = graft.SparkSpec.tempDir("graft_rec_ckpt").toString + "/c"
    val probes = base.filter($"vec_id" < 4).localCheckpoint(true)
    def run(): Unit = DocStreams.runIvfPqAppendWithRecallOnce(spark, spool,
      idx, ckpt, probes, k = 3, nprobe = 1)
    run()
    def log() = spark.read.parquet(s"$idx/recall_log")
      .select($"batch_id", $"hits", $"possible", $"recall_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val clean = log()
    clean.map(_._1) shouldBe Seq(0L, 1L)
    // the final row is exactly what a direct measurement reads now
    val (h, p) = AnnIndex.ivfPqRecallCounters(spark, idx, probes,
      "vec_id", "embedding", k = 3, nprobe = 1)
    clean.last shouldBe ((1L, h, p, math.floor(h.toDouble / p * 1e6).toLong))

    def rollbackCommit1(): Unit = Seq(s"$ckpt/commits/1", s"$ckpt/commits/.1.crc")
      .foreach(x => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(x)))

    // crash BETWEEN the data publish and the log row: marker missing,
    // log row of batch 1 missing — the replay re-publishes (idempotent
    // sweep) and lands the log row exactly once
    rollbackCommit1()
    graft.util.Hfs.delete(spark, s"$idx/_batch_1")
    val rb1 = new java.io.File(s"$idx/recall_log").listFiles()
      .filter(_.getName.startsWith("rb1-"))
    rb1 should not be empty
    rb1.foreach(f => java.nio.file.Files.delete(f.toPath))
    run()
    log() shouldBe clean

    // crash AFTER the marker: redelivery of a marked batch is a no-op —
    // no duplicate log rows
    rollbackCommit1()
    run()
    log() shouldBe clean
  }
}
