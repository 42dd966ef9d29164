package graft.ext

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The compaction policy [[AnnIndex.compactIfNeeded]] measures a store
  * once per check: tombstone debt and a graph store's fresh-region
  * (delta) share come from one counter frame. Its decisions equal the
  * earlier policy's, which counted the delta and then the whole store
  * twice (once per debt), on graph stores with and without a delta and
  * tombstones and on a flat PQ store.
  */
class AnnCompactPolicySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  // 24 4-dim vectors in two loose clusters
  private def corpus = (0 until 24).map { i =>
    val b = if (i % 2 == 0) Array(1f, 0f, 0f, 0.1f) else Array(0f, 1f, 0.1f, 0f)
    (i.toLong, b.zipWithIndex.map { case (x, j) => x + 0.01f * ((i * 7 + j) % 5) })
  }.toDF("vec_id", "embedding")

  private def ids(xs: Long*) = xs.toDF("vec_id")

  // name -> (is graph, builder): every store the decisions are compared on
  private lazy val stores: Seq[(String, Boolean, String => Unit)] = Seq(
    ("graph+delta", true, (d: String) => {
      GraphAnn.build(corpus.filter($"vec_id" < 18), "vec_id", "embedding", d, degree = 4)
      GraphAnn.append(spark, d, corpus.filter($"vec_id" >= 18), "vec_id", "embedding")
    }),
    ("graph+delta+tombstones", true, (d: String) => {
      GraphAnn.build(corpus.filter($"vec_id" < 20), "vec_id", "embedding", d, degree = 4)
      GraphAnn.append(spark, d, corpus.filter($"vec_id" >= 20), "vec_id", "embedding")
      AnnIndex.deleteIds(spark, d, ids(1, 3, 5, 21), "vec_id")
    }),
    ("graph", true, (d: String) =>
      GraphAnn.build(corpus, "vec_id", "embedding", d, degree = 4)),
    ("pq+tombstones", false, (d: String) => {
      AnnIndex.buildPq(corpus, "vec_id", "embedding", d, m = 2, ksub = 4, iters = 1)
      AnnIndex.deleteIds(spark, d, ids(0, 2, 4, 6, 8), "vec_id")
    }))

  private lazy val built: Map[String, String] = stores.map { case (name, _, build) =>
    val d = tmpDir("graft_policy")
    build(d)
    name -> d
  }.toMap

  /** The earlier policy, spelled out: the delta's row count over the
    * store total, and the tombstone debt, each measured on its own (it
    * ran three counting actions on a graph store with a delta: the delta
    * count, then the store once per debt; this spelling reads the total
    * through the health report, one more).
    */
  private def referenceDecision(dir: String, isGraph: Boolean, threshold: Double): Boolean = {
    val deltaDebt =
      if (isGraph && new java.io.File(s"$dir/delta").isDirectory) {
        val d = graft.util.TinyParquet.openStore(spark, s"$dir/delta").count()
        val total = AnnIndex.healthReport(spark, Seq("s" -> dir)).head()
          .getAs[Long]("total_rows")
        if (total == 0L) 0.0 else d.toDouble / total
      } else 0.0
    !(AnnIndex.tombstoneDebt(spark, dir) < threshold && deltaDebt < threshold)
  }

  private def copyOf(dir: String): String = {
    val d = tmpDir("graft_policy_copy")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(d))
    d
  }

  /** The SQL execution id of every Spark job `body` starts. One id is
    * one blocking action (a `count`, a `head`); adaptive execution runs
    * each of its query stages as a further job under the same id.
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        ids.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).getOrElse(s"job-${e.jobId}"))
        ()
      }
    }
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    ids.asScala.toSeq
  }

  test("decisions equal the earlier policy's on every store and threshold") {
    for {
      (name, isGraph, _) <- stores
      threshold <- Seq(0.05, 0.15, 0.2, 0.25, 0.5, 1.0)
    } {
      // a true decision compacts, so each check runs on its own copy
      val d = copyOf(built(name))
      val expected = referenceDecision(d, isGraph, threshold)
      withClue(s"$name at $threshold: ") {
        AnnIndex.compactIfNeeded(spark, d, threshold) shouldBe expected
      }
    }
    // the stores exercise both outcomes on both debt axes
    referenceDecision(built("graph+delta"), isGraph = true, 0.2) shouldBe true
    referenceDecision(built("graph+delta"), isGraph = true, 0.5) shouldBe false
    referenceDecision(built("pq+tombstones"), isGraph = false, 0.15) shouldBe true
    referenceDecision(built("graph"), isGraph = true, 0.05) shouldBe false
  }

  test("a graph store with a delta is counted by at most two actions per check") {
    Seq("graph+delta", "graph+delta+tombstones").foreach { name =>
      val d = built(name)
      AnnIndex.compactIfNeeded(spark, d, 1.0) shouldBe false // warm the reads
      val jobs = jobsDuring { AnnIndex.compactIfNeeded(spark, d, 1.0) shouldBe false }
      val ref = jobsDuring { referenceDecision(d, isGraph = true, 1.0) shouldBe false }
      withClue(s"$name: change ${jobs.size} jobs in ${jobs.distinct.size} actions, " +
          s"reference ${ref.size} jobs in ${ref.distinct.size} actions: ") {
        jobs.distinct.size should be <= 2
        jobs.distinct.size should be < ref.distinct.size
        jobs.size should be < ref.size
      }
    }
  }
}
