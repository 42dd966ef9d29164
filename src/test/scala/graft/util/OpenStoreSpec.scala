package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{AnnIndex, GraphAnn}

/** [[TinyParquet.openStore]] must open EXACTLY what `spark.read.parquet`
  * opens — same schema (column order and nullability included), same
  * rows, same exception on a missing path — for every store shape the
  * engine reads, while running no schema-inference job.
  */
class OpenStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = graft.SparkSpec.tempDir(name).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def corpus(ids: Range) = ids.map { i =>
    (i.toLong, Array.tabulate(4)(j => 0.1f * ((i * 3 + j) % 7) + 0.1f))
  }.toDF("vec_id", "embedding")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameOpen(path: String): Unit = withClue(path + ": ") {
    TinyParquet.footerSchema(spark, path) should not be empty
    val plain = spark.read.parquet(path)
    val opened = TinyParquet.openStore(spark, path)
    opened.schema shouldBe plain.schema
    rowsOf(opened) shouldBe rowsOf(plain)
  }

  test("cluster-partitioned vectors/ and codes/ open identically, appends included") {
    val ivf = tmpDir("openstore_ivf")
    AnnIndex.buildIvf(corpus(0 until 60), "vec_id", "embedding", ivf, nlist = 4, iters = 1)
    AnnIndex.appendIvf(spark, ivf, corpus(60 until 70), "vec_id", "embedding")
    assertSameOpen(s"$ivf/vectors")
    val ivfpq = tmpDir("openstore_ivfpq")
    AnnIndex.buildIvfPq(corpus(0 until 60), "vec_id", "embedding", ivfpq,
      nlist = 4, m = 2, ksub = 4, iters = 1)
    AnnIndex.appendIvfPq(spark, ivfpq, corpus(60 until 70), "vec_id", "embedding")
    assertSameOpen(s"$ivfpq/codes")
    // the partition column is still inferred from the directory names
    TinyParquet.openStore(spark, s"$ivfpq/codes").columns should contain("__cluster")
  }

  test("graph delta/ and a schema-only tombstone dir open identically") {
    val g = tmpDir("openstore_graph")
    GraphAnn.build(corpus(0 until 30), "vec_id", "embedding", g, degree = 4)
    GraphAnn.append(spark, g, corpus(30 until 33), "vec_id", "embedding")
    GraphAnn.append(spark, g, corpus(33 until 36), "vec_id", "embedding")
    assertSameOpen(s"$g/delta")
    assertSameOpen(s"$g/vectors")
    assertSameOpen(s"$g/adjacency")
    // an empty delete still writes the tombstone table: schema, no rows
    AnnIndex.deleteIds(spark, g, Seq.empty[Long].toDF("vec_id"), "vec_id")
    spark.read.parquet(s"$g/tombstones").count() shouldBe 0L
    assertSameOpen(s"$g/tombstones")
  }

  test("a store that predates __seq opens with the schema of the first file by path") {
    // one legacy file without __seq, one appended file with it: Spark
    // infers from whichever sorts first, so both orders are pinned
    for (legacyFirst <- Seq(true, false)) {
      val dir = tmpDir("openstore_legacy")
      corpus(0 until 5).select($"vec_id".as("__id"), $"embedding".as("__vec"))
        .coalesce(1).write.parquet(dir)
      corpus(5 until 9).select($"vec_id".as("__id"), $"embedding".as("__vec"),
          lit(3L).as("__seq"))
        .coalesce(1).write.mode("append").parquet(dir)
      val parts = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      val (legacy, seqd) = parts.partition { p =>
        !spark.read.parquet(p.toString).columns.contains("__seq")
      }
      def rename(p: Path, name: String) = Files.move(p, p.resolveSibling(name))
      rename(legacy.head, if (legacyFirst) "part-a.parquet" else "part-b.parquet")
      rename(seqd.head, if (legacyFirst) "part-b.parquet" else "part-a.parquet")
      assertSameOpen(dir)
      TinyParquet.openStore(spark, dir).columns.contains("__seq") shouldBe !legacyFirst
    }
  }

  test("a missing path raises the plain read's exception class") {
    val missing = tmpDir("openstore_missing") + "/nothing"
    TinyParquet.footerSchema(spark, missing) shouldBe None
    val plain = intercept[Exception](spark.read.parquet(missing))
    val opened = intercept[Exception](TinyParquet.openStore(spark, missing))
    opened.getClass shouldBe plain.getClass
  }

  test("an empty directory, a glob and mergeSchema fall back to the plain read") {
    val empty = tmpDir("openstore_empty")
    Files.createDirectories(Paths.get(empty))
    TinyParquet.footerSchema(spark, empty) shouldBe None
    val dir = tmpDir("openstore_glob")
    corpus(0 until 3).write.parquet(dir)
    TinyParquet.footerSchema(spark, s"$dir/*.parquet") shouldBe None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try TinyParquet.footerSchema(spark, dir) shouldBe None
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    TinyParquet.footerSchema(spark, dir) should not be empty
  }

  /** Stage names of every job `body` starts, in start order. */
  private def jobsDuring(body: => Unit): Seq[Seq[String]] = {
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.map(_.name))
    }
    org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  private val queries = corpus(0 until 4)

  test("opening an IVF index and building ivfTopK fires no schema job") {
    val ivf = tmpDir("openstore_jobs_ivf")
    AnnIndex.buildIvf(corpus(0 until 60), "vec_id", "embedding", ivf, nlist = 4, iters = 1)
    AnnIndex.deleteIds(spark, ivf, Seq(5L).toDF("vec_id"), "vec_id")
    val jobs = jobsDuring {
      AnnIndex.ivfTopK(spark, AnnIndex.readIvf(spark, ivf), queries,
        "vec_id", "embedding", k = 3, nprobe = 2)
    }
    // schema inference is a `parquet at …` job, as the plain read shows
    jobsDuring(spark.read.parquet(s"$ivf/vectors")).flatten
      .exists(_.startsWith("parquet at")) shouldBe true
    jobs.flatten.filter(_.startsWith("parquet at")) shouldBe empty
  }

  test("GraphAnn.topK fires at most hops + 1 jobs before the caller's action") {
    val g = tmpDir("openstore_jobs_graph")
    GraphAnn.build(corpus(0 until 40), "vec_id", "embedding", g, degree = 4)
    GraphAnn.append(spark, g, corpus(40 until 44), "vec_id", "embedding")
    AnnIndex.deleteIds(spark, g, Seq(7L).toDF("vec_id"), "vec_id")
    for (hops <- Seq(1, 3)) {
      var out: DataFrame = null
      val jobs = jobsDuring {
        out = GraphAnn.topK(spark, g, queries, "vec_id", "embedding", k = 3,
          beamWidth = 4, hops = hops)
      }
      withClue(jobs.mkString("\n")) { jobs.size should be <= hops + 1 }
      out.count() shouldBe 12L
    }
  }
}
