package graft.ext

import java.io.File

import graft.SparkSpec
import graft.functions.Cols.qcol
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
  *
  * Every layout also writes exactly what its former hand-written build
  * and append bodies wrote — kept below as spec-local references — table
  * by table, and a streamed IVF×PQ append writes what the batch append
  * of the same rows writes.
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
    val d = graft.SparkSpec.tempDir(name).toFile
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

  // ------------------------------------------- build + append references
  // The per-layout build and append bodies as they were written before
  // every layout shared one encoder and one row writer; each must agree
  // with the shared path table by table.
  private val (m, ksub, nlist) = (4, 8, 4)

  private def writeBounds(dir: String, b: Similarity.SqBounds): Unit =
    b.vmin.indices.map(i => (i, b.vmin(i), b.vmax(i))).toDF("__pos", "vmin", "vmax")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds")

  private def rotate(rows: DataFrame, r: Array[Array[Double]]): DataFrame =
    rows.select(qcol("vec_id").as("__rid"),
      Similarity.rotateExpr(qcol("embedding"), r).as("__rvec"))

  private def refRotatedRoot(c: DataFrame, dir: String, layout: String,
      r: Array[Array[Double]]): DataFrame = {
    AnnIndex.writeMeta(spark, dir, m = 0, sub = 0, nlist = -1, layout = layout)
    r.indices.map(i => (i, r(i).toSeq)).toDF("__i", "__row")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
    rotate(c, r)
  }

  private def refBuildPq(c: DataFrame, id: String, vec: String, dir: String): Unit = {
    val model = Similarity.pqModel(c, id, vec, m, ksub, 1)
    AnnIndex.writeMeta(spark, dir, model.m, model.sub, nlist = -1)
    model.centroids.write.mode("overwrite").parquet(s"$dir/codebooks")
    model.codes.withColumn("__seq", lit(0L))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  private def refAppendPq(dir: String, rows: DataFrame, id: String, vec: String): Unit = {
    val model = AnnIndex.readPq(spark, dir)
    val seq = AnnIndex.nextSeq(spark, dir)
    Similarity.pqEncode(rows, id, vec, model.centroids, model.m, model.sub)
      .withColumn("__seq", lit(seq))
      .write.mode("append").parquet(s"$dir/codes")
  }

  private def refBuildIvfPq(c: DataFrame, id: String, vec: String, dir: String,
      keepVectors: Boolean, byResidual: Boolean): Unit = {
    val coarse = Similarity.trainCentroids(c, id, vec, nlist, 1)
    val assigned = Similarity.assign(c, (id, vec), coarse)
    if (byResidual) {
      val (codebooks, codes, sub) = Similarity.pqResidualModel(assigned,
        id, vec, coarse, m, ksub, 1, 0)
      AnnIndex.writeMeta(spark, dir, m, sub, nlist, residual = true)
      coarse.write.mode("overwrite").parquet(s"$dir/coarse")
      codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
      codes.withColumn("__seq", lit(0L))
        .write.partitionBy("__cluster").mode("overwrite").parquet(s"$dir/codes")
    } else {
      val clusterOf = assigned.select(qcol(id).cast("long").as("__id"), col("__cluster"))
      val model = Similarity.pqModel(c, id, vec, m, ksub, 1)
      AnnIndex.writeMeta(spark, dir, model.m, model.sub, nlist)
      coarse.write.mode("overwrite").parquet(s"$dir/coarse")
      model.centroids.write.mode("overwrite").parquet(s"$dir/codebooks")
      model.codes.join(clusterOf, Seq("__id")).withColumn("__seq", lit(0L))
        .write.partitionBy("__cluster").mode("overwrite").parquet(s"$dir/codes")
    }
    if (keepVectors)
      assigned.select(qcol(id).cast("long").as("__id"), qcol(vec).as("__vec"),
          lit(0L).as("__seq"), col("__cluster"))
        .write.partitionBy("__cluster").mode("overwrite").parquet(s"$dir/vectors")
  }

  private def refAppendIvfPq(dir: String, rows: DataFrame, id: String, vec: String): Unit = {
    val index = AnnIndex.readIvfPq(spark, dir)
    val seq = AnnIndex.nextSeq(spark, dir)
    val assigned = Similarity.assign(rows, (id, vec), index.coarse)
    val codes = (if (index.residual)
        Similarity.pqResidualEncode(assigned, id, vec, index.coarse,
          index.codebooks, index.m, index.sub)
      else
        Similarity.pqEncode(rows, id, vec, index.codebooks, index.m, index.sub)
          .join(assigned.select(qcol(id).cast("long").as("__id"), col("__cluster")),
            Seq("__id"))).withColumn("__seq", lit(seq))
    codes.write.mode("append").partitionBy("__cluster").parquet(s"$dir/codes")
    if (new File(s"$dir/vectors").exists())
      assigned.select(qcol(id).cast("long").as("__id"), qcol(vec).as("__vec"),
          lit(seq).as("__seq"), col("__cluster"))
        .write.mode("append").partitionBy("__cluster").parquet(s"$dir/vectors")
  }

  /** (layout, shared-path build, reference build, reference append). */
  private val references: Seq[(String, (DataFrame, String) => Unit,
      (DataFrame, String) => Unit, (String, DataFrame) => Unit)] = Seq(
    ("pq",
      (c, d) => AnnIndex.buildPq(c, "vec_id", "embedding", d, m, ksub, iters = 1),
      (c, d) => refBuildPq(c, "vec_id", "embedding", d),
      (d, r) => refAppendPq(d, r, "vec_id", "embedding")),
    ("ivf",
      (c, d) => AnnIndex.buildIvf(c, "vec_id", "embedding", d, nlist, iters = 1),
      (c, d) => {
        val coarse = Similarity.trainCentroids(c, "vec_id", "embedding", nlist, 1)
        AnnIndex.writeMeta(spark, d, m = 0, sub = 0, nlist)
        coarse.write.mode("overwrite").parquet(s"$d/coarse")
        Similarity.assign(c, ("vec_id", "embedding"), coarse)
          .select(col("vec_id").cast("long").as("__id"), col("embedding").as("__vec"),
            lit(0L).as("__seq"), col("__cluster"))
          .write.partitionBy("__cluster").mode("overwrite").parquet(s"$d/vectors")
      },
      (d, r) => {
        val index = AnnIndex.readIvf(spark, d)
        val seq = AnnIndex.nextSeq(spark, d)
        Similarity.assign(r, ("vec_id", "embedding"), index.coarse)
          .select(col("vec_id").cast("long").as("__id"), col("embedding").as("__vec"),
            lit(seq).as("__seq"), col("__cluster"))
          .write.mode("append").partitionBy("__cluster").parquet(index.vectorsPath)
      }),
    ("ivfpq",
      (c, d) => AnnIndex.buildIvfPq(c, "vec_id", "embedding", d, nlist, m, ksub, iters = 1),
      (c, d) => refBuildIvfPq(c, "vec_id", "embedding", d, false, false),
      (d, r) => refAppendIvfPq(d, r, "vec_id", "embedding")),
    ("ivfpq keepVectors",
      (c, d) => AnnIndex.buildIvfPq(c, "vec_id", "embedding", d, nlist, m, ksub,
        iters = 1, keepVectors = true),
      (c, d) => refBuildIvfPq(c, "vec_id", "embedding", d, true, false),
      (d, r) => refAppendIvfPq(d, r, "vec_id", "embedding")),
    ("ivfpq byResidual keepVectors",
      (c, d) => AnnIndex.buildIvfPq(c, "vec_id", "embedding", d, nlist, m, ksub,
        iters = 1, keepVectors = true, byResidual = true),
      (c, d) => refBuildIvfPq(c, "vec_id", "embedding", d, true, true),
      (d, r) => refAppendIvfPq(d, r, "vec_id", "embedding")),
    ("sq",
      (c, d) => AnnIndex.buildSq(c, "vec_id", "embedding", d),
      (c, d) => {
        AnnIndex.writeMeta(spark, d, m = 0, sub = 0, nlist = -1, layout = "sq")
        val b = Similarity.sqTrainBounds(c, "embedding")
        writeBounds(d, b)
        Similarity.sqEncode(c, "vec_id", "embedding", b).withColumn("__seq", lit(0L))
          .write.mode("overwrite").parquet(s"$d/codes")
      },
      (d, r) => {
        val b = AnnIndex.readSq(spark, d).bounds
        val seq = AnnIndex.nextSeq(spark, d)
        Similarity.sqEncode(r, "vec_id", "embedding", b).withColumn("__seq", lit(seq))
          .write.mode("append").parquet(s"$d/codes")
      }),
    ("ivfsq",
      (c, d) => AnnIndex.buildIvfSq(c, "vec_id", "embedding", d, nlist, iters = 1),
      (c, d) => {
        AnnIndex.writeMeta(spark, d, m = 0, sub = 0, nlist = nlist, layout = "ivfsq")
        val coarse = Similarity.trainCentroids(c, "vec_id", "embedding", nlist, 1)
        coarse.write.mode("overwrite").parquet(s"$d/coarse")
        val b = Similarity.sqTrainBounds(c, "embedding")
        writeBounds(d, b)
        val assigned = Similarity.assign(c, ("vec_id", "embedding"), coarse)
          .select(col("vec_id").cast("long").as("__id"), col("__cluster"))
        Similarity.sqEncode(c, "vec_id", "embedding", b).join(assigned, Seq("__id"))
          .withColumn("__seq", lit(0L))
          .write.mode("overwrite").partitionBy("__cluster").parquet(s"$d/codes")
      },
      (d, r) => {
        val index = AnnIndex.readIvfSq(spark, d)
        val seq = AnnIndex.nextSeq(spark, d)
        val assigned = Similarity.assign(r, ("vec_id", "embedding"), index.coarse)
          .select(col("vec_id").cast("long").as("__id"), col("__cluster"))
        Similarity.sqEncode(r, "vec_id", "embedding", index.bounds)
          .join(assigned, Seq("__id")).withColumn("__seq", lit(seq))
          .write.mode("append").partitionBy("__cluster").parquet(s"$d/codes")
      }),
    ("bq",
      (c, d) => AnnIndex.buildBq(c, "vec_id", "embedding", d, dim),
      (c, d) => {
        AnnIndex.writeMeta(spark, d, m = 0, sub = 0, nlist = -1, layout = "bq")
        graft.util.Hfs.writeString(spark, s"$d/_dim", dim.toString)
        c.select(col("vec_id").cast("long").as("__id"),
            Similarity.signSketch(col("embedding"), dim).as("__sig"),
            col("embedding").as("__vec"), lit(0L).as("__seq"))
          .write.mode("overwrite").parquet(s"$d/codes")
      },
      (d, r) => {
        val bqDim = AnnIndex.readBq(spark, d).dim
        val seq = AnnIndex.nextSeq(spark, d)
        r.select(col("vec_id").cast("long").as("__id"),
            Similarity.signSketch(col("embedding"), bqDim).as("__sig"),
            col("embedding").as("__vec"), lit(seq).as("__seq"))
          .write.mode("append").parquet(s"$d/codes")
      }),
    ("pcapq",
      (c, d) => AnnIndex.buildPcaPq(c, "vec_id", "embedding", d, dim, m, ksub, iters = 1),
      (c, d) => refBuildPq(refRotatedRoot(c, d, "pcapq",
          Similarity.pcaRotation(c, "vec_id", "embedding", dim, maxTrainRows = 4096)),
        "__rid", "__rvec", s"$d/pq"),
      (d, r) => refAppendPq(s"$d/pq", rotate(r, AnnIndex.readRotated(spark, d).rotation),
        "__rid", "__rvec")),
    ("opq",
      (c, d) => AnnIndex.buildOpq(c, "vec_id", "embedding", d, dim, m, ksub,
        iters = 1, opqIters = 1),
      (c, d) => refBuildPq(refRotatedRoot(c, d, "opq",
          Similarity.opqRotation(c, "vec_id", "embedding", dim, m, ksub, 1,
            maxTrainRows = 1024)), "__rid", "__rvec", s"$d/pq"),
      (d, r) => refAppendPq(s"$d/pq", rotate(r, AnnIndex.readRotated(spark, d).rotation),
        "__rid", "__rvec")),
    ("opqivfpq",
      (c, d) => AnnIndex.buildOpqIvfPq(c, "vec_id", "embedding", d, dim, nlist, m,
        ksub, iters = 1, opqIters = 1),
      (c, d) => refBuildIvfPq(refRotatedRoot(c, d, "opqivfpq",
          Similarity.opqRotation(c, "vec_id", "embedding", dim, m, ksub, 1,
            maxTrainRows = 1024)), "__rid", "__rvec", s"$d/ivfpq", false, false),
      (d, r) => refAppendIvfPq(s"$d/ivfpq",
        rotate(r, AnnIndex.readRotated(spark, d).rotation), "__rid", "__rvec")))

  /** Every table under `dir` (a directory holding a `_SUCCESS` marker),
    * relative to `dir`, plus every other file that is not part of one —
    * the sidecars.
    */
  private def tablesAndSidecars(dir: String): (Seq[String], Seq[String]) = {
    val root = new File(dir).toPath
    val files = java.nio.file.Files.walk(root).iterator()
    var tables = Seq.empty[String]
    var all = Seq.empty[java.nio.file.Path]
    while (files.hasNext) {
      val p = files.next()
      if (p.toFile.isFile) all :+= p
      if (p.getFileName.toString == "_SUCCESS") tables :+= root.relativize(p.getParent).toString
    }
    val sidecars = all.map(root.relativize).filterNot(f =>
      tables.exists(t => f.startsWith(t)) || f.getFileName.toString.endsWith(".crc"))
    (tables.sorted, sidecars.map(_.toString).sorted)
  }

  /** Table-by-table equality of two index dirs: the same tables and
    * sidecars, each table with the same schema, the same rows (`__seq`
    * and the `__cluster` partition column included) and the same
    * `__cluster` directories, each sidecar with the same content.
    */
  private def assertSameTables(got: String, want: String, clue: String): Unit = {
    val (gotTables, gotSidecars) = tablesAndSidecars(got)
    val (wantTables, wantSidecars) = tablesAndSidecars(want)
    withClue(s"$clue: ") {
      gotTables shouldBe wantTables
      gotSidecars shouldBe wantSidecars
      gotSidecars.foreach { f =>
        withClue(s"$f: ") {
          graft.util.Hfs.readString(spark, s"$got/$f") shouldBe
            graft.util.Hfs.readString(spark, s"$want/$f")
        }
      }
      gotTables.foreach { t =>
        withClue(s"$t: ") {
          val (g, w) = (spark.read.parquet(s"$got/$t"), spark.read.parquet(s"$want/$t"))
          g.schema shouldBe w.schema
          g.collect().map(_.toString).sorted shouldBe w.collect().map(_.toString).sorted
          def clusters(d: String) = new File(d).list().filter(_.startsWith("__cluster=")).sorted.toSeq
          clusters(s"$got/$t") shouldBe clusters(s"$want/$t")
        }
      }
    }
  }

  for ((name, build, refBuild, refAppend) <- references)
    test(s"$name: build and append write what the per-layout reference bodies wrote") {
      val (dir, ref) = (tmpDir("graft_annenc"), tmpDir("graft_annenc_ref"))
      build(ids(0, 24), dir)
      refBuild(ids(0, 24), ref)
      assertSameTables(dir, ref, s"$name after build")
      // a delete first, so the append lands at a non-zero seq
      Seq(dir, ref).foreach(d =>
        AnnIndex.deleteIds(spark, d, corpus.filter($"vec_id" === 3), "vec_id"))
      AnnIndex.append(spark, dir, ids(24, 32), "vec_id", "embedding")
      refAppend(ref, ids(24, 32))
      assertSameTables(dir, ref, s"$name after append")
    }

  test("a streamed IVF×PQ append writes what the batch append of the same rows writes") {
    val (streamed, batch) = (tmpDir("graft_annenc_stream"), tmpDir("graft_annenc_batch"))
    Seq(streamed, batch).foreach { d =>
      AnnIndex.buildIvfPq(ids(0, 24), "vec_id", "embedding", d, nlist, m, ksub,
        iters = 1, keepVectors = true, byResidual = true)
      AnnIndex.deleteIds(spark, d, corpus.filter($"vec_id" === 3), "vec_id")
    }
    val spool = tmpDir("graft_annenc_spool")
    ids(24, 32).coalesce(1).write.parquet(spool)
    graft.streaming.DocStreams.runIvfPqAppendOnce(spark, spool, streamed,
      tmpDir("graft_annenc_ckpt"))
    AnnIndex.append(spark, batch, ids(24, 32), "vec_id", "embedding")
    // the stream's own bookkeeping (batch marker, checkpoint pairing) is
    // not part of the index
    Seq("_batch_0", "_stream_checkpoint").foreach(f =>
      new File(s"$streamed/$f").delete() shouldBe true)
    assertSameTables(streamed, batch, "streamed vs batch")
  }
}
