package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cols.qcol
import graft.ext.Similarity.{PqModel, pqLut, probeClusters, topKPerQuery}

/** Persisted ANN indexes — the production shape of the quantized and
  * clustered search operators: build ONCE (train quantizers on a bounded
  * sample, encode the full corpus in a single pass, lay the rows out on
  * disk), then query many times against the stored tables. Layouts, by
  * the `layout` value in `meta`:
  *
  *   - `pq`, `sq`, `bq`: flat codes (product, 8-bit scalar, 1-bit sign
  *     sketch + exact vectors); a query scans the codes once.
  *   - `ivf`, `ivfpq`, `ivfsq`: coarse centroids plus rows PARTITIONED BY
  *     coarse cluster, so the per-query nprobe filter is parquet PARTITION
  *     PRUNING — only nprobe-ish of nlist directories are read, and the
  *     one cluster attach happens at BUILD time, never per query.
  *   - `pcapq`, `opq`, `opqivfpq`: a stored rotation in front of a plain
  *     `pq` (nested at `pq/`) or `ivfpq` (nested at `ivfpq/`) index that
  *     holds the rows AND the tombstones; the root holds meta + rotation.
  *   - `graph`: [[GraphAnn]]'s navigable-graph store.
  *
  * Directory layout under `dir` (each layout writes the subset it uses):
  * {{{
  *   meta/       one row: m, sub, nlist (-1 = flat), residual, layout
  *   codebooks/  (__j, __cid, centroid)        — PQ-coded layouts
  *   coarse/     (__cid, centroid)             — the ivf* layouts
  *   bounds/     (__pos, vmin, vmax)           — the SQ layouts
  *   rotation/   (__i, __row)                  — rotated layouts' root
  *   _dim        sketch width sidecar          — bq
  *   codes/      (__id, …codes…, __seq[, __cluster=K/])
  *   vectors/    (__id, __vec, __seq, __cluster=K/) — ivf; also ivfpq
  *               built with `keepVectors` (refine re-rank)
  *   pq/, ivfpq/ the nested index of a rotated layout
  *   tombstones/ (__id, __seq)                 — delete/update log
  *   _next_seq   next maintenance sequence number ([[nextSeq]])
  * }}}
  *
  * Every layout's rows are encoded in ONE place, its encoder in the
  * private layout table: the encoder turns a frozen model (coarse
  * centroids, codebooks, SQ bounds or `_dim`) and new rows into the
  * layout's row-table frames, and one row writer stamps `__seq` and
  * writes them with the layout's partitioning. A build trains the model
  * and writes the corpus through them at seq 0, [[append]] reads the
  * model back and writes the new rows at [[nextSeq]], [[compact]]
  * rewrites the live rows through the same writer, and the streamed
  * IVF×PQ append stages the encoder's frames
  * ([[graft.streaming.DocStreams.runIvfPqAppendOnce]]). The IVF family's
  * query paths share one probed scan ([[probe]]).
  *
  * Maintenance model (FAISS `remove_ids`/`add` semantics): every stored
  * row carries the maintenance sequence number `__seq` it was written at
  * (0 for the initial build). [[deleteIds]] appends (id, seq) tombstones;
  * a stored row is LIVE iff it was written AFTER the newest tombstone for
  * its id, so delete → re-append (= [[update]]) supersedes the
  * tombstone instead of being killed by it. Query paths subtract the
  * tombstone table through one broadcast join (the table is
  * delete-volume-sized, not corpus-sized); [[compact]] and [[rebuild]]
  * publish a fresh generation that carries no tombstones. Every
  * maintenance verb is written once, over the private layout table.
  *
  * Concurrency: readers are safe against [[rebuild]]'s two-move swap,
  * but MAINTENANCE ops (append/delete/update) racing a rebuild of the
  * same index can land writes in the generation the swap is about to
  * discard — the caller must serialize maintenance against rebuilds of
  * one index (a lock/lease around the maintenance window); appends and
  * deletes among themselves are append-only and need only the id-
  * uniqueness discipline documented on [[append]].
  */
object AnnIndex {

  // ------------------------------------------------ tombstones / liveness
  private def tombstonesPath(dir: String) = s"$dir/tombstones"

  // existence probes go through the Hadoop FS layer like the reads/writes
  // themselves — a java.io.File check against a non-local index dir
  // (hdfs://, s3a://) would answer "absent" and silently serve deleted rows
  private def readTombstones(spark: SparkSession, dir: String): Option[DataFrame] =
    if (graft.util.Hfs.exists(spark, tombstonesPath(dir)))
      Some(graft.util.TinyParquet.openStore(spark, tombstonesPath(dir)))
    else None

  /** Sequence number the NEXT maintenance write (append or delete) gets:
    * one past the newest tombstone. Appends between deletes may share a
    * number — liveness only compares row seq against TOMBSTONE seq, and
    * a delete always bumps past every row it must kill.
    *
    * Read from the `_next_seq` sidecar when present — one tiny file read
    * per maintenance op instead of a max(__seq) column scan whose cost
    * grows with the tombstone log (a streaming append pays this EVERY
    * micro-batch; same discipline as
    * [[graft.ext.IncrementalComponents]]'s label-store sidecar). A
    * pre-sidecar index pays the scan until its next delete writes the
    * sidecar; compaction/rebuild swaps the whole index dir, so the
    * sidecar resets together with the tombstone log it numbers.
    */
  private[graft] def nextSeq(spark: SparkSession, dir: String): Long = {
    val f = s"$dir/_next_seq"
    if (graft.util.Hfs.exists(spark, f))
      graft.util.Hfs.readString(spark, f).trim.toLong
    else readTombstones(spark, dir)
      // max over ZERO rows is null (an empty ids frame still writes a
      // schema-only tombstones dir) — treat it like no tombstones at all
      .flatMap(t => Option(t.agg(max(col("__seq"))).head().get(0)))
      .map(_.asInstanceOf[Long] + 1L)
      .getOrElse(0L)
  }

  /** Collect a BOUNDED-by-construction frame (probe selections: queries
    * × nprobe rows) and re-attach it as a LOCAL relation: the one
    * returned collect job replaces the old eager-checkpoint + collect
    * pair, and every downstream broadcast of the frame builds from the
    * in-memory rows with no upstream stage to schedule. Values are
    * bit-identical (a driver round trip does not re-derive anything).
    */
  private[ext] def localized(df: DataFrame): (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    (rows, local)
  }

  /** Keep only live rows: a row is dead iff a tombstone for its id exists
    * with tombstone seq >= row seq. One broadcast join against the per-id
    * max of the tombstone table — nothing corpus-sized moves.
    *
    * NOT a newest-generation filter: two un-tombstoned generations of one
    * id (a duplicate bare append) both survive — see the append docs for
    * why that contract lives with the caller instead of a per-query
    * corpus-wide max-seq shuffle here.
    */
  private[ext] def liveOnly(spark: SparkSession, dir: String, rows: DataFrame): DataFrame =
    liveAsOf(spark, dir, rows, None)

  /** [[liveOnly]] with an optional TIME-TRAVEL horizon: `asOf = Some(S)`
    * answers with the index state after every maintenance epoch ≤ S and
    * none after — rows written at `__seq ≤ S`, killed only by tombstones
    * with `__seq ≤ S` (the usual tseq ≥ rowseq rule within the cut).
    *
    * The epoch clock is the tombstone sequence ([[nextSeq]]): every
    * non-empty DELETE advances it; appends land in the current epoch.
    * An UPDATE is therefore two epochs — its tombstone's S shows the id
    * absent (mid-update), S+1 shows the new generation — and a snapshot
    * between the halves of an update is exactly what those two cuts
    * return. Retention: compaction/rebuild collapse history to the
    * current state (seq resets, tombstones drop — the same trade every
    * log-structured store makes; cf. Delta VACUUM vs time travel), so
    * as-of reads answer within the history SINCE the last compaction;
    * horizons at or past the current epoch equal the live view.
    */
  private[ext] def liveAsOf(spark: SparkSession, dir: String, rows: DataFrame,
      asOf: Option[Long]): DataFrame = {
    // legacy rows written before the tombstone layout carry no __seq —
    // treat them as generation 0
    val seq = if (rows.columns.contains("__seq"))
      coalesce(col("__seq"), lit(0L)) else lit(0L)
    val cutRows = asOf match {
      case Some(s0) => rows.filter(seq <= s0)
      case None => rows
    }
    readTombstones(spark, dir)
      .map(t => asOf.map(s0 => t.filter(col("__seq") <= s0)).getOrElse(t)) match {
      case None => cutRows
      case Some(t) =>
        val dead = t.groupBy(col("__id")).agg(max(col("__seq")).as("__tseq"))
        cutRows.join(broadcast(dead), Seq("__id"), "left")
          .filter(col("__tseq").isNull || seq > col("__tseq"))
          .drop("__tseq")
    }
  }

  // ------------------------------------------------------- layout table
  /** The storage decisions one layout makes — everything the build,
    * maintenance verbs ([[append]], [[update]], [[applyDiff]],
    * [[compact]], [[deleteIds]]) and the debt/health counters need to
    * know about it:
    *
    *   - `nested`: the sub-directory that holds a composed layout's row
    *     tables AND tombstones ([[storeDir]]);
    *   - `rows`: the row tables, primary first (the one debt, health and
    *     fsck measure), each with whether it is `__cluster`-partitioned;
    *   - `frozen`: side tables and sidecars [[compact]] carries verbatim
    *     (the [[Frozen]] model);
    *   - `encode`: the layout's one encoder — new rows against a frozen
    *     model, as (row table, frame) pairs in the on-disk column shape
    *     without `__seq` ([[writeRows]] stamps it). Composed and graph
    *     layouts encode through their nested index and [[GraphAnn]].
    */
  private final case class Layout(nested: Option[String] = None,
      rows: Seq[(String, Boolean)] = Nil, frozen: Seq[String] = Nil,
      encode: (Frozen, DataFrame, String, String) => Seq[(String, DataFrame)] =
        (_, _, _, _) => Nil)

  private val layouts: Map[String, Layout] = Map(
    "pq" -> Layout(rows = Seq("codes" -> false), frozen = Seq("codebooks"),
      encode = (f, rows, id, vec) => Seq("codes" -> f.codes.getOrElse(
        Similarity.pqEncode(rows, id, vec, f.codebooks, f.m, f.sub)))),
    "ivf" -> Layout(rows = Seq("vectors" -> true), frozen = Seq("coarse"),
      encode = (f, rows, id, vec) => Seq("vectors" ->
        Similarity.assign(rows, (id, vec), f.coarse).select(
          qcol(id).cast("long").as("__id"), qcol(vec).as("__vec"), col("__cluster")))),
    "ivfpq" -> Layout(rows = Seq("codes" -> true, "vectors" -> true),
      frozen = Seq("coarse", "codebooks"), encode = ivfPqRows),
    "sq" -> Layout(rows = Seq("codes" -> false), frozen = Seq("bounds"),
      encode = (f, rows, id, vec) =>
        Seq("codes" -> Similarity.sqEncode(rows, id, vec, f.bounds.get))),
    "ivfsq" -> Layout(rows = Seq("codes" -> true),
      frozen = Seq("coarse", "bounds"), encode = (f, rows, id, vec) => Seq("codes" ->
        Similarity.sqEncode(rows, id, vec, f.bounds.get).join(clusterOf(f, rows, id, vec),
          Seq("__id")))),
    "bq" -> Layout(rows = Seq("codes" -> false), frozen = Seq("_dim"),
      encode = (f, rows, id, vec) => Seq("codes" -> rows.select(
        qcol(id).cast("long").as("__id"),
        Similarity.signSketch(qcol(vec), f.dim).as("__sig"), qcol(vec).as("__vec")))),
    "pcapq" -> Layout(nested = Some("pq")),
    "opq" -> Layout(nested = Some("pq")),
    "opqivfpq" -> Layout(nested = Some("ivfpq")),
    // compaction is GraphAnn's own (edge repair / fresh-region fold)
    "graph" -> Layout(rows = Seq("vectors" -> false)))

  private def layoutOf(spark: SparkSession, dir: String): (String, Layout) = {
    val name = readLayout(spark, dir)
    (name, layouts.getOrElse(name, throw new IllegalStateException(
      s"$dir has unknown index layout '$name'")))
  }

  /** A layout's FROZEN model — what its encoder reads besides the new
    * rows: the `coarse`/`codebooks` side tables, the SQ `bounds`, the BQ
    * `_dim`, and the `meta` geometry. A build assembles it from what it
    * just trained; [[frozenModel]] reads it back. `codes` carries the
    * corpus codes a PQ training already produced ([[Similarity.pqModel]],
    * [[Similarity.pqResidualModel]]), which the encoder then passes on
    * instead of encoding those rows a second time. `keepVectors`: an
    * IVF×PQ index that also stores its exact vectors.
    */
  private[graft] final case class Frozen(layout: String,
      tables: Map[String, DataFrame] = Map.empty, m: Int = 0, sub: Int = 0,
      nlist: Int = -1, residual: Boolean = false,
      bounds: Option[Similarity.SqBounds] = None, dim: Int = 0,
      keepVectors: Boolean = false, codes: Option[DataFrame] = None) {
    def coarse: DataFrame = tables("coarse")
    def codebooks: DataFrame = tables("codebooks")
  }

  /** The frozen model of a built row-table layout, read from `dir`:
    * driver-side metadata reads and lazily opened side tables — no Spark
    * job.
    */
  private[graft] def frozenModel(spark: SparkSession, dir: String): Frozen = {
    val (name, layout) = layoutOf(spark, dir)
    val (m, sub, nlist, residual) = readMeta(spark, dir)
    def has(f: String) = layout.frozen.contains(f)
    Frozen(name,
      Seq("coarse", "codebooks").filter(has)
        .map(t => t -> graft.util.TinyParquet.openStore(spark, s"$dir/$t")).toMap,
      m, sub, nlist, residual,
      bounds = if (has("bounds")) Some(readBounds(spark, dir)) else None,
      dim = if (has("_dim")) readDim(spark, dir) else 0,
      keepVectors = name == "ivfpq" && graft.util.Hfs.exists(spark, s"$dir/vectors"))
  }

  /** `rows` encoded by their layout's encoder against `model`. */
  private[graft] def encode(model: Frozen, rows: DataFrame, idCol: String,
      vecCol: String): Seq[(String, DataFrame)] =
    layouts(model.layout).encode(model, rows, idCol, vecCol)

  /** The one row writer: stamps `__seq` on encoded row-table frames and
    * writes each table under `dir` with the partitioning the layout table
    * records (parquet append into a `__cluster`-partitioned table lands
    * new rows in their cluster directories, so partition pruning keeps
    * working). Build writes at seq 0 with `overwrite`, [[append]] at
    * [[nextSeq]] with `append`, [[compact]] rewrites the live rows at 0,
    * and the streamed IVF×PQ append stages its batches through it.
    */
  private[graft] def writeRows(dir: String, layout: String,
      frames: Seq[(String, DataFrame)], seq: Long, mode: String): Unit = {
    val clustered = layouts(layout).rows.toMap
    frames.foreach { case (t, rows) =>
      val w = rows.withColumn("__seq", lit(seq)).write.mode(mode)
      (if (clustered(t)) w.partitionBy("__cluster") else w).parquet(s"$dir/$t")
    }
  }

  /** A build's write: `meta`, the freshly trained model's side tables,
    * then the whole corpus through the encoder and the row writer at
    * seq 0.
    */
  private def install(dir: String, model: Frozen, corpus: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val spark = corpus.sparkSession
    writeMeta(spark, dir, model.m, model.sub, model.nlist, model.residual, model.layout)
    model.tables.foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$dir/$t") }
    model.bounds.foreach(writeBounds(spark, dir, _))
    if (model.dim > 0) graft.util.Hfs.writeString(spark, s"$dir/_dim", model.dim.toString)
    writeRows(dir, model.layout, encode(model, corpus, idCol, vecCol), 0L, "overwrite")
  }

  /** Each row's coarse cluster against the frozen centroids:
    * (`__id`, `__cluster`).
    */
  private def clusterOf(f: Frozen, rows: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    Similarity.assign(rows, (idCol, vecCol), f.coarse)
      .select(qcol(idCol).cast("long").as("__id"), col("__cluster"))

  /** The IVF×PQ encoder: one assignment against the frozen coarse
    * quantizer, codes against the frozen codebooks (or the training's own
    * codes), and the exact vectors when the index keeps them. A residual
    * model quantizes coarse-centroid residuals, not raw vectors —
    * raw-encoded codes would silently mix the two score spaces inside one
    * codes table.
    */
  private def ivfPqRows(f: Frozen, rows: DataFrame, idCol: String,
      vecCol: String): Seq[(String, DataFrame)] = {
    val assigned = Similarity.assign(rows, (idCol, vecCol), f.coarse)
    val codes =
      if (f.residual) f.codes.getOrElse(Similarity.pqResidualEncode(assigned,
        idCol, vecCol, f.coarse, f.codebooks, f.m, f.sub))
      else f.codes.getOrElse(Similarity.pqEncode(rows, idCol, vecCol,
          f.codebooks, f.m, f.sub))
        .join(clusterOf(f, rows, idCol, vecCol), Seq("__id"))
    Seq("codes" -> codes) ++ (if (!f.keepVectors) Nil else Seq("vectors" ->
      assigned.select(qcol(idCol).cast("long").as("__id"), qcol(vecCol).as("__vec"),
        col("__cluster"))))
  }

  /** The directory that OWNS a store's row tables and tombstone log: a
    * composed layout's nested index, every other store's root. Every
    * delete, compaction and measurement routes through here — tombstones
    * written at a composed ROOT would be subtracted by nothing and the
    * "deleted" rows would keep being served silently. Also the identity a
    * caller fanning a delete across MANY stores (CascadeDelete) compares,
    * so two passed roots cannot resolve to one physical store unnoticed.
    *
    * One existence probe plus one driver-side meta read (TinyParquet —
    * no Spark job). Schema-tolerant: [[deleteIds]] also serves NON-ANN
    * tombstone consumers (the inverted text index) whose meta has another
    * shape; only a composed layout reroutes.
    */
  private[ext] def storeDir(spark: SparkSession, dir: String): String =
    if (!graft.util.Hfs.exists(spark, s"$dir/meta")) dir
    else graft.util.TinyParquet.readOneRow(spark, s"$dir/meta").get("layout")
      .flatMap(l => layouts.get(l.asInstanceOf[String])).flatMap(_.nested)
      .fold(dir)(n => s"$dir/$n")

  /** Path of the primary row table of a table-owning `dir` ([[storeDir]])
    * whose layout is `layout`; `codes` for layouts outside the table.
    */
  private[ext] def primaryTable(dir: String, layout: String): String =
    s"$dir/${layouts.get(layout).flatMap(_.rows.headOption).fold("codes")(_._1)}"

  /** Delete ids from a persisted index (any layout) by appending
    * tombstones — the FAISS `remove_ids` maintenance op, O(|ids|): no
    * codes/vectors file is rewritten; the query path subtracts the
    * tombstone table via one broadcast join and the next compaction
    * drops them. Deleting an absent id is a harmless no-op tombstone.
    * Composed roots route to their nested index ([[storeDir]]); the
    * routing runs no Spark job.
    */
  def deleteIds(spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit = {
    val owner = storeDir(spark, dir)
    val seq = nextSeq(spark, owner)
    val dead = ids.select(qcol(idCol).cast("long").as("__id")).distinct()
      .localCheckpoint(eager = true) // consumed by the emptiness probe AND the write
    // sidecar FIRST, tombstones second (the IncrementalComponents crash
    // discipline): a crash between the two leaves a gap in the sequence
    // (harmless); the reverse order could hand a later APPEND the same
    // number as an unrecorded delete's tombstones, which would kill it.
    // Only NON-EMPTY deletes bump the counter — an empty ids frame (the
    // insert-only CDC diff) leaves max(__seq) unchanged on the scan
    // path, and skipping the bump keeps the sidecar numbering
    // byte-identical to it in every history.
    if (!dead.isEmpty)
      graft.util.Hfs.writeString(spark, s"$owner/_next_seq", (seq + 1L).toString)
    dead.withColumn("__seq", lit(seq))
      .write.mode("append").parquet(tombstonesPath(owner))
  }

  /** A loaded IVF×PQ index: coarse centroids + codebooks in hand, codes
    * left ON DISK (`codesPath`) so each query plans its own pruned scan.
    * `dir` is the index root (tombstones, optional refine vectors).
    * `residual` marks codebooks trained on coarse-centroid residuals
    * (FAISS `by_residual=true`) — the query path then adds the
    * per-(query, cluster) ⟨q̂, ĉ⟩ offset to the ADC sum.
    */
  final case class IvfPqIndex(coarse: DataFrame, codebooks: DataFrame,
      codesPath: String, m: Int, sub: Int, dir: String,
      residual: Boolean = false)

  private[ext] def writeMeta(spark: SparkSession, dir: String, m: Int, sub: Int,
      nlist: Int, residual: Boolean = false, layout: String = ""): Unit = {
    import spark.implicits._
    val l = if (layout.nonEmpty) layout else derivedLayout(m, nlist)
    Seq((m, sub, nlist, residual, l)).toDF("m", "sub", "nlist", "residual", "layout")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The PQ-era layouts encoded their kind in (m, nlist); SQ layouts
    * need it explicit (IVF×SQ's (m=0, nlist>0) would read as IVF-flat).
    */
  private def derivedLayout(m: Int, nlist: Int): String =
    if (nlist == -1) "pq" else if (m == 0) "ivf" else "ivfpq"

  /** (m, sub, nlist, residual); indexes written before the residual
    * column existed read as residual = false — exactly their semantics.
    * Driver-side read (TinyParquet): every serve leg's construction paid
    * a whole Spark job here for one row of scalars — pure sequential
    * scheduling floor before the leg's real action could be submitted.
    */
  private def readMeta(spark: SparkSession, dir: String): (Int, Int, Int, Boolean) = {
    val r = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")
    (r("m").asInstanceOf[Int], r("sub").asInstanceOf[Int],
      r("nlist").asInstanceOf[Int],
      r.get("residual").exists(_.asInstanceOf[Boolean]))
  }

  /** The index kind: pq / ivf / ivfpq / sq / ivfsq / bq. Pre-layout-
    * column metas derive from (m, nlist) — exactly the old implicit
    * encoding.
    */
  private[ext] def readLayout(spark: SparkSession, dir: String): String = {
    val r = graft.util.TinyParquet.readOneRow(spark, s"$dir/meta")
    r.get("layout").map(_.asInstanceOf[String]).getOrElse(
      derivedLayout(r("m").asInstanceOf[Int], r("nlist").asInstanceOf[Int]))
  }

  // ----------------------------------------------------------- flat PQ
  /** Train + encode + persist in one call (the index-build job).
    * `modelIn` supplies an already-trained model (codebooks + codes of
    * THIS corpus at this geometry) and skips training entirely — the
    * FAISS provide-your-own-quantizer shape, used when several layouts
    * over one corpus share one training (e.g. flat PQ beside IVF×PQ:
    * identical sub-quantizers by construction, trained once).
    */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      m: Int, ksub: Int, iters: Int = 2, maxTrainRows: Int = 0,
      modelIn: Option[PqModel] = None): Unit = {
    val model = modelIn.getOrElse(
      Similarity.pqModel(corpus, idCol, vecCol, m, ksub, iters, maxTrainRows))
    install(dir, Frozen("pq", Map("codebooks" -> model.centroids), model.m,
      model.sub, codes = Some(model.codes)), corpus, idCol, vecCol)
  }

  /** Load a persisted PQ index as a [[Similarity.PqModel]] — drop-in for
    * `pqScores`/`pqTopK` query paths, with zero training cost.
    */
  def readPq(spark: SparkSession, dir: String): PqModel =
    readPqAsOf(spark, dir, None)

  /** [[readPq]] at a time-travel horizon ([[liveAsOf]]): the codes view
    * as of maintenance epoch ≤ S. None = live view.
    */
  def readPqAsOf(spark: SparkSession, dir: String, asOf: Option[Long]): PqModel = {
    val (m, sub, _, _) = readMeta(spark, dir)
    PqModel(graft.util.TinyParquet.openStore(spark, s"$dir/codebooks"),
      liveAsOf(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/codes"), asOf)
        .drop("__seq"),
      m, sub)
  }

  /** PQ top-k against a persisted index (build once, query many).
    * `where` is FILTERED SEARCH over the stored codes scan (flat layout:
    * no partition pruning, but the predicate still evaluates pre-LUT,
    * pre-aggregate, so the top-k is exact over the predicate corpus).
    * Same per-ID-column contract as the IVF×PQ path: codes rows are
    * exploded per subvector, so the predicate must keep or drop WHOLE
    * ids (key on `__id`), never reference `__j`/`__code`.
    * `asOf` serves the index state at a maintenance epoch ([[liveAsOf]]).
    */
  def pqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      where: Column = lit(true), asOf: Option[Long] = None): DataFrame = {
    val model = readPqAsOf(spark, dir, asOf)
    Similarity.pqTopKWithModel(queries, idCol, vecCol,
      model.copy(codes = model.codes.filter(where)), k)
  }

  // ----------------------------------------------------------- IVF-flat
  /** A loaded IVF-flat index: coarse centroids in hand, full vectors left
    * ON DISK partitioned by cluster (`vectorsPath`). `dir` is the index
    * root (tombstones).
    */
  final case class IvfIndex(coarse: DataFrame, vectorsPath: String, nlist: Int,
      dir: String)

  /** Build the IVF-flat index: centroids trained on a bounded sample, the
    * full corpus assigned ONCE and written partitioned by cluster. The
    * in-memory [[Similarity.ivfTopK]] re-assigns the corpus per query
    * batch — fine ad hoc, but at 100 TB assignment is a full corpus pass
    * and the cluster join a corpus-sized shuffle; this layout pays both
    * once at build time.
    */
  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int, iters: Int = 2, maxTrainRows: Int = 0,
      /** Already-trained coarse centroids (`__cid`, `centroid`) — skips
        * the kmeans; the shared-training shape of [[buildPq]]'s modelIn.
        */
      coarseIn: Option[DataFrame] = None): Unit = {
    val coarse = coarseIn.getOrElse(
      Similarity.trainCentroids(corpus, idCol, vecCol, nlist, iters,
        maxTrainRows))
    install(dir, Frozen("ivf", Map("coarse" -> coarse), nlist = nlist),
      corpus, idCol, vecCol)
  }

  def readIvf(spark: SparkSession, dir: String): IvfIndex = {
    val (_, _, nlist, _) = readMeta(spark, dir)
    require(nlist > 0, s"$dir has no coarse quantizer (nlist=$nlist)")
    IvfIndex(graft.util.TinyParquet.openStore(spark, s"$dir/coarse"), s"$dir/vectors",
      nlist, dir)
  }

  /** IVF-flat top-k against the persisted index: nprobe coarse clusters
    * per query (broadcast centroids), the probed-cluster union as a
    * PartitionFilter on the vectors scan, exact codegen cosine on the
    * surviving nprobe/nlist of the corpus. Output shape matches
    * bruteForceTopK.
    *
    * `where` is FILTERED SEARCH (the production "ANN + metadata
    * predicate" shape): a predicate over the stored vector-table columns
    * (`__id`, `__vec`) applied INSIDE the pruned scan, before any score
    * is computed or joined — so the result is the exact top-k of the
    * probed ∩ predicate corpus (never the under-filled k that
    * post-filtering a top-k list yields). Pushable predicates
    * (comparisons/IN/null tests on stored columns) additionally reach
    * the parquet reader as PushedFilters; expression predicates (pmod,
    * arithmetic) evaluate in the scan's filter operator — still
    * pre-join, still pre-scoring.
    */
  def ivfTopK(spark: SparkSession, index: IvfIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      where: Column = lit(true)): DataFrame = {
    val scored = probe(spark, index.dir, index.coarse, queries, idCol, vecCol, nprobe)
      .pairs(index.vectorsPath, where, None, withQuery = true)
      .select(col("query_id"), col("__id").as("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__vec")).as("cosine"))
    topKPerQuery(scored, "cosine", "neighbor_id", k)
  }

  /** One query batch probed against a cluster-partitioned store — the
    * scan every IVF-family query path shares. `q` is the batch as
    * (`query_id`, `__qv`); `probes` its top-nprobe clusters as a LOCAL
    * relation (`query_id`, `__qv`, `__cluster`): one collect (queries ×
    * nprobe rows, bounded by construction) serves the partition filter,
    * the join side and the residual offsets, and the local relation
    * broadcasts with no upstream stage at all; `clusters` the distinct
    * probed cluster ids.
    */
  private final case class Probe(spark: SparkSession, dir: String, q: DataFrame,
      probes: DataFrame, clusters: Array[Int]) {

    /** The live rows of the `__cluster`-partitioned table at `path` in
      * the probed cluster directories only: an `isin` PartitionFilter, so
      * the parquet source reads nothing else, with `where` applied inside
      * the pruned scan (FILTERED SEARCH, [[ivfTopK]]) and tombstones
      * subtracted at the `asOf` horizon ([[liveAsOf]]).
      */
    def live(path: String, where: Column = lit(true),
        asOf: Option[Long] = None): DataFrame =
      liveAsOf(spark, dir, graft.util.TinyParquet.openStore(spark, path)
        .filter(col("__cluster").isin(clusters.map(Int.box): _*))
        .filter(where), asOf)

    /** [[live]] joined to the broadcast probes on `__cluster`, self-pairs
      * dropped: every (query, stored row) pair the batch scores. The
      * probe side carries `__qv` only `withQuery`.
      */
    def pairs(path: String, where: Column, asOf: Option[Long],
        withQuery: Boolean): DataFrame =
      live(path, where, asOf)
        .join(broadcast(if (withQuery) probes
          else probes.select(col("query_id"), col("__cluster"))), Seq("__cluster"))
        .filter(col("query_id") =!= col("__id"))
  }

  private def probe(spark: SparkSession, dir: String, coarse: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, nprobe: Int): Probe = {
    val q = queries.select(qcol(idCol).cast("long").as("query_id"),
      qcol(vecCol).as("__qv"))
    val (rows, probes) = localized(probeClusters(q, coarse, nprobe))
    Probe(spark, dir, q, probes, rows.map(_.getAs[Int]("__cluster")).distinct.sorted)
  }

  // ------------------------------------------------------------ IVF×PQ
  /** Build the composed IVF×PQ index (FAISS layout with global codebooks,
    * `by_residual=false`): coarse centroids + PQ codebooks trained on
    * bounded samples, full corpus assigned + encoded exactly once, and
    * codes written partitioned by coarse cluster. The cluster-attach join
    * runs HERE — one build-time shuffle — so queries never pay it.
    */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int, m: Int, ksub: Int, iters: Int = 2,
      maxTrainRows: Int = 0,
      /** Also keep the exact vectors, cluster-partitioned like the codes
        * (FAISS refine/IndexRefineFlat shape): [[ivfPqTopKRefined]] then
        * re-scores the ADC shortlist against them. Costs the flat-vector
        * storage on top of the codes — the standard recall-for-space
        * trade.
        */
      keepVectors: Boolean = false,
      /** FAISS `by_residual`: train/encode PQ on coarse-centroid
        * residuals instead of the raw (normalized) vectors — the FAISS
        * accuracy default. Same storage layout and maintenance surface;
        * the query path adds a per-(query, probed-cluster) offset
        * ([[Similarity.residualOffsets]]). The flag is persisted in
        * `meta` and honored by append/update/compact/CDC.
        */
      byResidual: Boolean = false,
      /** Already-trained coarse centroids — see [[buildIvf]].coarseIn. */
      coarseIn: Option[DataFrame] = None,
      /** Already-trained RAW-space PQ model (codebooks + this corpus's
        * codes) — honored only when `byResidual` is false (a residual
        * index quantizes centroid residuals; raw-space codebooks would
        * silently mix score spaces, so it always trains its own).
        */
      modelIn: Option[PqModel] = None): Unit = {
    val coarse = coarseIn.getOrElse(
      Similarity.trainCentroids(corpus, idCol, vecCol, nlist, iters,
        maxTrainRows))
    val model = if (byResidual) {
      val (codebooks, codes, sub) = Similarity.pqResidualModel(
        Similarity.assign(corpus, (idCol, vecCol), coarse),
        idCol, vecCol, coarse, m, ksub, iters, maxTrainRows)
      Frozen("ivfpq", Map("coarse" -> coarse, "codebooks" -> codebooks), m, sub,
        nlist, residual = true, codes = Some(codes))
    } else {
      val pq = modelIn.getOrElse(
        Similarity.pqModel(corpus, idCol, vecCol, m, ksub, iters,
          maxTrainRows))
      Frozen("ivfpq", Map("coarse" -> coarse, "codebooks" -> pq.centroids),
        pq.m, pq.sub, nlist, codes = Some(pq.codes))
    }
    install(dir, model.copy(keepVectors = keepVectors), corpus, idCol, vecCol)
  }

  def readIvfPq(spark: SparkSession, dir: String): IvfPqIndex = {
    val (m, sub, nlist, residual) = readMeta(spark, dir)
    require(nlist > 0, s"$dir is a flat PQ index, not IVF×PQ (nlist=$nlist)")
    IvfPqIndex(graft.util.TinyParquet.openStore(spark, s"$dir/coarse"),
      graft.util.TinyParquet.openStore(spark, s"$dir/codebooks"), s"$dir/codes", m, sub, dir,
      residual)
  }

  /** IVF×PQ top-k against the persisted index. The query path:
    *
    *   1. nprobe coarse clusters per query (broadcast nlist centroids);
    *   2. the UNION of probed clusters across the batch (≤ nlist values —
    *      a bounded collect) becomes an `isin` PartitionFilter, so the
    *      parquet source reads only the probed cluster directories;
    *   3. per-(query, cluster) assignment rides a broadcast join, ADC
    *      partial dots another; one hash aggregate sums m terms per
    *      scored pair.
    *
    * No shuffle touches anything corpus-sized: the only exchange is the
    * final groupBy over (query, candidate-in-probed-cluster) pairs.
    */
  def ivfPqTopK(spark: SparkSession, index: IvfPqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      where: Column = lit(true),
      /** Time-travel horizon ([[liveAsOf]]): serve the index state as of
        * maintenance epoch ≤ S. None = live view.
        */
      asOf: Option[Long] = None): DataFrame = {
    val (scored, _) =
      adcScored(spark, index, queries, idCol, vecCol, nprobe, where, asOf)
    topKPerQuery(scored, "cosine_pq", "neighbor_id", k)
  }

  /** The shared ADC scoring pipeline of [[ivfPqTopK]] and
    * [[ivfPqTopKRefined]]: returns (scored pairs, the batch's [[Probe]]).
    *
    * Residual indexes (`by_residual=true`) ride the SAME machinery: the
    * LUT sum then reconstructs ⟨q̂, r⟩ instead of ⟨q̂, v̂⟩, and the missing
    * ⟨q̂, ĉ⟩ term is one per-(query, probed-cluster) offset
    * ([[Similarity.residualOffsets]] — probes-sized, broadcast) added
    * after the aggregate. Grouping additionally by `__cluster` costs
    * nothing (a live id has exactly one cluster) and keeps the offset
    * join above the final cut.
    *
    * `where` is FILTERED SEARCH on the quantized layout (the [[ivfTopK]]
    * contract on the codes table): evaluated INSIDE the partition-pruned
    * codes scan, before the LUT join and the ADC aggregate, so the
    * top-k is the exact ADC top-k of the probed ∩ predicate corpus and
    * never under-fills. The predicate MUST key on per-ID columns
    * (`__id`, `__cluster`) only: codes rows are exploded per subvector
    * (`__j`, `__code`), and a predicate that kept some of an id's m
    * rows would silently truncate its ADC sum instead of excluding it.
    */
  private def adcScored(spark: SparkSession, index: IvfPqIndex,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int, where: Column = lit(true),
      asOf: Option[Long] = None): (DataFrame, Probe) = {
    val p = probe(spark, index.dir, index.coarse, queries, idCol, vecCol, nprobe)
    val adc = p.pairs(index.codesPath, where, asOf, withQuery = false)
      .join(broadcast(pqLut(queries, idCol, vecCol, index.codebooks,
        index.m, index.sub)), Seq("query_id", "__j", "__code"))
    val scored =
      if (index.residual)
        adc.groupBy(col("query_id"), col("__cluster"), col("__id"))
          .agg(sum(col("__p")).as("__adc"))
          .join(broadcast(Similarity.residualOffsets(p.probes, index.coarse)),
            Seq("query_id", "__cluster"))
          .select(col("query_id"), col("__id").as("neighbor_id"),
            (col("__adc") + col("__off")).as("cosine_pq"))
      else
        adc.groupBy(col("query_id"), col("__id"))
          .agg(sum(col("__p")).as("cosine_pq"))
          .withColumnRenamed("__id", "neighbor_id")
    (scored, p)
  }

  /** IVF×PQ top-k with an EXACT re-rank epilogue (the FAISS refine /
    * IndexRefineFlat stage): the ADC pipeline produces a top-(k·refine)
    * shortlist per query, the shortlist's exact vectors are fetched from
    * the index's cluster-partitioned `vectors/` table (kept by
    * `buildIvfPq(keepVectors = true)`), and exact cosine re-scores the
    * shortlist before the final cut to k — ADC misrankings INSIDE the
    * shortlist vanish, so recall@k is ≥ plain [[ivfPqTopK]] whenever the
    * true neighbors reach the shortlist at all.
    *
    * Scale shape (plan-asserted): the vectors scan is pruned to the SAME
    * probed cluster directories as the codes scan, and the shortlist
    * (queries × k·refine rows, broadcast-sized by construction) joins
    * into it as a broadcast — no corpus-sized shuffle joins the query
    * path; the only exchanges are over shortlist-sized frames.
    */
  def ivfPqTopKRefined(spark: SparkSession, index: IvfPqIndex,
      queries: DataFrame, idCol: String, vecCol: String, k: Int, nprobe: Int,
      refine: Int = 4, where: Column = lit(true)): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1: $refine")
    require(graft.util.Hfs.exists(spark, s"${index.dir}/vectors"),
      s"${index.dir} has no vectors/ table — build with keepVectors = true " +
        "to enable exact re-ranking")
    // `where` constrains the SHORTLIST (applied in the codes scan); the
    // exact re-rank joins by shortlist id, so the predicate holds
    // transitively without re-evaluating against the vectors table
    val (scored, p) =
      adcScored(spark, index, queries, idCol, vecCol, nprobe, where)
    val shortlist = topKPerQuery(scored, "cosine_pq", "neighbor_id", k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .join(p.q, Seq("query_id")) // attach the query vector (both tiny)
    val vectors = p.live(s"${index.dir}/vectors")
      .select(col("__id").as("neighbor_id"), col("__vec"))
    val exact = vectors.join(broadcast(shortlist), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__vec")).as("cosine"))
    topKPerQuery(exact, "cosine", "neighbor_id", k)
  }

  // --------------------------------------------------------- flat SQ8
  /** A loaded SQ8 index: the dim-sized bounds in hand (they ARE the
    * model), codes read through [[liveOnly]]. See
    * [[Similarity.SqBounds]] for the analytic error-bound contract that
    * distinguishes this layout from PQ.
    */
  final case class SqIndex(bounds: Similarity.SqBounds, codes: DataFrame, dir: String)

  /** The bounds table IS the SQ model — one (de)serialization pair so
    * readers and writers cannot drift (dim rows: __pos, vmin, vmax).
    */
  private def writeBounds(spark: SparkSession, dir: String,
      b: Similarity.SqBounds): Unit = {
    import spark.implicits._
    b.vmin.indices.map(i => (i, b.vmin(i), b.vmax(i))).toDF("__pos", "vmin", "vmax")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds")
  }

  private def readBounds(spark: SparkSession, dir: String): Similarity.SqBounds = {
    // dim rows of scalars — driver-side tiny read, no Spark job
    val rows = graft.util.TinyParquet.readRows(spark, s"$dir/bounds")
      .sortBy(_("__pos").asInstanceOf[Int])
    Similarity.SqBounds(
      rows.map(_("vmin").asInstanceOf[Double]).toArray,
      rows.map(_("vmax").asInstanceOf[Double]).toArray)
  }

  /** Build + persist the SQ8 index: exact per-dimension bounds (one
    * aggregation), the corpus encoded once, one byte per dimension in
    * the codes table. Layout: `bounds` (dim rows: __pos, vmin, vmax),
    * `codes` ((__id, __codes, __seq)), tombstones via [[deleteIds]] like
    * every other layout.
    */
  def buildSq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      /** Already-computed exact bounds of THIS corpus — skips the
        * min/max aggregation; the shared-training shape of
        * [[buildPq]].modelIn.
        */
      boundsIn: Option[Similarity.SqBounds] = None): Unit =
    install(dir, Frozen("sq", bounds = Some(boundsIn.getOrElse(
      Similarity.sqTrainBounds(corpus, vecCol)))), corpus, idCol, vecCol)

  def readSq(spark: SparkSession, dir: String): SqIndex =
    SqIndex(readBounds(spark, dir),
      liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/codes"))
        .drop("__seq"), dir)

  /** SQ top-k against a persisted index (build once, query many). */
  def sqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val idx = readSq(spark, dir)
    Similarity.sqTopKWithCodes(queries, idCol, vecCol, idx.bounds, idx.codes, k)
  }

  // --------------------------------------------------- rotated layouts
  /** The rotated layouts — a stored rotation in front of a plain
    * PQ-coded index nested under the root, the FAISS
    * `IndexPreTransform(rotation, index)` composition. The rotation is a
    * pure rotation, so cosine is preserved EXACTLY; it compacts energy
    * into the leading dimensions, so the equal-width subspace split the
    * PQ makes is better conditioned:
    *
    *   - `pcapq` ([[buildPcaPq]]): uncentered-PCA rotation
    *     ([[Similarity.pcaRotation]]) + flat PQ at `dir/pq` — the classic
    *     OPQ initialization, without OPQ's alternating optimization;
    *   - `opq` ([[buildOpq]]): the [[Similarity.opqRotation]]
    *     alternating-minimization rotation + flat PQ at `dir/pq`;
    *   - `opqivfpq` ([[buildOpqIvfPq]]): the OPQ rotation + IVF×PQ at
    *     `dir/ivfpq` — the FAISS production string `OPQm,IVFnlist,PQm`.
    *
    * Maintenance DELEGATES to the nested index exactly as in FAISS:
    * [[append]]/[[update]]/[[applyDiff]] rotate the batch and forward
    * (frozen rotation + frozen quantizers — same drift contract as every
    * append); deletes, compaction and the debt/health counters act on the
    * nested index ([[storeDir]]). `pqDir` is that nested index.
    */
  final case class RotatedIndex(rotation: Array[Array[Double]], pqDir: String,
      dir: String)

  private def readRotation(spark: SparkSession, dir: String): Array[Array[Double]] =
    // dim rows of (int, list<double>) — driver-side tiny read, no Spark job
    graft.util.TinyParquet.readRows(spark, s"$dir/rotation")
      .sortBy(_("__i").asInstanceOf[Int])
      .map(_("__row").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]).toArray)
      .toArray

  /** `rows` rotated by `r`, as (`__rid`, `__rvec`) — the id/vector pair
    * every rotated build, query and append hands to the nested index.
    */
  private def rotate(rows: DataFrame, idCol: String, vecCol: String,
      r: Array[Array[Double]]): DataFrame =
    rows.select(qcol(idCol).as("__rid"),
      Similarity.rotateExpr(qcol(vecCol), r).as("__rvec"))

  /** Write a rotated root (meta + rotation) and return the rotated corpus
    * the caller builds the nested index from.
    */
  private def rotatedRoot(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, layout: String, r: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeMeta(spark, dir, m = 0, sub = 0, nlist = -1, layout = layout)
    r.indices.map(i => (i, r(i).toSeq)).toDF("__i", "__row")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
    rotate(corpus, idCol, vecCol, r)
  }

  def buildPcaPq(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, dim: Int, m: Int, ksub: Int, iters: Int = 2,
      maxTrainRows: Int = 0): Unit = {
    val r = Similarity.pcaRotation(corpus, idCol, vecCol, dim,
      maxTrainRows = if (maxTrainRows > 0) maxTrainRows else 4096)
    buildPq(rotatedRoot(corpus, idCol, vecCol, dir, "pcapq", r),
      "__rid", "__rvec", s"$dir/pq", m, ksub, iters)
  }

  /** Final codebooks are retrained DISTRIBUTED over the full rotated
    * corpus (the [[buildPcaPq]] discipline); the driver-sample codebooks
    * exist only inside the rotation's training loop.
    */
  def buildOpq(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, dim: Int, m: Int, ksub: Int, iters: Int = 2,
      opqIters: Int = 3, maxTrainRows: Int = 0): Unit = {
    val r = Similarity.opqRotation(corpus, idCol, vecCol, dim, m, ksub,
      opqIters, maxTrainRows = if (maxTrainRows > 0) maxTrainRows else 1024)
    buildPq(rotatedRoot(corpus, idCol, vecCol, dir, "opq", r),
      "__rid", "__rvec", s"$dir/pq", m, ksub, iters)
  }

  /** The serving path composes BOTH scale levers — nprobe partition
    * pruning AND the rotation-conditioned quantizer. Coarse centroids and
    * codebooks train in the ROTATED space; queries rotate once, then ride
    * the standard IVF-PQ pruned ADC path.
    */
  def buildOpqIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, dim: Int, nlist: Int, m: Int, ksub: Int, iters: Int = 2,
      opqIters: Int = 3, maxTrainRows: Int = 0): Unit = {
    val r = Similarity.opqRotation(corpus, idCol, vecCol, dim, m, ksub,
      opqIters, maxTrainRows = if (maxTrainRows > 0) maxTrainRows else 1024)
    buildIvfPq(rotatedRoot(corpus, idCol, vecCol, dir, "opqivfpq", r),
      "__rid", "__rvec", s"$dir/ivfpq", nlist, m, ksub, iters)
  }

  /** Load any rotated layout: its rotation and nested index dir. */
  def readRotated(spark: SparkSession, dir: String): RotatedIndex = {
    val nested = layouts.get(readLayout(spark, dir)).flatMap(_.nested)
    require(nested.isDefined, s"$dir is not a rotated index (pcapq/opq/opqivfpq)")
    RotatedIndex(readRotation(spark, dir), s"$dir/${nested.get}", dir)
  }

  /** Top-k over a rotated flat-PQ index (`pcapq` or `opq`): queries
    * rotated against the stored matrix, then the standard persisted-PQ
    * ADC path over the rotated codes. `where` filters the stored codes
    * pre-scoring ([[pqTopK]]'s contract — rotation touches vectors, not
    * ids, so id predicates pass through unchanged).
    */
  def rotatedPqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      where: Column = lit(true)): DataFrame = {
    val idx = readRotated(spark, dir)
    pqTopK(spark, idx.pqDir, rotate(queries, idCol, vecCol, idx.rotation),
      "__rid", "__rvec", k, where)
  }

  /** Rotate queries against the stored matrix, then the partition-pruned
    * IVF-PQ ADC path over the nested index.
    */
  def opqIvfPqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      where: Column = lit(true)): DataFrame = {
    val idx = readRotated(spark, dir)
    ivfPqTopK(spark, readIvfPq(spark, idx.pqDir),
      rotate(queries, idCol, vecCol, idx.rotation),
      "__rid", "__rvec", k, nprobe, where)
  }

  // ------------------------------------------------------------ flat BQ
  /** A loaded binary-quantization index: one codes table on disk holding
    * (__id, __sig array&lt;long&gt;, __vec, __seq) — the 1-bit/dim sign
    * sketches ([[Similarity.signSketch]]) BESIDE the full-precision
    * vectors, in one parquet table whose COLUMN PRUNING is the layout's
    * two-tier storage: the hamming scan reads only (__id, __sig, __seq)
    * (dim/8 bytes + ids per row), the exact rescore re-opens the table
    * for (__id, __vec) restricted to the nq×shortlist survivors.
    * Training-free (the sketch has no learned parameters), so append ==
    * rebuild EXACTLY and there is no drift-rebuild cadence — the only
    * rebuild reason is tombstone debt.
    */
  final case class BqIndex(codesPath: String, dim: Int, dir: String)

  private def readDim(spark: SparkSession, dir: String): Int =
    graft.util.Hfs.readString(spark, s"$dir/_dim").trim.toInt

  /** Build + persist the BQ index: corpus sketched once (`dim` must be
    * every vector's length — recorded in a `_dim` sidecar so queries and
    * appends sketch against the same geometry).
    */
  def buildBq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      dim: Int): Unit = {
    require(dim > 0, s"dim must be positive: $dim")
    install(dir, Frozen("bq", dim = dim), corpus, idCol, vecCol)
  }

  def readBq(spark: SparkSession, dir: String): BqIndex = {
    require(readLayout(spark, dir) == "bq",
      s"$dir is not a BQ index — each layout has its own reader")
    BqIndex(s"$dir/codes", readDim(spark, dir), dir)
  }

  /** BQ top-k against the persisted index: hamming over the pruned
    * (__id, __sig) columns, exact cosine rescore of the shortlist from
    * the same table's __vec column — [[Similarity.binarySketchTopK]]
    * semantics over the build-once layout, tombstones subtracted.
    *
    * `where`: FILTERED binary-quantized search — the [[ivfTopK]]
    * predicate contract on this layout's stored columns (`__id`,
    * `__sig`, `__vec`): applied inside BOTH column-pruned scans (the
    * hamming pass and the exact rescore read the same filtered live
    * set), before any score, so the result is the exact top-k of the
    * predicate corpus and the shortlist never under-fills.
    */
  def bqTopK(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int = 50,
      where: Column = lit(true)): DataFrame = {
    val idx = readBq(spark, dir)
    val stored = graft.util.TinyParquet.openStore(spark, idx.codesPath).filter(where)
    Similarity.bqSearch(
      queries.select(qcol(idCol).cast("long").as("query_id"),
        qcol(vecCol).as("__qv"),
        Similarity.signSketch(qcol(vecCol), idx.dim).as("__qs")),
      liveOnly(spark, dir, stored.select(col("__id"), col("__sig"), col("__seq")))
        .select(col("__id").as("neighbor_id"), col("__sig").as("__cs")),
      liveOnly(spark, dir, stored.select(col("__id"), col("__vec"), col("__seq")))
        .select(col("__id").as("neighbor_id"), col("__vec").as("__cv")),
      k, shortlist)
  }

  // --------------------------------------------------------- IVF × SQ8
  /** A loaded IVF×SQ index: coarse centroids + bounds in hand, byte
    * codes left ON DISK partitioned by coarse cluster. The practical
    * 100 TB retrieval layout: nprobe pruning cuts the scan to probed
    * cluster directories (parquet partition pruning, like IVF×PQ) while
    * SQ keeps the per-candidate error inside the analytic B(q) — unlike
    * PQ's codebook error, WHICH pairs are scored is the only
    * approximation axis nprobe adds (the full-probe gate pins exact
    * equality with the flat SQ scan).
    */
  final case class IvfSqIndex(coarse: DataFrame, bounds: Similarity.SqBounds,
      codesPath: String, nlist: Int, dir: String)

  /** Build + persist IVF×SQ: coarse centroids trained on a bounded
    * sample, exact SQ bounds, corpus assigned + encoded ONCE and written
    * partitioned by cluster.
    */
  def buildIvfSq(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nlist: Int, iters: Int = 2, maxTrainRows: Int = 0,
      /** Already-trained coarse centroids — see [[buildIvf]].coarseIn. */
      coarseIn: Option[DataFrame] = None,
      /** Already-computed exact bounds — see [[buildSq]].boundsIn. */
      boundsIn: Option[Similarity.SqBounds] = None): Unit = {
    val coarse = coarseIn.getOrElse(
      Similarity.trainCentroids(corpus, idCol, vecCol, nlist,
        iters, maxTrainRows))
    install(dir, Frozen("ivfsq", Map("coarse" -> coarse), nlist = nlist,
      bounds = Some(boundsIn.getOrElse(Similarity.sqTrainBounds(corpus, vecCol)))),
      corpus, idCol, vecCol)
  }

  def readIvfSq(spark: SparkSession, dir: String): IvfSqIndex = {
    val (_, _, nlist, _) = readMeta(spark, dir)
    IvfSqIndex(graft.util.TinyParquet.openStore(spark, s"$dir/coarse"), readBounds(spark, dir),
      s"$dir/codes", nlist, dir)
  }

  /** IVF×SQ top-k: probe clusters per query, scan ONLY the probed
    * cluster directories (partition pruning), score byte codes against
    * the broadcast per-query SQ frame. Same scale shape as [[ivfPqTopK]]:
    * nothing corpus-sized shuffles — the codes scan is pruned, probes and
    * query frames broadcast, and the only exchange feeds the top-k
    * window over scored candidates.
    *
    * `where` is FILTERED SEARCH ([[ivfTopK]]'s contract): evaluated
    * inside the pruned codes scan, pre-scoring — exact top-k of
    * probed ∩ predicate, never under-filled. SQ codes are one row per
    * id (`__id`, `__cluster`, `__codes`), so any per-row predicate over
    * those columns is safe.
    */
  def ivfSqTopK(spark: SparkSession, index: IvfSqIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      where: Column = lit(true)): DataFrame = {
    val scored = probe(spark, index.dir, index.coarse, queries, idCol, vecCol, nprobe)
      .pairs(index.codesPath, where, None, withQuery = false)
      .join(broadcast(Similarity.sqQueryFrame(queries, idCol, vecCol,
        index.bounds)), Seq("query_id"))
      .select(col("query_id"), col("__id").as("neighbor_id"),
        Similarity.sqScoreExpr.as("cosine_sq"))
    topKPerQuery(scored, "cosine_sq", "neighbor_id", k)
  }

  // ------------------------------------------- compaction / rebuild
  /** Compact an index WITHOUT retraining (any layout): rewrite every row
    * table to its live view (tombstoned and superseded generations
    * physically dropped, sequence numbers reset to 0, cluster
    * partitioning kept), carry the frozen side tables and sidecars over
    * byte-for-byte, and install the result through the same two-move
    * swap as [[rebuild]] — so readers never see a half-compacted index
    * and the tombstone log (and `_next_seq`) reset with the new
    * generation. This is the cheap delete-debt reclaim (one rows pass, no
    * training, quantization quality unchanged — exactly FAISS
    * `remove_ids`' physical rewrite); [[rebuild]] remains the quality
    * reset. Composed roots compact their nested index ([[storeDir]]);
    * graph stores route to [[GraphAnn.compact]]. An unknown or missing
    * layout and an all-dead primary table ([[requireLive]]) refuse before
    * anything is written. Serialize against other maintenance like any
    * rebuild (object doc).
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val owner = storeDir(spark, dir)
    val (name, layout) = layoutOf(spark, owner)
    if (name == "graph") return GraphAnn.compact(spark, owner)
    val (m, sub, nlist, residual) = readMeta(spark, owner)
    val live = layout.rows.collect {
      case (t, _) if graft.util.Hfs.exists(spark, s"$owner/$t") =>
        t -> liveOnly(spark, owner, graft.util.TinyParquet.openStore(spark, s"$owner/$t"))
    }
    // the same tombstones govern every row table: primary live ⇒ all live
    requireLive(live.head._2, owner)
    val tmp = owner + ".compact-" + System.nanoTime()
    writeMeta(spark, tmp, m, sub, nlist, residual, name)
    layout.frozen.foreach(f => graft.util.Hfs.copy(spark, s"$owner/$f", s"$tmp/$f"))
    writeRows(tmp, name, live, 0L, "overwrite")
    graft.operators.Upsert.swapDirs(tmp, owner)
  }

  /** Refuse to compact a clustered layout down to ZERO live rows: an
    * empty `partitionBy` write emits no schema-bearing file (only
    * _SUCCESS), so the compacted table would throw on every later read
    * — strictly worse than the pre-compaction state, where a fully-
    * tombstoned index still serves (empty results). The degenerate
    * all-deleted case is a rebuild-or-drop decision, not a compaction;
    * fail loudly before any table is written. (The flat layouts'
    * unpartitioned empty write keeps a schema file, so they have no
    * unreadable-table hazard — they adopt the guard anyway so every
    * layout's compaction refuses the same degenerate state.)
    */
  private[ext] def requireLive(live: DataFrame, dir: String): DataFrame = {
    require(!live.isEmpty,
      s"refusing to compact $dir: every row is tombstoned — an empty " +
        "cluster-partitioned table is unreadable; rebuild or drop the index")
    live
  }

  /** Atomic index REBUILD: the periodic retrain that resets append
    * drift. `build` writes the new generation into the sibling temp
    * directory it is given (any builder, e.g.
    * `rebuild(dir)(buildPq(corpus, "id", "vec", _, m, ksub))`), which
    * then replaces `dir` through the two-move swap protocol the table
    * upserts already use ([[graft.operators.Upsert.swapDirs]]) — a
    * concurrent reader holds either the old generation or the new one,
    * never a half-written index (the plain builders' in-place overwrite
    * is NOT safe under concurrent reads). The swap also COMPACTS:
    * tombstones and superseded generations vanish with the old
    * directory. Maintenance writers must not race the swap (object doc).
    */
  def rebuild(dir: String)(build: String => Unit): Unit = {
    val tmp = dir + ".build-" + System.nanoTime()
    build(tmp)
    graft.operators.Upsert.swapDirs(tmp, dir)
  }

  // ------------------------------------------------------ tombstone debt
  /** Dead-row fraction of the index's primary table (codes, or vectors
    * for IVF-flat and graph): rows superseded by a tombstone or a newer generation,
    * divided by all stored rows. 0.0 with no tombstone log (short-circuit
    * — nothing is scanned); otherwise one pass over the stored table
    * (column-pruned to id/seq) at MAINTENANCE time, which is where this
    * belongs — [[liveOnly]] keeps query paths an O(|deletes|) broadcast
    * join precisely so they never pay a debt measurement.
    *
    * Why measure at all: the tombstone broadcast and the dead rows
    * scanned-then-dropped on every query both grow with delete volume,
    * unbounded between rebuilds — debt is the number that says when the
    * cheap reclaim ([[compact]]: one rewrite, quantizers frozen) pays
    * for itself.
    */
  def tombstoneDebt(spark: SparkSession, dir: String): Double = {
    val r = storeCountsDf(spark, dir).head()
    val (total, live) = (r.getLong(0), r.getLong(1))
    if (total == 0L) 0.0 else (total - live).toDouble / total
  }

  /** (total stored rows, live rows) of a layout's main table as a LAZY
    * one-row (`__total`, `__live`) frame — the integer numerators behind
    * [[tombstoneDebt]] and [[healthReport]]. Rows are the table's
    * PHYSICAL grain (exploded per subvector for PQ-coded layouts): that
    * is what every scan pays, which is what the debt policy prices. The
    * lazy form lets fleet dashboards ([[healthReport]], the sweep/fsck
    * callers) assemble ONE plan over every store instead of serializing
    * a blocking counter job per store: a fleet over a dozen tiny stores
    * was paying seconds of pure per-job scheduling floor (r21 baseline:
    * x_index_health 118 stages / 3.1 s wall at 1.3 cpu-s).
    */
  private def storeCountsDf(spark: SparkSession, dir: String): DataFrame =
    storeCountsWithDeltaDf(spark, dir).select(col("__total"), col("__live"))

  /** [[storeCountsDf]] plus `__delta`, the row count of a graph store's
    * fresh region (0 without one) — everything the compaction policy
    * prices, in one frame.
    */
  private def storeCountsWithDeltaDf(spark: SparkSession, dir: String): DataFrame = {
    // healthReport/sweep/fsck on a composed ROOT measure the store that
    // actually serves
    val owner = storeDir(spark, dir)
    val ownerLayout = readLayout(spark, owner) // one meta read, reused
    val main = tableCountsDf(spark, owner, primaryTable(owner, ownerLayout))
    // a graph store's fresh region ([[GraphAnn.append]]) is part of the
    // served set — debt/health that ignored it would under-price the
    // store the sweep maintains
    if (ownerLayout == "graph" &&
        graft.util.Hfs.exists(spark, s"$owner/delta")) {
      val d = tableCountsDf(spark, owner, s"$owner/delta")
        .select(col("__total").as("__dt"), col("__live").as("__dl"))
      main.crossJoin(d) // 1×1: counter rows, never data
        .select((col("__total") + col("__dt")).as("__total"),
          (col("__live") + col("__dl")).as("__live"), col("__dt").as("__delta"))
    } else main.withColumn("__delta", lit(0L))
  }

  /** [[storeCountsDf]]'s counts, eager, with the main table named
    * explicitly — shared with the non-ANN tombstone consumers (the
    * text-index layouts), whose main table lives at a layout-specific
    * path but whose tombstone discipline is this one.
    */
  private[ext] def tableCounts(spark: SparkSession, dir: String,
      table: String): (Long, Long) = {
    val r = tableCountsDf(spark, dir, table).head()
    (r.getLong(0), r.getLong(1))
  }

  /** [[tableCounts]] as a lazy one-row (`__total`, `__live`) frame — see
    * [[storeCountsDf]] for why the lazy form exists.
    */
  private[ext] def tableCountsDf(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    readTombstones(spark, dir) match {
      case None =>
        graft.util.TinyParquet.openStore(spark, table).agg(count(lit(1)).as("__total"))
          .select(col("__total"), col("__total").as("__live"))
      case Some(t) =>
        // total and live counted in ONE pass over the (id, seq)-pruned
        // table: the same per-id-max tombstone broadcast as liveOnly,
        // with the liveness predicate under a conditional count instead
        // of a second scan
        val dead = t.groupBy(col("__id")).agg(max(col("__seq")).as("__tseq"))
        // pre-tombstone-layout tables have no __seq column (liveOnly
        // reads them as seq 0); mirror that here instead of throwing
        val stored = graft.util.TinyParquet.openStore(spark, table)
        val seqCol =
          if (stored.columns.contains("__seq")) col("__seq") else lit(0L)
        stored.select(col("__id"), seqCol.as("__seq"))
          .join(broadcast(dead), Seq("__id"), "left")
          .agg(count(lit(1)).as("__total"),
            count(when(col("__tseq").isNull ||
              coalesce(col("__seq"), lit(0L)) > col("__tseq"), 1)).as("__live"))
    }
  }

  /** Store-health dashboard over a set of index layouts: per layout the
    * physical row count, the live count under tombstone semantics, and
    * the tombstone debt [[compactIfNeeded]] prices — the maintenance
    * number an index fleet tracks per store per day. All-integer
    * numerators plus one division, so the report reproduces bit-for-bit
    * (hash-matchable against a replay over the stored tables). Each
    * layout costs one metadata-light scan; nothing corpus-sized moves.
    * Composed roots report their nested index ([[storeDir]]).
    */
  def healthReport(spark: SparkSession, layouts: Seq[(String, String)]): DataFrame = {
    require(layouts.nonEmpty, "no layouts to report")
    // per-store measurement runs CONCURRENTLY (thread-pooled submission,
    // jobs interleave; results identical — independent deterministic
    // counters), each store now ONE job over its lazy counter frame:
    // [[storeCountsDf]] folds what used to be up to two blocking counts
    // (main + graph delta) into a single aggregate. A single giant lazy
    // union was A/B-measured 2.8× SLOWER here (r21): AQE materializes
    // every branch's exchange as its own sequential scheduling round, so
    // the union pays the same per-store round trips PLUS a 15-branch
    // optimizer problem — concurrency must come from submission threads.
    graft.util.Par.all(8)(layouts.map { case (name, dir) => () =>
      storeCountsDf(spark, dir).select(lit(name).as("layout"),
        col("__total").as("total_rows"), col("__live").as("live_rows"),
        (col("__total") - col("__live")).as("dead_rows"),
        when(col("__total") === 0L, lit(0.0))
          .otherwise((col("__total") - col("__live")).cast("double") /
            col("__total"))
          .as("tombstone_debt"))
        .localCheckpoint(eager = true)
    }).reduce(_ unionByName _)
  }

  /** The compaction POLICY: measure [[tombstoneDebt]] and, at or above
    * `threshold`, run [[compact]]; returns whether a
    * compaction ran. The 0.25 default reclaims when a quarter of every
    * scan is dead weight — well before typical delete volumes threaten
    * broadcast limits — while letting steady low-rate deletes accumulate
    * into one rewrite instead of many. Call it on the maintenance cadence
    * (after applyDiff batches, before serving windows). The degenerate
    * fully-tombstoned clustered index still refuses to compact
    * ([[requireLive]]) — that state is a rebuild-or-drop decision, and
    * this policy propagates the loud error rather than masking it.
    */
  def compactIfNeeded(spark: SparkSession, dir: String,
      threshold: Double = 0.25): Boolean = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    // a graph store's FRESH REGION is a second debt axis: every query
    // brute-scores the whole delta, so the policy folds it once its
    // share of the store crosses the same threshold — without this, a
    // pure-append workload (zero tombstones, debt 0) would grow the
    // delta unboundedly, and live delta rows in the denominator would
    // even DILUTE tombstone debt away from the trigger. Both debts come
    // from one counter frame: total, live and delta rows in one action.
    val r = storeCountsWithDeltaDf(spark, dir).head()
    val (total, live, delta) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def share(n: Long): Double = if (total == 0L) 0.0 else n.toDouble / total
    if (share(total - live) < threshold && share(delta) < threshold)
      false
    else {
      // a composed root's debt is its nested index's ([[storeDir]]), and
      // so is the compaction
      compact(spark, dir)
      true
    }
  }

  // ----------------------------------------------------- incremental append
  /** Append new corpus rows to a persisted index (any layout) WITHOUT
    * retraining — the maintenance operation between periodic rebuilds.
    * The stored layout's encoder (layout table) encodes the rows against
    * the FROZEN model read back from the index — codebooks, and for the
    * IVF layouts the coarse quantizer; SQ bounds, where appended values
    * outside the trained per-dimension range CLAMP — and the row writer
    * appends them at [[nextSeq]] into the on-disk layout (new rows land
    * in their cluster directories, so partition pruning keeps working).
    * An IVF×PQ index built with `keepVectors` also gets the rows' exact
    * vectors, so the refine path stays complete. Rotated layouts rotate
    * the batch through the stored rotation and forward to their nested
    * index; graph stores append through [[GraphAnn.append]].
    *
    * The build writes its corpus through the SAME encoder and writer, so
    * append(build(A), B) equals encode(A∪B) against A's model EXACTLY —
    * the `x_knn_pq_append` gate pins it; BQ trains nothing, so there
    * append == rebuild. Quantization quality drifts as the data
    * distribution moves away from the training sample; that is the
    * standard trade (FAISS `add` semantics) — rebuild on your cadence,
    * append in between. Caller owns id uniqueness across appends and
    * must serialize maintenance against rebuilds of the same index
    * (object doc).
    *
    * Re-adding an id that is already live MUST go through [[update]]
    * (tombstone + re-append), NEVER a bare append:
    * liveness only subtracts TOMBSTONED generations ([[liveOnly]]), so a
    * duplicate append leaves two live generations of the id — the raw
    * ADC sum then double-counts its per-subspace partials (a corrupt,
    * inflated score) and the residual path emits duplicate neighbor
    * rows. Guarding this inside append would cost a corpus semi-join per
    * batch; FAISS `add_with_ids` makes the same caller-owns-it trade.
    */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String): Unit =
    appendAs(spark, dir, rows, idCol, vecCol, None)

  /** [[append]] to an IVF-flat index; any other layout is refused. */
  def appendIvf(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String): Unit =
    appendAs(spark, dir, rows, idCol, vecCol, Some("ivf"))

  /** [[append]] to an IVF×PQ index; any other layout is refused. */
  def appendIvfPq(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String): Unit =
    appendAs(spark, dir, rows, idCol, vecCol, Some("ivfpq"))

  private def appendAs(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String, expected: Option[String]): Unit = {
    val (name, layout) = layoutOf(spark, dir)
    require(expected.forall(_ == name),
      s"$dir is a '$name' index, not '${expected.getOrElse("")}'")
    layout.nested match {
      case Some(n) => append(spark, s"$dir/$n",
        rotate(rows, idCol, vecCol, readRotation(spark, dir)), "__rid", "__rvec")
      case None if name == "graph" => GraphAnn.append(spark, dir, rows, idCol, vecCol)
      case None => writeRows(dir, name,
        encode(frozenModel(spark, dir), rows, idCol, vecCol), nextSeq(spark, dir), "append")
    }
  }

  // ------------------------------------------------------ delete / update
  /** Update (re-embed) existing rows in a persisted index (any layout):
    * tombstone the old generation, then re-encode the new rows against
    * the frozen quantizers ([[append]]) — the delete's sequence number
    * supersedes the old rows and the re-append lands one past it, so
    * exactly the new encoding is live (FAISS has no in-place update
    * either; remove_ids + add is the documented recipe). A re-embedded
    * row may move to a DIFFERENT coarse cluster; the old cluster's stale
    * rows are dead via the tombstone, so partition pruning stays correct.
    * Rows whose id was never indexed insert cleanly (their tombstone
    * kills nothing).
    */
  def update(spark: SparkSession, dir: String, rows: DataFrame,
      idCol: String, vecCol: String): Unit = {
    deleteIds(spark, dir, rows, idCol)
    append(spark, dir, rows, idCol, vecCol)
  }

  /** Split a [[graft.operators.Upsert.snapshotDiff]] CDC frame (`change`
    * ∈ insert/update/delete + the key column) into the two maintenance
    * inputs every layout shares: keys to tombstone (deletes AND updates
    * — the update's re-append supersedes), and the `rows` slice carrying
    * the new embeddings for insert/update keys.
    */
  private def diffSplit(diff: DataFrame, keyCol: String, rows: DataFrame,
      idCol: String): (DataFrame, DataFrame) = {
    val dels = diff.filter(col("change").isin("delete", "update"))
      .select(qcol(keyCol).as(keyCol))
    val upserts = rows.join(
      diff.filter(col("change").isin("insert", "update"))
        .select(qcol(keyCol).cast("long").as("__uid")),
      qcol(idCol).cast("long") === col("__uid"), "left_semi")
    (dels, upserts)
  }

  /** Apply a snapshotDiff CDC frame to a persisted index (any layout) —
    * the snapshotDiff → index maintenance loop: deletes tombstone,
    * updates tombstone + re-encode, inserts append. `rows` must carry the
    * new embeddings for the insert/update keys.
    */
  def applyDiff(spark: SparkSession, dir: String, diff: DataFrame,
      keyCol: String, rows: DataFrame, idCol: String, vecCol: String): Unit = {
    val (dels, upserts) = diffSplit(diff, keyCol, rows, idCol)
    deleteIds(spark, dir, dels, keyCol)
    append(spark, dir, upserts, idCol, vecCol)
  }

  // --------------------------------------------------- recall reporting
  /** Measured recall@k of the served IVF×PQ path against the index's
    * OWN live exact vectors (requires a `keepVectors = true` build) —
    * the counter pair a recall monitor logs: (hits, possible). Integer
    * counts from the ranked-list join, so the measurement replays
    * exactly. One brute pass over the live vectors + one pruned serve.
    */
  def ivfPqRecallCounters(spark: SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): (Long, Long) = {
    require(graft.util.Hfs.exists(spark, s"$dir/vectors"),
      s"$dir has no vectors/ table — build with keepVectors = true " +
        "to enable recall measurement")
    val index = readIvfPq(spark, dir)
    val live = liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, s"$dir/vectors"))
      .select(col("__id").as(idCol), col("__vec").as(vecCol))
    val q = queries.select(qcol(idCol), qcol(vecCol))
      .localCheckpoint(eager = true) // feeds reference AND serve
    val ref = Similarity.bruteForceTopK(q, live, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true)
    val served = ivfPqTopK(spark, index, q, idCol, vecCol, k, nprobe)
    val hits = served.select(col("query_id"), col("neighbor_id"))
      .join(ref, Seq("query_id", "neighbor_id"), "left_semi").count()
    (hits, ref.count())
  }

  /** Operating-point selection for the served IVF index (the FAISS
    * autotune shape): measure recall@k against the index's OWN live
    * exact vectors for each candidate nprobe — ascending — and choose
    * the SMALLEST candidate meeting the target, falling back to the
    * largest when none does. This is the knob a serving deployment sets
    * once per rebuild: the report row per candidate keeps the whole
    * curve auditable, `chosen` marks the operating point.
    *
    * Deterministic end to end: hit counts are integers (the ranked-list
    * join), recall quantizes to fixed point (floor ×1e6), and the
    * target compares as an integer — so the selection replays exactly
    * in SQL. `targetRecallQ` is the ×1e6 fixed-point target (950000 =
    * 0.95). Cost: one brute-force pass over the live vectors (the
    * reference — queries-sized × corpus, the honest price of measuring
    * recall) plus one pruned serve per candidate.
    */
  def autotuneNprobe(spark: SparkSession, dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, targetRecallQ: Long,
      candidates: Seq[Int]): DataFrame = {
    require(candidates.nonEmpty && candidates == candidates.sorted &&
      candidates.distinct == candidates,
      s"candidates must be ascending and distinct: $candidates")
    require(targetRecallQ >= 0L && targetRecallQ <= 1000000L,
      s"targetRecallQ out of [0, 1e6]: $targetRecallQ")
    val index = readIvf(spark, dir)
    val live = liveOnly(spark, dir, graft.util.TinyParquet.openStore(spark, index.vectorsPath))
      .select(col("__id").as(idCol), col("__vec").as(vecCol))
    val q = queries.select(qcol(idCol), qcol(vecCol))
      .localCheckpoint(eager = true) // reused per candidate
    val ref = Similarity.bruteForceTopK(q, live, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true)
    val possible = ref.count()
    // the per-candidate serve+count probes are independent deterministic
    // plans — run them CONCURRENTLY (the Par fleet discipline) instead
    // of serializing one blocking count job per candidate; the sweep's
    // wall tracks the slowest candidate, results are identical
    val rows = graft.util.Par.all(candidates.size)(candidates.map { np => () =>
      val served = ivfTopK(spark, index, q, idCol, vecCol, k, np)
      val hits = served.select(col("query_id"), col("neighbor_id"))
        .join(ref, Seq("query_id", "neighbor_id"), "left_semi").count()
      val recallQ =
        if (possible == 0L) 0L
        else math.floor(hits.toDouble / possible * 1e6).toLong
      (np, hits, recallQ, recallQ >= targetRecallQ)
    })
    val chosen = rows.find(_._4).map(_._1).getOrElse(candidates.max)
    rows.map { case (np, hits, recallQ, meets) =>
      spark.range(1).select(lit(np).as("nprobe"), lit(hits).as("hits"),
        lit(possible).as("possible"), lit(recallQ).as("recall_q"),
        lit(meets).as("meets"), lit(np == chosen).as("chosen"))
    }.reduce(_ unionByName _)
  }

  /** Measured serving-quality report: recall@k and rank agreement of
    * each served ANN layout against a reference (brute-force) top-k, at
    * the layouts' OPERATING parameters — the number a production vector
    * -store dashboard tracks per index build (the mechanics gates prove
    * full-probe == brute; this measures what the approximation actually
    * costs at the nprobe/shortlist a user runs).
    *
    * `results` are (layout name, served top-k frame) pairs and
    * `reference` the exact top-k, all in the standard ranked shape
    * (`query_id`, `rank`, `neighbor_id`, score) that every topK
    * operator here emits; rows with rank > k are ignored so callers can
    * pass wider frames.
    *
    * Metrics are INTEGER-NUMERATOR by design (the hash-match
    * discipline): `hits` = |served ∩ reference| and `rank_footrule` =
    * Σ |rank_served − rank_ref| over the intersection (Spearman's
    * footrule restricted to shared neighbors — 0 iff the shared lists
    * agree in order) are exact counts, and `recall_at_k` = hits /
    * possible is ONE IEEE division of those counts, so the whole row
    * reproduces bit-for-bit in any engine.
    *
    * Scale shape: per layout one (query_id, neighbor_id)-keyed join of
    * two (n_queries × k)-sized frames plus a scalar aggregate — nothing
    * corpus-sized; the report costs less than any single search it
    * measures.
    *
    * Output: (`layout`, `k`, `n_queries`, `possible`, `hits`,
    * `recall_at_k`, `rank_footrule`), one row per layout in input order.
    */
  def recallReport(results: Seq[(String, DataFrame)], reference: DataFrame,
      k: Int): DataFrame = {
    require(results.nonEmpty, "no layouts to report")
    require(k > 0, s"k must be positive: $k")
    val ref = reference.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("__rref"))
      .localCheckpoint(eager = true) // joined once per layout
    val totals = ref.agg(count(lit(1)).as("__possible"),
      countDistinct(col("query_id")).as("__nq"))
    results.map { case (name, served) =>
      served.filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("__rsrv"))
        .join(ref, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"),
          coalesce(sum(abs(col("__rsrv") - col("__rref"))), lit(0L))
            .as("rank_footrule"))
        .crossJoin(broadcast(totals))
        .select(lit(name).as("layout"), lit(k).as("k"),
          col("__nq").as("n_queries"), col("__possible").as("possible"),
          col("hits"),
          // an empty reference must report recall 0.0, not 0/0 = NaN
          when(col("__possible") === 0L, lit(0.0))
            .otherwise(col("hits").cast("double") / col("__possible"))
            .as("recall_at_k"),
          col("rank_footrule"))
    }.reduce(_ unionByName _)
  }
}
