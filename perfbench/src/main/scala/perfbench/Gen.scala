package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Everything the engine reads is written here as
  * plain files (CSV, JSON lines, TSV, ZIP) with no clocks, hash-map
  * iteration or locale in the byte stream, so one seed always yields
  * byte-identical inputs. Alongside the files it plants counts (invalid
  * rows, contains-fallback values, duplicate keys, upsert overlap, media
  * prefix collisions) and computes, by a plain-Scala replay of the
  * reference semantics, the expected results the checks compare against.
  */
object Gen {

  /** One independent stream per (seed, purpose). The seed goes through a
    * mixing step first: raw seeds that differ by the generator's own
    * increment would otherwise yield the same stream shifted by one draw.
    */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed).nextLong() + salt)

  def writeText(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** RFC-4180 quoting for one CSV field. */
  def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  val colors: Array[String] = ("almond antique aquamarine azure beige bisque black blanched " +
    "blue blush brown burlywood burnished chartreuse chiffon chocolate coral cornflower " +
    "cornsilk cream cyan dark deep dim dodger drab firebrick floral forest frosted " +
    "gainsboro ghost goldenrod green grey honeydew hot indian ivory khaki lace lavender " +
    "lawn lemon light lime linen magenta maroon medium metallic midnight mint misty " +
    "moccasin navajo navy olive orange orchid pale papaya peach peru pink plum powder " +
    "puff purple red rose rosy royal saddle salmon sandy seashell sienna sky slate " +
    "smoke snow spring steel tan thistle tomato turquoise violet wheat white yellow").split(' ')
  val modes: Array[String] = Array("AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  val instructs: Array[String] = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")

  // ------------------------------------------------------------ import data
  /** Geometry of one import data set. `requests` > 0 splits the CSV rows
    * into that many request files of 100–2,000 rows (the admin-UI shape).
    */
  final case class ImportSpec(rows: Int, stored: Int, parts: Int, suppliers: Int,
      tags: Int, requests: Int = 0)

  /** Planted counts and the replayed expected state of one import. */
  final case class ImportExpect(
      csvRows: Int,
      invalidRows: Int,
      duplicateRows: Int,
      distinctValidKeys: Int,
      created: Long,
      updated: Long,
      finalRows: Long,
      containsValues: Int,
      mediaPrefixCollisions: Int,
      mediaMatchedRows: Int,
      noteSizes: Seq[Int],
      sample: Seq[Sampled],
  )

  /** A sampled key: the row the reference's last-wins dedup keeps, and the
    * key's other valid occurrences in the CSV (empty for unique keys).
    */
  final case class Sampled(expected: ExpectedRow, earlier: Seq[ExpectedRow]) {
    def key: String = expected.key
  }

  /** Resolved values of one stored row (relation ids, component sizes,
    * media id counts) — what a check reads back for a sampled key.
    */
  final case class ExpectedRow(key: String, quantity: Option[Int], part: Option[Long],
      supplier: Option[Long], tags: Option[Seq[Long]], shipMode: Option[String],
      notes: Option[Int])

  /** `expect` describes `import.csv`, or the first request when the data
    * is split into requests.
    */
  final case class ImportData(dir: File, spec: ImportSpec, expect: ImportExpect,
      requestFiles: Seq[(File, Int, ImportExpect)])

  private final case class CsvRow(key: String, quantity: String, price: String,
      discount: String, flag: String, shipdate: String, partName: String,
      supplier: String, tags: String, shipMode: String, shipInstruct: String,
      noteCodes: String, noteQty: String, invalid: Boolean)

  /** Items in a non-empty repeatable cell: 1 to MaxNotes, ragged as in
    * real data (the stored table follows the same rule).
    */
  val MaxNotes = 3
  val RequestSizes: Seq[Int] = Seq(1000, 100, 2000, 400, 1500, 250)

  val importHeader: Seq[String] = Seq("lkey", "quantity", "price", "discount", "returnflag",
    "shipdate", "part.name", "supplier", "tags", "ship.mode", "ship.instruct",
    "notes.code", "notes.qty")

  /** Reference relation semantics replayed in Scala (RelationResolver):
    * explicit field = case-insensitive equality, else contains, min id;
    * bare = numeric id, else equality on `name`, else contains on `name`.
    */
  final class Dim(val names: Array[String]) { // id = index + 1
    private val byName: Map[String, Long] = {
      val m = mutable.HashMap[String, Long]()
      names.indices.foreach { i => val k = names(i).trim.toLowerCase
        if (!m.contains(k)) m(k) = i + 1L }
      m.toMap
    }
    private val lowered = names.map(_.trim.toLowerCase)
    private val containsMemo = mutable.HashMap[String, Option[Long]]()
    def contains(needle: String): Option[Long] = containsMemo.getOrElseUpdate(needle, {
      val i = lowered.indexWhere(_.contains(needle)); if (i < 0) None else Some(i + 1L)
    })
    def byField(v: String): Option[Long] = {
      val k = v.trim.toLowerCase
      if (k.isEmpty) None else byName.get(k).orElse(contains(k))
    }
    def bare(v: String): Option[Long] = {
      val t = v.trim
      if (t.isEmpty) None
      else t.toLongOption match {
        case Some(id) => if (id >= 1 && id <= names.length) Some(id) else None
        case None => byName.get(t.toLowerCase).orElse(contains(t.toLowerCase))
      }
    }
  }

  def partNames(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Iterator.continually(colors(r.nextInt(colors.length)))
      .distinct.take(5).mkString(" "))

  def supplierName(id: Long): String = f"Supplier#$id%09d"
  def tagName(id: Long): String = s"tag-${colors((id.toInt - 1) % colors.length)}-${(id - 1) / colors.length}"

  def importData(root: File, seed: Long, spec: ImportSpec): ImportData = {
    val r = rng(seed, 11)
    val parts = new Dim(partNames(r, spec.parts))
    val sups = new Dim(Array.tabulate(spec.suppliers)(i => supplierName(i + 1L)))
    val tags = new Dim(Array.tabulate(spec.tags)(i => tagName(i + 1L)))
    writeText(new File(root, "part.csv"),
      Iterator("id,name") ++ parts.names.indices.iterator.map(i => s"${i + 1},${parts.names(i)}"))
    writeText(new File(root, "supplier.csv"),
      Iterator("id,name") ++ sups.names.indices.iterator.map(i => s"${i + 1},${sups.names(i)}"))
    writeText(new File(root, "tag.csv"),
      Iterator("id,name") ++ tags.names.indices.iterator.map(i => s"${i + 1},${tags.names(i)}"))

    // contains-fallback needles: two consecutive words of a real part
    // name (never a whole five-word name, so equality always misses)
    val needles = Array.fill(math.max(8, spec.rows / 400)) {
      val w = parts.names(r.nextInt(parts.names.length)).split(' ')
      val s = r.nextInt(4); s"${w(s)} ${w(s + 1)}"
    }
    // natural keys: ~24% of rows repeat an earlier key (lineitem's
    // 456,861 distinct keys in 600k rows)
    val keys = new Array[String](spec.rows)
    var order = 0L
    var line = 0
    for (i <- 0 until spec.rows) {
      if (i > 0 && r.nextDouble() < 0.2386) keys(i) = keys(r.nextInt(i))
      else {
        if (line == 0 || r.nextInt(4) == 0) { order += 1 + r.nextInt(3); line = 0 }
        line += 1
        keys(i) = s"$order-$line"
      }
    }
    def pick(a: Array[String]) = a(r.nextInt(a.length))
    def bareOf(d: Dim, unknown: String): String = {
      val x = r.nextInt(100)
      val id = 1 + r.nextInt(d.names.length)
      if (x < 40) id.toString
      else if (x < 85) d.names(id - 1)
      else if (x < 93) d.names(id - 1).toUpperCase
      else if (x < 97) d.names(id - 1).substring(3).toLowerCase // contains fallback
      else unknown
    }
    var containsValues = 0
    val rows = Array.tabulate(spec.rows) { i =>
      val invalid = r.nextInt(100) == 0
      val x = r.nextInt(100)
      val partName =
        if (x < 2) { containsValues += 1; pick(needles) }
        else if (x < 3) s"unknown part ${r.nextInt(1000)}"
        else if (x < 10) parts.names(r.nextInt(parts.names.length)).toUpperCase
        else parts.names(r.nextInt(parts.names.length))
      val nTags = r.nextInt(4)
      val tagList = (0 until nTags).map(_ => bareOf(tags, "nosuchtag")).mkString(",")
      val ship = r.nextInt(10) != 0
      val nNotes = if (r.nextInt(5) == 0) 0 else 1 + r.nextInt(MaxNotes)
      CsvRow(keys(i),
        if (invalid) s"q${r.nextInt(50)}" else (1 + r.nextInt(50)).toString,
        f"${900 + r.nextInt(100000) / 100.0}%.2f",
        f"0.0${r.nextInt(10)}", pick(Array("A", "N", "R")),
        f"199${2 + r.nextInt(7)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
        partName, bareOf(sups, "Supplier#x"), tagList,
        if (ship) pick(modes) else "", if (ship) pick(instructs) else "",
        (0 until nNotes).map(j => s"n${r.nextInt(90) + j}").mkString(","),
        (0 until nNotes).map(_ => (1 + r.nextInt(9)).toString).mkString(","),
        invalid)
    }
    def csvLine(c: CsvRow): String = Seq(c.key, c.quantity, c.price, c.discount, c.flag,
      c.shipdate, c.partName, c.supplier, c.tags, c.shipMode, c.shipInstruct,
      c.noteCodes, c.noteQty).map(csvField).mkString(",")

    // stored table: half its keys overlap the CSV's keys (upsert updates),
    // the rest are keys the CSV never names
    val csvKeys = keys.distinct
    val storedKeys = {
      val overlap = csvKeys.iterator.filter(_ => r.nextInt(2) == 0).take(spec.stored / 2).toArray
      val fresh = (0 until (spec.stored - overlap.length)).map(i => s"s$i-1")
      (overlap ++ fresh).sorted
    }
    def resolve(c: CsvRow): ExpectedRow = {
      val tagIds = c.tags.split(",").iterator.map(_.trim).filter(_.nonEmpty)
        .flatMap(tags.bare).toSeq
      ExpectedRow(c.key, c.quantity.toIntOption, parts.byField(c.partName),
        sups.bare(c.supplier), if (tagIds.isEmpty) None else Some(tagIds),
        if (c.shipMode.isEmpty) None else Some(c.shipMode),
        if (c.noteCodes.isEmpty) None else Some(c.noteCodes.split(",").length))
    }
    val storedRows: Map[String, ExpectedRow] = storedKeys.iterator.zipWithIndex.map { case (k, i) =>
      k -> ExpectedRow(k, Some(1 + i % 50), Some(1L + i % spec.parts),
        Some(1L + i % spec.suppliers), Some(Seq(1L + i % spec.tags)), Some(modes(i % modes.length)),
        Some(1 + i % MaxNotes))
    }.toMap
    writeText(new File(root, "stored.jsonl"), storedKeys.iterator.zipWithIndex.map { case (k, i) =>
      val e = storedRows(k)
      s"""{"id":${i + 1},"lkey":"$k","quantity":${e.quantity.get},"price":1000.5,""" +
        s""""discount":0.05,"returnflag":"N","shipdate":"1994-01-01T00:00:00Z",""" +
        s""""part":${e.part.get},"supplier":${e.supplier.get},"tags":[${e.tags.get.head}],""" +
        s""""ship":{"instruct":"NONE","mode":"${e.shipMode.get}"},""" +
        s""""notes":[${(1 to e.notes.get).map(j => s"""{"code":"s$i-$j","qty":$j}""").mkString(",")}]}"""
    })
    val storedSet = storedKeys.toSet

    def expectFor(csv: Seq[CsvRow], images: Seq[String], sampleEvery: Int): ImportExpect = {
      val last = mutable.LinkedHashMap[String, CsvRow]()
      val occurrences = mutable.HashMap[String, Vector[CsvRow]]()
      csv.foreach(c => if (!c.invalid) {
        last(c.key) = c
        occurrences(c.key) = occurrences.getOrElse(c.key, Vector.empty) :+ c
      })
      val resolved = last.values.map(resolve).toSeq
      val updated = last.keys.count(storedSet)
      val valid = csv.filterNot(_.invalid)
      val byKey = resolved.map(e => e.key -> e).toMap
      // every duplicated key, so that a wrong occurrence cannot slip
      // between samples, plus every sampleEvery-th key and some stored ones
      val sampleKeys = (last.keys.toSeq.zipWithIndex.collect {
        case (k, i) if i % sampleEvery == 0 || occurrences(k).size > 1 => k
      } ++ storedKeys.take(20)).distinct
      ImportExpect(
        csvRows = csv.size,
        invalidRows = csv.count(_.invalid),
        duplicateRows = csv.size - csv.map(_.key).distinct.size,
        distinctValidKeys = last.size,
        created = (last.size - updated).toLong,
        updated = updated.toLong,
        finalRows = (storedSet ++ last.keys).size.toLong,
        containsValues = valid.count(c => needles.contains(c.partName)),
        mediaPrefixCollisions = last.keys.count { k => val l = k.toLowerCase
          images.exists(n => n.startsWith(l) && n != s"${l}_1.png") },
        mediaMatchedRows = last.keys.count { k => val l = k.trim.toLowerCase
          images.exists(_.startsWith(l)) },
        noteSizes = (storedRows.values.flatMap(_.notes) ++ resolved.flatMap(_.notes)).toSeq.distinct.sorted,
        sample = sampleKeys.map { k =>
          val e = byKey.getOrElse(k, storedRows(k))
          Sampled(e, occurrences.getOrElse(k, Vector.empty).map(resolve).distinct.filterNot(_ == e))
        })
    }

    if (spec.requests == 0) {
      writeText(new File(root, "import.csv"), Iterator(importHeader.mkString(",")) ++ rows.iterator.map(csvLine))
      ImportData(root, spec, expectFor(rows.toSeq, Nil, math.max(1, spec.rows / 300)), Nil)
    } else {
      // admin-UI requests of 100–2,000 rows, cut from the row stream; the
      // size schedule is fixed so request q does the same work under every
      // seed. Each carries a media zip whose file names collide by prefix
      var off = 0
      val reqs = (0 until spec.requests).map { q =>
        val n = RequestSizes(q % RequestSizes.length)
        val slice = (0 until n).map(j => rows((off + j) % rows.length))
        off += n
        val f = new File(root, f"req$q%03d.csv")
        writeText(f, Iterator(importHeader.mkString(",")) ++ slice.iterator.map(csvLine))
        val images = mediaZip(new File(root, f"media$q%03d/media.zip"), slice.map(_.key), r)
        (f, n, expectFor(slice, images, math.max(1, n / 40)))
      }
      ImportData(root, spec, reqs.head._3, reqs)
    }
  }

  /** One request's media archive: `image/<key>_1.png` for about half the
    * keys and `document/<key>.pdf` for a third, plus junk the scan must
    * skip. Keys are `lkey` values (`123-4`), so `12-1` is a prefix of
    * `12-10_1.png`: the reference's starts-with match attaches both — a
    * planted prefix collision. Returns the lowercased image file names.
    */
  def mediaZip(f: File, keys: Seq[String], r: SplittableRandom): Seq[String] = {
    f.getParentFile.mkdirs()
    val distinct = keys.distinct
    val imgs = distinct.filter(_ => r.nextInt(2) == 0).sorted
    val docs = distinct.filter(_ => r.nextInt(3) == 0).sorted
    val zos = new java.util.zip.ZipOutputStream(new FileOutputStream(f))
    def put(name: String): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L) // no clock in the bytes
      zos.putNextEntry(e); zos.write(name.getBytes(UTF_8)); zos.closeEntry()
    }
    put("__MACOSX/._junk"); put(".DS_Store"); put("stray.txt"); put("notes/readme.txt")
    imgs.foreach(k => put(s"image/${k}_1.png"))
    docs.foreach(k => put(s"document/$k.pdf"))
    zos.close()
    imgs.map(k => s"${k}_1.png".toLowerCase)
  }

  // -------------------------------------------------------------- curation
  final case class CurationExpect(corpusDocs: Int, exactCopies: Seq[Long],
      shortDocs: Seq[Long], contaminated: Seq[Long])

  private val fillers = "the of and a to in is that for it as with on by this from".split(' ')
  private val topical = ("data table query join scan spark value column batch stream " +
    "window group order key hash merge sort filter index vector model token corpus " +
    "document shard sample quality filter clean dedup pipeline export import record " +
    "field schema relation component media upload archive cluster probe graph beam").split(' ')

  /** A documents-like corpus grown with PERTURBED copies (a few words
    * replaced, so exact dedup cannot collapse the volume), plus planted
    * exact copies, too-short documents and eval-contaminated documents.
    */
  def curationData(root: File, seed: Long, base: Int, copies: Int): CurationExpect = {
    val r = rng(seed, 23)
    def doc(n: Int) = Array.fill(n)(if (r.nextInt(3) == 0) fillers(r.nextInt(fillers.length))
      else topical(r.nextInt(topical.length)))
    val bases = Array.fill(base)(doc(40 + r.nextInt(120)))
    val evalDocs = Array.fill(20)(doc(60).mkString(" "))
    val out = mutable.ArrayBuffer[(Long, String, String)]()
    var id = 0L
    def add(words: Array[String]): Long = {
      id += 1; out += ((id, s"src${r.nextInt(12)}", words.mkString(" "))); id
    }
    bases.foreach(add)
    for (_ <- 1 to copies; b <- bases) {
      val w = b.clone()
      (0 until math.max(3, w.length / 6)).foreach(_ =>
        w(r.nextInt(w.length)) = topical(r.nextInt(topical.length)) + r.nextInt(100))
      add(w)
    }
    val exact = (0 until math.max(4, base / 20)).map(_ => add(bases(r.nextInt(base)).clone()))
    val short = (0 until math.max(4, base / 20)).map(_ => add(doc(5)))
    val contaminated = (0 until math.max(4, base / 40)).map { _ =>
      val e = evalDocs(r.nextInt(evalDocs.length)).split(' ')
      add(doc(30) ++ e.slice(10, 30) ++ doc(10))
    }
    writeText(new File(root, "corpus.tsv"), out.iterator.map { case (i, s, t) => s"$i\t$s\t$t" })
    writeText(new File(root, "eval.tsv"), evalDocs.iterator.zipWithIndex.map { case (t, i) => s"$i\t$t" })
    CurationExpect(out.size, exact, short, contaminated)
  }

  // -------------------------------------------------------------------- ANN
  /** Clustered unit vectors (a mixture of `centers` Gaussian blobs), so
    * IVF partitions are meaningful and recall is a property of the index.
    */
  final class VecGen(seed: Long, dim: Int, centers: Int) {
    private val r = rng(seed, 37)
    private val cs = Array.fill(centers)(Array.fill(dim)(r.nextGaussian().toFloat))
    def next(): Array[Float] = {
      val c = cs(r.nextInt(centers))
      val v = Array.tabulate(dim)(i => c(i) + 0.6f * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
  }

  def vecLine(id: Long, v: Array[Float]): String = s"$id\t${v.mkString(",")}"

  /** Exact top-k by cosine under the engine's tie rule (score rounded to
    * 4 decimals descending, then id ascending), self excluded.
    */
  def bruteTopK(q: Array[Float], qid: Long, live: collection.Map[Long, Array[Float]], k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    live.iterator.filter(_._1 != qid).map { case (id, v) =>
      var dot = 0.0; var vn = 0.0; var i = 0
      while (i < v.length) { dot += q(i) * v(i); vn += v(i).toDouble * v(i); i += 1 }
      (math.round(dot / (qn * math.sqrt(vn)) * 1e4), id)
    }.toSeq.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
  }
}
