package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Media
import graft.sources.ZipSource

/** Queries closing the remaining SURVEY §2 inventory rows that the other
  * modules exercise only in specs: S2 catalog scan, S5 ZIP scan, S7 insert
  * sink, S9 media sink, F7/F10 media functions, J8 archive dedup, P10
  * export filter.
  */
object CoverageQueries {

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame) =
    QueryDef(name, fn, Some(oracle))

  /** S2: catalog enumeration (api:: namespace only) through the Engine. */
  val s2Catalog = q("s2_catalog_scan",
    """SELECT * FROM (VALUES ('api::nation.nation'), ('api::supplier.supplier')) t(uid)""") {
    (s, dir) =>
      import s.implicits._
      val registry = graft.registry.ContentTypeRegistry(Seq(
        graft.registry.ContentType("api::nation.nation", "Nation", Nil),
        graft.registry.ContentType("api::supplier.supplier", "Supplier", Nil),
        graft.registry.ContentType("plugin::upload.file", "File", Nil), // filtered out
      ))
      val engine = new graft.api.Engine(s, registry, _ => throw new UnsupportedOperationException)
      engine.contentTypes.map(_.uid).toDF("uid")
  }

  /** S5: distributed ZIP scan — one archive per document source bucket is
    * built deterministically (input prep), then read back via the
    * binaryFile + per-partition expansion path; system entries are junk
    * that must be filtered out.
    */
  /** Input prep (idempotent): one archive per document source bucket,
    * deterministic content keyed by the staging fingerprint.
    */
  def stageZips(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Staging.once("zips", dir) { zipDir =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source"))
        .collect() // input prep only: materialize the small doc set into archives
      docs.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
        val zos = new java.util.zip.ZipOutputStream(
          new java.io.FileOutputStream(s"$zipDir/$src.zip"))
        zos.putNextEntry(new java.util.zip.ZipEntry(s"__MACOSX/junk_$src"))
        zos.write("junk".getBytes); zos.closeEntry()
        rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          zos.putNextEntry(new java.util.zip.ZipEntry(s"doc${r.getAs[Long]("doc_id")}.txt"))
          zos.write(r.getAs[String]("text").getBytes("UTF-8"))
          zos.closeEntry()
        }
        zos.close()
      }
    }

  val s5ZipScan = q("s5_zip_scan",
    """SELECT 'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS size
      |FROM documents""".stripMargin) { (s, dir) =>
    val zipDir = stageZips(s, dir)
    ZipSource.readZips(s, zipDir).select(col("name"), col("size"))
  }

  /** S7: plain insert sink (append, no upsert): disjoint halves reunite. */
  val s7Insert = q("s7_insert_append",
    "SELECT o_orderkey AS okey, round(o_totalprice, 2) AS price FROM orders") { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val target = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
    val incoming = orders.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
    graft.operators.Upsert.merge(target, incoming, "okey", upsert = false)
      .merged.select(col("okey"), round(col("price"), 2).as("price"))
  }

  private def mediaNames(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(lit("photo_"), col("doc_id"), lit(".png")))
        .when(col("doc_id") % 3 === 1, concat(lit("report_"), col("doc_id"), lit(".pdf")))
        .otherwise(concat(lit("music_"), col("doc_id"), lit(".mp3"))).as("name"))

  private val mediaNamesSql =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 3 = 0 THEN 'photo_' || CAST(doc_id AS VARCHAR) || '.png'
      |            WHEN doc_id % 3 = 1 THEN 'report_' || CAST(doc_id AS VARCHAR) || '.pdf'
      |            ELSE 'music_' || CAST(doc_id AS VARCHAR) || '.mp3' END AS name
      |FROM documents""".stripMargin

  /** F7/F8-F10: extension → MIME lookup + keyword bucket classification. */
  val f7MediaFuncs = q("f7_mime_and_keywords",
    s"""WITH m AS ($mediaNamesSql)
       |SELECT doc_id, name,
       |       CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'pdf' ELSE 'mp3' END AS ext,
       |       CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'application/pdf'
       |            ELSE 'audio/mpeg' END AS mime,
       |       CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'document'
       |            ELSE 'audio' END AS bucket
       |FROM m""".stripMargin) { (s, dir) =>
    mediaNames(s, dir).select(col("doc_id"), col("name"),
      Media.fileExtension(col("name")).as("ext"),
      Media.mimeType(col("name")).as("mime"),
      Media.classifyByKeyword(col("name"), Media.defaultFieldKeywords).as("bucket"))
  }

  /** S9: media sink — library table with deterministic ids. Rank by name
    * via the distributed two-phase id assignment (range partition +
    * per-partition row_number + count prefix-sum), NOT an un-partitioned
    * window: same result as `row_number() OVER (ORDER BY name)` with no
    * single-task global sort.
    */
  val s9MediaSink = q("s9_media_sink",
    s"""WITH m AS ($mediaNamesSql)
       |SELECT row_number() OVER (ORDER BY name) AS media_id, name,
       |       CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'application/pdf'
       |            ELSE 'audio/mpeg' END AS mime
       |FROM m""".stripMargin) { (s, dir) =>
    graft.operators.Ids.globalRowNumber(mediaNames(s, dir), Seq(col("name")), "media_id")
      .select(col("media_id"), col("name"), Media.mimeType(col("name")).as("mime"))
  }

  /** J8: duplicate-archive-entry dedup (upload-once cache). */
  val j8DedupEntries = q("j8_dedup_entries",
    """WITH e AS (
      |  SELECT 'a' || CAST(o_orderkey % 2 AS VARCHAR) || '.zip' AS archive,
      |         'f' || CAST(o_custkey AS VARCHAR) || '.bin' AS name,
      |         CAST(o_custkey AS BIGINT) AS size
      |  FROM orders),
      |r AS (SELECT *, row_number() OVER (PARTITION BY name, size ORDER BY archive, name) AS rn FROM e)
      |SELECT archive, name, size FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
    val entries = Tables.orders(s, dir).select(
      concat(lit("a"), (col("o_orderkey") % 2).cast("string"), lit(".zip")).as("archive"),
      concat(lit("f"), col("o_custkey").cast("string"), lit(".bin")).as("name"),
      col("o_custkey").cast("long").as("size"))
    ZipSource.dedupEntries(entries)
  }

  /** P10: export request filter pushed into the export scan. */
  val p10ExportFilter = q("p10_export_filter",
    """SELECT s_suppkey, s_name AS sname, n_name AS nation_name
      |FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_nationkey < 10""".stripMargin) { (s, dir) =>
    val nation = Tables.nation(s, dir)
    val stored = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name").as("sname"),
        col("s_nationkey").cast("long").as("nation"))
    val registry = graft.registry.ContentTypeRegistry(Seq(
      graft.registry.ContentType("api::nation.nation", "Nation", Seq(
        graft.registry.Attribute("n_name", graft.registry.AttrKind.StringK, unique = true))),
      graft.registry.ContentType("api::supplier.supplier", "Supplier", Seq(
        graft.registry.Attribute("sname", graft.registry.AttrKind.StringK),
        graft.registry.Attribute("nation", graft.registry.AttrKind.RelationK,
          target = Some("api::nation.nation"), relationKind = Some("manyToOne"))))))
    val engine = new graft.api.Engine(s, registry, {
      case "api::nation.nation" => (nation, "n_nationkey")
      case "api::supplier.supplier" => (stored, "s_suppkey")
    })
    engine.exportCsv("api::supplier.supplier", filter = Some(col("nation") < 10), limit = 100000)
      .withColumnRenamed("nation.n_name", "nation_name")
  }

  val all: Seq[QueryDef] = Seq(
    s2Catalog, s5ZipScan, s7Insert, f7MediaFuncs, s9MediaSink, j8DedupEntries, p10ExportFilter)
}
