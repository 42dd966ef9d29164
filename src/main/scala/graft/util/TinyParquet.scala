package graft.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side reader for TINY parquet control tables (index metas, SQ
  * bounds, rotation matrices, graph entry points): a handful of rows of
  * scalars / flat numeric lists, re-read from the store on every call —
  * no caching, no staleness window beyond the read itself.
  *
  * Why not `spark.read.parquet(...).head()`: that plans and schedules a
  * full Spark JOB for one row — ~100 ms of pure scheduling floor per
  * call locally, and a driver→cluster round trip at scale. Serve-path
  * CONSTRUCTION pays these reads before the caller's real action can
  * even be submitted, so each one is sequential dead time (guide §5:
  * the driver should do no data work — and a one-row metadata read is
  * driver work, the same way Delta/Iceberg read their manifests on the
  * driver without launching jobs). The parquet-mr Group API reads the
  * same bytes in ~1 ms with zero scheduling.
  *
  * Scope: ONLY control tables whose size is bounded by construction
  * (meta = 1 row, bounds/rotation = dim rows, entry ≤ nlist rows).
  * Corpus-sized tables keep the Spark scan path. Supported column
  * types: int32/int64/float/double/boolean/string plus Spark's 3-level
  * list encoding of long/double elements. TinyParquetSpec pins
  * equivalence against `spark.read.parquet` for every shape in use.
  *
  * Footer-only schema reads ([[openStore]]) extend the same idea to
  * corpus-sized stores: the rows stay on the Spark scan path, but the
  * SCHEMA is read on the driver from one file footer. A bare
  * `spark.read.parquet(path)` infers it with a one-task Spark job, a
  * scheduling round trip paid on every store open of every serve leg
  * before the caller's own action can start. OpenStoreSpec pins schema
  * and row equivalence for every store shape in use.
  */
object TinyParquet {

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema comes from the footer of the file Spark's inference would
    * pick ([[Hfs.sparkDataFiles]] — the first data file by full path,
    * listed the way Spark's file index lists it), read on the driver,
    * and is handed to `spark.read.schema(s).parquet(path)`. Partition
    * columns are not in the footer; they are still inferred from the
    * directory names, as in the plain read.
    *
    * Every case this cannot mirror exactly falls back to the plain read,
    * so Spark answers (or raises its own error) as before: a path with
    * nothing to read, summary files, `mergeSchema` on, a glob, a footer
    * without Spark's schema. Reads that pass `basePath`, several paths
    * or their own schema keep calling the reader directly.
    */
  def openStore(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's parquet inference would return for `path`, read
    * from one footer; None whenever [[openStore]] must fall back.
    */
  private[util] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    if (merge || path.exists("{}[]*?\\".contains(_))) None
    else Hfs.sparkDataFiles(spark, path).flatMap(_.headOption).flatMap { f =>
      // Spark prefers the schema it wrote into the footer's key-value
      // metadata over the parquet type tree (ParquetFileFormat
      // .readSchemaFromFooter); a footer without it falls back
      scala.util.Try {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), spark.sessionState.newHadoopConf()))
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally r.close()
      }.toOption.flatten.flatMap(json =>
        scala.util.Try(DataType.fromJson(json)).toOption.collect {
          case st: StructType => st
        })
    }
  }

  /** All rows of `path` (a parquet directory) as field-name → value
    * maps. A field that is NULL (or absent in a file's schema) is
    * simply missing from that row's map — callers probe with `.get`,
    * mirroring the `df.columns.contains(...)` checks the Spark-job
    * readers used for optional meta columns.
    */
  def readRows(spark: SparkSession, path: String): Seq[Map[String, Any]] = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val parts = fs.listStatus(p).toSeq
      .map(_.getPath)
      .filter { f =>
        val n = f.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getName) // one-row tables don't care; fixed order anyway
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    parts.foreach { f =>
      val reader = ParquetReader
        .builder[Group](new GroupReadSupport(), f)
        .withConf(hconf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          out += groupToMap(g)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  /** The single row of a one-row control table (e.g. an index meta). */
  def readOneRow(spark: SparkSession, path: String): Map[String, Any] = {
    val rows = readRows(spark, path)
    require(rows.length == 1,
      s"$path: expected exactly one meta row, found ${rows.length}")
    rows.head
  }

  private def groupToMap(g: Group): Map[String, Any] = {
    val t = g.getType
    val b = Map.newBuilder[String, Any]
    (0 until t.getFieldCount).foreach { i =>
      if (g.getFieldRepetitionCount(i) > 0) {
        val f = t.getType(i)
        if (f.isPrimitive) {
          primitive(g, i, f.asPrimitiveType()).foreach(v =>
            b += (f.getName -> v))
        } else {
          // Spark's 3-level list: optional group col (LIST) {
          //   repeated group list { optional T element } }
          val ann = f.getLogicalTypeAnnotation
          require(ann.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation],
            s"TinyParquet: unsupported nested field ${f.getName} " +
              "(only LIST-annotated groups are supported)")
          b += (f.getName -> listValues(g.getGroup(i, 0), f.asGroupType()))
        }
      }
    }
    b.result()
  }

  private def listValues(outer: Group, outerType: GroupType): Seq[Any] = {
    val n = outer.getFieldRepetitionCount(0)
    val elemType = outerType.getType(0).asGroupType().getType(0).asPrimitiveType()
    (0 until n).map { j =>
      val inner = outer.getGroup(0, j)
      require(inner.getFieldRepetitionCount(0) > 0,
        "TinyParquet: null list elements are not supported " +
          "(control tables write dense lists)")
      primitive(inner, 0, elemType).get
    }
  }

  private def primitive(g: Group, i: Int, t: PrimitiveType): Option[Any] = {
    import PrimitiveType.PrimitiveTypeName._
    t.getPrimitiveTypeName match {
      case INT32 => Some(g.getInteger(i, 0))
      case INT64 => Some(g.getLong(i, 0))
      case BOOLEAN => Some(g.getBoolean(i, 0))
      case DOUBLE => Some(g.getDouble(i, 0))
      case FLOAT => Some(g.getFloat(i, 0))
      case BINARY =>
        t.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some(g.getString(i, 0))
          case _ =>
            throw new IllegalArgumentException(
              s"TinyParquet: unsupported binary field ${t.getName}")
        }
      case other =>
        throw new IllegalArgumentException(
          s"TinyParquet: unsupported primitive $other for field ${t.getName}")
    }
  }
}
