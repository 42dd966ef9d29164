package graft.util

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** TinyParquet must read EXACTLY what `spark.read.parquet` reads for
  * every control-table shape the serve paths hand it: one-row metas
  * with optional columns, multi-row scalar tables (SQ bounds), and
  * list<double> rows (rotation matrices). The driver-side read replaced
  * per-serve Spark jobs (r22 batch 3), so equivalence here is what
  * keeps that swap a pure latency change.
  */
class TinyParquetSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.SparkSpec.tempDir("tinyparquet").toString

  test("one-row meta with int/boolean/string columns round-trips") {
    import spark.implicits._
    val dir = tmpDir() + "/meta"
    Seq((8, 16, 4, true, "ivfpq")).toDF("m", "sub", "nlist", "residual", "layout")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val r = TinyParquet.readOneRow(spark, dir)
    r("m") shouldBe 8
    r("sub") shouldBe 16
    r("nlist") shouldBe 4
    r("residual") shouldBe true
    r("layout") shouldBe "ivfpq"
  }

  test("columns absent from the schema are absent from the map (pre-layout metas)") {
    import spark.implicits._
    val dir = tmpDir() + "/meta"
    Seq((8, 16, -1)).toDF("m", "sub", "nlist")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val r = TinyParquet.readOneRow(spark, dir)
    r.get("layout") shouldBe None
    r.get("residual") shouldBe None
    r("nlist") shouldBe -1
  }

  test("multi-row scalar table (bounds shape) matches spark.read row-for-row") {
    import spark.implicits._
    val dir = tmpDir() + "/bounds"
    val data = (0 until 7).map(i => (i, -1.5 + i * 0.25, 2.0 + i))
    data.toDF("__pos", "vmin", "vmax")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val tiny = TinyParquet.readRows(spark, dir)
      .sortBy(_("__pos").asInstanceOf[Int])
      .map(m => (m("__pos"), m("vmin"), m("vmax")))
    val viaSpark = spark.read.parquet(dir)
      .orderBy("__pos").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
    tiny shouldBe viaSpark
  }

  test("list<double> rows (rotation shape) match spark.read element-for-element") {
    import spark.implicits._
    val dir = tmpDir() + "/rotation"
    val data = (0 until 4).map(i => (i, (0 until 4).map(j => i * 10.0 + j)))
    data.toDF("__i", "__row")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val tiny = TinyParquet.readRows(spark, dir)
      .sortBy(_("__i").asInstanceOf[Int])
      .map(_("__row").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double]))
    val viaSpark = spark.read.parquet(dir).orderBy("__i").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    tiny shouldBe viaSpark
  }

  test("long and float scalars read back typed (entry table shape)") {
    val dir = tmpDir() + "/entry"
    val schema = StructType(Seq(
      StructField("entry", LongType, nullable = false),
      StructField("degree", IntegerType, nullable = false),
      StructField("w", FloatType, nullable = false)))
    val rows = java.util.Arrays.asList(
      Row(3L, 8, 1.5f), Row(11L, 8, -0.25f))
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val tiny = TinyParquet.readRows(spark, dir)
      .sortBy(_("entry").asInstanceOf[Long])
    tiny.map(_("entry")) shouldBe Seq(3L, 11L)
    tiny.map(_("degree")) shouldBe Seq(8, 8)
    tiny.map(_("w")) shouldBe Seq(1.5f, -0.25f)
  }

  test("multiple part files concatenate; null cells are absent from their row") {
    import spark.implicits._
    val dir = tmpDir() + "/multi"
    Seq((1, Some("a")), (2, None), (3, Some("c"))).toDF("k", "v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val tiny = TinyParquet.readRows(spark, dir)
      .sortBy(_("k").asInstanceOf[Int])
    tiny.map(_("k")) shouldBe Seq(1, 2, 3)
    tiny.map(_.get("v")) shouldBe Seq(Some("a"), None, Some("c"))
  }

  test("readOneRow refuses multi-row tables loudly") {
    import spark.implicits._
    val dir = tmpDir() + "/two"
    Seq(1, 2).toDF("k").coalesce(1).write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      TinyParquet.readOneRow(spark, dir)
    }
    e.getMessage should include("expected exactly one meta row")
  }
}
