package graft.operators

import graft.{Fixtures, SparkSpec}
import org.apache.spark.sql.functions._

/** Export flatten semantics (reference: controllers/csv-import.js:353-417;
  * golden shapes from tests/integration/full-workflow.test.js:248-288).
  */
class ExporterSpec extends SparkSpec {
  import spark.implicits._

  test("single component flattens to field.key columns, id dropped") {
    val df = Seq(("e1", ("Main", "NYC", 7L))).toDF("name", "addr")
      .select(col("name"), col("addr._1").as("street"), col("addr._2").as("city"))
      .withColumn("address", struct(col("street"), col("city"), lit(3L).as("id")))
      .select("name", "address")
    val out = Exporter.flattenSingleComponent(df, "address")
    out.columns.toSeq shouldBe Seq("name", "address.street", "address.city")
    val r = out.collect().head
    r.getAs[String]("address.street") shouldBe "Main"
  }

  test("repeatable component flattens to field.{i}.key, 1-based") {
    val df = Seq(("e1", Seq(("A", 1), ("B", 2)))).toDF("name", "items")
      .select(col("name"),
        transform(col("items"), x => struct(x.getField("_1").as("tag"), x.getField("_2").as("n")))
          .as("items"))
    val max = Exporter.maxArraySize(df, "items")
    max shouldBe 2
    val out = Exporter.flattenRepeatableComponent(df, "items", max)
    out.columns.toSeq shouldBe Seq("name", "items.1.tag", "items.1.n", "items.2.tag", "items.2.n")
    val r = out.collect().head
    r.getAs[String]("items.2.tag") shouldBe "B"
  }

  test("scalar relation populates to field.display; miss is null") {
    val df = Seq(("e1", 2L), ("e2", 99L)).toDF("name", "country")
    val out = Exporter.populateRelation(df, "country", Fixtures.countryDf(spark), "id", "name")
      .orderBy("name").collect()
    out(0).getAs[String]("country.name") shouldBe "United States"
    out(1).getAs[String]("country.name") shouldBe null
  }

  test("multi relation joins display values with comma-space in id order") {
    val df = Seq(("e1", Seq(3L, 1L))).toDF("name", "countries")
    val out = Exporter.populateMultiRelation(df, "countries", Fixtures.countryDf(spark), "id", "name")
      .collect().head
    out.getAs[String]("countries.name") shouldBe "China, India"
  }

  test("writeCsv emits RFC doubled-quote escaping and round-trips") {
    val dir = graft.SparkSpec.tempDir("graft_csv_out").toString + "/out"
    val df = Seq(("a,b", "He said \"hi\""), ("plain", "x")).toDF("c1", "c2")
    Exporter.writeCsv(df, dir)
    val raw = spark.read.text(dir).as[String].collect().mkString("\n")
    raw should include("\"He said \"\"hi\"\"\"") // doubled quotes, not backslash
    val back = spark.read.option("header", true).option("escape", "\"").csv(dir)
      .orderBy("c1").collect()
    back(0).getString(0) shouldBe "a,b"
    back(0).getString(1) shouldBe "He said \"hi\""
  }

  test("audit and __ columns dropped") {
    val df = Seq(("x", "t1", "t2", "z")).toDF("name", "createdAt", "updatedAt", "__v")
    Exporter.dropAudit(df).columns.toSeq shouldBe Seq("name")
  }
}
