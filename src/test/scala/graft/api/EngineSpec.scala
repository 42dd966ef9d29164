package graft.api

import graft.{Fixtures, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end endpoint behavior (reference: tests/controllers/
  * csv-import.test.js and tests/integration/full-workflow.test.js shapes).
  */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val countryTable = Fixtures.countryDf(spark)
  private lazy val emptyCompanies: DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("name", StringType), StructField("country", LongType),
        StructField("established", IntegerType), StructField("active", BooleanType),
        StructField("email", StringType))))
  }

  private def engine = new Engine(spark, Fixtures.registry, {
    case "api::country.country" => (countryTable, "id")
    case "api::company.company" => (emptyCompanies, "name")
    case other => throw new NoSuchElementException(other)
  })

  test("contentTypes lists only api:: namespace") {
    engine.contentTypes.map(_.uid) shouldBe
      Seq("api::company.company", "api::country.country", "api::person.person")
  }

  test("preview returns headers and first rows without validation") {
    val csv = Seq(("x", "nonsense"), ("y", "alsobad")).toDF("name", "established")
    val (headers, rows) = engine.preview(csv, 1)
    headers shouldBe Seq("name", "established")
    rows should have length 1
  }

  test("validate reports schema errors, warnings, and invalid rows") {
    val csv = Seq(("Acme", "2010", "yes", "a@b.co", "zz"))
      .toDF("name", "established", "active", "email", "unknown_col")
    val rep = engine.validate(csv, "api::company.company")
    rep.valid shouldBe true // unknown col is only a warning
    rep.warnings.exists(_.contains("unknown_col")) shouldBe true

    val bad = Seq(("", "notanum", "maybe", "bademail", "x"))
      .toDF("name", "established", "active", "email", "unknown_col")
    val rep2 = engine.validate(bad, "api::company.company")
    rep2.valid shouldBe false
    rep2.invalidRows shouldBe 1
  }

  test("importCsv resolves relation via dot notation and counts creates") {
    val csv = Seq(
      ("Comp A", "india", "2000", "true"),
      ("Comp B", "UNITED STATES", "2001", "no"),
      ("Comp C", "Atlantis", "2002", "yes"), // relation miss ⇒ null country
    ).toDF("name", "country.name", "established", "active")
    val res = engine.importCsv(csv, "api::company.company", upsert = true, upsertField = "name")
    res.created shouldBe 3
    res.updated shouldBe 0
    val rows = res.merged.orderBy("name").collect()
    rows.map(r => Option(r.getAs[Any]("country"))) shouldBe
      Seq(Some(1L), Some(2L), None)
    rows.map(_.getAs[Boolean]("active")).toSeq shouldBe Seq(true, false, true)
  }

  test("importCsv upsert updates existing keys (last write wins)") {
    val existing = Seq(("Comp A", 1L, 1999, true, null.asInstanceOf[String]))
      .toDF("name", "country", "established", "active", "email")
    val eng = new Engine(spark, Fixtures.registry, {
      case "api::country.country" => (countryTable, "id")
      case "api::company.company" => (existing, "name")
    })
    val csv = Seq(("Comp A", "china", "2020", "yes"), ("Comp D", "india", "2021", "no"))
      .toDF("name", "country.name", "established", "active")
    val res = eng.importCsv(csv, "api::company.company", upsert = true, upsertField = "name")
    res.created shouldBe 1
    res.updated shouldBe 1
    val a = res.merged.filter(col("name") === "Comp A").collect().head
    a.getAs[Long]("country") shouldBe 3L // updated to china
    res.merged.count() shouldBe 2
  }

  test("importCsv assembles components with inner relations (three-segment grammar)") {
    import org.apache.spark.sql.types._
    val emptyPersons = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fullName", StringType))))
    val eng = new Engine(spark, Fixtures.registry, {
      case "api::country.country" => (countryTable, "id")
      case "api::person.person" => (emptyPersons, "fullName")
    })
    val csv = Seq(
      ("Ada", "Main St", "NYC", "united states"),
      ("Bob", "", "", ""),
    ).toDF("fullName", "address.street", "address.city", "address.country.name")
    val res = eng.importCsv(csv, "api::person.person", upsert = true, upsertField = "fullName")
    res.created shouldBe 2
    val rows = res.merged.orderBy("fullName").collect()
    val ada = rows(0).getStruct(rows(0).fieldIndex("address"))
    ada.getAs[String]("street") shouldBe "Main St"
    ada.getAs[Long]("country") shouldBe 2L // resolved against countries
    rows(1).isNullAt(rows(1).fieldIndex("address")) shouldBe true // all-empty ⇒ null
  }

  test("importCsv aborts on schema-level validation failure (gate)") {
    val csv = Seq(("2000")).toDF("established") // required name missing
    an[IllegalArgumentException] should be thrownBy
      engine.importCsv(csv, "api::company.company")
  }

  test("exportCsv populates relation display and drops audit columns") {
    val stored = Seq(
      ("Comp A", 1L, 2000, true, "a@b.co", "2024-01-01"),
      ("Comp B", 99L, 2001, false, "b@b.co", "2024-01-02"),
    ).toDF("name", "country", "established", "active", "email", "createdAt")
    val eng = new Engine(spark, Fixtures.registry, {
      case "api::country.country" => (countryTable, "id")
      case "api::company.company" => (stored, "name")
    })
    val out = eng.exportCsv("api::company.company")
    out.columns should contain("country.name")
    out.columns should not contain "createdAt"
    val rows = out.orderBy("name").collect()
    rows(0).getAs[String]("country.name") shouldBe "India"
    rows(1).getAs[String]("country.name") shouldBe null // miss ⇒ empty
  }

  test("importCsv upsert: the last CSV occurrence wins across input partitions and shuffles") {
    import org.apache.spark.sql.types._
    val emptyPersons = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fullName", StringType))))
    val eng = new Engine(spark, Fixtures.registry, {
      case "api::country.country" => (countryTable, "id")
      case "api::person.person" => (emptyPersons, "fullName")
    })
    // 3,000 rows over 300 keys, each key's occurrences spread over the
    // whole file; the multi-relation and the component assembly shuffle
    // the rows before the dedup
    val dir = graft.SparkSpec.tempDir("graft_lastwins")
    val csvPath = dir.resolve("people.csv")
    val names = Seq("India", "United States", "China")
    java.nio.file.Files.write(csvPath, ("fullName,address.street,countries\n" +
      (0 until 3000).map(i => s"p${i % 300},v$i,\"${names(i % 3)}, ${names((i + 1) % 3)}\"")
        .mkString("\n")).getBytes("UTF-8"))
    spark.conf.get("spark.sql.shuffle.partitions").toInt should be >= 4
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4k")
    // keep every shuffle partition: coalesced into one, small data can
    // come out of the shuffles in input order by accident
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val csv = spark.read.option("header", true).csv(csvPath.toString)
      csv.rdd.getNumPartitions should be >= 4
      for (run <- 1 to 3) withClue(s"run $run: ") {
        val merged = eng.importCsv(csv, "api::person.person", upsert = true,
            upsertField = "fullName").merged
          .select($"fullName", $"address.street")
          .as[(String, String)].collect().toMap
        merged.size shouldBe 300
        (0 until 300).foreach(k => merged(s"p$k") shouldBe s"v${2700 + k}")
      }
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("exportCsv flattens ragged repeatable components under ANSI; missing slots are empty") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val stored = Seq(("P1", Seq("a")), ("P2", Seq("a", "b")), ("P3", Seq("a", "b", "c")))
        .toDF("fullName", "streets")
        .select($"fullName",
          struct(lit("Main").as("street"), lit("NYC").as("city"), lit(1L).as("country"))
            .as("address"),
          transform($"streets", s => struct(s.as("street"), upper(s).as("city"),
            lit(2L).as("country"))).as("stops"),
          array(lit(1L)).as("countries"))
      val eng = new Engine(spark, Fixtures.registry, {
        case "api::country.country" => (countryTable, "id")
        case "api::person.person" => (stored, "fullName")
      })
      val dir = graft.SparkSpec.tempDir("graft_ragged").toString + "/out"
      graft.operators.Exporter.writeCsv(eng.exportCsv("api::person.person"), dir)
      val back = spark.read.option("header", true).option("escape", "\"").csv(dir)
        .orderBy("fullName").collect()
      back.map(_.getAs[String]("fullName")).toSeq shouldBe Seq("P1", "P2", "P3")
      for ((r, n) <- back.zip(1 to 3); i <- 1 to 3) {
        val street = Option(r.getAs[String](s"stops.$i.street"))
        val city = Option(r.getAs[String](s"stops.$i.city"))
        if (i <= n) {
          street shouldBe Some(("abc")(i - 1).toString)
          city shouldBe Some(("ABC")(i - 1).toString)
        } else {
          street shouldBe None
          city shouldBe None
        }
      }
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }
}
