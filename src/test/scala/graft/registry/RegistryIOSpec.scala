package graft.registry

import graft.{Fixtures, SparkSpec}
import java.nio.file.Files

class RegistryIOSpec extends SparkSpec {

  test("registry JSON round-trip preserves types, constraints, components") {
    val dir = graft.SparkSpec.tempDir("graft_reg").toString + "/catalog"
    RegistryIO.save(spark, Fixtures.registry, dir)
    val loaded = RegistryIO.load(spark, dir)

    loaded.importable.keySet shouldBe Fixtures.registry.importable.keySet
    val company = loaded.contentTypeOrThrow("api::company.company")
    company.attribute("country").get.target shouldBe Some("api::country.country")
    company.attribute("country").get.relationKind shouldBe Some("manyToOne")
    company.attribute("active").get.default shouldBe Some("true")
    company.attribute("name").get.required shouldBe true
    val person = loaded.contentTypeOrThrow("api::person.person")
    person.attribute("stops").get.repeatable shouldBe true
    loaded.componentOrThrow("test.address").attribute("country").get.isRelation shouldBe true
  }
}
