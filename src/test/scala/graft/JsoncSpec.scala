package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.core.Tables

/** S6: JSONC config ingestion — comments tolerated, schema enforced
  * (reference json_converters.py:25-32, museum_facts.py:7-18). */
class JsoncSpec extends SparkSpec {

  test("readJsonc parses commented JSON with an enforced schema") {
    val dir = java.nio.file.Paths.get(scratchDir("graft-jsonc"))
    val f = dir.resolve("facts.jsonc")
    Files.writeString(f,
      """{
        |  // museum master data
        |  "museum": "Barberini",  // name
        |  /* capacity block */
        |  "capacity": 425
        |}""".stripMargin)
    val schema = StructType(Seq(
      StructField("museum", StringType),
      StructField("capacity", IntegerType)))
    val row = Tables.readJsonc(spark, f.toString, schema).collect().head
    assert(row.getAs[String]("museum") === "Barberini")
    assert(row.getAs[Int]("capacity") === 425)
  }
}
