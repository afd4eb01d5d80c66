package graft.athenaeum

import graft.sources.AdventureWorksTables

/** Catalog error surface (SURVEY §2.12: header/type/IO errors) plus the
  * AdventureWorks-scale smoke (SURVEY §5 item 5) over the reference's
  * shipped 58-table corpus via the tablejson DataSourceV2 (or its
  * stand-in, [[AdventureWorksTables]]). */
class CatalogSpec extends SparkSpec {

  private def writeTable(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("cat").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, s"$name.table.json"), content)
    dir
  }

  test("missing header row errors (database.py:914-916)") {
    val dir = writeTable("bad", """[[["name"]], ["x"]]""")
    val err = intercept[EngineError] {
      Catalog.loadTable(spark, dir, "bad", _ => ())
    }
    assert(err.msg == "There was no header row defined for table \"bad\"")
  }

  test("unknown column type errors (database.py:924-925)") {
    val dir = writeTable("bad", """[[["name", "float"]], [1.5]]""")
    val err = intercept[EngineError] {
      Catalog.loadTable(spark, dir, "bad", _ => ())
    }
    assert(err.msg == "no column type")
  }

  test("unreadable file errors with the reference text") {
    val err = intercept[EngineError] {
      Catalog.loadTable(spark, "/nonexistent", "ghost", _ => ())
    }
    assert(err.msg == "Unable to read table \"ghost.table.json\" from disk\n")
  }

  test("a table file rewritten in place is re-read") {
    val dir = writeTable("t", """[[["n", "int"]], [1], [2]]""")
    def rows(out: String) = out.linesIterator.drop(3).map(_.trim).toSeq.sorted
    val first = Engine.runSql(spark, dir, "SELECT n FROM t")
    assert(first.linesIterator.next() == "- Loaded \"t.table.json\", 2 rows.")
    assert(rows(first) == Seq("1", "2"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.table.json"),
      """[[["n", "int"]], [1], [2], [3]]""")
    val second = Engine.runSql(spark, dir, "SELECT n FROM t")
    assert(second.linesIterator.next() == "- Loaded \"t.table.json\", 3 rows.")
    assert(rows(second) == Seq("1", "2", "3"))
  }

  test("AdventureWorks 3-way join at 19.9k rows per side (scale smoke)") {
    def load(n: String) = spark.read.format("tablejson")
      .load(s"${AdventureWorksTables.dir}/$n.table.json")
    val phone = load("personPhone").as("ph")
    val email = load("emailAddress").as("em")
    val pwd = load("password").as("pw")
    val joined = phone
      .join(email, org.apache.spark.sql.functions.col("ph.business_entity_id")
        === org.apache.spark.sql.functions.col("em.business_entity_id"))
      .join(pwd, org.apache.spark.sql.functions.col("ph.business_entity_id")
        === org.apache.spark.sql.functions.col("pw.business_entity_id"))
    // all three are 1:1 on business_entity_id in AdventureWorks
    assert(joined.count() == 19972L)
  }

  test("AdventureWorks aggregation over a 19.8k-row table") {
    val customer = spark.read.format("tablejson")
      .load(s"${AdventureWorksTables.dir}/customer.table.json")
    val byTerritory = customer.groupBy("territory_id").count().collect()
    assert(byTerritory.map(_.getLong(1)).sum == 19820L)
  }
}
