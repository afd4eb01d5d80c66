package graft.sources

import graft.athenaeum.SparkSpec

/** Robustness sweep over the reference's LARGEST shipped workload: all 58
  * AdventureWorks `.table.json` files (~21 MB, 244k rows — see
  * BASELINE.md; [[AdventureWorksTables]] stands in for them where the
  * reference tree is absent). Every file must load through the
  * DataSourceV2 with a parsed schema, scan cleanly (count + a per-column
  * touch), and agree with the column-pruned read — catching format edge
  * cases (hex blobs stored as str, empty strings, large ints, wide rows)
  * the 16-row goldens can't. */
class AdventureWorksSpec extends SparkSpec {

  private val dir = AdventureWorksTables.dir

  test("all 58 reference tables load, scan, and prune") {
    val files = dir.listFiles().filter(_.getName.endsWith(".table.json"))
      .sortBy(_.getName)
    assert(files.length == 58)
    var totalRows = 0L
    files.foreach { f =>
      val df = spark.read.format("tablejson").load(f.getAbsolutePath)
      val schema = df.schema
      assert(schema.fields.nonEmpty, s"${f.getName}: empty schema")
      val n = df.count()
      totalRows += n
      // column-pruned scan returns the same row count as the full scan
      val firstCol = schema.fields.head.name
      assert(df.select(firstCol).count() == n, s"${f.getName}: prune drift")
    }
    // the reference's documented workload size (BASELINE.md): 244,299 rows
    assert(totalRows == 244299L, s"total rows: $totalRows")
  }

  test("differential: parity engine agrees with the DataFrame path on real data") {
    import org.apache.spark.sql.functions.col
    val base = dir.getAbsolutePath
    def engineRows(sql: String): Int =
      graft.athenaeum.Engine.runSql(spark, base, sql)
        .linesIterator.count(l => l.nonEmpty && !l.startsWith("- Loaded")) - 2

    val addr = spark.read.format("tablejson").load(s"$base/address.table.json")
    val sp = spark.read.format("tablejson")
      .load(s"$base/stateProvince.table.json")

    // filter: engine text rows (minus header + rule) == DataFrame count
    assert(engineRows(
      """SELECT address_id FROM address WHERE city = "Seattle"""") ==
      addr.filter(col("city") === "Seattle").count())

    // join: implicit equi join in the dialect == DataFrame inner join
    assert(engineRows(
      """SELECT address.address_id, stateProvince.state_province_code
         FROM address, stateProvince
         WHERE address.state_province_id = stateProvince.state_province_id""") ==
      addr.join(sp, addr("state_province_id") === sp("state_province_id"))
        .count())
  }

  test("3-table join chain through the SQL front end at 19.9kx3 scale") {
    import org.apache.spark.sql.functions.col
    val base = dir.getAbsolutePath
    val out = graft.athenaeum.Engine.runSql(spark, base,
      """SELECT personPhone.phone_number, emailAddress.email_address,
                password.password_hash
         FROM personPhone, emailAddress, password
         WHERE personPhone.business_entity_id = emailAddress.business_entity_id
         AND emailAddress.business_entity_id = password.business_entity_id""")
    val engineRows = out.linesIterator
      .count(l => l.nonEmpty && !l.startsWith("- Loaded")) - 2
    def tbl(n: String) = spark.read.format("tablejson")
      .load(s"$base/$n.table.json")
    val pp = tbl("personPhone").select(col("business_entity_id").as("id"),
      col("phone_number"))
    val em = tbl("emailAddress").select(col("business_entity_id").as("id"),
      col("email_address"))
    val pw = tbl("password").select(col("business_entity_id").as("id"),
      col("password_hash"))
    val df = pp.join(em, "id").join(pw, "id")
    assert(engineRows == df.count(),
      s"engine rows $engineRows != DataFrame ${df.count()}")
    // the chain is keyed 1:1:1 on business_entity_id — the join must not
    // fan out (catches accidental cross products in the engine path)
    assert(df.count() == pp.count())
    // a concrete joined value survives the chain end-to-end
    val row = df.filter(col("id") === "1699").collect()
    assert(row.length == 1)
    assert(out.contains(row(0).getAs[String]("email_address")))
  }

  test("spot-check values survive the int/str typing") {
    val addr = spark.read.format("tablejson")
      .load(s"$dir/address.table.json")
    assert(addr.filter("address_id IS NULL").count() == 0)
    val n = addr.count()
    assert(addr.select("address_id").distinct().count() == n)
  }
}
