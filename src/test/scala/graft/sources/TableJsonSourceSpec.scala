package graft.sources

import graft.athenaeum.SparkSpec

/** DataSourceV2 spec: the reference's `.table.json` files read as
  * first-class relations with schema inference and column pruning. */
class TableJsonSourceSpec extends SparkSpec {

  private def cities = spark.read.format("tablejson")
    .load(s"$goldenDir/cities.table.json")

  test("schema inferred from the header row (int -> bigint, str -> string)") {
    val s = cities.schema
    assert(s.map(f => (f.name, f.dataType.simpleString)) == Seq(
      ("name", "string"), ("country", "string"), ("population", "bigint")))
  }

  test("reads all rows with correct values") {
    assert(cities.count() == 16)
    val tokyo = cities.filter("name = 'Tokyo'").collect()(0)
    assert(tokyo.getString(1) == "Japan" && tokyo.getLong(2) == 13513L)
  }

  test("column pruning reaches the scan") {
    val pruned = cities.select("population")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("population") && !scan.contains("country"))
    assert(pruned.agg(org.apache.spark.sql.functions.sum("population"))
      .collect()(0).getLong(0) == 95687L)
  }

  test("large file: multi-slice scan still parses the file once per JVM") {
    val f = java.io.File.createTempFile("graft-big", ".table.json")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f)
    w.print("""[[["id", "int"], ["name", "str"]]""")
    (0 until 40000).foreach(i =>
      w.print(s""",[$i, "padding-to-push-the-file-over-the-1mb-threshold-$i"]"""))
    w.print("]")
    w.close()
    assert(f.length() > (1 << 20))
    val before = graft.sources.tablejson.TableJsonIO.parseCount.get()
    val df = spark.read.format("tablejson").load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions > 1) // the slicing is real
    assert(df.count() == 40000)
    assert(df.agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).getLong(0) == 40000L * 39999 / 2)
    val parses =
      graft.sources.tablejson.TableJsonIO.parseCount.get() - before
    assert(parses == 1, s"expected 1 parse, saw $parses")
  }

  test("small file gets a single partition") {
    assert(cities.rdd.getNumPartitions == 1)
  }

  test("comparison filters push into the scan and are not re-evaluated") {
    val filtered = cities.filter("population > 5000 AND name < 'T'")
    val scan = filtered.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("GreaterThan(population,5000)"), scan)
    assert(scan.contains("LessThan(name,T)"), scan)
    // the planned filter node above the scan carries NO residual copy of
    // the pushed comparisons (they were accepted, not merely advertised)
    val plan = filtered.queryExecution.optimizedPlan.toString
    assert(!plan.contains("population > 5000"), plan)
    // results match driver-side evaluation of the same predicate
    val expect = cities.collect()
      .filter(r => r.getLong(2) > 5000 && r.getString(0) < "T")
      .map(_.getString(0)).toSet
    assert(filtered.collect().map(_.getString(0)).toSet == expect)
    assert(expect.nonEmpty)
  }

  test("limit pushes into the scan; post-filter semantics hold") {
    val limited = cities.limit(3)
    val scan = limited.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("PushedLimit: 3"), scan)
    assert(limited.count() == 3)
    // pushed filter + pushed limit: the reader emits `limit` SURVIVING
    // rows, so the result is exactly limit rows, all passing
    val both = cities.filter("population > 1000").limit(2).collect()
    assert(both.length == 2 && both.forall(_.getLong(2) > 1000))
  }

  test("joins against parquet relations work") {
    val countries = spark.read.format("tablejson")
      .load(s"$goldenDir/countries.table.json")
    val joined = cities.as("ci").join(countries.as("co"),
      org.apache.spark.sql.functions.col("ci.name") ===
        org.apache.spark.sql.functions.col("co.capital"))
    assert(joined.count() == 4)
  }

  test("reported statistics reach the planner: a small equi-join broadcasts up front") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val countries = spark.read.format("tablejson")
      .load(s"$goldenDir/countries.table.json")
    val joined = cities.as("ci").join(countries.as("co"),
      org.apache.spark.sql.functions.col("ci.name") ===
        org.apache.spark.sql.functions.col("co.capital"))
    // the plan before AQE has run anything: sizes must come from the scan
    val initial = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(initial.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      initial)
    assert(initial.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      initial)

    val full = cities.queryExecution.optimizedPlan.stats
    assert(full.rowCount.contains(BigInt(16)), full)
    val one = cities.select("population").queryExecution.optimizedPlan.stats
    assert(one.sizeInBytes < full.sizeInBytes, s"$one vs $full")

    // a complete pushed aggregation: one row when global, even over an
    // empty file; an unknown count when grouped
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.functions._
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats }.get
    val empty = spark.read.format("tablejson").load(
      writeTable("empty", """[[["name", "str"], ["pop", "int"]]]"""))
    val global = scanStats(empty.agg(count(lit(1))))
    assert(global.rowCount.contains(BigInt(1)), global)
    val grouped = scanStats(cities.groupBy("country").agg(count(lit(1))))
    assert(grouped.rowCount.isEmpty && grouped.sizeInBytes > 0, grouped)
  }

  test("complete aggregate pushdown: global count/min/max computed in the scan") {
    import org.apache.spark.sql.functions._
    val q = cities.agg(count(lit(1)).as("n"),
      min(col("population")).as("lo"), max(col("population")).as("hi"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"not pushed:\n$plan")
    // no data row crosses the source boundary: the plan has no
    // wide-row aggregate input, just the 1-row scan output
    val r = q.collect()(0)
    assert(r.getLong(0) == 16L)
    val all = cities.select("population").collect().map(_.getLong(0))
    assert(r.getLong(1) == all.min && r.getLong(2) == all.max)
  }

  test("aggregate pushdown respects pushed filters") {
    import org.apache.spark.sql.functions._
    val q = cities.filter("population > 1000")
      .agg(count(lit(1)).as("n"), max(col("population")).as("hi"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val expectRows = cities.collect().map(_.getLong(2)).filter(_ > 1000)
    val r = q.collect()(0)
    assert(r.getLong(0) == expectRows.length.toLong)
    assert(r.getLong(1) == expectRows.max)
  }

  test("grouped aggregate pushdown: one row per group, string min/max") {
    import org.apache.spark.sql.functions._
    val q = cities.groupBy(col("country"))
      .agg(count(lit(1)).as("n"), min(col("name")).as("first_name"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedGroupBy"))
    val got = q.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getString(2))).toSet
    val want = cities.collect().map(r => (r.getString(1), r.getString(0)))
      .groupBy(_._1).map { case (c, rs) =>
        (c, rs.length.toLong, rs.map(_._2).min) }.toSet
    assert(got == want)
  }

  test("empty-input global aggregate still yields one row (count 0, null min)") {
    import org.apache.spark.sql.functions._
    val q = cities.filter("population > 99999999")
      .agg(count(lit(1)).as("n"), min(col("population")).as("lo"))
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val r = q.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("In filter pushes into the scan and evaluates correctly") {
    val q = cities.filter("country IN ('Japan', 'Canada')")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("In(country"), s"In not pushed:\n$scan")
    val got = q.collect().map(_.getString(1)).toSet
    assert(got == Set("Japan", "Canada"))
    assert(q.count() ==
      cities.collect().count(r => Set("Japan", "Canada")(r.getString(1))))
  }

  private def writeTable(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("tj").toString
    val path = java.nio.file.Paths.get(dir, s"$name.table.json")
    java.nio.file.Files.writeString(path, content)
    path.toString
  }

  test("pushed string filters and min/max follow Spark's code-point order") {
    import org.apache.spark.sql.functions._
    // U+1F600 is a surrogate pair in UTF-16, so String.compareTo puts it
    // BELOW U+E000; in code points (Spark's UTF-8 byte order) it is above
    val df = spark.read.format("tablejson").load(writeTable("emoji",
      "[[[\"s\", \"str\"]], [\"a\"], [\"\uE000z\"], [\"\uD83D\uDE00\"]]"))
    // the same rows as a local relation: Spark, not the scan, evaluates
    val local = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

    val pushed = df.filter(col("s") > "\uE000")
    assert(pushed.queryExecution.executedPlan.collectLeaves().head.toString
      .contains("GreaterThan(s,"))
    val want = local.filter(col("s") > "\uE000").collect().map(_.getString(0))
    assert(want.length == 2)
    assert(pushed.collect().map(_.getString(0)).toSet == want.toSet)

    val aggPushed = df.agg(min("s"), max("s"))
    assert(aggPushed.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    val aggWant = local.agg(min("s"), max("s")).collect().head
    assert(aggWant.getString(1) == "\uD83D\uDE00")
    assert(aggPushed.collect().head == aggWant)
  }

  test("a malformed header fails with the reference text, not an NPE") {
    val err = intercept[IllegalArgumentException] {
      spark.read.format("tablejson")
        .load(writeTable("bad", """[[["name"]], ["x"]]"""))
    }
    assert(err.getMessage == "There was no header row defined for table \"bad\"")
  }

  test("unsupported aggregates are NOT pushed and still compute correctly") {
    import org.apache.spark.sql.functions._
    val q = cities.agg(sum(col("population")).as("s"))
    assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(q.collect()(0).getLong(0) == 95687L)
  }
}
