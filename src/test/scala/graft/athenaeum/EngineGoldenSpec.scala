package graft.athenaeum

/** End-to-end golden parity: the shipped example queries must reproduce
  * the reference `.out` files. Load lines + header + dash rule are
  * compared exactly; data rows order-insensitively (`README.md:13`: "The
  * order of the rows doesn't matter"). The goldens — not HEAD's dead code
  * path — are the spec of record (SURVEY §0). */
class EngineGoldenSpec extends SparkSpec {

  private def runExample(name: String): String =
    Engine.runSql(spark, goldenDir, goldenText(s"$name.sql"))

  private def splitHeaderRows(text: String): (Seq[String], Seq[String]) = {
    val lines = text.linesIterator.toSeq
    val (loads, rest) = lines.span(_.startsWith("- Loaded"))
    (loads ++ rest.take(2), rest.drop(2)) // header + dash rule exact
  }

  for (ex <- Seq("example-1", "example-2", "example-3")) {
    test(s"$ex matches the reference golden output") {
      val (gotHead, gotRows) = splitHeaderRows(runExample(ex))
      val (expHead, expRows) = splitHeaderRows(goldenText(s"$ex.out"))
      assert(gotHead == expHead)
      assert(gotRows.sorted == expRows.sorted)
      assert(gotRows.size == expRows.size)
    }
  }

  test("example-error-1: ambiguous column error with quoted FROM-order tables") {
    val sql = goldenText("example-error-1.sql")
    val sb = new StringBuilder
    val err = intercept[EngineError] {
      val q = SqlParser.parse(sql)
      val (all, actual) = Catalog.loadAll(spark, goldenDir, q.from,
        m => sb.append(m).append('\n'))
      Analyzer.analyze(all, q)
    }
    // stdout part: load messages in FROM order
    assert(sb.toString ==
      "- Loaded \"countries.table.json\", 4 rows.\n" +
      "- Loaded \"cities.table.json\", 16 rows.\n")
    // stderr part: the golden's exact error text
    assert(err.msg == "ERROR: Column reference \"name\" is ambiguous; " +
      "present in multiple tables: \"countries\", \"cities\".")
  }

  test("FROM dedup: same file twice is one instance, not a cross join (S2)") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT name FROM cities, cities WHERE population > 13000")
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    assert(rows == Seq("Tokyo"))
    // exactly one load line
    assert(out.linesIterator.count(_.startsWith("- Loaded")) == 1)
  }

  test("duplicate alias errors (database.py:215-218)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT name FROM cities AS a, countries AS a")
    }
    assert(err.msg == "The table alias \"a\" has already been loaded")
  }

  test("filter type mismatch (database.py:370-372)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT name FROM cities WHERE population = \"big\"")
    }
    assert(err.msg == "ERROR: Column filter types are incompatible.")
  }

  test("join type mismatch (database.py:417-419)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT cities.name FROM cities, countries WHERE population = countries.name")
    }
    assert(err.msg == "ERROR: Column join types are incompatible.")
  }

  test("literal-literal filter errors, right literal printed first (F5)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT name FROM cities WHERE 1 = \"x\"")
    }
    assert(err.msg == "Both sides of the filter are literals \"x\" and \"1\"\n")
  }

  test("ambiguous column in a FILTER errors like the select path") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT capital FROM countries, cities WHERE name = \"Tokyo\"")
    }
    assert(err.msg == "ERROR: Column reference \"name\" is ambiguous; " +
      "present in multiple tables: \"countries\", \"cities\".")
  }

  test("ambiguous column in a JOIN condition errors the same way") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT capital FROM countries, cities WHERE name = capital")
    }
    assert(err.msg == "ERROR: Column reference \"name\" is ambiguous; " +
      "present in multiple tables: \"countries\", \"cities\".")
  }

  test("alias also makes the file-name key ambiguous (all_tables scan)") {
    // FROM cities AS a registers BOTH "cities" and "a" (database.py:207-221),
    // so an unqualified ref present in one physical table still reports two
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir, "SELECT name FROM cities AS a")
    }
    assert(err.msg == "ERROR: Column reference \"name\" is ambiguous; " +
      "present in multiple tables: \"cities\", \"a\".")
  }

  test("unknown column in table (database.py:246-248)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir, "SELECT cities.mayor FROM cities")
    }
    assert(err.msg ==
      "ERROR: Column reference \"mayor\" does not exist in table \"cities\"")
  }

  test("unreadable table file (database.py:995-996)") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir, "SELECT x FROM missing")
    }
    assert(err.msg ==
      "Unable to read table \"missing.table.json\" from disk\n")
  }

  test("literal-vs-column filter is flipped with reversed operator (F2)") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT name FROM cities WHERE 9000 < population")
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    // cells are padded to column width (W1)
    assert(rows.map(_.trim).sorted == Seq("Kanagawa", "Mumbai", "Delhi", "Tokyo").sorted)
  }

  test("cross join is supported (divergence-fix for J9's hang)") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT cities.name, capital FROM cities, countries WHERE population > 13000")
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    assert(rows.size == 4) // Tokyo x 4 countries
  }

  test("int columns right-align, strings left-align (W1)") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT name, population FROM cities WHERE name = \"Osaka\"")
    val lines = out.linesIterator.filterNot(_.startsWith("- Loaded")).toSeq
    assert(lines == Seq(
      "name  | population",
      "------------------",
      "Osaka |       8838"))
  }

  test("phase D: GROUP BY + COUNT/SUM over the golden tables") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT country, COUNT AS n, SUM(population) AS total FROM cities GROUP BY country",
      extensions = true)
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    assert(rows.toSet == Set(
      "USA     | 5 | 18201",
      "Canada  | 4 |  6605",
      "India   | 3 | 31919",
      "Japan   | 4 | 38962"))
  }

  test("phase D: ORDER BY header DESC + LIMIT over the golden tables") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT name, population FROM cities ORDER BY population DESC LIMIT 3",
      extensions = true)
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    // ordered output IS the contract — compare as a sequence
    assert(rows.map(_.split('|')(0).trim) == Seq("Tokyo", "Mumbai", "Delhi"),
      rows.mkString("\n"))
  }

  test("phase D: ORDER BY aggregate alias composes with GROUP BY") {
    val out = Engine.runSql(spark, goldenDir,
      "SELECT country, SUM(population) AS total FROM cities " +
        "GROUP BY country ORDER BY total DESC LIMIT 2",
      extensions = true)
    val rows = out.linesIterator.filterNot(_.startsWith("- Loaded")).drop(2).toSeq
    assert(rows.map(_.split('|')(0).trim) == Seq("Japan", "India"),
      rows.mkString("\n"))
  }

  test("phase D: ORDER BY column not in select list errors cleanly") {
    val err = intercept[EngineError] {
      Engine.runSql(spark, goldenDir,
        "SELECT name FROM cities ORDER BY population",
        extensions = true)
    }
    assert(err.msg ==
      "ERROR: ORDER BY column \"population\" is not in the select list.")
  }

  /** Small `.table.json` files for the join-plan cases: `territory` (10
    * rows) and `a`, `b`, `c`, each `(id, v)` over ids 0..29 with values
    * that are functions of the id. */
  private lazy val joinDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("joins")
    def write(name: String, header: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(dir.resolve(s"$name.table.json"),
        (header +: rows).mkString("[", ",\n", "]"))
    write("territory", """[["territory_id", "int"], ["name", "str"]]""",
      (1 to 10).map(i => s"""[$i, "t$i"]"""))
    for ((t, k) <- Seq("a" -> 7, "b" -> 5, "c" -> 3))
      write(t, """[["id", "int"], ["v", "int"]]""",
        idsOf(t).map(i => s"[$i, ${valueOf(k, i)}]"))
    dir.toString
  }
  private def idsOf(t: String): Seq[Int] =
    if (t == "b") (0 until 30).reverse else 0 until 30
  private def valueOf(k: Int, id: Int): Long = (id * k % 13).toLong

  private def frame(sql: String): org.apache.spark.sql.DataFrame = {
    val q = SqlParser.parse(sql)
    val (all, actual) = Catalog.loadAll(spark, joinDir, q.from, _ => ())
    Executor.run(all, actual, Analyzer.analyze(all, q))
  }

  /** The physical plan as first planned, before AQE runs any stage. */
  private def initialPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  test("theta self-join stays a CartesianProduct with no broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val df = frame("SELECT a.name, b.name AS other FROM territory AS a, " +
      "territory AS b WHERE a.territory_id < b.territory_id")
    val plan = initialPlan(df)
    assert(plan.collect { case j: CartesianProductExec => j }.size == 1, plan)
    assert(plan.collect { case e: BroadcastExchangeExec => e }.isEmpty, plan)
    assert(df.count() == 45)
  }

  test("3-way equi chain plans only broadcast hash joins, no shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val df = frame("SELECT a.v, b.v AS bv, c.v AS cv FROM a, b, c " +
      "WHERE a.id = b.id AND b.id = c.id")
    val plan = initialPlan(df)
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.size == 2 &&
      joins.forall(_.isInstanceOf[BroadcastHashJoinExec]), plan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq == (0 until 30).map(i =>
        (valueOf(7, i), valueOf(5, i), valueOf(3, i))).sorted)
  }

  test("mixed `=` and `<` across three tables returns the right rows") {
    val df = frame("SELECT a.id, c.id AS cid FROM c, a, b " +
      "WHERE a.id = b.id AND b.v < c.v")
    val want = for (i <- 0 until 30; j <- 0 until 30
        if valueOf(5, i) < valueOf(3, j)) yield (i.toLong, j.toLong)
    assert(want.nonEmpty)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      want.sorted)
  }

  test("reference mode still rejects ORDER as an invalid uppercase token") {
    val err = intercept[SqlParser.ParseException] {
      Engine.runSql(spark, goldenDir,
        "SELECT name FROM cities ORDER BY name")
    }
    assert(err.getMessage.contains("invalid token: \"ORDER\""),
      err.getMessage)
  }
}
