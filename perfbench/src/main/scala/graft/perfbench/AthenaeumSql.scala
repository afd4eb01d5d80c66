package graft.perfbench

import scala.collection.mutable

import graft.athenaeum.{Analyzer, Catalog, Executor, SqlParser, TextFormatter}

/** `athenaeum_sql`: the reference's own product — SQL text in, tables
  * loaded from `.table.json`, formatted table out — over a seeded,
  * AdventureWorks-shaped corpus. Expected outputs are computed from the
  * generated rows directly, never by the engine. */
final class AthenaeumSql extends Workload {
  import AthenaeumSql._

  val warmupCycles = 5
  private var dir: java.io.File = _
  private var cases: Seq[Case] = Nil
  // per measured op: rows loaded, rows out
  private val rowStats = mutable.ArrayBuffer.empty[(Long, Long)]

  def generate(ctx: Ctx): Unit = {
    dir = new java.io.File(ctx.runDir, "athenaeum")
    dir.mkdirs()
    val c = Corpus(ctx.seed)
    c.tables.foreach { case (name, t) => t.write(dir, name) }
    cases = c.cases
  }

  def cycle(ctx: Ctx, log: OpLog): Unit = cases.foreach { k =>
    val tr = ctx.tr
    log.op("athenaeum." + k.label) {
      tr("op") {
        val q = tr("athenaeum.parse")(SqlParser.parse(k.sql, k.extensions))
        val sb = new StringBuilder
        val (all, actual) = tr("athenaeum.load")(Catalog.loadAll(
          ctx.spark, dir.getPath, q.from, m => sb.append(m).append('\n')))
        val resolved = tr("athenaeum.analyze")(Analyzer.analyze(all, q))
        val df = tr("athenaeum.build")(Executor.run(all, actual, resolved))
        sb.append(tr("athenaeum.render")(
          TextFormatter.render(df, resolved.output)))
        (sb.toString, actual.values.toSeq.distinct.map(_.rowCount.toLong).sum)
      }
    }.foreach { case (out, loaded) =>
      log.check(s"athenaeum.${k.label} output") {
        val got = out.linesIterator.toSeq
        rowStats += ((loaded, (got.size - k.expected.count(
          _.startsWith("- Loaded")) - 2).toLong))
        got.sorted == k.expected.sorted
      }
    }
  }

  override def layer(ctx: Ctx, window: Seq[Sample], cycles: Int,
      fromNs: Long): Map[String, Double] = {
    val self = ctx.tr.selfMs(fromNs)
    val n = window.size.max(1)
    val recent = rowStats.takeRight(window.size)
    Seq("parse", "load", "analyze", "build", "render").map { s =>
      s"athenaeum.${s}_ms" -> self.getOrElse(s"athenaeum.$s", 0.0) / n
    }.toMap + ("athenaeum.rows_loaded_per_row_out" ->
      recent.map(_._1).sum.toDouble / recent.map(_._2).sum.max(1L))
  }
}

object AthenaeumSql {
  /** One query: its SQL and its expected output lines. */
  final case class Case(label: String, sql: String, extensions: Boolean,
      expected: Seq[String])

  /** A `.table.json` table: header of (column, int|str), then rows. */
  final case class Table(cols: Seq[(String, Boolean)], rows: IndexedSeq[IndexedSeq[Any]]) {
    def write(dir: java.io.File, name: String): Unit = {
      val sb = new StringBuilder("[[")
      sb.append(cols.map { case (c, isInt) =>
        s"""["$c","${if (isInt) "int" else "str"}"]""" }.mkString(","))
      sb.append("]")
      rows.foreach { r =>
        sb.append(",\n[")
        sb.append(r.map {
          case s: String => "\"" + s + "\""
          case v => v.toString
        }.mkString(","))
        sb.append("]")
      }
      sb.append("]\n")
      java.nio.file.Files.writeString(
        new java.io.File(dir, s"$name.table.json").toPath, sb.toString)
    }
  }

  val entities = 20000
  private val territoryRows = Seq(
    ("Northwest", "US", "North America"), ("Northeast", "US", "North America"),
    ("Central", "US", "North America"), ("Southwest", "US", "North America"),
    ("Southeast", "US", "North America"), ("Canada", "CA", "North America"),
    ("France", "FR", "Europe"), ("Germany", "DE", "Europe"),
    ("Australia", "AU", "Pacific"), ("United Kingdom", "GB", "Europe"))

  /** The reference formatter's layout, restated independently:
    * width = max(header, widest value); ints right-aligned, strings
    * left-aligned; cells joined by " | "; a dash rule under the header. */
  def format(headers: Seq[String], isInt: Seq[Boolean],
      rows: Seq[Seq[Any]]): Seq[String] = {
    val cells = rows.map(_.map(_.toString))
    val w = headers.indices.map(i =>
      (headers(i).length +: cells.map(_(i).length)).max)
    def line(vs: Seq[String], typed: Boolean) = vs.indices.map { i =>
      if (typed && isInt(i)) " " * (w(i) - vs(i).length) + vs(i)
      else vs(i) + " " * (w(i) - vs(i).length)
    }.mkString(" | ")
    val head = line(headers, typed = false)
    Seq(head, "-" * head.length) ++ cells.map(line(_, typed = true))
  }

  def loaded(name: String, t: Table): String =
    s"""- Loaded "$name.table.json", ${t.rows.size} rows."""

  /** The seeded corpus and the five queries over it. The seed sets every
    * generated value and the queries' literals; row counts per query
    * stay the same across seeds (exact thirds and a fixed count rank), so
    * seeds vary the data, not the amount of work. */
  final case class Corpus(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private def word(n: Int): String =
      Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    private def digits(n: Int): String =
      Seq.fill(n)(('0' + rnd.nextInt(10)).toChar).mkString

    // sparse, seed-shuffled business_entity_id values
    private val ids: IndexedSeq[Int] =
      rnd.shuffle((1 to entities * 3 / 2).toIndexedSeq).take(entities)

    val personPhone = Table(
      Seq("business_entity_id" -> true, "phone_number" -> false,
        "phone_number_type_id" -> true),
      ids.zipWithIndex.map { case (id, i) =>
        IndexedSeq[Any](id, s"${digits(3)}-555-0${digits(3)}", 1 + i % 3) })

    val emailAddress = Table(
      Seq("business_entity_id" -> true, "email_address_id" -> true,
        "email_address" -> false),
      rnd.shuffle(ids).zipWithIndex.map { case (id, i) =>
        IndexedSeq[Any](id, i + 1, s"${word(6)}${id}@adventure-works.com") })

    val password = Table(
      Seq("business_entity_id" -> true, "password_hash" -> false,
        "password_salt" -> false),
      rnd.shuffle(ids).map(id =>
        IndexedSeq[Any](id, word(20) + digits(8), digits(4) + word(4))))

    // distinct customer counts per territory (no ORDER BY ties), with
    // the seed choosing which territory gets which count
    private val counts: IndexedSeq[Int] =
      rnd.shuffle((0 until 10).map(k => 1100 + 200 * k))
    val territory = Table(
      Seq("territory_id" -> true, "name" -> false,
        "country_region_code" -> false, "region_group" -> false),
      territoryRows.zipWithIndex.map { case ((n, c, g), i) =>
        IndexedSeq[Any](i + 1, n, c, g) }.toIndexedSeq)

    val customer = Table(
      Seq("customer_id" -> true, "person_id" -> true,
        "territory_id" -> true, "account_number" -> false),
      rnd.shuffle(counts.indices.flatMap(t => Seq.fill(counts(t))(t + 1)))
        .zipWithIndex.map { case (t, i) =>
          IndexedSeq[Any](i + 1, ids(rnd.nextInt(entities)), t,
            f"AW${i + 1}%08d") })

    val tables: Seq[(String, Table)] = Seq(
      "personPhone" -> personPhone, "emailAddress" -> emailAddress,
      "password" -> password, "customer" -> customer,
      "territory" -> territory)

    private def byId(t: Table): Map[Any, IndexedSeq[Any]] =
      t.rows.map(r => r(0) -> r).toMap

    val cases: Seq[Case] = {
      val em = byId(emailAddress)
      val pw = byId(password)
      val chain = Case("chain3",
        """SELECT personPhone.phone_number, emailAddress.email_address,
          |       password.password_hash
          |FROM personPhone, emailAddress, password
          |WHERE personPhone.business_entity_id = emailAddress.business_entity_id
          |AND emailAddress.business_entity_id = password.business_entity_id"""
          .stripMargin, extensions = false,
        Seq("personPhone", "emailAddress", "password").map(n =>
          loaded(n, tables.toMap.apply(n))) ++
        format(Seq("phone_number", "email_address", "password_hash"),
          Seq(false, false, false),
          personPhone.rows.map(r =>
            Seq(r(1), em(r(0))(2), pw(r(0))(1)))))

      val phoneType = 1 + rnd.nextInt(3)
      val filter = Case("filter",
        s"""SELECT business_entity_id, phone_number FROM personPhone
           |WHERE phone_number_type_id = $phoneType""".stripMargin,
        extensions = false,
        Seq(loaded("personPhone", personPhone)) ++
        format(Seq("business_entity_id", "phone_number"), Seq(true, false),
          personPhone.rows.filter(_(2) == phoneType).map(r =>
            Seq(r(0), r(1)))))

      // the territory holding the 5th-largest customer count
      val pick = counts.indexOf(1100 + 200 * 5)
      val pickName = territoryRows(pick)._1
      val dim = Case("dim_join",
        s"""SELECT customer.account_number, territory.name
           |FROM customer, territory
           |WHERE customer.territory_id = territory.territory_id
           |AND territory.name = "$pickName"""".stripMargin,
        extensions = false,
        Seq(loaded("customer", customer), loaded("territory", territory)) ++
        format(Seq("account_number", "name"), Seq(false, false),
          customer.rows.filter(_(2) == pick + 1).map(r =>
            Seq(r(3), pickName))))

      val theta = Case("theta_self",
        """SELECT a.name, b.name AS other FROM territory AS a, territory AS b
          |WHERE a.territory_id < b.territory_id""".stripMargin,
        extensions = false,
        Seq(loaded("territory", territory)) ++
        format(Seq("name", "other"), Seq(false, false),
          for (a <- territory.rows; b <- territory.rows
               if a(0).asInstanceOf[Int] < b(0).asInstanceOf[Int])
          yield Seq(a(1), b(1))))

      val top = counts.zipWithIndex.sortBy(-_._1).take(5)
      val group = Case("group_top",
        """SELECT territory_id, COUNT AS n FROM customer
          |GROUP BY territory_id ORDER BY n DESC LIMIT 5""".stripMargin,
        extensions = true,
        Seq(loaded("customer", customer)) ++
        format(Seq("territory_id", "n"), Seq(true, true),
          top.map { case (c, t) => Seq(t + 1, c) }))

      Seq(chain, filter, dim, theta, group)
    }
  }
}
