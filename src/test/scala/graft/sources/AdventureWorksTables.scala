package graft.sources

import java.io.File
import java.nio.file.Files

/** The AdventureWorks `.table.json` tree the AdventureWorks specs read:
  * the reference's own `/root/reference/tables` when it exists, else a
  * deterministic stand-in generated once per JVM into a temp dir.
  *
  * The stand-in has the shapes FIXTURES.md §2 documents: 58 files and
  * 244,299 rows, every column `"str"`; `personPhone`, `emailAddress` and
  * `password` keyed 1:1:1 on `business_entity_id` at 19,972 rows (ids
  * 1..19972); `customer` at 19,820 rows with a `territory_id`; `address`
  * with a unique `address_id`, `Seattle` among its cities and a
  * `state_province_id` that joins `stateProvince`. It also carries the
  * format edge cases the real corpus has: hex blobs stored as str, empty
  * strings, integers beyond 64 bits and a 23-column `product` row. Every
  * value is a function of its row index, so the tree is the same on
  * every run.
  */
object AdventureWorksTables {

  lazy val dir: File = {
    val real = new File("/root/reference/tables")
    if (real.isDirectory) real else generate()
  }

  private type Col = (String, Int => String)

  private val cities = Seq("Seattle", "Bothell", "Portland", "Renton",
    "Redmond", "London", "Paris", "Berlin", "Melbourne", "Toronto")

  private def hex(i: Int, bytes: Int): String =
    "0x" + (0 until bytes).map(j => f"${(i * 31 + j * 7) & 0xff}%02X").mkString

  private val documented: Seq[(String, Int, Seq[Col])] = Seq(
    ("salesOrderHeaderSalesReason", 27647, Seq(
      "sales_order_id" -> (i => (43659 + i / 2).toString),
      "sales_reason_id" -> (i => (1 + i % 10).toString))),
    ("businessEntity", 20777, Seq(
      "business_entity_id" -> (i => (i + 1).toString))),
    ("emailAddress", 19972, Seq(
      "business_entity_id" -> (i => (i + 1).toString),
      "email_address_id" -> (i => (i + 1).toString),
      "email_address" -> (i => s"person${i + 1}@adventure-works.com"))),
    ("password", 19972, Seq(
      "business_entity_id" -> (i => (i + 1).toString),
      "password_hash" -> (i => hex(i, 20)),
      "password_salt" -> (i => hex(i + 7, 4)))),
    ("personPhone", 19972, Seq(
      "business_entity_id" -> (i => (i + 1).toString),
      "phone_number" -> (i => f"${100 + i % 900}%03d-555-${i % 10000}%04d"),
      "phone_number_type_id" -> (i => (1 + i % 3).toString))),
    ("customer", 19820, Seq(
      "customer_id" -> (i => (i + 1).toString),
      // stores have no person: empty strings, as in the real table
      "person_id" -> (i => if (i % 29 == 0) "" else (i + 1).toString),
      "store_id" -> (i => if (i % 29 == 0) (292 + i % 701).toString else ""),
      "territory_id" -> (i => (1 + i % 10).toString),
      "account_number" -> (i => f"AW${i + 1}%08d"))),
    ("address", 19614, Seq(
      "address_id" -> (i => (i + 1).toString),
      "address_line1" -> (i => s"${1 + i % 9999} Main St."),
      "address_line2" -> (i => if (i % 50 == 0) s"Suite ${i % 300}" else ""),
      "city" -> (i => cities(i % cities.size)),
      "state_province_id" -> (i => (1 + i % 181).toString),
      "postal_code" -> (i => f"${98000 + i % 1000}%05d"),
      "modified_date" -> (i => f"20${7 + i % 8}%02d-0${1 + i % 9}-1${i % 10} 00:00:00"))),
    ("stateProvince", 181, Seq(
      "state_province_id" -> (i => (i + 1).toString),
      "state_province_code" -> (i => s"${('A' + i / 26 % 26).toChar}${('A' + i % 26).toChar}"),
      "country_region_code" -> (i => Seq("US", "CA", "FR", "DE", "AU", "GB")(i % 6)),
      "name" -> (i => s"Province ${i + 1}"),
      "territory_id" -> (i => (1 + i % 10).toString))),
    ("creditCard", 19118, Seq(
      "credit_card_id" -> (i => (i + 1).toString),
      "card_type" -> (i => Seq("SuperiorCard", "Distinguish", "ColonialVoice", "Vista")(i % 4)),
      // card numbers overflow 32 bits, stored as str
      "card_number" -> (i => (11111000000000L + i.toLong * 7919L).toString),
      "exp_month" -> (i => (1 + i % 12).toString),
      "exp_year" -> (i => (2005 + i % 4).toString))),
    ("personCreditCard", 19118, Seq(
      "business_entity_id" -> (i => (i + 293).toString),
      "credit_card_id" -> (i => (i + 1).toString))),
    ("currencyRate", 13532, Seq(
      "currency_rate_id" -> (i => (i + 1).toString),
      "currency_rate_date" -> (i => f"2011-${1 + i % 12}%02d-${1 + i % 28}%02d 00:00:00"),
      "from_currency_code" -> (_ => "USD"),
      "to_currency_code" -> (i => Seq("ARS", "AUD", "BRL", "CAD", "CNY", "DEM", "EUR", "FRF", "GBP", "JPY", "MXN", "SAR")(i % 12)),
      "average_rate" -> (i => f"${1 + i % 100}.${i % 1000}%03d"),
      "end_of_day_rate" -> (i => f"${1 + i % 97}.${i % 997}%03d"))),
    ("purchaseOrderDetail", 8845, (Seq[Col](
      "purchase_order_id" -> (i => (1 + i / 2).toString),
      "purchase_order_detail_id" -> (i => (i + 1).toString)) ++
      Seq("due_date", "order_qty", "product_id", "unit_price", "line_total",
        "received_qty", "rejected_qty", "modified_date").zipWithIndex.map {
        case (c, k) => (c, (i: Int) => ((i + 1) * (k + 3) % 10007).toString) })),
    ("purchaseOrderHeader", 4012, (Seq[Col](
      "purchase_order_id" -> (i => (i + 1).toString)) ++
      Seq("revision_number", "status", "employee_id", "vendor_id",
        "ship_method_id", "order_date", "ship_date", "sub_total", "tax_amt",
        "freight", "modified_date").zipWithIndex.map {
        case (c, k) => (c, (i: Int) => ((i + 1) * (k + 5) % 4099).toString) })),
    // the wide row: 23 columns
    ("product", 504, (Seq[Col](
      "product_id" -> (i => (i + 1).toString),
      "name" -> (i => s"Product ${i + 1}"),
      "product_number" -> (i => f"PN-${i + 1}%04d"),
      "color" -> (i => if (i % 3 == 0) "" else Seq("Black", "Red", "Silver")(i % 3))) ++
      (1 to 19).map(k => (s"attr_$k", (i: Int) => ((i + 1) * k).toString)))))

  /** Undocumented tables fill the corpus up to 58 files and 244,299 rows. */
  private val filler = Seq("countryRegion", "currency", "department",
    "employee", "employeeDepartmentHistory", "employeePayHistory",
    "jobCandidate", "shift", "addressType", "contactType",
    "countryRegionCurrency", "store", "personAddress", "phoneNumberType",
    "billOfMaterials", "culture", "illustration", "location",
    "productCategory", "productCostHistory", "productDescription",
    "productDocument", "productInventory", "productListPriceHistory",
    "productModel", "productModelIllustration",
    "productModelProductDescriptionCulture", "productProductPhoto",
    "productReview", "productSubcategory", "scrapReason",
    "transactionHistoryArchive", "unitMeasure", "workOrderRouting",
    "productVendor", "shipMethod", "vendor", "salesPerson",
    "salesPersonQuotaHistory", "salesReason", "salesTaxRate",
    "salesTerritory", "specialOffer", "productPhoto")

  private def tables: Seq[(String, Int, Seq[Col])] = {
    val left = 244299 - documented.map(_._2).sum
    val per = left / filler.size
    documented ++ filler.zipWithIndex.map { case (name, k) =>
      val rows = if (k == filler.size - 1) left - per * k else per
      val cols: Seq[Col] =
        if (name == "productPhoto") Seq(
          "product_photo_id" -> (i => (i + 1).toString),
          // binary columns are stored as hex strings
          "thumb_nail_photo" -> (i => hex(i, 256)),
          "large_photo_file_name" -> (i => s"photo_${i + 1}.gif"))
        else Seq(
          s"${name}_id" -> (i => (i + 1).toString),
          "name" -> (i => s"$name ${i + 1}"),
          // beyond 64 bits: only a str column can hold it
          "big_value" -> (i => (BigInt(Long.MaxValue) + i).toString))
      (name, rows, cols)
    }
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def generate(): File = {
    val out = Files.createTempDirectory("adventureworks").toFile
    out.deleteOnExit()
    tables.foreach { case (name, rows, cols) =>
      val sb = new StringBuilder("[[")
      sb.append(cols.map { case (c, _) => s"""["$c","str"]""" }.mkString(","))
      sb.append("]")
      (0 until rows).foreach { i =>
        sb.append(",\n[").append(cols.map { case (_, f) => q(f(i)) }
          .mkString(",")).append("]")
      }
      sb.append("]\n")
      val f = new File(out, s"$name.table.json")
      Files.writeString(f.toPath, sb.toString)
      f.deleteOnExit()
    }
    out
  }
}
