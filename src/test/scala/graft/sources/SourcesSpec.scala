package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.OrderedStringAgg

class SourcesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local("4", "sources-test")

  /** Cells at the reference's fixed positions (storage_utils.py:12-38):
    * 7=primary-keys, 11=count, 12=sum, 19=threshold, 20=hash. */
  private def rowOf(cells: (Int, String)*): Seq[String] = {
    val m = cells.toMap
    (0 to 24).map(i => m.getOrElse(i, ""))
  }

  test("ValidationParams: 2-header skip, positional flags, key, semi-join") {
    val dir = Files.createTempDirectory("vp").toString
    // row-2 header cells over primary-keys and threshold are left BLANK
    // (and 'count' is renamed) — flags key by POSITION against the
    // reference's fixed field list, so they must still resolve
    val lines = Seq(
      rowOf(0 -> "banner", 2 -> "Source and Target"),
      rowOf(2 -> "source-table", 3 -> "target-table",
        4 -> "source-query-file", 5 -> "target-query-file",
        11 -> "renamed-count-header", 12 -> "sum", 20 -> "hash"),
      rowOf(0 -> "ddl", 1 -> "column", 2 -> "src.t1", 3 -> "tgt.t1",
        11 -> "*", 12 -> "x", 19 -> "10.5"),
      rowOf(0 -> "ddl", 1 -> "row", 2 -> "src.t2", 3 -> "tgt.t2",
        7 -> "id", 20 -> "*"),
      rowOf(0 -> "sql", 1 -> "column", 2 -> "src.t3", 3 -> "tgt.t3",
        11 -> "*")).map(_.mkString(","))
    Files.writeString(java.nio.file.Paths.get(s"$dir/params.csv"),
      lines.mkString("", "\n", "\n"))
    val entries = ValidationParams.read(spark, s"$dir/params.csv")
    assert(entries.size == 3)
    val ddlCol = ValidationParams.forRun(entries, "ddl", "column")
    assert(ddlCol.keySet == Set("src.t1"))
    assert(ddlCol("src.t1").flags ==
      Map("count" -> "*", "sum" -> "x", "threshold" -> "10.5"))
    val row = ValidationParams.forRun(entries, "ddl", "row")("src.t2")
    assert(row.flags("primary-keys") == "id" && row.flags("hash") == "*")
    val valid = ValidationParams.validComparisons(
      ValidationParams.forRun(entries, "ddl", "row"), Set("tgt.t2", "tgt.t9"))
    assert(valid == Seq(("src.t2", "tgt.t2")))
  }

  test("ValidationParams parses the reference's own sample sheet") {
    val csv = Paths.get(
      "/root/reference/samples/validation_params_files/validation_params.csv")
    assume(Files.exists(csv), "reference samples not present")
    val entries = ValidationParams.read(spark, csv.toString)
    assert(entries.size == 9)
    // schema validation: quoted exclusion list with embedded comma
    val schema = ValidationParams.forRun(entries, "ddl", "schema")("dvt.EMPLOYEE")
    assert(schema.targetTable == "dmt_dataset.employee")
    assert(schema.flags("exclusion-columns") == "emp_no,emp_name")
    assert(schema.flags("filter-status") == "success")
    // row validation with random-row sampling flags
    val row = ValidationParams.forRun(entries, "data", "row")("dvt.EMPLOYEE2")
    assert(row.flags("primary-keys") == "emp_no")
    assert(row.flags("hash") == "*")
    assert(row.flags("use-random-row") == "Y" && row.flags("random-row-batch-size") == "1000")
    // custom-query entries key on the query FILE (no source table)
    val cq = ValidationParams.forRun(entries, "sql", "custom query column")
    assert(cq.keySet == Set("source_query_1.sql"))
    assert(cq("source_query_1.sql").targetTable == "target_query_1.sql")
    assert(cq("source_query_1.sql").flags("count") == "emp_no")
    assert(cq("source_query_1.sql").flags("min") == "salary")
  }

  /** Genuine minimal .xlsx writer (zip of SpreadsheetML parts) so the
    * reader is tested against a real workbook layout: shared strings
    * for even-indexed cells, inline strings for odd, numerics raw, and
    * empty cells omitted entirely (sparse refs, as Excel writes them). */
  private def writeXlsx(path: String, grid: Seq[Seq[String]]): Unit = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colName(c: Int): String = {
      var (n, s) = (c + 1, "")
      while (n > 0) { s = ('A' + (n - 1) % 26).toChar + s; n = (n - 1) / 26 }
      s
    }
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val rowsXml = grid.zipWithIndex.map { case (row, r) =>
      val cells = row.zipWithIndex.collect {
        case (v, c) if v.nonEmpty =>
          val ref = s"${colName(c)}${r + 1}"
          if (v.forall(_.isDigit)) s"""<c r="$ref"><v>$v</v></c>"""
          else if (c % 2 == 0) {
            val i = shared.getOrElseUpdate(v, shared.size)
            s"""<c r="$ref" t="s"><v>$i</v></c>"""
          } else s"""<c r="$ref" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      }
      s"""<row r="${r + 1}">${cells.mkString}</row>"""
    }
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(path)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        shared.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString}</sst>""")
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>${rowsXml.mkString}</sheetData></worksheet>""")
    zos.close()
  }

  test("ValidationParams reads xlsx workbooks (S6 full: reference sheet shape)") {
    val dir = Files.createTempDirectory("vpx").toString
    // same logical sheet as the reference sample, no CSV quoting needed:
    // xlsx cells hold embedded commas natively
    writeXlsx(s"$dir/params.xlsx", Seq(
      rowOf(0 -> "banner", 2 -> "Source and Target"),
      rowOf(0 -> "translation-type", 1 -> "validation-type",
        2 -> "source-table", 3 -> "target-table",
        4 -> "source-query-file", 5 -> "target-query-file"),
      rowOf(0 -> "ddl", 1 -> "schema", 2 -> "dvt.EMPLOYEE",
        3 -> "dmt_dataset.employee", 9 -> "emp_no,emp_name"),
      rowOf(0 -> "data", 1 -> "row", 2 -> "dvt.EMPLOYEE2",
        3 -> "dmt_dataset.employee2", 7 -> "emp_no", 20 -> "*", 24 -> "1000"),
      rowOf(0 -> "sql", 1 -> "custom query column", 4 -> "source_query_1.sql",
        5 -> "target_query_1.sql", 11 -> "emp_no")))
    val entries = ValidationParams.read(spark, s"$dir/params.xlsx")
    assert(entries.size == 3)
    val schema = ValidationParams.forRun(entries, "ddl", "schema")("dvt.EMPLOYEE")
    assert(schema.targetTable == "dmt_dataset.employee")
    assert(schema.flags("exclusion-columns") == "emp_no,emp_name")
    val row = ValidationParams.forRun(entries, "data", "row")("dvt.EMPLOYEE2")
    assert(row.flags("primary-keys") == "emp_no" && row.flags("hash") == "*"
      && row.flags("random-row-batch-size") == "1000")
    val cq = ValidationParams.forRun(entries, "sql", "custom query column")
    assert(cq.keySet == Set("source_query_1.sql"))
    assert(cq("source_query_1.sql").targetTable == "target_query_1.sql")
    assert(cq("source_query_1.sql").flags("count") == "emp_no")
    assert(Xlsx.colOf("AA7") == 26 && Xlsx.colOf("B3") == 1)
  }

  test("ValidationParams reads the reference's own sample workbook (.xltx template)") {
    // samples/validation_params_files ships the sheet as CSV (with data
    // rows) and as an Excel TEMPLATE (.xltx — same SpreadsheetML zip as
    // .xlsx, header rows only). The template's row-2 names are the
    // ground truth for the canonical positional field list
    // (storage_utils.py validation_csv_header_fields positions 2-24).
    val base = "/root/reference/samples/validation_params_files"
    assume(Files.exists(Paths.get(base)), "reference samples not present")
    val grid = Xlsx.rows(s"$base/validation_params.xltx")
    assert(grid.size >= 2, grid.toString)
    assert(grid(1).drop(2).map(_.trim) == Seq(
      "source-table", "target-table", "source-query-file", "target-query-file",
      "filter-status", "primary-keys", "filters", "exclusion-columns",
      "allow-list", "count", "sum", "min", "max", "avg", "grouped-columns",
      "wildcard-include-string-len", "cast-to-bigint", "threshold",
      "hash", "concat", "comparison-fields", "use-random-row",
      "random-row-batch-size"), grid(1).toString)
    // template has no data rows -> zero entries, no parse error
    assert(ValidationParams.read(spark, s"$base/validation_params.xltx").isEmpty)
    // the CSV twin carries data rows; its column flags land on the
    // canonical positions
    val fromCsv = ValidationParams.read(spark, s"$base/validation_params.csv")
    assert(fromCsv.nonEmpty)
    val col = ValidationParams.forRun(fromCsv, "ddl", "column")
    assert(col.values.exists(e => e.flags.contains("count") || e.flags.contains("sum")),
      col.toString)
  }

  test("CatalogOps: extract DDLs, write per-table files, json archive") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS catops")
    spark.sql("CREATE TABLE IF NOT EXISTS catops.t1 (x INT, y STRING) USING parquet")
    val ddls = CatalogOps.extractDdls(spark, "catops")
    assert(ddls.map(_._1) == Seq("catops.t1"))
    assert(ddls.head._2.contains("CREATE TABLE"))
    val out = Files.createTempDirectory("ddlout").toString
    val files = CatalogOps.writeDdlFiles(ddls, out)
    assert(files.size == 1 && files.head.endsWith("catops_t1.sql"))
    assert(Files.readString(java.nio.file.Paths.get(files.head)).contains("CREATE TABLE"))

    val arch = Files.createTempDirectory("arch").toString + "/logs.json"
    CatalogOps.writeJsonArchive(Seq((1, "a"), (2, "b")).toDF("k", "v"), arch)
    val lines = Files.readString(java.nio.file.Paths.get(arch)).split('\n')
    assert(lines.length == 2 && lines.exists(_.contains("\"k\":1")))
  }

  test("OrderedStringAgg: ordered concat with map-side-combinable buffers") {
    import spark.implicits._
    val ds = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDS().repartition(3)
    val out = ds.select(OrderedStringAgg(",")).head()
    assert(out == "a,b,c")
    // grouped form
    val grouped = Seq((1L, 10L, "x"), (1L, 5L, "y"), (2L, 1L, "z"))
      .toDS().groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(OrderedStringAgg(","))
      .collect().toMap
    assert(grouped == Map(1L -> "y,x", 2L -> "z"))
  }
}
