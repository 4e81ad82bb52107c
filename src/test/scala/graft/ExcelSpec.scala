package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Excel

/** S1/S6 — dependency-free XLSX round trips, plus the full reference flow
  * workbook → pipeline → workbook.
  */
class ExcelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String) =
    Tables.targetPath(s"tmp/${name}_${System.nanoTime()}.xlsx")

  test("colIndex / colRef round-trip") {
    assert(Excel.colIndex("A1") == 0 && Excel.colIndex("Z9") == 25 && Excel.colIndex("AA3") == 26)
    assert(Excel.colRef(0) == "A" && Excel.colRef(25) == "Z" && Excel.colRef(26) == "AA")
    (0 until 200).foreach(i => assert(Excel.colIndex(Excel.colRef(i) + "1") == i))
  }

  test("sheetName sanitizes and truncates to 31 chars (app.py:55)") {
    assert(Excel.sheetName("a/b*c?") == "a_b_c_")
    assert(Excel.sheetName("x" * 40).length == 31)
  }

  test("numeric cells styled as dates arrive as typed timestamps (serial conversion)") {
    // Hand-built workbook: style index 1 → built-in date numFmtId 14; cell A2
    // is the Excel serial for 2024-01-01, C2 for 2024-01-01 06:00; B2 is a
    // plain (unstyled) number and must stay a string.
    val path = tmp("dates")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    try {
      put("xl/styles.xml",
        """<styleSheet><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>""")
      put("xl/worksheets/sheet1.xml",
        """<worksheet><sheetData>
          |<row r="1"><c r="A1" t="inlineStr"><is><t>d</t></is></c></row>
          |<row r="2"><c r="A2" s="1"><v>45292</v></c><c r="B2"><v>12.5</v></c><c r="C2" s="1"><v>45292.25</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    } finally zout.close()
    val rows = Excel.readRaw(path)
    assert(rows(1)(0) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(rows(1)(1) == "12.5")
    assert(rows(1)(2) == java.sql.Timestamp.valueOf("2024-01-01 06:00:00"))
    // the stringified form survives the pipeline's parseTs date coercion
    val parsed = Seq(rows(1)(0).toString).toDF("t")
      .select(graft.ops.Clean.parseTs(org.apache.spark.sql.functions.col("t")).as("ts"))
      .collect()(0).getTimestamp(0)
    assert(parsed == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("East Asian built-in date styles (numFmtId 27, 57) convert serials too") {
    // ids 27–36 / 50–58 are implied built-ins (never in styles.xml) used by
    // zh/ja/ko-locale Excel for era/CJK date formats
    val path = tmp("cjkdates")
    val zout = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(content.getBytes("UTF-8")); zout.closeEntry()
    }
    try {
      put("xl/styles.xml",
        """<styleSheet><cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="27"/><xf numFmtId="57"/></cellXfs></styleSheet>""")
      put("xl/worksheets/sheet1.xml",
        """<worksheet><sheetData>
          |<row r="1"><c r="A1" s="1"><v>45292</v></c><c r="B1" s="2"><v>45292.5</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    } finally zout.close()
    val rows = Excel.readRaw(path)
    assert(rows(0)(0) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(rows(0)(1) == java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
  }

  test("write → read round-trip preserves cells, nulls, sparse rows, escapes") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("Header A", "B & <C>", "D"),
      Seq("v1", null, "v3"),
      Seq(null, "only-b", null),
      Seq())
    val p = tmp("roundtrip")
    Excel.writeRaw(p, Seq("S1" -> rows))
    val back = Excel.readRaw(p)
    assert(back(0) == Seq("Header A", "B & <C>", "D"))
    assert(back(1) == Seq("v1", null, "v3"))
    assert(back(2) == Seq(null, "only-b"))
    assert(back(3) == Seq())
  }

  test("writeRaw applies reference formatting: freeze pane, number formats, sampled widths") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("name", "qty", "score"),              // header
      Seq("a-very-long-endpoint-name", 1234567L, 3.5),
      Seq("b", 42L, null),
      Seq("c", null, 0.125))
    val p = tmp("styled")
    Excel.writeRaw(p, Seq("S1" -> rows))
    // raw parts: the style records the reference's app.py:72-99 applies
    val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(p))
    val parts = scala.collection.mutable.Map.empty[String, String]
    var e = zin.getNextEntry
    while (e != null) {
      parts(e.getName) = new String(zin.readAllBytes(), "UTF-8"); e = zin.getNextEntry
    }
    zin.close()
    val styles = parts("xl/styles.xml")
    assert(styles.contains("""formatCode="#,##0.00""""), "float number format missing")
    assert(styles.contains("""formatCode="#,##0""""), "int number format missing")
    val sheet = parts("xl/worksheets/sheet1.xml")
    assert(sheet.contains("""state="frozen""""), "header freeze pane missing")
    assert(sheet.contains("""ySplit="1""""), "freeze must split below row 1")
    // col 2 (qty, all-integral) style 2; col 3 (score, fractional) style 1
    assert(sheet.contains("""<col min="2" max="2" width="11" customWidth="1" style="2"/>"""),
      s"qty col record wrong: $sheet") // width = len("1,234,567")+2 = 11
    assert(sheet.contains("""<col min="3" max="3" width="7" customWidth="1" style="1"/>"""),
      "score col record wrong") // width = max(len("score"),len("3.50"))+2 = 7
    // width cap at 60 honored via header+data max rule on col 1
    assert(sheet.contains("""<col min="1" max="1" width="27" customWidth="1"/>"""),
      "string col width wrong") // len("a-very-long-endpoint-name")+2 = 27
    // numeric data cells carry the column style and a <v> payload
    assert(sheet.contains("""<c r="B2" s="2"><v>1234567</v></c>"""), "int cell not numeric")
    assert(sheet.contains("""<c r="C2" s="1"><v>3.5</v></c>"""), "float cell not numeric")
    // header cells stay unstyled inline strings; round-trip still reads
    assert(Excel.readRaw(p).head == Seq("name", "qty", "score"))
    assert(Excel.readRaw(p)(1) == Seq("a-very-long-endpoint-name", "1234567", "3.5"))
  }

  test("multi-sheet workbook: first sheet wins on read; all sheets written") {
    val p = tmp("multi")
    Excel.writeRaw(p, Seq("first" -> Seq(Seq("a")), "second" -> Seq(Seq("b"))))
    assert(Excel.readRaw(p) == Seq(Seq("a")))
  }

  test("writeRaw disambiguates sheet names that sanitize identically") {
    val p = tmp("dupsheets")
    // both sanitize to a_b; duplicate sheet names corrupt the workbook
    Excel.writeRaw(p, Seq("a/b" -> Seq(Seq("x")), "a*b" -> Seq(Seq("y"))))
    assert(Excel.readRaw(p) == Seq(Seq("x"))) // readable, first sheet intact
  }

  test("end-to-end: xlsx upload → pipeline → xlsx export (the reference flow)") {
    val upload: Seq[Seq[Any]] = Seq(
      Seq("Relatório Cortex", null, null, null, null, null),
      Seq("Endpoint Name", "Endpoint Type", "Operating System", "Agent Version",
        "Endpoint Status", "Last Upgrade Status"),
      Seq("host-x", "SERVER", "Linux", "8.0", "connected", "Failed"),
      Seq("host-y", "SERVER", null, "7.9", "lost contact", "Success"))
    val in = tmp("upload")
    Excel.writeRaw(in, Seq("export" -> upload))
    val df = Pipeline.ingestExcel(spark, in)
    assert(df.columns.toSeq == Seq("endpoint_name", "endpoint_type", "operating_system",
      "agent_version", "endpoint_status", "last_upgrade_status"))
    assert(df.count() == 2)
    val catalog = Pipeline.run(Seq(df), dedupKeys = Seq("endpoint_name"))
    val out = tmp("result")
    Pipeline.exportCatalogXlsx(catalog, out)
    val sheet1 = Excel.readRaw(out) // base_limpa: header + 2 rows
    assert(sheet1.head.contains("endpoint_name"))
    assert(sheet1.length == 3)
    // the tables are collected concurrently; the sheets must still be
    // written in catalog order, every one of them
    val zip = new java.util.zip.ZipFile(out)
    val workbook = try scala.io.Source.fromInputStream(
        zip.getInputStream(zip.getEntry("xl/workbook.xml")), "UTF-8").mkString
      finally zip.close()
    val sheetNames = "<sheet name=\"([^\"]*)\"".r.findAllMatchIn(workbook).map(_.group(1)).toSeq
    assert(catalog.keys.toSeq ==
      Seq("base_limpa", "resumo_status", "resumo_os", "falhas_upgrade"))
    assert(sheetNames == catalog.keys.toSeq)
  }
}
