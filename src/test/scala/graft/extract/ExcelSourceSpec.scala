package graft.extract

import graft.SparkSpec
import graft.functions.MultiFormatParse
import graft.model._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

import java.time.ZoneOffset
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Exercises the OOXML reader against a hand-built xlsx covering the
  * cell-type matrix (shared string, inline, numeric, bool, error,
  * date-styled serial) and both orientations.
  */
class ExcelSourceSpec extends SparkSpec {
  import ExcelSourceSpec._

  private def writeXlsx(path: String): Unit = {
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets>
        |  <sheet name="basic info" sheetId="1" r:id="rId1"/>
        |  <sheet name="conditions" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/>
        |  <Relationship Id="rId2" Target="worksheets/sheet2.xml" Type="w"/>
        |</Relationships>""".stripMargin)
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
        |  <si><t>Patient ID</t></si><si><t>Sex</t></si><si><t>DOB</t></si>
        |  <si><t>P001</t></si><si><t>m</t></si><si><t>Survival</t></si>
        |</sst>""".stripMargin)
    // style 1 = builtin date format 14 (mm-dd-yy)
    put("xl/styles.xml",
      """<?xml version="1.0"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <cellXfs count="2">
        |    <xf numFmtId="0"/>
        |    <xf numFmtId="14"/>
        |  </cellXfs>
        |</styleSheet>""".stripMargin)
    // Row 1: headers (shared strings); Row 2: P001, m, date serial 32890
    // (1990-01-15, date-styled), survival 120 numeric, bool true.
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |  <row r="1">
        |    <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
        |    <c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>5</v></c>
        |  </row>
        |  <row r="2">
        |    <c r="A2" t="s"><v>3</v></c><c r="B2" t="s"><v>4</v></c>
        |    <c r="C2" s="1"><v>32888</v></c><c r="D2"><v>120</v></c>
        |  </row>
        |</sheetData></worksheet>""".stripMargin)
    // Transposed orientation: first column holds headers.
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |  <row r="1">
        |    <c r="A1" t="inlineStr"><is><t>Patient ID</t></is></c>
        |    <c r="B1" t="inlineStr"><is><t>P001</t></is></c>
        |    <c r="C1" t="inlineStr"><is><t>P002</t></is></c>
        |  </row>
        |  <row r="2">
        |    <c r="A2" t="inlineStr"><is><t>Phenotypic Features</t></is></c>
        |    <c r="B2" t="inlineStr"><is><t>Fever</t></is></c>
        |    <c r="C2" t="e"><v>#N/A</v></c>
        |  </row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
  }

  test("xlsx: cell decode matrix + both orientations") {
    val path = java.io.File.createTempFile("graft", ".xlsx").getAbsolutePath
    writeXlsx(path)

    val subject = SeriesContext(Identifier.Single("Patient ID"), dataContext = Context.SubjectId)
    val cdfs = ExcelSource.extract(spark, path, Seq(
      ExcelSheetConfig("basic info", TableContext("basic", Seq(subject,
        SeriesContext(Identifier.Single("Sex"), dataContext = Context.SubjectSex),
        SeriesContext(Identifier.Single("DOB"), dataContext = Context.DateOfBirth),
        SeriesContext(Identifier.Single("Survival"), dataContext = Context.SurvivalTimeDays)))),
      ExcelSheetConfig("conditions", TableContext("cond", Seq(subject,
        SeriesContext(Identifier.Single("Phenotypic Features"), dataContext = Context.Hpo))),
        patientsAreRows = false)))

    val basic = cdfs(0).df.collect().head
    assert(basic.getString(basic.fieldIndex("Patient ID")) == "P001")
    assert(basic.getString(basic.fieldIndex("Sex")) == "m")
    assert(basic.getString(basic.fieldIndex("DOB")) == "1990-01-15") // serial 32888, date-styled
    assert(basic.getString(basic.fieldIndex("Survival")) == "120")

    val cond = cdfs(1).df.orderBy("Patient ID").collect()
    assert(cond.length == 2)
    assert(cond(0).getString(cond(0).fieldIndex("Patient ID")) == "P001")
    assert(cond(0).getString(cond(0).fieldIndex("Phenotypic Features")) == "Fever")
    assert(cond(1).isNullAt(cond(1).fieldIndex("Phenotypic Features"))) // error cell → null
  }

  test("serial date conversion incl. time fraction") {
    assert(ExcelSource.serialToDateString(32888) == "1990-01-15")
    assert(ExcelSource.serialToDateString(32888.5) == "1990-01-15T12:00:00")
    // a fraction an epsilon below midnight (Excel float noise for
    // "next day 00:00") must ADVANCE the date, not wrap to 00:00 of
    // the same day (silent off-by-one-day)
    assert(ExcelSource.serialToDateString(32888.9999999999) == "1990-01-16")
    assert(ExcelSource.serialToDateString(32888.999) == "1990-01-15T23:58:34")
  }

  test("every rendered serial datetime parses under the shared parser to the serial's instant") {
    // whole minutes (zero seconds), odd seconds, and fractions at and
    // just below midnight
    val epoch = java.time.LocalDate.of(1899, 12, 30).atStartOfDay(ZoneOffset.UTC).toInstant
    val fractions = (0 until 1440 by 7).map(_ / 1440.0) ++
      (0 until 86400 by 997).map(_ / 86400.0) ++
      Seq(1 - 1.0 / 86400, 1 - 0.6 / 86400, 1 - 1e-7, 1 - 1e-12)
    for (day <- Seq(0, 1, 32888, 44927); frac <- fractions) {
      val serial = day + frac
      val rendered = ExcelSource.serialToDateString(serial)
      val micros = MultiFormatParse.timestampBoxed(UTF8String.fromString(rendered), ZoneOffset.UTC)
      assert(micros != null, s"serial $serial rendered as unparseable '$rendered'")
      assert(DateTimeUtils.microsToInstant(micros) == epoch.plusSeconds(math.round(serial * 86400)),
        s"serial $serial rendered as '$rendered'")
    }
  }

  test("cells and rows without the optional OOXML r reference position sequentially") {
    // several streaming writers omit r; previously "".toInt crashed
    val bytes = oneSheetWorkbook(
      """<row><c t="inlineStr"><is><t>A</t></is></c><c t="inlineStr"><is><t>B</t></is></c></row>
        |<row><c t="inlineStr"><is><t>x</t></is></c><c t="inlineStr"><is><t>y</t></is></c></row>""".stripMargin)
    val grid = ExcelSource.readWorkbookBytes(bytes)("s")
    assert(grid == Vector(Vector("A", "B"), Vector("x", "y")))
  }

  test("duplicate header names fail loudly") {
    // header [id, v, v], row [1, a, b]: a frame with two columns named
    // v must never reach the pipeline, whether or not v is bound
    val path = writeTemp(oneSheetWorkbook(inlineRows(Seq(Seq("id", "v", "v"), Seq("1", "a", "b")))))
    val subject = SeriesContext(Identifier.Single("id"), dataContext = Context.SubjectId)
    val unbound = TableContext("t", Seq(subject))
    val bound = TableContext("t", Seq(subject,
      SeriesContext(Identifier.Single("v"), dataContext = Context.Hpo)))
    Seq(unbound, bound).foreach { ctx =>
      val e = intercept[IllegalArgumentException] {
        ExcelSource.extract(spark, path, Seq(ExcelSheetConfig("s", ctx)))
      }
      assert(e.getMessage.contains("duplicate header name(s) v"), e.getMessage)
      assert(e.getMessage.contains("sheet 's'"), e.getMessage)
    }
  }

  test("a transposed sheet with only its field column gives zero rows named by the fields") {
    val path = writeTemp(oneSheetWorkbook(inlineRows(Seq(Seq("Patient ID"), Seq("Sex")))))
    val subject = SeriesContext(Identifier.Single("Patient ID"), dataContext = Context.SubjectId)
    val Seq(cdf) = ExcelSource.extract(spark, path,
      Seq(ExcelSheetConfig("s", TableContext("t", Seq(subject)), patientsAreRows = false)))
    assert(cdf.df.columns.toSeq == Seq("Patient ID", "Sex"))
    assert(cdf.df.count() == 0)
  }

  test("missing sheet errors with the sheet name") {
    val fixture = "src/test/resources/refgolden/input_data/excel_data.xlsx"
    val subject = SeriesContext(Identifier.Single("Patient ID"), dataContext = Context.SubjectId)
    val e = intercept[IllegalArgumentException] {
      ExcelSource.extract(spark, fixture,
        Seq(ExcelSheetConfig("nope", TableContext("t", Seq(subject)))))
    }
    assert(e.getMessage.contains("'nope'"), e.getMessage)
  }
}

object ExcelSourceSpec {

  /** A minimal one-sheet workbook, sheet "s" holding the given rows. */
  def oneSheetWorkbook(rows: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type="w"/></Relationships>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>$rows</sheetData></worksheet>""".stripMargin)
    zos.close()
    bos.toByteArray
  }

  /** Sheet rows of inline-string cells with explicit `r` references; a
    * null cell is left out (an empty cell), a short row stays short.
    */
  def inlineRows(grid: Seq[Seq[String]]): String =
    grid.zipWithIndex.map { case (row, i) =>
      row.zipWithIndex.collect { case (v, j) if v != null =>
        s"""<c r="${('A' + j).toChar}${i + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString(s"""<row r="${i + 1}">""", "", "</row>")
    }.mkString("\n")

  /** Writes bytes to a temp file deleted on exit; returns its path. */
  def writeTemp(bytes: Array[Byte], suffix: String = ".xlsx"): String = {
    val file = java.io.File.createTempFile("graft", suffix)
    file.deleteOnExit()
    java.nio.file.Files.write(file.toPath, bytes)
    file.getAbsolutePath
  }
}
