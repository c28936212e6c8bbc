package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Minimal deterministic XLSX writer over `java.util.zip`: shared-string
  * text cells and date-styled numeric cells (Excel serial days, builtin
  * format 14). Entry timestamps are fixed so equal input gives equal
  * bytes.
  */
object Xlsx {
  sealed trait Cell
  final case class Str(s: String) extends Cell
  final case class DateCell(d: LocalDate) extends Cell

  private val epoch = LocalDate.of(1899, 12, 30)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def colName(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  def write(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val shared = mutable.LinkedHashMap.empty[String, Int]
    val sheetXml = sheets.map { case (_, rows) =>
      val sb = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      rows.zipWithIndex.foreach { case (row, r) =>
        sb.append(s"""<row r="${r + 1}">""")
        row.zipWithIndex.foreach { case (cell, c) =>
          val ref = s"${colName(c)}${r + 1}"
          cell match {
            case Str(s) =>
              val idx = shared.getOrElseUpdate(s, shared.size)
              sb.append(s"""<c r="$ref" t="s"><v>$idx</v></c>""")
            case DateCell(d) =>
              sb.append(s"""<c r="$ref" s="1"><v>${ChronoUnit.DAYS.between(epoch, d)}</v></c>""")
          }
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val sst = shared.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString(
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""",
      "", "</sst>")
    val ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="$ns"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>"
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="$ns/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        s"""<Relationship Id="rId${sheets.size + 1}" Type="$ns/sharedStrings" Target="sharedStrings.xml"/>""" +
        s"""<Relationship Id="rId${sheets.size + 2}" Type="$ns/styles" Target="styles.xml"/>""" +
        "</Relationships>"
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs></styleSheet>"""
    val ct =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        sheets.indices.map(i =>
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        "</Types>"
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    def put(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01, the earliest DOS timestamp
      zip.putNextEntry(e); zip.write(body.getBytes(UTF_8)); zip.closeEntry()
    }
    put("[Content_Types].xml", ct)
    put("_rels/.rels", rootRels)
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", wbRels)
    put("xl/styles.xml", styles)
    put("xl/sharedStrings.xml", sst)
    sheetXml.zipWithIndex.foreach { case (x, i) => put(s"xl/worksheets/sheet${i + 1}.xml", x) }
    zip.close()
    bytes.toByteArray
  }
}
