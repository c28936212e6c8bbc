package graft.extract

import graft.model.{Cdf, TableContext}
import org.apache.spark.sql.SparkSession

import scala.xml.{Elem, XML}

/** S2/S3 — multi-sheet XLSX extraction (reference
  * `phenoxtract/src/extract/data_source.rs:130-171`,
  * `extract/excel_range_reader.rs:23-159`, which uses calamine; this is
  * a from-scratch minimal OOXML reader over java.util.zip + scala-xml —
  * no external dependency).
  *
  * Cells are decoded by their OOXML type tag (shared string / inline /
  * bool / error / numeric) with date-vs-number disambiguation via the
  * style sheet's number formats (builtin date ids + custom codes), then
  * surfaced as STRINGS: the preprocessor cascade re-infers column types
  * exactly like the reference's mixed-type → stringify fallback
  * (`excel_range_reader.rs:144-154`).
  *
  * Clinical spreadsheets are driver-sized; the grid becomes a frame
  * through [[Grid.toDataFrame]], which also transposes
  * patients-as-columns sheets. (A 100 TB engine would not ingest XLSX —
  * scale inputs arrive as parquet/CSV; this source exists for surface
  * parity.)
  */
final case class ExcelSheetConfig(
    sheetName: String,
    tableContext: TableContext,
    hasHeaders: Boolean = true,
    patientsAreRows: Boolean = true)

object ExcelSource {

  def extract(spark: SparkSession, path: String, sheets: Seq[ExcelSheetConfig]): Seq[Cdf] = {
    val workbook = readWorkbook(path)
    sheets.map { cfg =>
      val grid = workbook.getOrElse(cfg.sheetName,
        throw new IllegalArgumentException(
          s"sheet '${cfg.sheetName}' not found; workbook has ${workbook.keys.mkString(", ")}"))
      Cdf.validated(cfg.tableContext, Grid.toDataFrame(spark, grid, cfg.hasHeaders,
        cfg.patientsAreRows, s"sheet '${cfg.sheetName}'"))
    }
  }

  /** Whole workbook as sheetName → rectangular string grid (null =
    * empty cell). Local-path convenience over [[readWorkbookBytes]].
    */
  def readWorkbook(path: String): Map[String, Vector[Vector[String]]] =
    readWorkbookBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      path)

  /** The parse itself, from the workbook's raw bytes (no file IO).
    * Clinical workbooks are MB-sized and a sheet is capped at 1,048,576
    * rows, so buffering one whole workbook on the driver is the
    * contract.
    */
  def readWorkbookBytes(bytes: Array[Byte],
      path: String = "<bytes>"): Map[String, Vector[Vector[String]]] = {
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val entries = scala.collection.mutable.Map.empty[String, Array[Byte]]
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) entries(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
      def entryXml(name: String): Option[Elem] =
        entries.get(name).map(b => XML.load(new java.io.ByteArrayInputStream(b)))

      val shared: Vector[String] =
        entryXml("xl/sharedStrings.xml").map { sst =>
          (sst \ "si").map(si => (si \\ "t").map(_.text).mkString).toVector
        }.getOrElse(Vector.empty)

      val dateStyles: Set[Int] = entryXml("xl/styles.xml").map(dateStyleIds).getOrElse(Set.empty)

      val wb = entryXml("xl/workbook.xml").getOrElse(
        throw new IllegalArgumentException(s"$path: not an xlsx (no workbook.xml)"))
      val rels = entryXml("xl/_rels/workbook.xml.rels").get
      val relTargets: Map[String, String] = (rels \ "Relationship").map { r =>
        (r \@ "Id") -> (r \@ "Target")
      }.toMap

      (wb \\ "sheet").map { s =>
        val name = s \@ "name"
        val rid = s.attributes.asAttrMap.collectFirst {
          case (k, v) if k.endsWith(":id") || k == "id" => v
        }.get
        val target = relTargets(rid).stripPrefix("/xl/").stripPrefix("./")
        val sheetXml = entryXml(if (target.startsWith("xl/")) target else s"xl/$target").get
        name -> readSheet(sheetXml, shared, dateStyles)
      }.toMap
    } finally zin.close()
  }

  /** Builtin numFmtIds that render as dates/times plus custom formats
    * containing date tokens (OOXML spec §18.8.30).
    */
  private def dateStyleIds(styles: Elem): Set[Int] = {
    val builtinDates = (14 to 22).toSet ++ (45 to 47).toSet
    val customDates: Set[Int] = (styles \ "numFmts" \ "numFmt").flatMap { nf =>
      val code = (nf \@ "formatCode").toLowerCase
      val noLiterals = code.replaceAll("\\[[^]]*\\]", "").replaceAll("\"[^\"]*\"", "")
      if (noLiterals.exists("ymdhs".contains(_))) Some((nf \@ "numFmtId").toInt) else None
    }.toSet
    val fmtOfStyle = (styles \ "cellXfs" \ "xf").map(xf =>
      (xf \@ "numFmtId") match { case "" => 0; case v => v.toInt })
    fmtOfStyle.zipWithIndex.collect {
      case (fmt, idx) if builtinDates.contains(fmt) || customDates.contains(fmt) => idx
    }.toSet
  }

  private def readSheet(sheet: Elem, shared: Vector[String],
      dateStyles: Set[Int]): Vector[Vector[String]] = {
    // The OOXML `r` reference is OPTIONAL on both rows and cells
    // (several streaming writers omit it): an unreferenced row follows
    // the previous row, an unreferenced cell follows the previous cell
    // in its row — positional tracking, not "".toInt crashes.
    var lastRow = -1
    val cells = (sheet \ "sheetData" \ "row").toVector.flatMap { row =>
      val rowIdx = (row \@ "r") match { case "" => lastRow + 1; case s => s.toInt - 1 }
      lastRow = rowIdx
      var lastCol = -1
      (row \ "c").toVector.flatMap { c =>
        val ref = c \@ "r"
        val (r, cI) = if (ref.isEmpty) (rowIdx, lastCol + 1) else (rowOf(ref), colOf(ref))
        lastCol = cI
        val v = decodeCell(c, shared, dateStyles)
        if (v == null) None else Some((r, cI, v))
      }
    }
    if (cells.isEmpty) return Vector.empty
    val nRows = cells.map(_._1).max + 1
    val nCols = cells.map(_._2).max + 1
    val grid = Array.fill[String](nRows, nCols)(null)
    cells.foreach { case (r, cI, v) => grid(r)(cI) = v }
    grid.map(_.toVector).toVector
  }

  /** Cell-tagged decode (reference `excel_range_reader.rs:68-116`):
    * Empty/Error → null, Bool → "true"/"false", shared/inline/str →
    * text, numeric → date string when date-styled else canonical number
    * string.
    */
  private def decodeCell(c: scala.xml.Node, shared: Vector[String],
      dateStyles: Set[Int]): String = {
    val t = c \@ "t"
    val v = (c \ "v").text
    t match {
      case "s"         => if (v.isEmpty) null else shared(v.toInt)
      case "inlineStr" => (c \ "is" \\ "t").map(_.text).mkString match {
        case "" => null; case s => s
      }
      case "str"       => if (v.isEmpty) null else v
      case "b"         => if (v.isEmpty) null else if (v == "1") "true" else "false"
      case "e"         => null
      case _ =>
        if (v.isEmpty) null
        else {
          val styleIdx = (c \@ "s") match { case "" => -1; case s => s.toInt }
          val num = v.toDouble
          if (dateStyles.contains(styleIdx)) serialToDateString(num)
          else if (num == math.floor(num) && math.abs(num) < 1e15) num.toLong.toString
          else v
        }
    }
  }

  /** Excel serial date (1900 system, epoch 1899-12-30) → ISO string;
    * fractional part becomes a `THH:mm:ss` time component.
    */
  def serialToDateString(serial: Double): String = {
    val epoch = java.time.LocalDate.of(1899, 12, 30)
    val days = math.floor(serial).toLong
    val frac = serial - days
    if (frac < 1e-9) epoch.plusDays(days).toString
    else {
      // A fraction an epsilon below 1.0 (routine Excel float noise for
      // "next day 00:00") rounds to 86400 seconds — that must ADVANCE
      // the date, not wrap to 00:00 of the same day via % 86400
      // (silent off-by-one-day on datetime cells).
      // Seconds always printed: "T12:00" (`LocalTime.toString`) is a
      // form no datetime format of the engine reads.
      val secs = math.round(frac * 86400)
      val date = epoch.plusDays(days + secs / 86400)
      val t = secs % 86400
      if (t == 0) date.toString else f"${date}T${t / 3600}%02d:${t / 60 % 60}%02d:${t % 60}%02d"
    }
  }

  private def colOf(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  private def rowOf(ref: String): Int = ref.dropWhile(_.isLetter).toInt - 1
}
