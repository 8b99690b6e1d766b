package pipebench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

/** Seeded, deterministic input generators. The same seed always gives
  * byte-identical files; every random draw comes from one
  * `SplittableRandom` per generator, consumed in a fixed order. */
object Gen {

  /** Fixed vocabulary (independent of the seed, so theme vectors and text
    * statistics stay comparable across seeds). */
  val Vocab: Vector[String] = {
    val r = new SplittableRandom(7L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 400) {
      val syl = 2 + r.nextInt(2)
      words += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    words.toVector
  }

  def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def email(r: SplittableRandom): String =
    s"${Vocab(r.nextInt(Vocab.size))}.${Vocab(r.nextInt(Vocab.size))}${r.nextInt(100)}@example.org"

  private def phone(r: SplittableRandom): String =
    // dash-separated, so wrapping text at spaces never splits a number
    if (r.nextBoolean()) f"+44-7${r.nextInt(1000)}%03d-${r.nextInt(1000000)}%06d"
    else f"020-${r.nextInt(10000)}%04d-${r.nextInt(10000)}%04d"

  // ------------------------------------------------------------ file formats

  def html(title: String, paras: Seq[String], items: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder("<!DOCTYPE html>\n<html><head><title>")
    sb ++= title ++= "</title><style>p { margin: 0 }</style></head>\n<body>\n<h1>" ++= title ++= "</h1>\n"
    paras.foreach(p => sb ++= "<p>" ++= p ++= "</p>\n")
    if (items.nonEmpty) {
      sb ++= "<ul>"; items.foreach(i => sb ++= "<li>" ++= i ++= "</li>"); sb ++= "</ul>\n"
    }
    sb ++= "</body></html>\n"
    sb.toString.getBytes(UTF_8)
  }

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(bytes); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Text-first PDF: one Flate-compressed content stream per page, one
    * `Tj` per line. */
  def pdf(pages: Seq[Seq[String]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def put(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    put("%PDF-1.4\n")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val content = lines.map(l => s"(${l.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")}) Tj 0 -14 Td")
        .mkString("BT /F1 11 Tf 72 720 Td ", " ", " ET")
      val z = deflate(content.getBytes(ISO_8859_1))
      put(s"${i + 1} 0 obj << /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      put("\nendstream\nendobj\n")
    }
    put("%%EOF\n")
    out.toByteArray
  }

  private def zip(entries: Seq[(String, String)]): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTime(0L) // fixed timestamps keep the bytes seed-determined
      z.putNextEntry(e); z.write(content.getBytes(UTF_8)); z.closeEntry()
    }
    z.close()
    baos.toByteArray
  }

  /** Single-sheet XLSX: header row of shared strings, then rows. */
  def xlsx(sheet: String, header: Seq[String], rows: Seq[Seq[Any]]): Array[Byte] = {
    val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val relNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sst(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    def colName(i: Int): String = ('A' + i).toChar.toString
    def cell(ref: String, v: Any): String = v match {
      case s: String => s"""<c r="$ref" t="s"><v>${sst(s)}</v></c>"""
      case n => s"""<c r="$ref"><v>$n</v></c>"""
    }
    val sheetRows = (header +: rows).zipWithIndex.map { case (row, ri) =>
      row.zipWithIndex.map { case (v, ci) => cell(s"${colName(ci)}${ri + 1}", v) }
        .mkString(s"""<row r="${ri + 1}">""", "", "</row>")
    }.mkString
    zip(Seq(
      "xl/workbook.xml" -> s"""<workbook xmlns="$mainNs" xmlns:r="$relNs"><sheets><sheet name="$sheet" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" -> """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" -> s"""<worksheet xmlns="$mainNs"><sheetData>$sheetRows</sheetData></worksheet>""",
      "xl/sharedStrings.xml" -> strings.keys.map(s => s"<si><t>$s</t></si>").mkString(s"""<sst xmlns="$mainNs">""", "", "</sst>"),
      "xl/styles.xml" -> s"""<styleSheet xmlns="$mainNs"><cellXfs count="1"><xf numFmtId="0"/></cellXfs></styleSheet>"""))
  }

  /** Single-table ODS with string and float cells. */
  def ods(sheet: String, header: Seq[String], rows: Seq[Seq[Any]]): Array[Byte] = {
    def cell(v: Any): String = v match {
      case s: String => s"""<table:table-cell office:value-type="string"><text:p>$s</text:p></table:table-cell>"""
      case n => s"""<table:table-cell office:value-type="float" office:value="$n"/>"""
    }
    val body = (header +: rows).map(_.map(cell).mkString("<table:table-row>", "", "</table:table-row>")).mkString
    zip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.spreadsheet",
      "content.xml" ->
        s"""<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"><office:body><office:spreadsheet><table:table table:name="$sheet">$body</table:table></office:spreadsheet></office:body></office:document-content>"""))
  }

  // ------------------------------------------------------ refine_corpus input

  /** Ground truth for one corpus member.
    * @param kind    "unique", "duplicate" or "corrupt"
    * @param dupOf   for duplicates, the id of the member whose bytes they copy
    * @param emails  planted email addresses in the member's text
    * @param phones  planted phone numbers in the member's text
    * @param rows    for structured members, the generated row count
    * @param types   for structured members, column -> Spark type name */
  final case class Member(id: Long, ext: String, kind: String, dupOf: Long,
      emails: Int, phones: Int, rows: Int, table: String, types: Seq[(String, String)]) {
    def stem: String = f"m$id%06d"
    def dir: String = s"d${id % 8}"
    def path: String = s"$dir/$stem.$ext"
  }

  final case class CorpusSpec(html: Int, pdf: Int, csv: Int, json: Int, xlsx: Int, ods: Int) {
    def bulk: Int = html + pdf
    def structured: Int = csv + json + xlsx + ods
  }

  /** Default corpus: 450 HTML/PDF members, 8 structured ones. */
  val RefineSpec = CorpusSpec(html = 300, pdf = 150, csv = 2, json = 2, xlsx = 2, ods = 2)
  /** A small corpus of every member shape, for the class-loading run. */
  val TrainSpec = CorpusSpec(html = 2, pdf = 1, csv = 1, json = 1, xlsx = 1, ods = 1)

  val Licenses = Vector("Open Government Licence v3.0", "CC BY 4.0", "cc-by-sa", "ODbL", "")
  val Langs = Vector("en", "en", "en", "cy", "")

  private def sidecar(r: SplittableRandom, m: Member): String = {
    val tags = if (r.nextInt(3) == 0) s""""${Vocab(r.nextInt(Vocab.size))}"""" else ""
    s"""{"title": "${words(r, 4)}", "license": "${Licenses(r.nextInt(Licenses.size))}", """ +
      s""""lang": "${Langs(r.nextInt(Langs.size))}", "tags": [$tags], "source": "${m.ext}"}"""
  }

  /** Paragraphs of a bulk member, with `e` emails and `p` phones planted. */
  private def paragraphs(r: SplittableRandom, e: Int, p: Int): Seq[String] = {
    val n = 3 + r.nextInt(3)
    val paras = Array.tabulate(n)(_ => words(r, 40 + r.nextInt(40)) + ".")
    (0 until e).foreach(i => paras(i % n) += s" Write to ${email(r)} for a copy.")
    (0 until p).foreach(i => paras((i + 1) % n) += s" Call ${phone(r)} during office hours.")
    paras.toSeq
  }

  private def wrap(text: String, width: Int): Seq[String] = {
    val lines = scala.collection.mutable.ArrayBuffer(new StringBuilder)
    text.split(" ").foreach { w =>
      if (lines.last.nonEmpty && lines.last.length + w.length + 1 > width) lines += new StringBuilder
      if (lines.last.nonEmpty) lines.last += ' '
      lines.last ++= w
    }
    lines.map(_.toString).toSeq
  }

  private def tableRows(r: SplittableRandom, n: Int): Seq[Seq[Any]] =
    (0 until n).map(i => Seq(i.toLong, Vocab(r.nextInt(Vocab.size)),
      BigDecimal(r.nextInt(100000)) / 100 + BigDecimal("0.01"),
      Vocab(r.nextInt(20))))

  val TableHeader = Seq("id", "name", "amount", "region")
  val TableTypes = Seq("id" -> "bigint", "name" -> "string", "amount" -> "double", "region" -> "string")

  /** Writes the refine corpus under `dir` and returns its manifest.
    * Shares: ~10 % byte-identical duplicates, ~5 % members with planted
    * PII, ~2 % corrupt members. */
  def refineCorpus(dir: File, seed: Long, spec: CorpusSpec): Seq[Member] = {
    val r = new SplittableRandom(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Member]
    val bytes = scala.collection.mutable.Map.empty[Long, Array[Byte]]
    def write(m: Member, payload: Array[Byte]): Unit = {
      val f = new File(dir, m.path)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, payload)
      Files.write(new File(f.getParentFile, s"${m.stem}_metadata.json").toPath,
        sidecar(r, m).getBytes(UTF_8))
      out += m
    }
    var next = 0L
    def id(): Long = { next += 1; next }
    // text-first bulk members
    (0 until spec.bulk).foreach { i =>
      val ext = if (i < spec.html) "html" else "pdf"
      val pii = r.nextInt(20) == 0
      val (e, p) = if (pii) (1 + r.nextInt(2), 1 + r.nextInt(2)) else (0, 0)
      val paras = paragraphs(r, e, p)
      val title = words(r, 5)
      val payload =
        if (ext == "html") html(title, paras, (0 until r.nextInt(4)).map(_ => words(r, 6)))
        else pdf(paras.map(pa => wrap(pa, 90)))
      val m = Member(id(), ext, "unique", 0L, e, p, 0, "", Nil)
      bytes(m.id) = payload
      write(m, payload)
    }
    // structured members, converted per file
    def structured(ext: String, count: Int): Unit = (0 until count).foreach { _ =>
      val n = 40 + r.nextInt(160)
      val rows = tableRows(r, n)
      val sheet = s"sheet_${Vocab(r.nextInt(Vocab.size))}"
      val payload = ext match {
        case "csv" => (TableHeader +: rows).map(_.mkString(",")).mkString("", "\n", "\n").getBytes(UTF_8)
        case "json" => rows.map(row => s"""{"id": ${row(0)}, "name": "${row(1)}", "amount": ${row(2)}, "region": "${row(3)}"}""")
          .mkString("""{"data": [""", ", ", "]}").getBytes(UTF_8)
        case "xlsx" => xlsx(sheet, TableHeader, rows)
        case "ods" => ods(sheet, TableHeader, rows)
      }
      val table = if (ext == "xlsx" || ext == "ods") sheet else ""
      write(Member(id(), ext, "unique", 0L, 0, 0, n, table, TableTypes), payload)
    }
    structured("csv", spec.csv); structured("json", spec.json)
    structured("xlsx", spec.xlsx); structured("ods", spec.ods)
    // byte-identical duplicates of bulk members (~10 %)
    val uniques = out.filter(m => m.ext == "html" || m.ext == "pdf").toVector
    (0 until spec.bulk / 9).foreach { _ =>
      val src = uniques(r.nextInt(uniques.size))
      write(Member(id(), src.ext, "duplicate", src.id, src.emails, src.phones, 0, "", Nil), bytes(src.id))
    }
    // corrupt members (~2 %): HTML that is not UTF-8, JSON that does not
    // parse, workbooks whose zip container is broken
    val nCorrupt = math.max(1, (spec.bulk + spec.structured) / 50)
    (0 until nCorrupt).foreach { i =>
      val ext = Vector("html", "html", "json", "xlsx", "ods")(i % 5)
      val junk = Array.fill(256 + r.nextInt(512))((0x80 + r.nextInt(0x40)).toByte)
      val payload = ext match {
        case "html" => "<html><body><p>".getBytes(UTF_8) ++ Array(0xC3.toByte, 0x28.toByte) ++ junk
        case "json" => s"""{"data": [{"id": 1, "name": "${words(r, 1)}", """.getBytes(UTF_8)
        case _ => Array[Byte](0x50, 0x4B, 0x03, 0x04) ++ junk
      }
      write(Member(id(), ext, "corrupt", 0L, 0, 0, 0, "", Nil), payload)
    }
    out.toSeq
  }

  // ------------------------------------------------------- index_search input

  /** Multi-KB, paragraph-structured documents: (doc_id, text). */
  def longDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val r = new SplittableRandom(seed ^ 0x1D0C5L)
    (0 until n).map { i =>
      val paras = (0 until 4 + r.nextInt(6)).map { _ =>
        (0 until 3 + r.nextInt(5)).map(_ => words(r, 8 + r.nextInt(14)).capitalize + ".").mkString(" ")
      }
      (i.toLong, paras.mkString("\n\n"))
    }
  }

  /** Search request texts. */
  def queryTexts(seed: Long, n: Int): Vector[String] = {
    val r = new SplittableRandom(seed ^ 0x9E5L)
    Vector.fill(n)(words(r, 3 + r.nextInt(6)))
  }
}
