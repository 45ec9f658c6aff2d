package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded product-catalog workbook, written the way Excel lays one out:
  * text cells index a shared-strings table (first-appearance order), numbers
  * are raw `<v>` cells, flags are `t="b"` booleans, blanks are either absent
  * cells or styled cells with no value. A small decoy sheet comes first, so
  * only selection by name finds `catalog`.
  *
  * It is written with `java.util.zip` alone, never through the engine, and
  * computes the expected output itself: the data rows as the xlsx contract
  * renders them (numbers as written, booleans as TRUE/FALSE, blanks as "",
  * all-blank rows dropped), their count and their ordered [[Digest]]. */
object WorkbookGen {

  val Sheet = "catalog"
  val Header: Seq[String] = Seq("sku", "name", "brand", "category", "price",
    "cost", "qty", "weight_kg", "in_stock", "color", "description", "updated")

  final case class Expected(rows: Long, digest: Long, bytes: Long)

  private val Adjectives = Seq("compact", "heavy", "light", "smart", "classic",
    "rugged", "slim", "pro", "mini", "ultra", "eco", "dual", "Café", "Größe",
    "très-fin", "東京", "naïve", "Ærø")
  private val Nouns = Seq("drill", "lamp", "kettle", "router", "chair", "desk",
    "speaker", "monitor", "blender", "heater", "fan", "saw", "sander", "clamp")
  private val Brands = Seq("Acme", "Globex", "Initech", "Umbrella", "Stark & Sons",
    "Wayne <Ent>", "Soylent", "Hooli", "Vandelay", "Müller GmbH", "Ōkami",
    "\"Quoted\" Co", "Tyrell", "Cyberdyne", "Aperture", "Nakatomi")
  private val Categories = Seq("tools", "lighting", "kitchen", "network",
    "furniture", "audio", "displays", "climate", "garden", "office")
  private val Colors = Seq("red", "green", "blue", "black", "white", "grey",
    "silver", "orange", "bleu clair", "緑")
  private val Phrases = Seq("fits 1/2\" & 3/4\" bits", "rated <5 W> standby",
    "model_x86 compatible", "set of 3 — boxed", "covers A_x1 to A_x9",
    "literal _x0041_ marker", "  padded both sides  ", "tab\tseparated",
    "line one\nline two", "100% recycled", "EU plug; 230 V", "ISO 9001",
    "naïve café edition", "ships in 2–3 days", "<b>not markup</b>", "a&b&c")

  /** XML text escape for element content. */
  private def xml(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Excel's escape for text that would otherwise read as an `_xHHHH_`
    * code-point escape: the leading underscore becomes `_x005F_`. */
  private def excelEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 7 <= s.length && s.charAt(i) == '_' && s.charAt(i + 1) == 'x' &&
          s.charAt(i + 6) == '_' && s.substring(i + 2, i + 6).forall(c =>
            Character.digit(c, 16) >= 0)) sb.append("_x005F_")
      else sb.append(s.charAt(i))
      i += 1
    }
    sb.toString
  }

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar

  /** A cell as generated: its rendered value (what the reader must output)
    * and its XML (empty for an absent cell). */
  private final case class Cell(value: String, xml: String)

  private final class Strings {
    val index = mutable.HashMap.empty[String, Int]
    val order = mutable.ArrayBuffer.empty[String]
    var refs = 0L
    def apply(s: String): Int = {
      refs += 1
      index.getOrElseUpdate(s, { order += s; order.size - 1 })
    }
  }

  private def decimal(units: Long, scale: Int): String =
    java.math.BigDecimal.valueOf(units, scale).stripTrailingZeros.toPlainString

  /** Write `rows` catalog rows to `file`; returns the expected output. */
  def write(file: File, seed: Long, rows: Int): Expected = {
    val rnd = new SplittableRandom(seed)
    val sst = new Strings
    val expected = new Digest.Ordered
    file.getParentFile.mkdirs()
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    zip.setLevel(java.util.zip.Deflater.BEST_SPEED)
    val w: Writer = new OutputStreamWriter(zip, StandardCharsets.UTF_8)
    def entry(name: String)(body: => Unit): Unit = {
      zip.putNextEntry(new ZipEntry(name)); body; w.flush(); zip.closeEntry()
    }
    try {
      entry("[Content_Types].xml")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/worksheets/sheet2.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""".stripMargin))
      entry("_rels/.rels")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin))
      // rels ids deliberately out of sheet order: the reader must follow
      // the rels indirection, not guess sheetN.xml from the position
      entry("xl/workbook.xml")(w.write(
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Summary" sheetId="1" r:id="rId2"/><sheet name="$Sheet" sheetId="2" r:id="rId1"/></sheets></workbook>""".stripMargin))
      entry("xl/_rels/workbook.xml.rels")(w.write(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>""".stripMargin))
      entry("xl/worksheets/sheet1.xml") {
        // decoy: different header, a few rows, its own shared strings
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        for (r <- 1 to 5) {
          w.write(s"""<row r="$r"><c r="A$r" t="s"><v>${sst(if (r == 1) "metric" else s"decoy $r")}</v></c>""")
          w.write(s"""<c r="B$r"><v>${r * 7}</v></c></row>""")
        }
        w.write("</sheetData></worksheet>")
      }
      entry("xl/worksheets/sheet2.xml") {
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><dimension ref="A1:L""" +
          (rows + 1) + """"/><sheetData>""")
        var r = 1
        def emit(cells: Seq[Cell]): Unit = {
          w.write(s"""<row r="$r" spans="1:${Header.length}">""")
          cells.foreach(c => w.write(c.xml))
          w.write("</row>")
          r += 1
        }
        def text(col: Int, s: String): Cell =
          Cell(s, s"""<c r="${colName(col)}$r" t="s"><v>${sst(s)}</v></c>""")
        def num(col: Int, v: String): Cell = Cell(v, s"""<c r="${colName(col)}$r"><v>$v</v></c>""")
        def blank(col: Int): Cell =
          if (rnd.nextInt(2) == 0) Cell("", "") else Cell("", s"""<c r="${colName(col)}$r" s="1"/>""")
        emit(Header.indices.map(i => text(i, Header(i))))
        var data = 0
        while (data < rows) {
          if (rnd.nextInt(4000) == 0) {
            // an all-blank row (absent or styled-empty cells): dropped on read
            if (rnd.nextBoolean()) { w.write(s"""<row r="$r"/>"""); r += 1 }
            else emit(Header.indices.map(i => Cell("", s"""<c r="${colName(i)}$r" s="1"/>""")))
          } else {
            val n = data.toLong
            val sku = f"SKU-${n}%07d-${rnd.nextInt(1 << 20)}%05X"
            val name = s"${Adjectives(rnd.nextInt(Adjectives.size))} ${Nouns(rnd.nextInt(Nouns.size))} " +
              s"${rnd.nextInt(400)}"
            val priceCents = 99L + rnd.nextInt(250000)
            val cells = Seq(
              text(0, sku),
              text(1, name),
              text(2, Brands(rnd.nextInt(Brands.size))),
              text(3, Categories(rnd.nextInt(Categories.size))),
              num(4, decimal(priceCents, 2)),
              if (rnd.nextInt(20) == 0) blank(5) else num(5, decimal(priceCents * (40 + rnd.nextInt(50)) / 100, 2)),
              num(6, rnd.nextInt(5000).toString),
              if (rnd.nextInt(12) == 0) blank(7) else num(7, decimal(10L + rnd.nextInt(90000), 3)),
              { val b = rnd.nextInt(3) != 0
                Cell(if (b) "TRUE" else "FALSE", s"""<c r="${colName(8)}$r" t="b"><v>${if (b) 1 else 0}</v></c>""") },
              if (rnd.nextInt(10) == 0) blank(9) else text(9, Colors(rnd.nextInt(Colors.size))),
              text(10, s"${Phrases(rnd.nextInt(Phrases.size))}; ${Adjectives(rnd.nextInt(Adjectives.size))} " +
                s"series ${rnd.nextInt(60)}"),
              num(11, (40000 + rnd.nextInt(6000)).toString))
            emit(cells)
            expected.add(cells.map(_.value))
            data += 1
          }
        }
        w.write("</sheetData></worksheet>")
      }
      entry("xl/sharedStrings.xml") {
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        w.write(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sst.refs}" uniqueCount="${sst.order.size}">""")
        sst.order.foreach { s =>
          val esc = xml(excelEscape(s))
          if (s.startsWith("naïve")) {
            // rich text: the runs concatenate to the cell value
            val cut = esc.indexOf(' ')
            w.write(s"""<si><r><rPr><b/></rPr><t>${esc.take(cut)}</t></r><r><t xml:space="preserve">${esc.drop(cut)}</t></r></si>""")
          } else if (s != s.trim) w.write(s"""<si><t xml:space="preserve">$esc</t></si>""")
          else w.write(s"<si><t>$esc</t></si>")
        }
        w.write("</sst>")
      }
    } finally w.close()
    Expected(expected.rows, expected.value, file.length())
  }
}
