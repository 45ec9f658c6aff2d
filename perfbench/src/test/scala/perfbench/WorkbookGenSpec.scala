package perfbench

import java.nio.file.Files
import java.util.zip.ZipFile

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.XlsxParsing

class WorkbookGenSpec extends AnyFunSuite {

  private def withWorkbook(seed: Long, rows: Int)(f: (ZipFile, WorkbookGen.Expected) => Unit): Unit = {
    val dir = Files.createTempDirectory("wbgen")
    val file = dir.resolve("catalog.xlsx").toFile
    try {
      val exp = WorkbookGen.write(file, seed, rows)
      val zip = new ZipFile(file)
      try f(zip, exp) finally zip.close()
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  test("the generator's digest equals a parse through XlsxParsing") {
    for (seed <- Seq(1L, 7L)) withWorkbook(seed, 9000) { (zip, exp) =>
      // the default guards (6 GB entries, 1 % inflate ratio) accept it
      XlsxParsing.checkEntries(zip, "catalog.xlsx", 6L << 30, 0.01)
      val sheets = XlsxParsing.listSheets(zip, Long.MaxValue)
      assert(sheets.map(_.name) == Seq("Summary", WorkbookGen.Sheet))
      val target = XlsxParsing.resolveSheet(sheets, Some("CATALOG"), 0).target
      val shared = XlsxParsing.sharedStrings(zip, Long.MaxValue)
      val rd = new XlsxParsing.SheetRows(zip, zip.getEntry(target), shared, Long.MaxValue)
      val got = new Digest.Ordered
      var blanks = 0
      try {
        assert(rd.nextRow().toSeq == WorkbookGen.Header)
        var r = rd.nextRow()
        while (r != null) {
          if (r.forall(_.isEmpty)) blanks += 1
          else got.add(WorkbookGen.Header.indices.map(i => if (i < r.length) r(i) else ""))
          r = rd.nextRow()
        }
      } finally rd.close()
      assert(blanks > 0, "all-blank rows are part of the workbook")
      assert((got.rows, got.value) == ((exp.rows, exp.digest)))
      assert(exp.rows == 9000)
    }
  }

  test("the workbook carries the cell kinds the source must render") {
    withWorkbook(3L, 3000) { (zip, _) =>
      def part(name: String) = new String(zip.getInputStream(zip.getEntry(name)).readAllBytes(), "UTF-8")
      val sheet = part("xl/worksheets/sheet2.xml")
      val sst = part("xl/sharedStrings.xml")
      assert(sheet.contains("t=\"b\"") && sheet.contains("t=\"s\"") && sheet.contains("s=\"1\"/>"))
      assert(sst.contains("&amp;") && sst.contains("&lt;") && sst.contains("_x005F_x0041_"))
      assert(sst.contains("<r><rPr>") && sst.contains("xml:space=\"preserve\""))
      assert(sst.exists(_ > 127), "non-ASCII text")
      val decoy = XlsxParsing.resolveSheet(XlsxParsing.listSheets(zip, Long.MaxValue), None, 0)
      assert(decoy.name == "Summary")
    }
  }

  test("the same seed writes the same rows; another seed does not") {
    var digests = Seq.empty[Long]
    for (seed <- Seq(5L, 5L, 6L)) withWorkbook(seed, 2000)((_, e) => digests :+= e.digest)
    assert(digests(0) == digests(1) && digests(1) != digests(2))
  }
}
