package graft

import java.io.File
import java.nio.file.Files

import graft.sources.Xlsx

/** S2 xlsx sheet scan: writer→reader roundtrip (both string encodings),
  * sparse grids, rich-text shared strings, workbook-order sheet
  * resolution, and the distributed directory read. */
class XlsxSpec extends SparkSpec {

  private def tmpDir(name: String): File = new File(scratchDir(name))

  private val rows: Seq[Seq[Any]] = Seq(
    Seq("Datum", "Anzahl", "Preis", "Name", "Aktiv"),
    Seq(java.time.LocalDate.of(2024, 1, 5), 3L, 19.5, "Führung & \"VIP\"", true),
    Seq(java.time.LocalDate.of(2024, 1, 6), 0L, null, "<Kasse>", false),
    // sparse row: only column D occupied
    Seq(null, null, null, "nur_name", null))

  test("roundtrip with shared strings") {
    val f = new File(tmpDir("graft_xlsx_1"), "a.xlsx")
    Xlsx.write(f, rows, useSharedStrings = true)
    val got = Xlsx.sheetRows(Files.readAllBytes(f.toPath))
    assert(got.length == 4)
    assert(got(0).toSeq == Seq("Datum", "Anzahl", "Preis", "Name", "Aktiv"))
    assert(got(1).toSeq ==
      Seq("45296", "3", "19.5", "Führung & \"VIP\"", "true"))
    assert(got(2).toSeq == Seq("45297", "0", null, "<Kasse>", "false"))
    assert(got(3).toSeq == Seq(null, null, null, "nur_name", null))
  }

  test("roundtrip with inline strings") {
    val f = new File(tmpDir("graft_xlsx_2"), "b.xlsx")
    Xlsx.write(f, rows, useSharedStrings = false)
    val got = Xlsx.sheetRows(Files.readAllBytes(f.toPath))
    assert(got(1)(3) == "Führung & \"VIP\"")
    assert(got(2)(3) == "<Kasse>")
  }

  test("writer bytes are deterministic") {
    val f1 = new File(tmpDir("graft_xlsx_3"), "c1.xlsx")
    val f2 = new File(tmpDir("graft_xlsx_4"), "c2.xlsx")
    Xlsx.write(f1, rows)
    Xlsx.write(f2, rows)
    assert(Files.readAllBytes(f1.toPath).toSeq ==
      Files.readAllBytes(f2.toPath).toSeq)
  }

  /** Adversarial hand-built workbook: workbook declaration order DIFFERS
    * from worksheet file numbering (xlrd resolves by declaration order —
    * so must we), plus a rich-text shared string, a skipped row (r jumps
    * from 1 to 3), explicit-ref column gaps, a cached formula string
    * (t="str"), and an error cell (t="e"). */
  private def adversarial(): Array[Byte] = {
    val wb =
      """<?xml version="1.0"?>""" +
        "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" " +
        "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\">" +
        "<sheets>" +
        "<sheet name=\"Report\" sheetId=\"7\" r:id=\"rIdB\"/>" + // → sheet9.xml
        "<sheet name=\"Legend\" sheetId=\"2\" r:id=\"rIdA\"/>" + // → sheet1.xml
        "</sheets></workbook>"
    val rels =
      """<?xml version="1.0"?>""" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
        "<Relationship Id=\"rIdA\" Type=\"t\" Target=\"worksheets/sheet1.xml\"/>" +
        "<Relationship Id=\"rIdB\" Type=\"t\" Target=\"worksheets/sheet9.xml\"/>" +
        "</Relationships>"
    val sst =
      """<?xml version="1.0"?>""" +
        "<sst xmlns=\"x\"><si><r><t>rich </t></r><r><t>text</t></r></si>" +
        "<si><t>plain</t></si></sst>"
    // sheet9 = workbook sheet 0: sparse refs (B1 only, then row 3 with A3+D3),
    // a shared rich-text cell, a formula-cached string, an error cell.
    val sheet9 =
      """<?xml version="1.0"?>""" +
        "<worksheet xmlns=\"x\"><sheetData>" +
        "<row r=\"1\"><c r=\"B1\" t=\"s\"><v>0</v></c></row>" +
        "<row r=\"3\">" +
        "<c r=\"A3\" t=\"str\"><v>=cached</v></c>" +
        "<c r=\"C3\" t=\"e\"><v>#DIV/0!</v></c>" +
        "<c r=\"D3\" t=\"s\"><v>1</v></c>" +
        "</row>" +
        "</sheetData></worksheet>"
    val sheet1 =
      """<?xml version="1.0"?>""" +
        "<worksheet xmlns=\"x\"><sheetData>" +
        "<row><c><v>42</v></c><c><v>43</v></c></row>" + // no r attrs at all
        "</sheetData></worksheet>"
    Xlsx.zipBytes(Seq(
      "xl/workbook.xml" -> wb,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/sharedStrings.xml" -> sst,
      "xl/worksheets/sheet1.xml" -> sheet1,
      "xl/worksheets/sheet9.xml" -> sheet9))
  }

  test("workbook-order sheet resolution, rich text, sparse refs") {
    val bytes = adversarial()
    val s0 = Xlsx.sheetRows(bytes, 0) // declaration order → sheet9.xml
    assert(s0.length == 3)
    assert(s0(0).toSeq == Seq(null, "rich text", null, null))
    assert(s0(1).toSeq == Seq(null, null, null, null)) // skipped row 2
    assert(s0(2).toSeq == Seq("=cached", null, null, "plain")) // e-cell null
    val s1 = Xlsx.sheetRows(bytes, 1) // → sheet1.xml, ref-less cells
    assert(s1.length == 1 && s1(0).toSeq == Seq("42", "43"))
    assertThrows[IllegalArgumentException](Xlsx.sheetRows(bytes, 2))
  }

  test("distributed readSheet over a directory of workbooks") {
    val d = tmpDir("graft_xlsx_5")
    val header = Seq("Tag", "N", "Offen")
    Xlsx.write(new File(d, "r1.xlsx"),
      header +: Seq(Seq("2024-01-01", 5L, true), Seq("2024-01-02", 7L, false)),
      useSharedStrings = true)
    Xlsx.write(new File(d, "r2.xlsx"),
      header +: Seq(Seq("2024-01-03", 9L, true)),
      useSharedStrings = false)
    val df = Xlsx.readSheet(spark, d.getAbsolutePath)
    assert(df.columns.toSeq == Seq("Tag", "N", "Offen"))
    val got = df.orderBy("Tag")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(
      ("2024-01-01", "5", "true"),
      ("2024-01-02", "7", "false"),
      ("2024-01-03", "9", "true")))
  }
}
