package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.sinks._
import graft.sources.Slice

/** Framing laws of the four codecs at their edges: a hook that keeps no
  * row, a hook together with a limit, HTML without a header, and
  * `limit = 0`. Each case pins the exact driver-path bytes and, for XML
  * and HTML, the `writeDirFramed` directory read back in name order. */
class CodecLawSpec extends SparkTestBase {

  // parallelize keeps the rows' order across partitions, so a framed
  // directory read back in name order is in global order
  private def df = Slice.fromData(spark,
    Seq(Seq(1, "a"), Seq(2, null), Seq(3, "c"), Seq(4, "d")))

  private val dropAll: SinkTypes.PreProcessor = (_, row) => (row, false)
  private val dropAllMaps: (Int, Map[String, Any]) => (Map[String, Any], Boolean) =
    (_, row) => (row, false)

  private val xmlOpen = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<data>\n"
  private val htmlClose = "</tbody></table></body></html>"
  private val htmlNoRows = "</table></body></html>"

  /** `write` into a fresh directory, read back as the directory's
    * non-hidden files concatenated in name order (as in DsvWriteSpec). */
  private def framedDir(write: String => Unit): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_law").resolve("out").toString
    write(dir)
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
  }

  test("a hook that keeps no row writes each codec's no-row document") {
    val header = HtmlSink.headerBlock(df)
    assert(CsvSink.writeString(df, CsvOptions(preProcessor = Some(dropAll))) ==
      "column_0,column_1\n")
    assert(CsvSink.writeString(df,
      CsvOptions(writeHeaderWhenNoData = false, preProcessor = Some(dropAll))) == "")
    assert(JsonSink.writeString(df, JsonOptions(preProcessor = Some(dropAllMaps))) == "")
    assert(JsonSink.writeString(df,
      JsonOptions(newlineDelimited = true, preProcessor = Some(dropAllMaps))) == "")
    assert(XmlSink.writeString(df, XmlOptions(preProcessor = Some(dropAll))) == "")
    assert(HtmlSink.writeString(df, HtmlOptions(preProcessor = Some(dropAll))) ==
      header + htmlNoRows)
    assert(HtmlSink.writeString(df,
      HtmlOptions(writeHeaderWhenNoData = false, preProcessor = Some(dropAll))) == "")
    // the distributed twin of a hook that keeps nothing is a filter that
    // keeps nothing
    val none = df.filter(lit(false))
    assert(framedDir(XmlSink.writeDirFramed(none, _)) == "")
    assert(framedDir(HtmlSink.writeDirFramed(none, _)) == header + htmlNoRows)
    assert(framedDir(HtmlSink.writeDirFramed(none, _,
      HtmlOptions(writeHeaderWhenNoData = false))) == "")
  }

  test("xml and html: hook plus limit count kept rows for both the limit and the rowID") {
    def dropSecond(seen: mutable.Buffer[Int]): SinkTypes.PreProcessor = (rowID, row) => {
      seen += rowID
      (row, row(0) != "2")
    }
    val xmlSeen = mutable.Buffer.empty[Int]
    assert(XmlSink.writeString(df, XmlOptions(limit = 2, preProcessor = Some(dropSecond(xmlSeen)))) ==
      xmlOpen +
      "<row><column_0>1</column_0><column_1>a</column_1></row>\n" +
      "<row><column_0>3</column_0><column_1>c</column_1></row>\n</data>\n")
    assert(xmlSeen == Seq(1, 2, 2), xmlSeen)
    val htmlSeen = mutable.Buffer.empty[Int]
    assert(HtmlSink.writeString(df, HtmlOptions(limit = 2, preProcessor = Some(dropSecond(htmlSeen)))) ==
      HtmlSink.headerBlock(df) +
      "<tbody><tr><td>1</td><td>a</td></tr><tr><td>3</td><td>c</td></tr>" + htmlClose)
    assert(htmlSeen == Seq(1, 2, 2), htmlSeen)
  }

  test("html without a header: tbody and closers only, and nothing for no rows") {
    val noHeader = HtmlOptions(writeHeader = false)
    val want = "<tbody><tr><td>1</td><td>a</td></tr>" +
      "<tr><td>2</td><td><span style=\"color:#aaaaaa;\">[NULL]</span></td></tr>" +
      "<tr><td>3</td><td>c</td></tr><tr><td>4</td><td>d</td></tr>" + htmlClose
    assert(HtmlSink.writeString(df, noHeader) == want)
    assert(framedDir(HtmlSink.writeDirFramed(df, _, noHeader)) == want)
    val none = df.filter(lit(false))
    assert(HtmlSink.writeString(none, noHeader) == "")
    assert(framedDir(HtmlSink.writeDirFramed(none, _, noHeader)) == "")
  }

  test("limit 0 writes each codec's no-row document") {
    val header = HtmlSink.headerBlock(df)
    assert(CsvSink.writeString(df, CsvOptions(limit = 0)) == "column_0,column_1\n")
    assert(CsvSink.writeString(df, CsvOptions(limit = 0, writeHeaderWhenNoData = false)) == "")
    assert(CsvSink.writeString(df, CsvOptions(limit = 0, writeHeader = false)) == "")
    assert(JsonSink.writeString(df, JsonOptions(limit = 0)) == "")
    assert(JsonSink.writeString(df, JsonOptions(limit = 0, newlineDelimited = true)) == "")
    assert(XmlSink.writeString(df, XmlOptions(limit = 0)) == "")
    assert(framedDir(XmlSink.writeDirFramed(df, _, XmlOptions(limit = 0))) == "")
    assert(HtmlSink.writeString(df, HtmlOptions(limit = 0)) == header + htmlNoRows)
    assert(framedDir(HtmlSink.writeDirFramed(df, _, HtmlOptions(limit = 0))) ==
      header + htmlNoRows)
    val lazyHeader = HtmlOptions(limit = 0, writeHeaderWhenNoData = false)
    assert(HtmlSink.writeString(df, lazyHeader) == "")
    assert(framedDir(HtmlSink.writeDirFramed(df, _, lazyHeader)) == "")
  }

  test("a hooked write with a limit stops pulling rows once the limit is kept") {
    // ids 10..39 live in partitions 1-3 and fail when computed, so a
    // write that pulls past partition 0 throws
    val trap = spark.range(0, 40, 1, 4).select(
      when(col("id") >= 10, raise_error(lit("pulled past the limit")))
        .otherwise(col("id")).as("id"))
    val keep: SinkTypes.PreProcessor = (_, row) => (row, true)
    assert(CsvSink.writeString(trap, CsvOptions(limit = 1, preProcessor = Some(keep))) ==
      "id\n0\n")
    assert(JsonSink.writeString(trap,
      JsonOptions(limit = 1, preProcessor = Some((_, row) => (row, true)))) ==
      "[\n{\"id\":0}\n]\n")
    assert(XmlSink.writeString(trap, XmlOptions(limit = 1, preProcessor = Some(keep))) ==
      xmlOpen + "<row><id>0</id></row>\n</data>\n")
    assert(HtmlSink.writeString(trap, HtmlOptions(limit = 1, preProcessor = Some(keep))) ==
      HtmlSink.headerBlock(trap) + "<tbody><tr><td>0</td></tr>" + htmlClose)
  }
}
