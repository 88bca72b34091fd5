package graft.sinks

import java.io.{BufferedWriter, FileWriter}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{GoJsonEscapeHtml, Render}

/** Sequential row hook, Go-shaped (`csv.go:67-71` etc.): receives the
  * 1-based rowID (counting KEPT rows) and the rendered row; returns the
  * (possibly rewritten) row and whether to keep it. Inherently sequential
  * (rowID depends on prior decisions), so it runs only on the
  * driver-stream path — for distributed writes use the Column-based
  * filter/project split in [[graft.ops.Pipeline]] instead. */
object SinkTypes {
  type PreProcessor = (Int, IndexedSeq[String]) => (IndexedSeq[String], Boolean)
  type Mappers = Seq[(DataType, Column => Column)]
  /** Context-aware mappers: additionally receive the plan-time
    * `Metadata` slice (column name + source driver) — see
    * [[graft.functions.Render.MapperContext]]. */
  type CtxMappers = Seq[(DataType, (Render.MapperContext, Column) => Column)]
}
import SinkTypes._

/** A codec's whole-document framing: `open`, the kept rows joined by
  * `sep`, then `close` — or `empty` alone when no row is kept. Both the
  * driver stream ([[SinkIO.framed]]) and the distributed `graft-framed`
  * sink ([[graft.sinks.v2.FramedTextSink]]) write a codec from its one
  * frame. */
private[sinks] final case class Frame(open: String, sep: String, close: String, empty: String) {
  /** The frame as `graft-framed` write options. */
  def options: Map[String, String] =
    Map("open" -> open, "sep" -> sep, "close" -> close, "empty" -> empty)
}

private[sinks] object Frame {
  /** The frame named by `graft-framed` options; a missing option takes
    * its value from `default`. */
  def fromOptions(options: java.util.Map[String, String], default: Frame): Frame = {
    def get(key: String, orElse: String) = Option(options.get(key)).getOrElse(orElse)
    Frame(get("open", default.open), get("sep", default.sep),
      get("close", default.close), get("empty", default.empty))
  }
}

private[sinks] object SinkIO {
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** The first `limit` rows of `df`; a negative limit keeps them all. */
  def limited(df: DataFrame, limit: Int): DataFrame =
    if (limit >= 0) df.limit(limit) else df

  /** Rendered rows as string arrays; `null` entries are NULL cells. */
  def renderedRows(df: DataFrame, mappers: Mappers,
                   ctxMappers: CtxMappers = Nil): Dataset[Array[String]] = {
    val rendered = Render.renderAll(df, mappers, ctxMappers)
    val n = rendered.schema.length
    val sp = rendered.sparkSession
    import sp.implicits._
    rendered.map { row =>
      Array.tabulate(n)(i => if (row.isNullAt(i)) null else row.getString(i))
    }
  }

  /** The reference's kept-row loop (`csv.go:160-186`, `json.go:135-153`,
    * `xml.go:84-127`, `html.go:125-168`): `hook` sees each row with the
    * 1-based rowID it takes if kept, may rewrite it, and decides whether
    * to keep it. Pulling from `rows` stops once `limit` rows are kept
    * (negative: no limit). */
  def keptRows[A](rows: Iterator[A], hook: Option[(Int, A) => (A, Boolean)],
                  limit: Int): Iterator[A] = {
    var kept = 0
    Iterator.continually(rows).takeWhile(r => (limit < 0 || kept < limit) && r.hasNext)
      .flatMap { r =>
        val row = r.next()
        val (out, keep) = hook.fold((row, true))(_(kept + 1, row))
        if (keep) { kept += 1; Some(out) } else None
      }
  }

  /** The kept rows of a string-cell codec, streamed to the driver one
    * partition at a time: rendered cells with each NULL replaced by
    * `nullCell` (`null` keeps it NULL), through [[keptRows]]. Without a hook the first `limit`
    * rows are the kept ones, so the limit also goes into the query. */
  def keptCells(df: DataFrame, mappers: Mappers, ctxMappers: CtxMappers,
                hook: Option[PreProcessor], limit: Int, nullCell: String): Iterator[IndexedSeq[String]] = {
    val cells = renderedRows(limited(df, if (hook.isEmpty) limit else -1), mappers, ctxMappers)
      .toLocalIterator().asScala
      .map(_.toIndexedSeq.map(c => if (c == null) nullCell else c))
    keptRows(cells, hook, limit)
  }

  /** Encoded rows framed as one document: `open` waits for the first row,
    * so no row means `empty`. `limit == 0` writes `empty` without running
    * the query. */
  def framed(frame: Frame, limit: Int)(rows: => Iterator[String]): Iterator[String] = {
    val body = if (limit == 0) Iterator.empty else rows
    if (!body.hasNext) Iterator.single(frame.empty)
    else Iterator(frame.open, body.next()) ++ body.map(frame.sep + _) ++ Iterator.single(frame.close)
  }

  /** Distributed write of encoded rows as one framed document through the
    * `graft-framed` DSv2 sink. */
  def writeFramed(rows: Dataset[String], frame: Frame, path: String): Unit =
    rows.write.format("graft-framed").options(frame.options).mode("overwrite").save(path)

  /** Stream an iterator of chunks to a single local file — the
    * `exporter.WriteFile` coordinator (`exporter.go:36-48`): one writer,
    * constant memory. */
  def writeFile(path: String, chunks: Iterator[String]): Unit = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 16)
    try chunks.foreach(w.write) finally w.close()
  }
}

// ---------------------------------------------------------------------------
// CSV (`/root/reference/codec/csv/csv.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference CSV codec (`csv.go:37-121`). */
final case class CsvOptions(
    delimiter: Char = ',',
    useCRLF: Boolean = false,
    writeHeader: Boolean = true,
    writeHeaderWhenNoData: Boolean = true,
    customHeader: Option[Seq[String]] = None,
    nullValue: String = "",
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil) {
  def eol: String = if (useCRLF) "\r\n" else "\n"
}

object CsvSink {

  /** Header row (custom header validated for arity exactly like
    * `csv.go:134-139`). */
  def header(df: DataFrame, opts: CsvOptions): Seq[String] = {
    val names = df.schema.fieldNames.toSeq
    opts.customHeader match {
      case Some(h) =>
        if (h.length != names.length)
          throw new IllegalArgumentException("invalid header length")
        h
      case None => names
    }
  }

  /** Distributed CSV records (no header, no EOL) — rendering is a
    * codegen'd projection; line assembly is one narrow map, the same
    * shape as Spark's own CSV `FileFormatWriter`. */
  def lines(df: DataFrame, opts: CsvOptions): Dataset[String] = {
    require(opts.preProcessor.isEmpty,
      "sequential preProcessor requires the driver-stream path (writeString/writeFile); " +
      "use ops.Pipeline filter/project for distributed writes")
    import SinkIO.stringEnc
    val (d, crlf, nv) = (opts.delimiter, opts.useCRLF, opts.nullValue)
    SinkIO.renderedRows(SinkIO.limited(df, opts.limit), opts.mappers, opts.ctxMappers).map { cells =>
      Format.csvLine(cells.toIndexedSeq.map(c => if (c == null) nv else c), d, crlf)
    }
  }

  /** Framing (`csv.go:140-190`): the header opens the document, eagerly
    * (also for no rows) or lazily (before the first kept row only); every
    * record ends with the EOL. */
  private def frame(df: DataFrame, opts: CsvOptions): Frame = {
    val hdr = header(df, opts)
    val head =
      if (opts.writeHeader && hdr.nonEmpty)
        Format.csvLine(hdr.toIndexedSeq, opts.delimiter, opts.useCRLF) + opts.eol
      else ""
    Frame(head, opts.eol, opts.eol, if (opts.writeHeaderWhenNoData) head else "")
  }

  /** Exact reference byte output (header/limit/preprocessor semantics from
    * `csv.go:124-190`), streamed through the driver. */
  def contentIterator(df: DataFrame, opts: CsvOptions): Iterator[String] =
    SinkIO.framed(frame(df, opts), opts.limit) {
      SinkIO.keptCells(df, opts.mappers, opts.ctxMappers, opts.preProcessor, opts.limit, opts.nullValue)
        .map(Format.csvLine(_, opts.delimiter, opts.useCRLF))
    }

  def writeString(df: DataFrame, opts: CsvOptions = CsvOptions()): String =
    contentIterator(df, opts).mkString

  def writeFile(df: DataFrame, path: String, opts: CsvOptions = CsvOptions()): Unit =
    SinkIO.writeFile(path, contentIterator(df, opts))

  /** Distributed directory write via Spark's native CSV writer — the
    * scale path (header per part-file, quote-doubling like Go). */
  def writeDir(df: DataFrame, path: String, opts: CsvOptions = CsvOptions()): Unit = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    val limited = SinkIO.limited(df, opts.limit)
    val renamed =
      if (opts.customHeader.isDefined) limited.toDF(header(df, opts): _*) else limited
    Render.renderAll(renamed, opts.mappers, opts.ctxMappers).write
      .option("header", opts.writeHeader.toString)
      .option("sep", opts.delimiter.toString)
      .option("lineSep", opts.eol)
      .option("nullValue", opts.nullValue)
      .option("emptyValue", "")
      .option("quote", "\"").option("escape", "\"")
      .mode("overwrite").csv(path)
  }
}

// ---------------------------------------------------------------------------
// JSON (`/root/reference/codec/json/json.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference JSON codec (`json.go:28-80`).
  * `preProcessor` is the map-based hook (`json.go:44-48`): it receives
  * the 1-based rowID (counting kept rows) and the row as a
  * name→native-value map, and runs on the driver-stream path. Strings
  * escape `<>&` on both paths, like the reference's std-compatible
  * encoder. */
final case class JsonOptions(
    newlineDelimited: Boolean = false,
    limit: Int = -1,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil,
    preProcessor: Option[(Int, Map[String, Any]) => (Map[String, Any], Boolean)] = None)

object JsonSink {

  /** Array-mode framing (`json.go:94-98,135-147`): `[` opens lazily with
    * the first row, so zero rows → EMPTY output, not `[]`. It is also the
    * `graft-framed` sink's default. */
  private[sinks] val arrayFrame = Frame("[\n", ",\n", "\n]\n", "")
  private val ndjsonFrame = Frame("", "\n", "\n", "")

  /** One JSON object per row. Keys are sorted alphabetically — the
    * reference marshals a `map[string]any` with a std-lib-compatible
    * encoder, which sorts keys (`json.go:108-130`). Values are native
    * JSON (NULL → `null`); timestamps render as Go `time.Time` marshals
    * (RFC3339Nano); binary → base64, like Go `[]byte`. */
  def objects(df: DataFrame, opts: JsonOptions = JsonOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty,
      "the map-based preProcessor runs on the driver-stream path (writeString/writeFile)")
    import SinkIO.stringEnc
    val limited = SinkIO.limited(df, opts.limit)
    val cols = limited.schema.fields.sortBy(_.name).map { f =>
      Render.customMapper(f, opts.mappers, opts.ctxMappers).getOrElse {
        f.dataType match {
          case TimestampType | TimestampNTZType => Render.rfc3339NanoRaw(col(f.name))
          case _ => col(f.name)
        }
      }.as(f.name)
    }
    val j = to_json(struct(cols.toIndexedSeq: _*), Map("ignoreNullFields" -> "false"))
    val escaped = ColumnBridge.column(GoJsonEscapeHtml(ColumnBridge.expression(j)))
    limited.select(escaped.as("j")).as[String]
  }

  /** Driver-path objects with the map hook: native-value maps, sorted
    * keys, kept-row rowIDs, std-compatible serialization (GoJson). */
  private def hookedObjects(df: DataFrame, opts: JsonOptions): Iterator[String] = {
    // custom mappers apply BEFORE the hook, like `json.go:111-128`
    val mapped = df.select(df.schema.fields.map { f =>
      Render.customMapper(f, opts.mappers, opts.ctxMappers).getOrElse(col(f.name)).as(f.name)
    }.toIndexedSeq: _*)
    val names = mapped.schema.fieldNames
    val rows = mapped.toLocalIterator().asScala.map { row =>
      names.indices.map(i => names(i) -> (if (row.isNullAt(i)) null else row.get(i))).toMap
    }
    SinkIO.keptRows(rows, opts.preProcessor, opts.limit).map(Format.GoJson.writeRow)
  }

  /** Array-mode or NDJSON document streamed through the driver. */
  def contentIterator(df: DataFrame, opts: JsonOptions = JsonOptions()): Iterator[String] =
    SinkIO.framed(if (opts.newlineDelimited) ndjsonFrame else arrayFrame, opts.limit) {
      if (opts.preProcessor.isDefined) hookedObjects(df, opts)
      else objects(df, opts).toLocalIterator().asScala
    }

  def writeString(df: DataFrame, opts: JsonOptions = JsonOptions()): String =
    contentIterator(df, opts).mkString

  def writeFile(df: DataFrame, path: String, opts: JsonOptions = JsonOptions()): Unit =
    SinkIO.writeFile(path, contentIterator(df, opts))

  /** Distributed NDJSON directory write — the scale path. */
  def writeDir(df: DataFrame, path: String, opts: JsonOptions = JsonOptions()): Unit =
    objects(df, opts).write.mode("overwrite").text(path)
}

// ---------------------------------------------------------------------------
// XML (`/root/reference/codec/xml/xml.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference XML codec (`xml.go:17-65`). */
final case class XmlOptions(
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil)

object XmlSink {

  /** Declaration + `<data>` root written lazily with the first kept row;
    * zero kept rows → EMPTY output (`xml.go:67-130`). */
  private val frame = Frame(Format.xmlDeclaration + "\n<data>\n", "\n", "\n</data>\n", "")

  /** Distributed `<row>` fragments: NULL elements omitted, values
    * escaped, element names raw (`xml.go:111-122`). */
  def rows(df: DataFrame, opts: XmlOptions = XmlOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    import SinkIO.stringEnc
    val names = df.schema.fieldNames.toIndexedSeq
    SinkIO.renderedRows(SinkIO.limited(df, opts.limit), opts.mappers, opts.ctxMappers)
      .map(cells => Format.xmlRow(names, cells.toIndexedSeq))
  }

  /** The hook sees NULL cells as "", but NULL omission follows the
    * ORIGINAL null mask even if the hook rewrote the cell
    * (`xml.go:94-96,113-115`). */
  private def keepingNulls(hook: PreProcessor): PreProcessor = (rowID, cells) => {
    val (row, keep) = hook(rowID, cells.map(c => if (c == null) "" else c))
    val masked =
      if (keep) row.zipWithIndex.map { case (s, i) => if (cells(i) == null) null else s }
      else row
    (masked, keep)
  }

  /** Exact reference output (`xml.go:67-130`); limit counts kept rows;
    * limit=0 short-circuits. */
  def contentIterator(df: DataFrame, opts: XmlOptions = XmlOptions()): Iterator[String] = {
    val names = df.schema.fieldNames.toIndexedSeq
    SinkIO.framed(frame, opts.limit) {
      SinkIO.keptCells(df, opts.mappers, opts.ctxMappers,
        opts.preProcessor.map(keepingNulls), opts.limit, nullCell = null)
        .map(Format.xmlRow(names, _))
    }
  }

  def writeString(df: DataFrame, opts: XmlOptions = XmlOptions()): String =
    contentIterator(df, opts).mkString

  def writeFile(df: DataFrame, path: String, opts: XmlOptions = XmlOptions()): Unit =
    SinkIO.writeFile(path, contentIterator(df, opts))

  /** Distributed write WITH the reference's global framing (declaration
    * + `<data>` root + empty→empty law), via the DSv2
    * [[graft.sinks.v2.FramedTextSink]] commit protocol — the directory's
    * non-hidden files concatenated in name order are byte-identical to
    * [[writeString]] when the input's partition order is its global
    * order (see DsvWriteSpec). Use this instead of `rows().write.text`
    * when the consumer expects a well-formed XML document. */
  def writeDirFramed(df: DataFrame, path: String, opts: XmlOptions = XmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), frame, path)
}

// ---------------------------------------------------------------------------
// HTML (`/root/reference/codec/html/html.go`)
// ---------------------------------------------------------------------------

/** Option surface of the reference HTML codec (`html.go:30-95`). */
final case class HtmlOptions(
    writeHeader: Boolean = true,
    writeHeaderWhenNoData: Boolean = true,
    nullValue: String = Format.htmlNullValue,
    limit: Int = -1,
    preProcessor: Option[PreProcessor] = None,
    mappers: Mappers = Nil,
    ctxMappers: CtxMappers = Nil)

object HtmlSink {

  /** `<thead>` block with per-column name + lowercased type
    * (`html.go:102-110`). The reference shows the SOURCE database's type
    * name (`DatabaseTypeName`, `html.go:107`); when the frame came
    * through `Slice.fromSql` that name rides in the field metadata and is
    * preferred — the Spark SQL type name is the native-frame fallback. */
  def headerBlock(df: DataFrame): String = {
    val ths = df.schema.fields.map { f =>
      val typeName = graft.sources.SourceMeta.databaseTypeNameOf(f)
        .getOrElse(f.dataType.sql).toLowerCase
      Format.htmlTh(f.name, typeName)
    }.mkString
    Format.htmlPrefix + Format.htmlTheadOpen + ths + "</thead>"
  }

  /** Distributed `<tr>` fragments (NULL → nullValue markup, raw cells). */
  def rows(df: DataFrame, opts: HtmlOptions = HtmlOptions()): Dataset[String] = {
    require(opts.preProcessor.isEmpty, "use ops.Pipeline for distributed writes")
    import SinkIO.stringEnc
    val nv = opts.nullValue
    SinkIO.renderedRows(SinkIO.limited(df, opts.limit), opts.mappers, opts.ctxMappers)
      .map(cells => Format.htmlRow(cells.toIndexedSeq.map(c => if (c == null) nv else c)))
  }

  /** Framing (`html.go:96-171`): the header (when `writeHeader`) and
    * `<tbody>` open with the first kept row; zero kept rows → header +
    * closers when the header is eager, EMPTY otherwise — HTML is the one
    * codec whose no-row output need not be empty. */
  private def frame(df: DataFrame, opts: HtmlOptions): Frame = {
    val header = if (opts.writeHeader && df.schema.nonEmpty) headerBlock(df) else ""
    Frame(header + "<tbody>", "", "</tbody></table></body></html>",
      if (header.nonEmpty && opts.writeHeaderWhenNoData) header + "</table></body></html>" else "")
  }

  /** Exact reference output (`html.go:96-171`), streamed through the
    * driver. */
  def contentIterator(df: DataFrame, opts: HtmlOptions = HtmlOptions()): Iterator[String] =
    SinkIO.framed(frame(df, opts), opts.limit) {
      SinkIO.keptCells(df, opts.mappers, opts.ctxMappers, opts.preProcessor, opts.limit, opts.nullValue)
        .map(Format.htmlRow)
    }

  def writeString(df: DataFrame, opts: HtmlOptions = HtmlOptions()): String =
    contentIterator(df, opts).mkString

  def writeFile(df: DataFrame, path: String, opts: HtmlOptions = HtmlOptions()): Unit =
    SinkIO.writeFile(path, contentIterator(df, opts))

  /** Distributed write WITH the reference's whole-document framing
    * (document+CSS+`<thead>` opener, `<tbody>` wrap, closers), via the
    * DSv2 [[graft.sinks.v2.FramedTextSink]] — the HTML twin of
    * `XmlSink.writeDirFramed`, with the same [[frame]] as
    * [[contentIterator]]. Directory files concatenated in name order are
    * byte-identical to [[writeString]] when partition order is global
    * order (DsvWriteSpec). */
  def writeDirFramed(df: DataFrame, path: String, opts: HtmlOptions = HtmlOptions()): Unit =
    SinkIO.writeFramed(rows(df, opts), frame(df, opts), path)
}
