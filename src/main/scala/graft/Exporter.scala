package graft

import org.apache.spark.sql.DataFrame

import graft.sinks._

/** Coordinator facade with the reference's entry-point shape
  * (`/root/reference/exporter.go:17-48`): pair a source DataFrame with a
  * codec, then `writeString` (≈ `Write(io.Writer)`) or `writeFile`
  * (single local file, ≈ `WriteFile`). Distributed directory writes go
  * through the sinks directly — `CsvSink.writeDir`, `JsonSink.writeDir`
  * (NDJSON), `XmlSink.writeDirFramed` and `HtmlSink.writeDirFramed` —
  * the scale path the reference's single-writer design cannot express. */
final case class Exporter(df: DataFrame) {
  def csv(opts: CsvOptions = CsvOptions()): Exporter.Bound =
    new Exporter.Bound(() => CsvSink.writeString(df, opts), p => CsvSink.writeFile(df, p, opts))
  def json(opts: JsonOptions = JsonOptions()): Exporter.Bound =
    new Exporter.Bound(() => JsonSink.writeString(df, opts), p => JsonSink.writeFile(df, p, opts))
  def xml(opts: XmlOptions = XmlOptions()): Exporter.Bound =
    new Exporter.Bound(() => XmlSink.writeString(df, opts), p => XmlSink.writeFile(df, p, opts))
  def html(opts: HtmlOptions = HtmlOptions()): Exporter.Bound =
    new Exporter.Bound(() => HtmlSink.writeString(df, opts), p => HtmlSink.writeFile(df, p, opts))
}

object Exporter {
  /** A (source, codec) pair ready to write. */
  final class Bound(content: () => String, fileWriter: String => Unit) {
    def writeString: String = content()
    def writeFile(path: String): Unit = fileWriter(path)
  }
}
