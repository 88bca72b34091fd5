package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths, Files => JFiles}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Exporter, SparkEntry}
import graft.functions.{GoFormat, Render}
import graft.sinks._
import graft.sources.Tables

/** One timed call of a pass: what it produced and how long it took. */
final case class Call(rows: Long, bytes: Long, secs: Double)

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, data: String, tracer: Tracer,
                     listener: EngineListener, seed: Long)

/** A workload: a pass of timed calls, an untimed correctness check over a
  * pass's output, and the traced per-layer probes. */
abstract class Workload(val c: Ctx) {
  def spark: SparkSession = c.spark
  def t: Tracer = c.tracer

  def pass(dir: Path): Seq[Call]
  /** Untimed correctness checks; `dir` holds the last timed pass's output. */
  def check(dir: Path): Seq[(String, Boolean)]
  def layers(dir: Path): Map[String, Double]

  /** Set-up before the first timed call: by default untimed warm-up passes,
    * at least 3 and for at least 6 seconds, over which the JIT settles. */
  def prepare(dir: Path): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 3 || System.nanoTime() - t0 < 6e9) { pass(dir); n += 1 }
  }

  /** Extra facts about the set-up, recorded with the result. */
  def setupInfo: Map[String, Any] = Map.empty

  /** Timed passes; the window goes on past them only while it is shorter
    * than the requested seconds. A fixed count keeps the median over the
    * same passes in every run. */
  def minPasses: Int

  /** Times `body` inside a span named `name`. */
  protected def call(name: String, rows: Long, out: Path)(body: => Unit): Call = {
    val s = Clock.secs(t(name)(body))
    Call(rows, Out.bytes(out), s)
  }

  /** Median seconds of `reps` runs of `body`. */
  protected def med(reps: Int)(body: => Any): Double =
    Stats.median((1 to reps).map(_ => Clock.secs(body)))
}

object Out {
  /** Visible output files of `p`: the file itself, or a directory's
    * non-hidden files (not starting with `.` or `_`) in name order. */
  def visible(p: Path): Seq[Path] =
    if (!JFiles.exists(p)) Nil
    else if (!JFiles.isDirectory(p)) Seq(p)
    else {
      val s = JFiles.list(p)
      try s.iterator.asScala.filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_") && JFiles.isRegularFile(f)
      }.toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  def bytes(p: Path): Long = visible(p).map(JFiles.size).sum

  def concat(p: Path): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    visible(p).foreach(f => out.write(JFiles.readAllBytes(f)))
    out.toByteArray
  }

  def occurrences(s: String, needle: String): Long = {
    var n = 0L
    var at = s.indexOf(needle)
    while (at >= 0) { n += 1; at = s.indexOf(needle, at + needle.length) }
    n
  }

  def delete(p: Path): Unit = graft.ops.Scratch.deleteRecursively(p)

  /** `_SUCCESS` markers of published artifacts directly under `dir`. */
  def artifacts(dir: Path): Int =
    if (!JFiles.isDirectory(dir)) 0
    else {
      val s = JFiles.list(dir)
      try s.iterator.asScala.count(d => JFiles.exists(d.resolve("_SUCCESS")))
      finally s.close()
    }
}

/** Render-layer counts over doubles and floats: the share that takes the
  * BigDecimal re-expansion branch of `GoFormat`, and how many render with
  * more significant digits than the shortest string that round-trips. */
object FloatDigits {
  private def sigDigits(s: String): Int = {
    val d = s.filter(_.isDigit).dropWhile(_ == '0').reverse.dropWhile(_ == '0')
    math.max(1, d.length)
  }

  private def shortestDouble(d: Double): Int = {
    if (d == 0.0) return 1
    val b = new java.math.BigDecimal(d)
    (1 to 17).find(p => b.round(new java.math.MathContext(p)).doubleValue == d).getOrElse(17)
  }

  private def shortestFloat(f: Float): Int = {
    if (f == 0.0f) return 1
    val b = new java.math.BigDecimal(f.toDouble)
    (1 to 9).find(p => b.round(new java.math.MathContext(p)).floatValue == f).getOrElse(9)
  }

  /** (values, values taking the BigDecimal branch, values rendered
    * longer than their shortest round-trip digits). */
  def apply(doubles: Seq[Double], floats: Seq[Float]): (Int, Int, Int) = {
    val branch = doubles.count(d => java.lang.Double.toString(d).contains('E')) +
      floats.count(f => java.lang.Float.toString(f).contains('E'))
    val longer = doubles.count(d => sigDigits(GoFormat.formatDouble(d)) > shortestDouble(d)) +
      floats.count(f => sigDigits(GoFormat.formatFloat(f)) > shortestFloat(f))
    (doubles.length + floats.length, branch, longer)
  }

  /** A fixed sample: the first `limit` non-null values of every double and
    * float column, in `order` order. */
  def sample(df: DataFrame, order: String, limit: Int): (Seq[Double], Seq[Float]) = {
    val rows = df.orderBy(order).limit(limit).collect()
    val ds = df.schema.fields.filter(_.dataType == DoubleType).map(f => df.schema.fieldIndex(f.name))
    val fs = df.schema.fields.filter(_.dataType == FloatType).map(f => df.schema.fieldIndex(f.name))
    (rows.toSeq.flatMap(r => ds.filterNot(r.isNullAt).map(r.getDouble)),
     rows.toSeq.flatMap(r => fs.filterNot(r.isNullAt).map(r.getFloat)))
  }
}

/** Whole-table export: the distributed paths of all four codecs and, when
  * `driverPath`, the reference's single writer (`Exporter.writeFile`) for
  * each codec too. `order` sorts the float sample; when `uniqueKey`, it
  * also joins the CSV output back to the source to check that every double
  * and float parses back to its value. */
class TableExport(c: Ctx, table: String, order: String, uniqueKey: Boolean,
                  driverPath: Boolean, val minPasses: Int) extends Workload(c) {
  val df: DataFrame = Tables.table(spark, c.data, table)
  val n: Long = df.count()

  def pass(dir: Path): Seq[Call] = {
    def p(f: String) = dir.resolve(f)
    val dist = Seq(
      call("sinks.csv.writeDir", n, p("csv"))(CsvSink.writeDir(df, p("csv").toString)),
      call("sinks.ndjson.writeDir", n, p("ndjson"))(JsonSink.writeDir(df, p("ndjson").toString)),
      call("sinks.xml.writeDirFramed", n, p("xml"))(XmlSink.writeDirFramed(df, p("xml").toString)),
      call("sinks.html.writeDirFramed", n, p("html"))(HtmlSink.writeDirFramed(df, p("html").toString)))
    if (!driverPath) dist
    else dist ++ Seq(
      call("exporter.csv.writeFile", n, p("csv.txt"))(Exporter(df).csv().writeFile(p("csv.txt").toString)),
      call("exporter.json.writeFile", n, p("json.txt"))(Exporter(df).json().writeFile(p("json.txt").toString)),
      call("exporter.xml.writeFile", n, p("xml.txt"))(Exporter(df).xml().writeFile(p("xml.txt").toString)),
      call("exporter.html.writeFile", n, p("html.txt"))(Exporter(df).html().writeFile(p("html.txt").toString)))
  }

  private def csvRows(p: Path): Long =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(p.toString).count()

  def check(dir: Path): Seq[(String, Boolean)] = {
    def p(f: String) = dir.resolve(f)
    if (!driverPath) {
      // the framing law needs the single-writer output; write it here, untimed
      XmlSink.writeFile(df, p("xml.txt").toString)
      HtmlSink.writeFile(df, p("html.txt").toString)
    }
    def text(f: String) = new String(Out.concat(p(f)), UTF_8)
    val law = Seq("xml", "html").map { k =>
      s"$k.writeFile_equals_writeDirFramed" ->
        java.util.Arrays.equals(Out.concat(p(s"$k.txt")), Out.concat(p(k)))
    }
    val counts = Seq(
      "csv.dir_rows" -> (csvRows(p("csv")) == n),
      "ndjson.dir_rows" -> (spark.read.text(p("ndjson").toString).count() == n),
      "xml.dir_rows" -> (Out.occurrences(text("xml"), "<row>") == n),
      "html.dir_rows" -> (Out.occurrences(text("html"), "<tr>") == n))
    val driver =
      if (!driverPath) Nil
      else Seq(
        "csv.file_rows" -> (csvRows(p("csv.txt")) == n),
        "json.file_rows" ->
          (spark.read.option("multiLine", "true").json(p("json.txt").toString).count() == n),
        "xml.file_rows" -> (Out.occurrences(text("xml.txt"), "<row>") == n),
        "html.file_rows" -> (Out.occurrences(text("html.txt"), "<tr>") == n))
    law ++ counts ++ driver ++ (if (uniqueKey) floatsRoundTrip(p("csv")) else Nil)
  }

  /** Every double and float cell of the CSV output parses back to its
    * source value (NULL to NULL). */
  private def floatsRoundTrip(csv: Path): Seq[(String, Boolean)] = {
    val fl = df.schema.fields.filter(f => f.dataType == DoubleType || f.dataType == FloatType)
    if (fl.isEmpty) return Nil
    val strSchema = StructType(df.schema.fields.map(f => StructField(f.name, StringType)))
    val back = spark.read.schema(strSchema).option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(csv.toString)
      .select((col(order).cast(LongType).as("k") +: fl.map(f => col(f.name).as(s"r_${f.name}"))).toIndexedSeq: _*)
    val joined = df.join(back, df(order) === back("k"))
    val bad = fl.map(f => not(col(f.name) <=> col(s"r_${f.name}").cast(f.dataType))).reduce(_ || _)
    Seq("floats.parse_back" -> (joined.count() == n && joined.filter(bad).count() == 0))
  }

  def layers(dir: Path): Map[String, Double] = {
    val reps = 3
    def p(f: String) = dir.resolve(f).toString
    def typed(pred: DataType => Boolean): Seq[String] =
      df.schema.fields.filter(f => pred(f.dataType)).map(_.name).toSeq
    val scan = t("sources.scan")(med(reps)(Drain.rows(df)))
    val render = t("functions.renderAll")(med(reps)(Drain.rows(Render.renderAll(df))))
    val byType = Seq(
      "timestamp" -> typed(d => d == TimestampType || d == TimestampNTZType),
      "double" -> typed(_ == DoubleType), "float" -> typed(_ == FloatType),
      "string" -> typed(_ == StringType),
      "complex" -> typed {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      }).map { case (k, cols) =>
      val v =
        if (cols.isEmpty) 0.0
        else {
          val sub = df.select(cols.map(col): _*)
          t(s"functions.render.$k")(med(reps)(Drain.rows(Render.renderAll(sub))) - med(reps)(Drain.rows(sub)))
        }
      s"functions.render.${k}_s" -> v
    }
    val (ds, fs) = FloatDigits.sample(df, order, 20000)
    val (sampled, branch, longer) = FloatDigits(ds, fs)
    val exporter = if (driverPath) exporterProbes() else Map.empty[String, Double]

    val csvLines = t("sinks.csv.lines")(med(reps)(Drain.rows(CsvSink.lines(df, CsvOptions()))))
    val objects = t("sinks.ndjson.objects")(med(reps)(Drain.rows(JsonSink.objects(df))))
    val xmlRows = t("sinks.xml.rows")(med(reps)(Drain.rows(XmlSink.rows(df))))
    val htmlRows = t("sinks.html.rows")(med(reps)(Drain.rows(HtmlSink.rows(df))))
    def write(name: String)(body: => Unit) = t(name)(med(reps)(body))
    val csvDir = write("sinks.csv.writeDir")(CsvSink.writeDir(df, p("l-csv")))
    val ndDir = write("sinks.ndjson.writeDir")(JsonSink.writeDir(df, p("l-ndjson")))
    val xmlDir = write("sinks.xml.writeDirFramed")(XmlSink.writeDirFramed(df, p("l-xml")))
    val htmlDir = write("sinks.html.writeDirFramed")(HtmlSink.writeDirFramed(df, p("l-html")))
    val xmlText = write("sinks.xml.rows.write.text")(XmlSink.rows(df).write.mode("overwrite").text(p("l-xmlt")))
    val htmlText = write("sinks.html.rows.write.text")(HtmlSink.rows(df).write.mode("overwrite").text(p("l-htmlt")))

    val stream: Map[String, Double] =
      if (!driverPath) Map.empty
      else {
        // driver-side costs are small next to a job's fixed cost: more reps
        val sreps = 5
        def drainIt(it: => Iterator[_]): Unit = { val i = it; while (i.hasNext) i.next() }
        val render5 = med(sreps)(Drain.rows(Render.renderAll(df)))
        val collect = t("sinks.collect")(med(sreps)(drainIt(Render.renderAll(df).toLocalIterator().asScala)))
        val codecs: Seq[(String, () => Iterator[String], String => Unit)] = Seq(
          ("csv", () => CsvSink.contentIterator(df, CsvOptions()), f => CsvSink.writeFile(df, f)),
          ("json", () => JsonSink.contentIterator(df), f => JsonSink.writeFile(df, f)),
          ("xml", () => XmlSink.contentIterator(df), f => XmlSink.writeFile(df, f)),
          ("html", () => HtmlSink.contentIterator(df), f => HtmlSink.writeFile(df, f)))
        Map("sinks.collect_s" -> (collect - render5)) ++ codecs.flatMap { case (k, it, wf) =>
          val content = t(s"sinks.$k.contentIterator")(med(sreps)(drainIt(it())))
          val file = t(s"sinks.$k.writeFile")(med(sreps)(wf(p(s"l-$k.txt"))))
          Seq(s"sinks.$k.stream_s" -> (content - collect), s"sinks.$k.file_io_s" -> (file - content))
        }
      }

    def outBytes(k: String, f: String) = {
      val b = Out.bytes(dir.resolve(f)).toDouble
      Seq(s"sinks.$k.out_bytes" -> b, s"sinks.$k.bytes_per_row" -> (if (n > 0) b / n else 0.0))
    }
    Map(
      "sources.scan_s" -> scan,
      "functions.render_s" -> (render - scan),
      "functions.render.plain_branch_frac" -> (if (sampled > 0) branch.toDouble / sampled else 0.0),
      "functions.render.nonshortest" -> longer.toDouble,
      "sinks.csv.encode_s" -> (csvLines - render),
      "sinks.ndjson.encode_s" -> (objects - scan),
      "sinks.xml.encode_s" -> (xmlRows - render),
      "sinks.html.encode_s" -> (htmlRows - render),
      "sinks.csv.write_dir_s" -> (csvDir - render),
      "sinks.ndjson.write_dir_s" -> (ndDir - objects),
      "sinks.xml.write_dir_s" -> (xmlDir - xmlRows),
      "sinks.html.write_dir_s" -> (htmlDir - htmlRows),
      "sinks.v2.xml.commit_s" -> (xmlDir - xmlText),
      "sinks.v2.html.commit_s" -> (htmlDir - htmlText)) ++ byType ++ stream ++ exporter ++
      outBytes("csv", "l-csv") ++ outBytes("ndjson", "l-ndjson") ++ outBytes("xml", "l-xml") ++
      outBytes("html", "l-html") ++ (if (driverPath) outBytes("json", "l-json.txt") else Nil)
  }

  /** The `Exporter` facade's fixed per-call cost, on 24 slices of about
    * 1000 rows (250 order keys) at seeded offsets, each exported with
    * `writeString` through one of the four codecs: planning (forced
    * `executedPlan` of the codec's Dataset), the rest of the call, and the
    * Spark jobs it starts. Medians over the slices. */
  private def exporterProbes(): Map[String, Double] = {
    val rnd = new java.util.Random(c.seed)
    val maxKey = df.agg(max(col(order))).head.getLong(0)
    val probes = (0 until 24).map { i =>
      val lo = (rnd.nextDouble() * math.max(1L, maxKey - 250)).toLong
      def slice = df.where(col(order) >= lo && col(order) < lo + 250)
      val (ds, bound): (Dataset[String], Exporter.Bound) = i % 4 match {
        case 0 => (CsvSink.lines(slice, CsvOptions()), Exporter(slice).csv())
        case 1 => (JsonSink.objects(slice), Exporter(slice).json())
        case 2 => (XmlSink.rows(slice), Exporter(slice).xml())
        case _ => (HtmlSink.rows(slice), Exporter(slice).html())
      }
      val plan = t("exporter.plan")(Clock.secs(ds.queryExecution.executedPlan))
      val m = c.listener.mark(spark)
      val total = t("exporter.writeString")(Clock.secs(bound.writeString))
      (plan * 1e3, (total - plan) * 1e3, c.listener.since(spark, m).jobs.toDouble)
    }
    Map(
      "exporter.plan_ms" -> Stats.median(probes.map(_._1)),
      "exporter.exec_ms" -> Stats.median(probes.map(_._2)),
      "exporter.jobs" -> Stats.median(probes.map(_._3)))
  }
}

/** The near-dup / ANN query slice, drained plan-preservingly with warm
  * derived artifacts. */
class DedupQueries(c: Ctx) extends Workload(c) {
  val names: Seq[String] = Seq("d2_dedup_ngram_jaccard", "d3_dedup_minhash_lsh", "d7_ann_ivf",
    "d37_jaccard_threshold_sweep", "d39_ivf_probe_sweep", "d42_dfcap_sweep")
  private val docs = Tables.documents(spark, c.data).count()
  private val vecs = Tables.embeddings(spark, c.data).count()
  private def inputRows(q: String): Long = if (q.startsWith("d7") || q.startsWith("d39")) vecs else docs

  /** The last pass's results and their schemas, kept for the oracle check. */
  private var results = Map.empty[String, (StructType, Array[InternalRow])]

  /** Drains the plan through `toRdd`; the rows are copied and collected
    * (every result here is small) so the check can compare them. */
  private def drain(df: DataFrame): Array[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).collect()

  private def bytes(rows: Array[InternalRow]): Long = rows.map {
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case _ => 0L
  }.sum

  /** Each call builds the query (which runs any materialized step) and
    * drains it. */
  def pass(dir: Path): Seq[Call] = names.map { q =>
    var res: (StructType, Array[InternalRow]) = null
    val s = Clock.secs(t(s"queries.$q") {
      val df = SparkEntry.queries(q)(spark, c.data)
      res = (df.schema, drain(df))
    })
    results += q -> res
    Call(inputRows(q), bytes(res._2), s)
  }

  private var derive = Map.empty[String, Double]

  /** Derives the artifacts cold, in a fresh scratch directory, by building
    * (not running) the six queries: building a query derives the
    * artifacts it reads. */
  override def prepare(dir: Path): Unit = {
    val tmp = Paths.get(Main.runTmp, "scratch")
    JFiles.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    derive = names.map(q => q -> Clock.secs(SparkEntry.queries(q)(spark, c.data))).toMap
  }

  /** Seconds each query's build took in set-up: the cold derivation of the
    * artifacts it reads. */
  override def setupInfo: Map[String, Any] = Map("derive_s" -> derive, "oracle_queries" -> names)

  /** A pass of the slice takes about ten seconds, so one is enough. */
  val minPasses: Int = 1

  /** Writes the last pass's result of each query to `results/<q>` beside
    * `dir`, with its oracle SQL; the caller compares them in DuckDB. */
  def check(dir: Path): Seq[(String, Boolean)] = names.map { q =>
    val res = dir.resolveSibling("results").resolve(q)
    val (schema, internal) = results(q)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = internal.toSeq.map(r => toRow(r).asInstanceOf[Row]).asJava
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(res.toString)
    JFiles.write(res.resolveSibling(s"$q.sql"), SparkEntry.oracleSql(q).getBytes(UTF_8))
    s"$q.result_written" -> JFiles.exists(res.resolve("_SUCCESS"))
  }

  /** One probe per query: a warm build, plan and execution, split. */
  def layers(dir: Path): Map[String, Double] = names.flatMap { q =>
    val (df, build) = Clock.time(t(s"queries.$q.build")(SparkEntry.queries(q)(spark, c.data)))
    val plan = t(s"queries.$q.plan")(Clock.secs(df.queryExecution.executedPlan))
    val m = c.listener.mark(spark)
    val exec = t(s"queries.$q.exec")(Clock.secs(df.queryExecution.toRdd.count()))
    val w = c.listener.since(spark, m)
    Seq(
      s"queries.$q.build_s" -> build,
      s"queries.$q.plan_s" -> plan,
      s"queries.$q.exec_s" -> exec,
      s"queries.$q.stages" -> w.stages.toDouble,
      s"queries.$q.tasks" -> w.tasks.toDouble,
      s"queries.$q.shuffle_bytes" -> w.shuffleBytes.toDouble,
      s"queries.$q.task_skew" -> w.skew)
  }.toMap
}
