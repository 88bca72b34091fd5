package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Value→string rendering helpers shared by eval and codegen paths.
  *
  * Replicates the semantics of the reference's universal renderer
  * (`/root/reference/tostring/tostring.go:34-98`): Go's
  * `strconv.FormatFloat(v, 'f', -1, bits)` prints the shortest decimal
  * string that round-trips, in FIXED notation — never scientific. JVM
  * `Double.toString` also prints shortest-ish round-trip digits but
  * switches to scientific notation outside [1e-3, 1e7); we re-expand via
  * BigDecimal, which preserves the digit run exactly.
  */
object GoFormat {
  // called from generated Java — names must not be Java keywords
  def fmtDouble(d: Double): UTF8String = UTF8String.fromString(formatDouble(d))
  def fmtFloat(f: Float): UTF8String   = UTF8String.fromString(formatFloat(f))

  def formatDouble(d: Double): String = {
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (d == java.lang.Double.POSITIVE_INFINITY) "+Inf"
    else if (d == java.lang.Double.NEGATIVE_INFINITY) "-Inf"
    else plain(java.lang.Double.toString(d))
  }

  def formatFloat(f: Float): String = {
    if (java.lang.Float.isNaN(f)) "NaN"
    else if (f == java.lang.Float.POSITIVE_INFINITY) "+Inf"
    else if (f == java.lang.Float.NEGATIVE_INFINITY) "-Inf"
    else plain(java.lang.Float.toString(f))
  }

  /** Shortest-digits decimal string → fixed notation, Go-'f'-style. */
  private def plain(s: String): String = {
    if (s.indexOf('E') < 0) {
      // JVM always emits a fractional part ("1.0"); Go's shortest form
      // drops it when zero. toString never emits other trailing zeros.
      if (s.endsWith(".0")) s.substring(0, s.length - 2) else s
    } else {
      val bd = new java.math.BigDecimal(s).stripTrailingZeros()
      bd.toPlainString()
    }
  }
}

/** Codegen'd `double`→string in Go `strconv.FormatFloat('f', -1, 64)` form.
  * Native Catalyst expression (not a Scala UDF) so it stays inside
  * whole-stage codegen: the generated code is a single static call.
  */
case class GoFormatDouble(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    GoFormat.fmtDouble(v.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoFormat.fmtDouble($c)")
  override protected def withNewChildInternal(c: Expression): GoFormatDouble = copy(c)
}

/** Codegen'd `float`→string in Go `strconv.FormatFloat('f', -1, 32)` form. */
case class GoFormatFloat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    GoFormat.fmtFloat(v.asInstanceOf[Float])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoFormat.fmtFloat($c)")
  override protected def withNewChildInternal(c: Expression): GoFormatFloat = copy(c)
}

/** RFC3339Nano in one pass over one byte array: the form `date_format`
  * gives with `yyyy-MM-dd'T'HH:mm:ss`, a trimmed fraction and `XXX`.
  *
  *   - the year is the proleptic year, at least 4 digits, `-` before
  *     negative years and `+` before years above 9999 (`-0001`, `+10000`);
  *   - the fraction keeps its significant digits only (up to 9) and is
  *     dropped with its `.` when zero;
  *   - the zone is `Z` when the offset's hours and minutes are both zero,
  *     else `±hh:mm`, the offset's seconds truncated (LMT offsets such as
  *     -07:52:58 print as -07:52).
  *
  * The render layer and both JSON paths call it. */
object GoTime {
  private val MicrosPerSecond = 1000000L
  private val NanosPerMicro = 1000

  /** `micros` since the epoch, seen in `zone`; called from generated Java. */
  def rfc3339Micros(micros: Long, zone: java.time.ZoneId): UTF8String =
    UTF8String.fromBytes(rfc3339(Math.floorDiv(micros, MicrosPerSecond),
      Math.floorMod(micros, MicrosPerSecond).toInt * NanosPerMicro, zone))

  /** `instant` in UTC, all 9 fraction digits kept before trimming. */
  def rfc3339Utc(instant: java.time.Instant): String =
    new String(rfc3339(instant.getEpochSecond, instant.getNano, java.time.ZoneOffset.UTC),
      java.nio.charset.StandardCharsets.US_ASCII)

  /** The instant `epochSecond` + `nano` ns (0 ≤ nano < 10⁹) as ASCII bytes. */
  def rfc3339(epochSecond: Long, nano: Int, zone: java.time.ZoneId): Array[Byte] = {
    val offset = zone.getRules.getOffset(java.time.Instant.ofEpochSecond(epochSecond)).getTotalSeconds
    val local = epochSecond + offset
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(local, 86400L))
    val secOfDay = Math.floorMod(local, 86400L).toInt
    val year = date.getYear
    val absYear = Math.abs(year)
    val yearDigits = math.max(4, digits(absYear))
    val yearLen = yearDigits + (if (year < 0 || absYear > 9999) 1 else 0)

    var frac = nano
    var fracLen = if (nano == 0) 0 else 9
    while (fracLen > 0 && frac % 10 == 0) { frac /= 10; fracLen -= 1 }

    // `XXX`: hours and minutes of the absolute offset; none of either → Z
    val offHours = Math.abs(offset) / 3600
    val offMinutes = Math.abs(offset) / 60 % 60
    val zoneLen = if (offHours == 0 && offMinutes == 0) 1 else 6

    val out = new Array[Byte](yearLen + 15 + (if (fracLen > 0) fracLen + 1 else 0) + zoneLen)
    var p = 0
    if (year < 0) { out(0) = '-'.toByte; p = 1 }
    else if (absYear > 9999) { out(0) = '+'.toByte; p = 1 }
    p = put(out, p, absYear, yearDigits)
    out(p) = '-'.toByte; p = put(out, p + 1, date.getMonthValue, 2)
    out(p) = '-'.toByte; p = put(out, p + 1, date.getDayOfMonth, 2)
    out(p) = 'T'.toByte; p = put(out, p + 1, secOfDay / 3600, 2)
    out(p) = ':'.toByte; p = put(out, p + 1, secOfDay / 60 % 60, 2)
    out(p) = ':'.toByte; p = put(out, p + 1, secOfDay % 60, 2)
    if (fracLen > 0) { out(p) = '.'.toByte; p = put(out, p + 1, frac, fracLen) }
    if (zoneLen == 1) out(p) = 'Z'.toByte
    else {
      out(p) = (if (offset < 0) '-' else '+').toByte
      p = put(out, p + 1, offHours, 2)
      out(p) = ':'.toByte; put(out, p + 1, offMinutes, 2)
    }
    out
  }

  private def digits(v: Int): Int = {
    var n = 1
    var rest = v / 10
    while (rest > 0) { n += 1; rest /= 10 }
    n
  }

  /** Writes `v` ≥ 0 as exactly `width` zero-padded digits at `at`;
    * returns the index after them. */
  private def put(out: Array[Byte], at: Int, v: Int, width: Int): Int = {
    var rest = v
    var i = at + width - 1
    while (i >= at) { out(i) = ('0' + rest % 10).toByte; rest /= 10; i -= 1 }
    at + width
  }
}

/** Codegen'd TimestampType → RFC3339Nano string ([[GoTime]]) in the
  * session zone. The generated code is one static call with the zone
  * passed in as a reference object. */
case class GoRfc3339(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = StringType
  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Option(tz))
  override protected def nullSafeEval(v: Any): Any =
    GoTime.rfc3339Micros(v.asInstanceOf[Long], zoneId)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[java.time.ZoneId].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.GoTime.rfc3339Micros($c, $zone)")
  }
  override protected def withNewChildInternal(c: Expression): GoRfc3339 = copy(child = c)
}

/** Go's std JSON HTML escaping of encoded JSON text: `<`, `>` and `&`
  * become the escapes `\u003c`, `\u003e` and `\u0026`. One byte scan;
  * the input comes back as is when none of the three occurs. Scanning
  * bytes is exact because these ASCII bytes never occur inside a
  * multi-byte UTF-8 sequence, and they never occur structurally in JSON,
  * so only string contents change. */
case class GoJsonEscapeHtml(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    GoJsonEscapeHtml.escape(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GoJsonEscapeHtml.escape($c)")
  override protected def withNewChildInternal(c: Expression): GoJsonEscapeHtml = copy(c)
}

object GoJsonEscapeHtml {
  private def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Lt = ascii("\\u003c")
  private val Gt = ascii("\\u003e")
  private val Amp = ascii("\\u0026")

  /** The escape `b` takes, or null when it stays as is. */
  private def escapeOf(b: Byte): Array[Byte] =
    if (b == '<') Lt else if (b == '>') Gt else if (b == '&') Amp else null

  def escape(s: UTF8String): UTF8String = {
    val len = s.numBytes
    var n = 0
    var i = 0
    while (i < len) { if (escapeOf(s.getByte(i)) != null) n += 1; i += 1 }
    if (n == 0) s
    else {
      val out = new Array[Byte](len + 5 * n)
      var p = 0
      i = 0
      while (i < len) {
        val b = s.getByte(i)
        val esc = escapeOf(b)
        if (esc == null) { out(p) = b; p += 1 }
        else { System.arraycopy(esc, 0, out, p, esc.length); p += esc.length }
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }
}

/** The render layer: one `Column`-in/`Column`-out string renderer per Spark
  * type, with the reference's NULL semantics
  * (`/root/reference/tostring/tostring.go:34-98`):
  *
  *   - SQL NULL → NULL (`tostring.go:35-37`)
  *   - binary → raw UTF-8 string (`tostring.go:41-42`)
  *   - bool → true/false; ints → base-10 (`tostring.go:43-64`)
  *   - timestamp → RFC3339Nano, with the zero time (0001-01-01T00:00:00Z)
  *     rendered as NULL (`tostring.go:65-70`)
  *   - float/double → shortest round-trip decimal, never scientific
  *     (`tostring.go:71-74`)
  *   - array/map/struct → JSON text, with "[]", "{}", "null" coerced to
  *     NULL (`tostring.go:76-96`)
  *
  * Everything here is a Catalyst expression tree (codegen'd end to end);
  * the custom expressions are the two float formatters and the
  * RFC3339Nano timestamp formatter above.
  */
object Render {

  def goDouble(c: Column): Column =
    ColumnBridge.column(GoFormatDouble(ColumnBridge.expression(c)))

  def goFloat(c: Column): Column =
    ColumnBridge.column(GoFormatFloat(ColumnBridge.expression(c)))

  /** Go zero time: `time.Time{}.IsZero()` ⇔ 0001-01-01T00:00:00 UTC. */
  private val zeroTime: Column = to_timestamp(lit("0001-01-01 00:00:00"))

  /** RFC3339Nano: fractional seconds trimmed of trailing zeros and omitted
    * entirely when zero; UTC renders as `Z`. Spark timestamps are µs so at
    * most 6 fractional digits appear (the reference's ns tail is truncated
    * upstream by the parquet reader — divergence documented in FIXTURES.md).
    */
  def rfc3339Nano(c: Column): Column =
    when(c === zeroTime, lit(null).cast(StringType)).otherwise(rfc3339NanoRaw(c))

  /** RFC3339Nano without the zero-time→NULL coercion — the form Go's
    * `json.Marshal(time.Time)` uses (the JSON codec passes values
    * natively and never consults tostring, `json.go:108-120`). A
    * TimestampNTZ value reads as wall-clock time in the session zone. */
  def rfc3339NanoRaw(c: Column): Column =
    ColumnBridge.column(GoRfc3339(ColumnBridge.expression(c.cast(TimestampType))))

  /** JSON-rendered complex value with empty/null coercion
    * (`tostring.go:79-83,91-95`). */
  private def jsonRender(c: Column): Column = {
    val j = to_json(c)
    when(j.isin("[]", "{}", "null"), lit(null).cast(StringType)).otherwise(j)
  }

  /** Render a single column to its reference string form. The result is
    * NULL exactly where the reference reports IsNULL. */
  def render(c: Column, dt: DataType): Column = dt match {
    case StringType        => c
    case BinaryType        => c.cast(StringType) // UTF-8 decode, raw
    case BooleanType       => c.cast(StringType)
    case ByteType | ShortType | IntegerType | LongType => c.cast(StringType)
    case _: DecimalType    => c.cast(StringType)
    case FloatType         => goFloat(c)
    case DoubleType        => goDouble(c)
    case TimestampType | TimestampNTZType => rfc3339Nano(c)
    case DateType          => date_format(c, "yyyy-MM-dd")
    case NullType          => lit(null).cast(StringType)
    case _: ArrayType | _: MapType | _: StructType => jsonRender(c)
    case _                 => c.cast(StringType)
  }

  /** Plan-time slice of the reference's per-cell mapper `Metadata`
    * (`/root/reference/scanner/scanner.go:27-31`, dispatched per cell in
    * `codec/csv/csv.go:163-167`): the column name and the source driver
    * tag are row-invariant, so they resolve once at plan time. RowID is
    * inherently sequential and remains a driver-stream-path concept (the
    * `PreProcessor` hook carries it there, SURVEY §1). */
  final case class MapperContext(columnName: String, driver: String)

  /** Render every column of `df` to StringType, preserving names and
    * NULL-ness. The per-column expressions fuse into one whole-stage
    * codegen projection.
    *
    * `mappers` is the per-DataType custom-mapper surface
    * (`/root/reference/codec/csv/csv.go:52-63,199-205`): the first entry
    * whose DataType matches a column overrides its default rendering. The
    * mapper returns a string Column whose NULL is the reference's
    * `tostring.String{IsNULL: true}`. Go dispatches on per-cell runtime
    * type; Spark's schema makes that per-column static type — a deliberate
    * semantic tightening (SURVEY.md §7f).
    *
    * `ctxMappers` is the context-aware variant: it additionally receives
    * the [[MapperContext]] (column name + source driver, read from the
    * [[graft.sources.SourceMeta]] schema metadata that `Slice.fromSql`
    * attaches). Context mappers win over plain mappers on a type clash.
    */
  def renderAll(df: DataFrame,
                mappers: Seq[(DataType, Column => Column)] = Nil,
                ctxMappers: Seq[(DataType, (MapperContext, Column) => Column)] = Nil): DataFrame = {
    val cols = df.schema.fields.map { f =>
      customMapper(f, mappers, ctxMappers).getOrElse(render(col(f.name), f.dataType)).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Field `f` through its custom mapper: the first `ctxMappers` entry
    * whose DataType matches, else the first matching `mappers` entry;
    * None when neither matches. */
  def customMapper(f: StructField,
                   mappers: Seq[(DataType, Column => Column)],
                   ctxMappers: Seq[(DataType, (MapperContext, Column) => Column)]): Option[Column] =
    ctxMappers.collectFirst { case (dt, fn) if dt == f.dataType =>
        fn(MapperContext(f.name, graft.sources.SourceMeta.driverOf(f)), col(f.name)) }
      .orElse(mappers.collectFirst { case (dt, fn) if dt == f.dataType => fn(col(f.name)) })
}
