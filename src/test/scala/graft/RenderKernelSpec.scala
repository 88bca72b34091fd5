package graft

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{GoJsonEscapeHtml, Render}
import graft.sinks.Format

/** Parity of the one-pass kernels (`GoRfc3339`, `GoJsonEscapeHtml`, the
  * JSON hook path's `rfc3339NanoInstant`) with the expression trees they
  * replaced, which live on here as oracles only. Each Spark-side check
  * runs once through whole-stage codegen and once interpreted. */
class RenderKernelSpec extends SparkTestBase {
  import spark.implicits._

  // ---- the former expression trees, kept as oracles ----

  private def oracleRfc3339Raw(c: Column): Column = {
    val base = date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
    val frac = regexp_replace(date_format(c, "SSSSSS"), "0+$", "")
    val zone = date_format(c, "XXX")
    concat(base, when(frac === lit(""), lit("")).otherwise(concat(lit("."), frac)), zone)
  }

  private def oracleRfc3339(c: Column): Column =
    when(c === to_timestamp(lit("0001-01-01 00:00:00")), lit(null).cast(StringType))
      .otherwise(oracleRfc3339Raw(c))

  private def oracleEscape(j: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(j,
      "&", "\\\\u0026"), "<", "\\\\u003c"), ">", "\\\\u003e")

  private def oracleInstant(instant: Instant): String = {
    val base = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(ZoneOffset.UTC).format(instant)
    val nanos = instant.getNano
    if (nanos == 0) base + "Z"
    else base + "." + f"$nanos%09d".reverse.dropWhile(_ == '0').reverse + "Z"
  }

  private def escape(c: Column): Column =
    ColumnBridge.column(GoJsonEscapeHtml(ColumnBridge.expression(c)))

  // ---- harness ----

  private val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata",
    "Europe/Amsterdam", "Australia/Lord_Howe")

  /** Runs `check(codegen)` with whole-stage codegen on, then with both
    * whole-stage codegen and the expression code generator off; restores
    * the session zone and both settings afterwards. */
  private def inBothModes(check: Boolean => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.session.timeZone")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (codegen <- Seq(true, false)) {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "FALLBACK" else "NO_CODEGEN")
        check(codegen)
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collects `got` and `want` side by side and reports the first rows
    * that differ; also checks that codegen runs where it is asked for
    * (an RDD source keeps the projection from being folded on the driver). */
  private def assertSame(df: DataFrame, got: Column, want: Column, codegen: Boolean,
                         what: String): Unit = {
    // inputs come back as strings: java.sql.Timestamp cannot hold the
    // Long range's ends
    val q = df.select(df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq :+
      got.as("got") :+ want.as("want"): _*)
    val usesCodegen = q.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    assert(usesCodegen == codegen, s"$what: whole-stage codegen = $usesCodegen")
    val rows = q.collect()
    val bad = rows.filter(r => r.getAs[String]("got") != r.getAs[String]("want"))
    assert(bad.isEmpty, s"$what: ${bad.length} of ${rows.length} differ, e.g. ${bad.take(5).mkString("; ")}")
  }

  private val MinMicros = Long.MinValue
  private val MaxMicros = Long.MaxValue
  private val Year1 = -62135596800000000L // 0001-01-01T00:00:00Z
  private val Year10000 = 253402300800000000L // +10000-01-01T00:00:00Z
  private val DayMicros = 86400L * 1000000L

  /** Seeded µs instants over the whole Long range, over years 1-9999 with
    * random trailing-zero runs, every fraction width 0-6, the range and
    * four-digit-year boundaries, DST edges, and each zone's local zero
    * time (what `to_timestamp("0001-01-01 00:00:00")` gives there). */
  private def instants: Seq[Long] = {
    val rnd = new scala.util.Random(20261018L)
    val anywhere = Seq.fill(1500)(rnd.nextLong())
    val fourDigit = Seq.fill(2500) {
      val m = Year1 + (rnd.nextDouble() * (Year10000 - Year1)).toLong
      m - Math.floorMod(m, math.pow(10, rnd.nextInt(7)).toLong)
    }
    val widths = Seq(0L, 100000L, 120000L, 123000L, 123400L, 123450L, 123456L)
      .flatMap(f => Seq(1709296245000000L + f, -1709296245000000L + f))
    val edges = Seq(MinMicros, MinMicros + 1, MaxMicros, MaxMicros - 1,
      Year1, Year1 - 1, Year1 + 1, Year10000, Year10000 - 1, Year10000 - DayMicros,
      -62167219200000000L, -62198755200000000L, // 0000-01-01, -0001-01-01
      0L, 1L, -1L, 10L, 100000L, -100000L,
      1710064800000000L, 1710064799999999L, 1730624400000000L) // US 2024 DST edges
    val localZero = zones.map { z =>
      val i = LocalDateTime.of(1, 1, 1, 0, 0).atZone(ZoneId.of(z)).toInstant
      i.getEpochSecond * 1000000L
    }
    anywhere ++ fourDigit ++ widths ++ edges ++ localZero
  }

  test("GoRfc3339 matches the date_format tree: TZ/NTZ, five zones, codegen and interpreted") {
    val ms = instants
    // TZ column: every instant, plus NULL
    val tz = spark.sparkContext.parallelize(ms.map(Option(_)) :+ None, 4).toDF("m")
      .select($"m", timestamp_micros($"m").as("t"))
    // NTZ column: the same µs as wall-clock values; the cast to the
    // session zone overflows within a day of the Long range's ends on both
    // sides alike, so those are left to the TZ column
    val ntzValues = ms.filter(m => m > MinMicros + DayMicros && m < MaxMicros - DayMicros)
      .map(m => Option(LocalDateTime.ofEpochSecond(Math.floorDiv(m, 1000000L),
        Math.floorMod(m, 1000000L).toInt * 1000, ZoneOffset.UTC))) :+ None
    val ntz = spark.sparkContext.parallelize(ntzValues, 4).toDF("t")
    assert(ntz.schema("t").dataType == TimestampNTZType)
    inBothModes { codegen =>
      for (z <- zones) {
        spark.conf.set("spark.sql.session.timeZone", z)
        val mode = s"$z codegen=$codegen"
        assertSame(tz, Render.rfc3339NanoRaw($"t"), oracleRfc3339Raw($"t"), codegen, s"raw TZ $mode")
        assertSame(tz, Render.rfc3339Nano($"t"), oracleRfc3339($"t"), codegen, s"TZ $mode")
        assertSame(ntz, Render.rfc3339NanoRaw($"t"), oracleRfc3339Raw($"t"), codegen, s"raw NTZ $mode")
        assertSame(ntz, Render.rfc3339Nano($"t"), oracleRfc3339($"t"), codegen, s"NTZ $mode")
      }
    }
  }

  test("GoRfc3339: NULL stays NULL, zero time is NULL, fraction widths 0-6") {
    val df = spark.sparkContext.parallelize(Seq[Option[Long]](None, Some(Year1),
      Some(0L), Some(100000L), Some(120000L), Some(123000L), Some(123400L),
      Some(123450L), Some(123456L), Some(Year10000), Some(-62198755200000000L)), 2)
      .toDF("m").select(timestamp_micros($"m").as("t"))
    inBothModes { _ =>
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val got = df.select(Render.rfc3339Nano($"t")).collect().map(r => Option(r.getString(0))).toSeq
      assert(got == Seq(None, None, Some("1970-01-01T00:00:00Z"),
        Some("1970-01-01T00:00:00.1Z"), Some("1970-01-01T00:00:00.12Z"),
        Some("1970-01-01T00:00:00.123Z"), Some("1970-01-01T00:00:00.1234Z"),
        Some("1970-01-01T00:00:00.12345Z"), Some("1970-01-01T00:00:00.123456Z"),
        Some("+10000-01-01T00:00:00Z"), Some("-0001-01-01T00:00:00Z")))
    }
  }

  test("GoJsonEscapeHtml matches the triple regexp_replace, raw and inside to_json") {
    val rnd = new scala.util.Random(7L)
    val alphabet = "<>&\"\\abc xyz\n\t\u0001é日本😀"
    def token(): String = {
      val i = rnd.nextInt(alphabet.length)
      // keep the surrogate pair together
      if (Character.isHighSurrogate(alphabet(i))) alphabet.substring(i, i + 2)
      else if (Character.isLowSurrogate(alphabet(i))) alphabet.substring(i - 1, i + 1)
      else alphabet.substring(i, i + 1)
    }
    val strings = Seq.fill(3000)(Seq.fill(rnd.nextInt(24))(token()).mkString) ++
      Seq("", "<", ">", "&", "&&<<>>", "plain ascii", "日本語のみ")
    val df = spark.sparkContext.parallelize(strings.map(Option(_)) :+ None, 4).toDF("s")
    inBothModes { codegen =>
      assertSame(df, escape($"s"), oracleEscape($"s"), codegen, s"raw codegen=$codegen")
      val j = to_json(struct($"s".as("k<&>"), lit(1).as("n")), Map("ignoreNullFields" -> "false"))
      assertSame(df, escape(j), oracleEscape(j), codegen, s"to_json codegen=$codegen")
    }
  }

  test("JSON hook path: rfc3339NanoInstant keeps 9 digits and matches the former formatter") {
    val rnd = new scala.util.Random(11L)
    val lo = Year1 / 1000000L
    val hi = Year10000 / 1000000L - 1
    val instants = Seq.fill(20000) {
      val sec = lo + (rnd.nextDouble() * (hi - lo)).toLong
      val nano = rnd.nextInt(1000000000)
      Instant.ofEpochSecond(sec, nano - nano % math.pow(10, rnd.nextInt(10)).toInt)
    } ++ Seq(Instant.EPOCH, Instant.ofEpochSecond(0, 1), Instant.ofEpochSecond(0, 100000000),
      Instant.ofEpochSecond(lo), Instant.ofEpochSecond(hi, 999999999))
    instants.foreach { i =>
      assert(Format.GoJson.rfc3339NanoInstant(i) == oracleInstant(i), s"for $i")
    }
    assert(Format.GoJson.rfc3339NanoInstant(Instant.ofEpochSecond(0, 1)) ==
      "1970-01-01T00:00:00.000000001Z")
    // outside years 1-9999 the hook path now prints the proleptic year,
    // as the distributed path does (the former formatter printed the
    // year of era: "0001" for year 0)
    assert(Format.GoJson.rfc3339NanoInstant(Instant.ofEpochSecond(-62167219200L)) ==
      "0000-01-01T00:00:00Z")
    assert(Format.GoJson.rfc3339NanoInstant(Instant.ofEpochSecond(Year10000 / 1000000L)) ==
      "+10000-01-01T00:00:00Z")
  }
}
