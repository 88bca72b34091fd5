package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its result as JSON.
  *
  * {{{
  * perfbench.Main --workload <name> --data <dir> --out <dir> --tmp <dir>
  *   --seconds <s> --trace <0|1> --cores <n> --seed <n> --launched-ms <epoch ms>
  *   --result <file> --spans <file>
  * }}}
  *
  * Order of work: session start and the workload's set-up (set-up time
  * runs from the JVM launch to the first timed call), timed passes for at
  * least `seconds` and until the workload has enough samples, then
  * untimed: the correctness checks over the last pass's output and, when
  * tracing, the per-layer probes. With `--trace 1` passes alternate
  * untraced and traced, so the tracing overhead is measured in the same
  * run. */
object Main {
  var runTmp: String = ""

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    runTmp = a("tmp")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runTmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$runTmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(false)
    val ctx = Ctx(spark, a("data"), tracer, listener, a("seed").toLong)

    val (w, inputS) = Clock.time(workload match {
      // pass counts fill about 7 seconds on 4 cores
      case "lineitem_export" => new TableExport(ctx, "lineitem", "l_orderkey",
        uniqueKey = false, driverPath = true, minPasses = 5)
      case "awkward_export" => new TableExport(ctx, "awkward", "id",
        uniqueKey = true, driverPath = false, minPasses = 7)
      case "dedup_queries" => new DedupQueries(ctx)
    })

    val prepareS = Clock.secs(w.prepare(out.resolve("setup")))
    Out.delete(out.resolve("setup"))

    // timed passes; each pass's output is deleted when the next one
    // starts, so the checks read the last one
    val failures = ArrayBuffer.empty[String]
    val walls = ArrayBuffer.empty[(Boolean, Double)]
    val calls = ArrayBuffer.empty[Call]
    val passCpu = ArrayBuffer.empty[Double]
    val rowsPerS, bytesPerS = ArrayBuffer.empty[Double]
    var attempted = 0L
    val heap = new HeapAfterGc
    // the timed window starts from a collected heap, so garbage left by
    // set-up does not count as live
    System.gc()
    val artifacts0 = Out.artifacts(Paths.get(System.getProperty("java.io.tmpdir")))
    val mark = listener.mark(spark)
    val (cpu0, gc0) = (Clock.processCpuNs, Clock.gcMs)
    heap.armed = true
    val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run measures the tracing overhead between traced passes and
    // untraced ones after the first, which may still run cold
    def sampled = walls.length >= w.minPasses &&
      (!trace || walls.count(_._1) >= 1 && walls.count(!_._1) >= 2)
    var k = 0
    while ((elapsed < seconds || !sampled) && failures.length < 3) {
      tracer.on = trace && k % 2 == 1
      tracer.pass = k
      if (k > 0) Out.delete(out.resolve(s"pass-${k - 1}"))
      val cpuBefore = Clock.processCpuNs
      val (cs, wall) = Clock.time(tracer("pass")(
        try w.pass(out.resolve(s"pass-$k")) catch { case e: Exception => failures += s"pass-$k: $e"; Nil }))
      attempted += math.max(1, cs.length)
      if (cs.nonEmpty) {
        walls += ((tracer.on, wall))
        passCpu += (Clock.processCpuNs - cpuBefore) / 1e9
        calls ++= cs
        rowsPerS += cs.map(_.rows).sum / wall
        bytesPerS += cs.map(_.bytes).sum / wall
      }
      k += 1
    }
    val timedS = elapsed
    heap.armed = false
    val engine = listener.since(spark, mark)
    val (cpu1, gc1) = (Clock.processCpuNs, Clock.gcMs)
    val built = Out.artifacts(Paths.get(System.getProperty("java.io.tmpdir"))) - artifacts0
    tracer.on = trace

    // untimed: correctness over the last pass's output
    tracer.pass = k
    val (checks, checkS) = Clock.time(
      try tracer("check")(w.check(out.resolve(s"pass-${k - 1}")))
      catch { case e: Exception => Seq(s"check: $e" -> false) })
    failures ++= checks.filterNot(_._2).map(_._1)
    attempted += checks.length

    val untraced = walls.filterNot(_._1).map(_._2).toSeq
    val lat = calls.map(_.secs * 1e3).toSeq
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "wall_s" -> Stats.median(untraced),
        "rows_per_s" -> Stats.median(rowsPerS.toSeq),
        "out_mb_per_s" -> Stats.median(bytesPerS.toSeq) / 1e6,
        "live_heap_peak_mb" -> heap.peakMb)
      else {
        val traced = walls.filter(_._1).map(_._2).toSeq
        val passes = walls.length.toDouble
        w.layers(out.resolve("layers")) ++ Map(
          "ops.scratch.artifacts_built" -> built.toDouble,
          "spark.tasks" -> engine.tasks / passes,
          "spark.busy_frac" -> engine.runMs / 1e3 / (timedS * cores),
          "spark.task_skew" -> engine.skew,
          "spark.shuffle_bytes" -> engine.shuffleBytes / passes,
          "spark.gc_s" -> (gc1 - gc0) / 1e3 / passes,
          "proc.cpu_util" -> (cpu1 - cpu0) / 1e9 / (timedS * cores),
          "trace.overhead_s" -> (Stats.median(traced) - Stats.median(untraced.drop(1))))
      }

    val info = Map(
      "workload" -> workload, "seed" -> a("seed"), "nproc" -> cores,
      "spark_master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jdk" -> System.getProperty("java.version"), "spark_version" -> spark.version,
      "passes" -> walls.length, "pass_walls_s" -> walls.map(_._2).toSeq,
      "pass_cpu_s" -> passCpu.toSeq, "timed_s" -> timedS, "calls" -> calls.length,
      "call_p50_ms" -> Stats.quantile(lat, 0.5), "call_p90_ms" -> Stats.quantile(lat, 0.9),
      "session_s" -> sessionS, "inputs_s" -> inputS, "prepare_s" -> prepareS, "check_s" -> checkS,
      "artifacts_built_in_timed_passes" -> built) ++ w.setupInfo
    val result = Json(Map(
      "attempted" -> attempted, "failed" -> failures.length,
      "failures" -> failures.toSeq, "metrics" -> metrics, "info" -> info))
    Files.write(Paths.get(a("result")), result.getBytes(UTF_8))
    if (trace) Files.write(Paths.get(a("spans")), tracer.json.getBytes(UTF_8))
    spark.stop()
  }
}
