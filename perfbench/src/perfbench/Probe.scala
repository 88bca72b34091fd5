package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine counters from one listener on the benchmark's own session.
  * Counters only grow; a [[Window]] is the difference between two marks. */
final class EngineListener extends SparkListener {
  private var jobs, stages, runMs, shuffleBytes = 0L
  private val taskMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
    taskMs += e.taskInfo.duration
  }

  final case class Mark(jobs: Long, stages: Long, tasks: Int, runMs: Long, shuffleBytes: Long)
  final case class Window(jobs: Long, stages: Long, runMs: Long, shuffleBytes: Long,
                          taskMs: IndexedSeq[Long]) {
    def tasks: Int = taskMs.length
    /** Slowest task over the median task; 0 when no task ran. */
    def skew: Double =
      if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
  }

  def mark(spark: SparkSession): Mark = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized { Mark(jobs, stages, taskMs.length, runMs, shuffleBytes) }
  }

  def since(spark: SparkSession, m: Mark): Window = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      Window(jobs - m.jobs, stages - m.stages, runMs - m.runMs,
        shuffleBytes - m.shuffleBytes, taskMs.slice(m.tasks, taskMs.length).toIndexedSeq)
    }
  }
}

/** Spans recorded around the benchmark's own calls into each layer:
  * name, start, end, the enclosing span and the pass they belong to.
  * Kept in memory and written out once at the end. With tracing off
  * `apply` only runs the body. */
final class Tracer(var on: Boolean) {
  final case class Span(id: Int, parent: Int, pass: Int, name: String, startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  var pass = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, pass, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the part of it covered by its direct children. */
  def selfNs(s: Span): Long =
    (s.endNs - s.startNs) - spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum

  def json: String = Json(spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s))
  }.toSeq)
}

/** Highest used heap right after a garbage collection, over the GCs the
  * JVM runs on its own while armed: read from each collection's
  * notification, so measuring forces no extra GC. Shows a path that
  * buffers a whole output on the driver. */
final class HeapAfterGc {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def secs(body: => Any): Double = time(body)._2

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** Plan-preserving drains, the way the repository's own bench drains a
  * query: execute the physical plan and count rows, nothing collected. */
object Drain {
  /** A fresh plan over `df`, so every drain pays analysis and planning. */
  def rows(df: org.apache.spark.sql.Dataset[_]): Long = df.select("*").queryExecution.toRdd.count()
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
