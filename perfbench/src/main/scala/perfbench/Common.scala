package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = (s.length - 1) * p
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** CPU time of a live thread; 0 once it has ended. */
  def threadCpuNs(t: Thread): Long = math.max(0L, ManagementFactory.getThreadMXBean.getThreadCpuTime(t.getId))

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def rssPeakMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Fixed integer work outside the program; reads host speed. Min of 3. */
  def calib(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 60000000) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; h += i; i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Forced 4 KiB appends per second on the filesystem of `dir`. */
  def fsyncPerSec(dir: java.nio.file.Path): Double = {
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("fsync-probe.bin")
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    val buf = java.nio.ByteBuffer.allocate(4096)
    val n = 40
    val t0 = System.nanoTime()
    try (1 to n).foreach { _ => buf.rewind(); ch.write(buf); ch.force(false) }
    finally { ch.close(); java.nio.file.Files.deleteIfExists(f) }
    n / ((System.nanoTime() - t0) / 1e9)
  }
}

/** Spans around the benchmark's calls into the program, kept in memory and
  * written when the run ends. Disabled, it records nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, req: Long, name: String, start: Long, end: Long)
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue(): java.lang.Long = 0L }

  def apply[A](name: String, req: Long = 0L)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet(); val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime())); current.set(parent)
      }
    }

  /** A span recorded after the fact (e.g. a sample landing in the broker). */
  def record(name: String, req: Long, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, req, name, start, end))

  /** Per layer (the span name's first segment): the sum of its spans' self
    * time (each span minus the part its children cover) and the wall time
    * those self intervals cover at least once, both in seconds. Spans of
    * concurrent requests overlap, so the sum can exceed the wall time.
    */
  def selfSeconds: Map[String, (Double, Double)] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    def minus(iv: (Long, Long), cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
      cut.sortBy(_._1).foldLeft((Vector.empty[(Long, Long)], iv._1)) { case ((acc, from), (a, b)) =>
        (if (a > from) acc :+ (from -> math.min(a, iv._2)) else acc, math.max(from, b))
      } match { case (acc, from) => if (from < iv._2) acc :+ (from -> iv._2) else acc }
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      val self = ss.flatMap(sp => minus(sp.start -> sp.end,
        kids.getOrElse(sp.id, Vector.empty).map(c => c.start -> c.end))).filter(iv => iv._2 > iv._1)
      val covered = self.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
      }._1
      layer -> (self.map(iv => iv._2 - iv._1).sum / 1e9, covered / 1e9)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toVector.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Task and job counters read from Spark's listener bus. Registered through
  * `spark.extraListeners`, so it sees every job of every session the run
  * builds without touching the program.
  */
class TaskStats extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  override def onJobStart(e: SparkListenerJobStart): Unit = TaskStats.synchronized {
    TaskStats.jobs += 1
    if (e.stageInfos.nonEmpty)
      TaskStats.firstStageTasksMax = math.max(TaskStats.firstStageTasksMax, e.stageInfos.minBy(_.stageId).numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) TaskStats.synchronized {
      TaskStats.runMs += m.executorRunTime
      TaskStats.cpuNs += m.executorCpuTime
      TaskStats.gcMs += m.jvmGCTime
      TaskStats.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      TaskStats.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object TaskStats {
  var jobs = 0L
  var firstStageTasksMax = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, v: Double): Unit = {
    require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
    m(name) = (v, unit)
  }
  def ++=(o: Metrics): Unit = m ++= o.m
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def json: String = m.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
}
