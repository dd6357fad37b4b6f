package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation of a closed loop, in step `step` of the timed
  * loop. Times are wall-clock micros. */
final case class Op(index: Int, step: Int, kind: String, startUs: Long,
    endUs: Long, cpuNs: Long, gcMs: Long, rows: Long, ok: Boolean,
    traced: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  /** Monotonic micros aligned with the epoch, so spans line up with
    * Spark listener times (epoch millis). */
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  /** The machine's (steal, total) CPU jiffies from /proc/stat, where
    * there is one. */
  def hostCpu(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case NonFatal(_) => None }

  def heapAfterGcBytes(): Long = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (percentile, value, samples). None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None
    else { val i = n - 11; Some((100.0 * (i + 1) / n, s(i), n)) }
  }
}

/** Runs and records the operations of one closed loop: one client, the
  * next operation starts when the previous one returned. An operation
  * whose body throws or whose output check fails counts as failed.
  */
final class Recorder(val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Only operations started while this is set are recorded. */
  var timing = false
  /** Whether the current step's operations are traced. */
  var tracedStep = false
  /** The timed loop's current step. */
  var step = 0

  /** Runs `body` as one operation of kind `kind` that enters the engine
    * at `layer`; `check` validates its output, `rows` counts the input
    * rows it completed.
    */
  def op[T](kind: String, layer: String, rows: T => Long)(body: => T)(
      check: T => Boolean): T = {
    val index = ops.size
    val traced = timing && tracedStep && tracer.isDefined
    val cpu0 = Clock.processCpuNs()
    val gc0 = Clock.gcMs()
    val t0 = Clock.us()
    val span = if (traced) tracer.map(_.open(kind, layer, index)) else None
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    span.foreach(s => tracer.foreach(_.close(s)))
    val t1 = Clock.us()
    val cpu1 = Clock.processCpuNs()
    val gc1 = Clock.gcMs()
    val (ok, n) = result match {
      case Right(v) =>
        val good = try check(v) catch { case NonFatal(e) =>
          System.err.println(s"check of $kind threw: $e"); false }
        if (!good) System.err.println(s"check failed: $kind op $index")
        (good, rows(v))
      case Left(e) =>
        System.err.println(s"operation $kind failed: $e")
        e.printStackTrace(System.err)
        (false, 0L)
    }
    if (timing) ops += Op(index, step, kind, t0, t1, cpu1 - cpu0, gc1 - gc0, n, ok, traced)
    result match {
      case Right(v) => v
      case Left(e) => throw e
    }
  }

  /** A child span around a call into `layer` inside the current op. */
  def span[T](name: String, layer: String)(body: => T): T =
    tracer.filter(_ => timing && tracedStep) match {
      case None => body
      case Some(t) =>
        val s = t.open(name, layer, -1)
        try body finally t.close(s)
    }
}

/** Storage accounting by directory listing: bytes written under a
  * warehouse directory is the size of every file that appears (or
  * changes size) between two listings. Listings run after every write,
  * outside the operation timers, so files that a later commit deletes
  * are still counted; only files created and deleted inside a single
  * operation are missed.
  */
final class Storage(root: Path) {
  private var seen = Map.empty[String, Long]
  var writtenBytes = 0L

  private def list(): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap
      finally stream.close()
    }

  def baseline(): Unit = { seen = list(); writtenBytes = 0L }

  def scan(): Unit = {
    val now = list()
    now.foreach { case (p, size) =>
      if (!seen.get(p).contains(size)) writtenBytes += size }
    seen = now
  }

  def storedBytes: Long = seen.values.sum
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally stream.close()
    }
}

/** JSON output through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
