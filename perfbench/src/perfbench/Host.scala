package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals

/** Process and host counters read around every timed operation. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Stop-the-world GC time of all collectors of this JVM. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Host steal time: /proc/stat `cpu` line, 8th field, in USER_HZ (1/100 s)
    * ticks summed over all CPUs. 0 where /proc/stat is unreadable.
    */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")).getOrElse("") finally src.close()
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong / 100.0 else 0.0
    } catch { case _: java.io.IOException => 0.0 }

  def uptimeSeconds(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

/** Polls, every 5 ms until closed, the memory Spark's memory manager has
  * handed out (execution plus storage) and keeps the peak. Unlike the heap
  * in use, this does not depend on when the garbage collector last ran.
  */
final class SparkMemoryPeak extends AutoCloseable {
  private val peak = new AtomicLong(SparkInternals.memoryUsedBytes())
  private val running = new AtomicBoolean(true)
  private val thread = new Thread(() => while (running.get) {
    peak.accumulateAndGet(SparkInternals.memoryUsedBytes(), (a, b) => math.max(a, b))
    Thread.sleep(5)
  }, "perfbench-memory-poller")
  thread.setDaemon(true)
  thread.start()

  override def close(): Unit = { running.set(false); thread.join() }
  def mb: Double = peak.get / 1048576.0
}

/** One timed operation: wall, process CPU, peak Spark-managed memory, and
  * the GC and host steal seconds that fell inside it, so an outlier explains
  * itself.
  */
final case class Sample(wallS: Double, cpuS: Double, peakMemMb: Double,
    gcS: Double, stealS: Double)

object Sample {
  def time[A](op: => A): (A, Sample) = {
    System.gc()
    val mem = new SparkMemoryPeak
    val s0 = Host.stealSeconds()
    val g0 = Host.gcSeconds()
    val c0 = Host.cpuSeconds()
    val t0 = System.nanoTime()
    val r = op
    val wall = (System.nanoTime() - t0) / 1e9
    mem.close()
    (r, Sample(wall, Host.cpuSeconds() - c0, mem.mb,
      Host.gcSeconds() - g0, Host.stealSeconds() - s0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of no values")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
