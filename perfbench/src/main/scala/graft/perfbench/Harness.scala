package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftEngine

/** Everything a scenario needs: the live session, the engine facade,
  * the run's directories and the tracer.
  */
final class Ctx(val spark: SparkSession, val engine: GraftEngine,
    val work: String, val tracer: Tracer, val seed: Long, val cores: Int) {
  def dataDir: String = engine.dataDir
  def inputs: String = s"$work/inputs"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One timed operation: a whole flow run for batch workloads, one
  * request for closed loops.
  */
final case class Op(kind: String, write: Boolean, startNs: Long, endNs: Long,
    ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What a timed phase hands back: its operations, the failures found by
  * the output checks, and the workload's own quality numbers.
  */
final class PhaseResult {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  def fail(msg: String): Unit = synchronized { checkFailures += msg }
  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)
}

trait Scenario {
  /** Builds the workload's artefacts; timed as set-up. */
  def setup(ctx: Ctx): Unit = ()
  /** Untimed, between set-up and the timed phase. */
  def warmup(ctx: Ctx, res: PhaseResult): Unit = ()
  /** The timed phase: run until `deadlineNs`. */
  def run(ctx: Ctx, deadlineNs: Long, res: PhaseResult): Unit
  /** Output checks, outside the timed region. */
  def check(ctx: Ctx, res: PhaseResult): Unit
  /** Client threads of the timed phase (for the trace accounting). */
  def clients: Int = 1
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the listed percentiles with at least ten samples
    * above it: (percentile, value). None when fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}

/** Heap in use right after each GC, and storage memory in use, while
  * armed. A forced full GC at disarm guarantees at least one heap
  * sample, and gives the heap the timed phase left live.
  */
final class MemWatch(spark: SparkSession) {
  @volatile private var armed = false
  @volatile var peakHeapBytes = 0L
  @volatile var peakStorageBytes = 0L
  @volatile var heapAfterBytes = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = n.getUserData.asInstanceOf[CompositeData]
        val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
        val after = gcInfo.get("memoryUsageAfterGc")
          .asInstanceOf[javax.management.openmbean.TabularData]
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val used = after.values().asScala.map(_.asInstanceOf[CompositeData])
          .filter(e => heapPools(e.get("key").asInstanceOf[String]))
          .map(e => e.get("value").asInstanceOf[CompositeData]
            .get("used").asInstanceOf[Long]).sum
        if (used > peakHeapBytes) peakHeapBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  private def storageUsed(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum

  @volatile private var open = true
  private val sampler = new Thread(() => {
    while (open) {
      if (armed) peakStorageBytes = math.max(peakStorageBytes, storageUsed())
      Thread.sleep(100)
    }
  })
  sampler.setDaemon(true)
  sampler.start()

  def arm(): Unit = { peakHeapBytes = 0L; peakStorageBytes = 0L; armed = true }
  def disarm(): Unit = {
    System.gc()
    Thread.sleep(50)
    heapAfterBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakStorageBytes = math.max(peakStorageBytes, storageUsed())
    armed = false
  }
  def close(): Unit = {
    open = false
    sampler.join()
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        try e.removeNotificationListener(listener) catch { case _: Exception => () }
      case _ => ()
    }
  }
}

object Files {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
  }
  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
  }
  def countFiles(path: String, suffix: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else java.nio.file.Files.walk(p).iterator().asScala
      .count(f => f.getFileName.toString.endsWith(suffix)).toLong
  }
}
