package snapbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** JVM-wide counters read at cycle boundaries. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val freed = new AtomicLong()
  private val notified = new AtomicLong()
  @volatile private var installed = false
  @volatile private var baseCollections = 0L

  /** Counts the bytes every collection frees, so that bytes allocated
    * between two points = heap growth + bytes freed in between. */
  def install(): Unit = synchronized {
    if (!installed) {
      val listener = new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
            val before = info.getMemoryUsageBeforeGc.asScala
            val after = info.getMemoryUsageAfterGc.asScala
            val f = before.collect { case (pool, b) if heapPools(pool) =>
              math.max(0L, b.getUsed - after.get(pool).map(_.getUsed).getOrElse(0L))
            }.sum
            freed.addAndGet(f)
            notified.incrementAndGet()
          }
      }
      gcBeans.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
      baseCollections = collections
      installed = true
    }
  }

  private def collections: Long = gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum

  /** Bytes allocated since the JVM started (as far as [[install]] saw).
    * Waits briefly for the notifications of finished collections. */
  def allocated(): Long = {
    val deadline = System.nanoTime() + 500000000L
    while (notified.get() < collections - baseCollections && System.nanoTime() < deadline) Thread.sleep(2)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed + freed.get()
  }

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  /** Whole-stage and expression classes Spark compiled (codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A fixed single-thread integer loop; its time tracks host speed. */
  def hostLoop(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + i; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) CPU ticks of the whole host from `/proc/stat`: time
    * the hypervisor gave this machine's CPUs to another guest. (0, 0)
    * where the file does not exist. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** JVM start on the `System.nanoTime` axis. */
  def startNs: Long = {
    val uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - uptimeMs * 1000000L
  }
}
