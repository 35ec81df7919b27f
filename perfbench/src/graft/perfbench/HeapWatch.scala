package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** Peak heap in use right after a collection: the after-GC usage that
  * `GcInfo` reports, summed over the heap pools. */
object HeapWatch {

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  @volatile private var peak = 0L
  @volatile private var collections = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.synchronized { peak = math.max(peak, used); collections += 1 }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L; collections = 0L }

  /** Peak after-GC heap in MB since the last reset, and the number of
    * collections it was taken over. */
  def peakMb: (Double, Long) = synchronized { (peak / 1e6, collections) }

  /** Heap in use, in MB, right after a full collection run now. Each
    * collection enqueues unreachable RDDs and broadcasts for Spark's
    * asynchronous context cleaner, which then drops their blocks, so
    * collections repeat until the figure settles. */
  def liveAfterFullGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
        case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null => b.getLastGcInfo
      }.maxBy(_.getEndTime)
      last.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
    }
    var prev = collect()
    var settled = false
    var tries = 0
    while (!settled && tries < 5) {
      Thread.sleep(500)
      val now = collect()
      settled = math.abs(now - prev) < 1.0
      prev = now
      tries += 1
    }
    prev
  }
}
