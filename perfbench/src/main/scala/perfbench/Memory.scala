package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak memory the program holds while one pass runs: the largest heap
  * occupancy left after any garbage collection in the pass, plus the
  * JVM's non-heap use (metaspace, code cache) at its end. Unlike the
  * resident set, it does not follow the heap size the collector chooses
  * to commit. */
final class Memory {

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakHeap = 0L

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakHeap = math.max(peakHeap, used) }
    }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Starts a new pass: forgets the peak seen so far. */
  def reset(): Unit = synchronized { peakHeap = 0L }

  /** The pass's peak heap after GC plus current non-heap use, in MiB. */
  def peakMb: Double = {
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    val heap = synchronized(peakHeap)
    (heap + nonHeap) / (1024.0 * 1024.0)
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
