package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Heap footprint of the run, measured on live data rather than on
  * the resident set size, which depends on how far the collector let
  * the heap grow: the largest occupancy left after any collection, and
  * the occupancy left after a full collection at the end.
  */
object HeapWatch {
  @volatile private var peakBytes = 0L

  def start(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
                .map(_.getUsed).sum
              synchronized { if (used > peakBytes) peakBytes = used }
            }
        }, null, null)
      case _ =>
    }

  def peakMb: Double = peakBytes / 1048576.0

  /** Heap still in use after a full collection: what the engine keeps
    * once the work is done (cached blocks, broadcasts, bookkeeping). */
  def retainedMb(): Double =
    // Spark frees shuffle, broadcast and checkpoint state from its
    // cleaner thread once a collection has found their handles dead;
    // collect again after it has had time to run
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}
