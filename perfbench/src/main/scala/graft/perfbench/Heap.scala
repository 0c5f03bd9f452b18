package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak old-generation occupancy right after a garbage collection: the heap
  * the run's live data needs, read from every collection's GC notification
  * (young ones included, so it does not depend on when a full GC happens).
  */
object Heap {
  @volatile private var peak = 0L
  private var installed = false

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val listener = new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
            if (old > peak) peak = old
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ =>
      }
    }
  }

  def reset(): Unit = peak = 0L

  def peakMb: Double = peak / 1048576.0
}
