package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import java.util.concurrent.atomic.AtomicLong
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

object Stats {
  /** Nearest-rank quantile, q in (0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it (capped at
    * p95), as (percent, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 20) None
    else {
      val pct = math.min(95, math.floor(100.0 * (xs.length - 10) / xs.length).toInt)
      Some(pct -> quantile(xs, pct / 100.0))
    }
}

/** Heap of the driver JVM (which, at `local[n]`, also runs every task)
  * over a window. [[reset]] opens the window with forced full
  * collections, so garbage left from before it (set-up, warm-up) is gone;
  * [[close]] ends it with more. Occupancy before a collection mostly
  * measures how large the collector let the young generation grow, so
  * both figures are occupancies right after a collection. */
object HeapMeter {
  /** `liveMb`: what the program still holds after the closing full
    * collections. `peakMb`: the largest occupancy after any collection in
    * the window, both forced ones included; it depends on which moments
    * the window's few collections happen to catch. */
  final case class Window(liveMb: Double, peakMb: Double)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  @volatile private var lastForced = 0L
  /** Forced collections whose notification has arrived. */
  private val forced = new AtomicLong

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          if (used > peak) peak = used
          if (info.getGcCause == "System.gc()") {
            lastForced = used
            forced.incrementAndGet()
          }
        }, null, null)
    case _ =>
  }

  /** A full collection, and its notification: notifications arrive in
    * order, so every earlier collection's has arrived too. */
  private def collect(): Unit = {
    val seen = forced.get
    System.gc()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (forced.get == seen && System.nanoTime() < deadline) Thread.sleep(1)
    require(forced.get > seen, "no notification of a forced collection within 10 s")
  }

  /** Two full collections half a second apart. Spark's ContextCleaner
    * frees the broadcast and cached blocks whose handles the first one
    * found unreachable, so the second counts only what the program holds
    * (a single one read up to 50 MB higher, on some runs only). */
  private def settle(): Unit = {
    collect()
    Thread.sleep(500)
    collect()
  }

  def reset(): Unit = {
    settle()
    peak = lastForced
  }

  def close(): Window = {
    settle()
    Window(lastForced / (1024.0 * 1024.0), peak / (1024.0 * 1024.0))
  }
}
