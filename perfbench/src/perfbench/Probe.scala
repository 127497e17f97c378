package perfbench

import java.lang.management.{ManagementFactory, MemoryPoolMXBean}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task counters attributed to one span (the innermost span that was open
  * when the job was submitted). */
final class Counters {
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var jobs = 0
  def +=(o: Counters): Unit = {
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    jobs += o.jobs
  }
}

/** Job-level listener: task CPU, shuffle bytes written, spill and job counts
  * per span. Spans are keyed by
  * the `perfbench.span` local property, which Spark copies into each job's
  * properties. */
final class TaskListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()

  private def counters(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    counters(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageSpan.getOrDefault(e.stageId, -1))
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def spanCounters(span: Int): Counters =
    Option(bySpan.get(span)).getOrElse(new Counters)

}

object TaskListener {
  val SpanKey = "perfbench.span"
}

/** Old-generation heap after each GC, from the JVM's GC notifications; the
  * peak is resettable per operation. */
final class HeapProbe {
  private val oldPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.map(_.getName)
    .filter(n => n.contains("Old Gen") || n.contains("Tenured")).toSet
  @volatile private var peak = 0L

  private def oldUsed(p: MemoryPoolMXBean): Long =
    Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (k, u) if oldPools(k) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Full GC, then restart the peak from the live old generation. */
  def reset(): Unit = {
    System.gc()
    synchronized {
      peak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => oldPools(p.getName)).map(oldUsed).sum
    }
  }
  def peakBytes: Long = peak
}

/** Bytes allocated by every JVM thread since the last reset — in local mode
  * the executors' task threads live in this JVM too. Threads that end
  * between reset and read are not counted. */
final class AllocProbe {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private var base = Map.empty[Long, Long]

  private def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }
  def reset(): Unit = base = snapshot()
  def allocatedBytes: Long =
    snapshot().map { case (id, b) => b - base.getOrElse(id, 0L) }.sum
}

/** Peak block-manager storage memory, sampled every 5 ms by a daemon
  * thread; the peak restarts from the current value on reset. */
final class StorageSampler {
  @volatile private var peak = 0L
  private val thread = new Thread("perfbench-storage-sampler") {
    override def run(): Unit = while (true) {
      val now = PerfbenchBus.storageMemoryUsed
      if (now > peak) peak = now
      Thread.sleep(5)
    }
  }
  thread.setDaemon(true)
  thread.start()

  def reset(): Unit = peak = PerfbenchBus.storageMemoryUsed
  def peakBytes: Long = math.max(peak, PerfbenchBus.storageMemoryUsed)
}

/** Memory probe around one operation (a job, a suite pass or one query):
  * peak storage and heap while it ran, bytes allocated, the persisted-RDD
  * and cached-plan bytes it left behind, and a release of those leftovers
  * so the next operation starts from the same state. */
final class Probe(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val heap = new HeapProbe
  private val storage = new StorageSampler
  private val alloc = new AllocProbe

  def drain(): Unit = PerfbenchBus.drain(sc)

  def arm(): Unit = {
    drain()
    heap.reset()
    storage.reset()
    alloc.reset()
  }

  /** Bytes of persisted RDDs (cached plans included) still registered. */
  def heldBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Unpersist every leftover RDD and cached plan. */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    drain()
  }

  def storagePeakBytes: Long = storage.peakBytes
  def heapPeakBytes: Long = heap.peakBytes
  def allocatedBytes: Long = alloc.allocatedBytes
}
