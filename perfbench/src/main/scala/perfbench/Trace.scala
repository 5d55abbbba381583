package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution: span
  * times and Spark listener event times (epoch ms) share this axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call. `parent` is -1 for a top-level span; `op` names the
  * operation the span belongs to (e.g. `put#3`).
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double]) {
  def ms: Double = end - start
}

/** In-memory span recorder. Nesting follows the calling thread; each span
  * also becomes the Spark job group of its thread while it is open, so a
  * job started by a direct call is attributed to the innermost span that
  * started it. Disabled, it runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nextId = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private val attrs = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(-1)
      val theOp = if (op.nonEmpty) op else outer.headOption.map(_._2).getOrElse("")
      stack.set((id, theOp) :: outer)
      sc.setJobGroup(s"span-$id", name)
      val start = Clock.ms()
      try body
      finally {
        val end = Clock.ms()
        stack.set(outer)
        outer.headOption match {
          case Some((p, _)) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
        val a = Option(attrs.remove(id)).map(_.toMap).getOrElse(Map.empty)
        done.add(Span(id, name, parent, theOp, start, end, a))
      }
    }

  /** Attach a number to the innermost open span of this thread. */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.get().headOption.foreach { case (id, _) =>
      attrs.computeIfAbsent(id, _ => mutable.Map.empty)(key) = value
    }

  /** Record a span whose bounds were found after the fact (e.g. from
    * listener job times), under an existing parent.
    */
  def add(name: String, parent: Span, start: Double, end: Double): Unit =
    done.add(Span(nextId.getAndIncrement(), name, parent.id, parent.op,
      start, end, Map.empty))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Per-job Spark scheduler and executor counters. */
final class JobRec(val id: Int, val group: String, val submit: Double) {
  @volatile var end: Double = Double.NaN
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var cpuMs = 0.0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Listener that keeps one [[JobRec]] per job. Listener callbacks run on
  * Spark's single listener-bus thread; readers call [[drain]] first.
  */
final class JobCounters(sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time.toDouble)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages +=
      e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuMs += m.executorCpuTime / 1e6
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }

  def drain(): Unit = org.apache.spark.perfbenchshim.Drain(sc)

  def all: Seq[JobRec] = { drain(); jobs.values.asScala.toSeq.sortBy(_.id) }
}

/** JVM-wide garbage collection time and the peak heap in use right after
  * a collection (the live set).
  */
object JvmCounters {
  private val peakAfterGc = new AtomicLong(0L)
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      val listener: NotificationListener = (n, _) =>
        if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, math.max)
        }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
        case _ => ()
      }
    }
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapAfterGcPeakMb(): Double = peakAfterGc.get() / 1048576.0
}
