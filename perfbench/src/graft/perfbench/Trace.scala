package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed boundary around a call into the program. `parent` is the
  * id of the enclosing span (-1 at the root); every span of one run
  * shares `run`.
  */
final case class Span(id: Int, parent: Int, name: String, run: String, startNs: Long) {
  var endNs: Long = -1L
}

/** Task-metric totals of the jobs run under one span's job group. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_s" -> taskMs / 1000.0,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes)
}

/** Attributes every job to the job group that was current when it was
  * submitted, and sums its tasks' metrics per group. A SQL execution
  * belongs to the group of its jobs; its latest (adaptive) plan gives
  * the group's shuffle Exchange count. Listener events arrive on
  * Spark's single bus thread; read the results only after
  * [[org.apache.spark.PerfbenchBus.drain]].
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val executionGroup = mutable.HashMap.empty[Long, String]
  private val plans = mutable.HashMap.empty[Long, SparkPlanInfo]
  val totals: mutable.HashMap[String, GroupTotals] = mutable.HashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionGroup(id.toLong) = g)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
    case _ =>
  }

  def exchangesByGroup: Map[String, Int] = {
    def count(p: SparkPlanInfo): Int =
      (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(count).sum
    executionGroup.toSeq
      .flatMap { case (id, g) => plans.get(id).map(g -> count(_)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
}

/** In-memory span recorder. While `on`, [[span]] records a span and
  * runs its body under a job group named after the span, so the
  * [[GroupListener]] can attribute Spark work to it; while off it
  * runs the body untouched. Spans are only written out at exit.
  */
final class Tracer(sc: SparkContext, run: String) {
  var on = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, run, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-$spanId"
}

/** JVM-wide counters: cumulative GC time and peak heap since the last
  * [[reset]].
  */
object JvmStats {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private var gcBase = 0L

  def reset(): Unit = {
    gcBase = gcMs
    heapPools.foreach(_.resetPeakUsage())
  }

  def gcSeconds: Double = (gcMs - gcBase) / 1000.0

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
