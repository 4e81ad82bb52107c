package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side counters of one op phase ("b" = plan construction,
  * "a" = the timed action), filled by [[Probe]] from listener events.
  */
final class PhaseStats {
  var jobs, stages, tasks                  = 0L
  var taskCpuNs, gcMs, shufW, shufR, spill = 0L
  val intervals = ArrayBuffer.empty[(Long, Long)]  // stage submit/complete, epoch ms
  val taskMs    = ArrayBuffer.empty[Array[Long]]   // per completed stage: task run times
}

/** Catalyst phase times of every QueryExecution an op ran. */
final class CatalystStats {
  var analysisMs, optimizationMs, planningMs = 0L
  val executions = ArrayBuffer.empty[QueryExecution]
}

/** Listener-side instrument, attached from outside the engine.
  *
  * Jobs are attributed to an op phase through the `perfbench.phase` local
  * property the benchmark loop sets before each phase; Spark copies local
  * properties into every job (also into the engine's plan-building threads, which
  * inherit them), so attribution does not depend on event timing. Query
  * executions carry no properties, so they go to [[current]], which is only
  * switched after the listener bus has drained.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false
  @volatile var current: String = ""

  val phases    = new ConcurrentHashMap[String, PhaseStats]()
  val catalyst  = new ConcurrentHashMap[String, CatalystStats]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  private def stats(tag: String) = phases.computeIfAbsent(tag, _ => new PhaseStats)

  // Block-manager storage: RDD blocks (pins, caches) in use, plus the
  // broadcast blocks the current op stored. Broadcasts leave the store only
  // when the Spark driver's GC lets the ContextCleaner drop them, so counting their
  // removals would make the peak depend on GC timing; pins are freed
  // explicitly and are counted in use.
  private val rddBlocks     = new java.util.HashMap[String, java.lang.Long]()
  private val opBroadcasts  = new java.util.HashSet[String]()
  private var rddBytes, opBroadcastBytes = 0L
  @volatile var storagePeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val name = info.blockId.name
    if (info.blockId.isRDD) {
      val old = Option(rddBlocks.remove(name)).map(_.longValue).getOrElse(0L)
      if (size > 0) rddBlocks.put(name, size)
      rddBytes += size - old
    } else if (info.blockId.isBroadcast && size > 0 && opBroadcasts.add(name)) opBroadcastBytes += size
    if (!checking) storagePeak = math.max(storagePeak, rddBytes + opBroadcastBytes)
  }

  /** Start counting a new op's broadcasts (call after the bus has drained). */
  def newOp(): Unit = synchronized { opBroadcasts.clear(); opBroadcastBytes = 0L }

  /** While set, the untimed output checks run: their blocks are not peaks. */
  @volatile var checking = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("")
    val s = stats(tag)
    s.synchronized(s.jobs += 1)
    e.stageIds.foreach(stagePhase.put(_, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
    val tag = stagePhase.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val s = stats(tag)
      s.synchronized {
        s.tasks += 1
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
        .synchronized(stageTasks.get(e.stageId) += m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
    val info = e.stageInfo
    val tag = stagePhase.get(info.stageId)
    if (tag != null) {
      val s = stats(tag)
      val times = Option(stageTasks.remove(info.stageId)).map(_.toArray).getOrElse(Array.empty[Long])
      s.synchronized {
        s.stages += 1
        for (a <- info.submissionTime; b <- info.completionTime) s.intervals += ((a, b))
        s.taskMs += times
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val c = catalyst.computeIfAbsent(current, _ => new CatalystStats)
    val ph = qe.tracker.phases
    c.synchronized {
      if (tracing) {
        c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
      c.executions += qe
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Union length of [start, end] intervals, in the intervals' unit. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end   = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** One traced layer call. Spans stay in memory and are written at exit. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: String)

final class Tracer {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  /** Time `f`; record a span when tracing. Returns the value and seconds. */
  def span[T](name: String, op: String)(f: => T): (T, Double) = {
    val idx = if (on) { spans += Span(name, 0L, 0L, stack.headOption.getOrElse(-1), op); spans.length - 1 } else -1
    if (idx >= 0) stack = idx :: stack
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (idx >= 0) {
        spans(idx) = spans(idx).copy(startNs = t0, endNs = t1)
        stack = stack.tail
      }
    }
  }

  /** Self time per span name: own duration minus its children's, seconds. */
  def selfSeconds: Map[String, Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).endNs - spans(i).startNs - child(i)).sum / 1e9
    }
  }
}
