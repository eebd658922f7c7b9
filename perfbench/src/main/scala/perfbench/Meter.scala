package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.types.ObjectType
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.HtmlCssCount
import graft.pipeline.ParsedDoc

/** Task-level record kept for percentiles and skew. */
final case class TaskRec(stage: Int, durMs: Long)

/** What the Spark runtime did during one pass, read from listener events. */
final case class PassStats(
    jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    busyS: Double, cpuS: Double, gcS: Double, schedDelayS: Double,
    jobWallS: Double, shuffleWriteB: Long, shuffleReadB: Long, spillB: Long,
    peakExecMemB: Long, peakStorageB: Long, peakRddB: Long,
    taskRecs: Seq[TaskRec], jobsByGroup: Map[String, Int],
    busyByGroup: Map[String, Double], parses: Long, texts: Long, selects: Long)

/** The benchmark's `SparkListener`. It reads, in the same pass and without
  * extra jobs, everything the `spark.*` metrics need: jobs, stages, tasks,
  * busy/CPU/GC time, shuffle and spill bytes, and the block-manager storage
  * held. Jobs are attributed to the job group the [[Tracer]] sets around
  * each layer call. Its query-execution half counts the rows that enter a
  * kernel entry point (an HTML parse) in every executed plan.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  // block id -> bytes currently held (memory + disk), over the whole run
  private val held = mutable.HashMap.empty[String, Long]
  // per-pass state, reset by begin()
  private val passBlocks = mutable.HashSet.empty[String]
  private var passHeld, passPeak, rddHeld, rddPeak = 0L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobsByGroup = mutable.HashMap.empty[String, Int]
  private val busyByGroup = mutable.HashMap.empty[String, Double]
  private val stagesSeen = mutable.HashSet.empty[Int]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var failedTasks = 0
  private var runMs, cpuNs, gcMs, delayMs = 0L
  private var shW, shR, spill, peakExec = 0L
  private var parses, texts, selects = 0L

  /** Starts a pass, after the events of everything before it are in. */
  def begin(sc: SparkContext): Unit = {
    BenchBus.drain(sc)
    reset()
  }

  private def reset(): Unit = lock.synchronized {
    passBlocks.clear(); passHeld = 0; passPeak = 0; rddHeld = 0; rddPeak = 0
    jobStart.clear(); jobIntervals.clear(); stageGroup.clear()
    jobsByGroup.clear(); busyByGroup.clear(); stagesSeen.clear(); tasks.clear()
    failedTasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; delayMs = 0
    shW = 0; shR = 0; spill = 0; peakExec = 0; parses = 0; texts = 0; selects = 0
  }

  /** Waits for the listener bus to deliver the pass's events, then reads. */
  def end(sc: SparkContext): PassStats = {
    BenchBus.drain(sc)
    lock.synchronized {
      PassStats(jobIntervals.size, stagesSeen.size, tasks.size, failedTasks,
        runMs / 1e3, cpuNs / 1e9, gcMs / 1e3, delayMs / 1e3, unionSeconds(jobIntervals.toSeq),
        shW, shR, spill, peakExec, passPeak, rddPeak, tasks.toList,
        jobsByGroup.toMap, busyByGroup.toMap, parses, texts, selects)
    }
  }

  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stagesSeen += e.stageId
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += TaskRec(e.stageId, info.duration)
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.diskBytesSpilled
      peakExec = math.max(peakExec, m.peakExecutionMemory)
      val g = stageGroup.getOrElse(e.stageId, "none")
      busyByGroup(g) = busyByGroup.getOrElse(g, 0.0) + m.executorRunTime / 1e3
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val i = e.blockUpdatedInfo
    val id = i.blockId.name
    val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    val old = held.getOrElse(id, 0L)
    if (now == 0) held.remove(id) else held(id) = now
    val rdd = id.startsWith("rdd_")
    if (passBlocks.contains(id)) {
      passHeld += now - old
      if (rdd) rddHeld += now - old
    } else if (old == 0 && now > 0) {
      passBlocks += id
      passHeld += now
      if (rdd) rddHeld += now
    }
    passPeak = math.max(passPeak, passHeld)
    rddPeak = math.max(rddPeak, rddHeld)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val k = KernelCalls.count(qe.executedPlan)
    lock.synchronized { parses += k.parses; texts += k.texts; selects += k.selects }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Kernel calls in one executed plan. */
final case class KernelCallCount(parses: Long, texts: Long, selects: Long)

/** Counts, in an executed plan, the rows that reach a kernel entry point:
  * the typed `mapPartitions` of `ExtractJob`/`PageMeta` (one parse per row;
  * `ExtractJob.run`, the one that emits `ParsedDoc`, also runs
  * `structuredText`; `PageMeta` also selects) and the `css_count`
  * expression or an `HtmlFunctions` UDF (one parse and one select per row).
  * The row count is the `numOutputRows` SQL metric of the nearest operator
  * below.
  */
object KernelCalls extends AdaptiveSparkPlanHelper {
  private def inputRows(p: SparkPlan): Long = p match {
    case q: QueryStageExec => inputRows(q.plan)
    case _ =>
      p.metrics.get("numOutputRows").map(_.value)
        .getOrElse(if (p.children.size == 1) inputRows(p.children.head) else 0L)
  }

  private def isKernelUdf(u: ScalaUDF): Boolean =
    u.function.getClass.getName.startsWith("graft.functions.HtmlFunctions")

  private val ParsedDocType = ObjectType(classOf[ParsedDoc])

  def count(plan: SparkPlan): KernelCallCount = {
    var parses = 0L
    var texts = 0L
    var selects = 0L
    foreach(plan) {
      case m: MapPartitionsExec =>
        val owner = m.func.getClass.getName
        if (owner.startsWith("graft.pipeline.ExtractJob")) {
          val n = inputRows(m.child)
          parses += n
          if (m.outputObjAttr.dataType == ParsedDocType) texts += n
        } else if (owner.startsWith("graft.ops.PageMeta")) {
          val n = inputRows(m.child); parses += n; selects += n
        }
      case p if p.children.size == 1 =>
        val k = p.expressions.map(_.collect {
          case _: HtmlCssCount => 1
          case u: ScalaUDF if isKernelUdf(u) => 1
        }.sum).sum
        if (k > 0) {
          val n = k * inputRows(p.children.head); parses += n; selects += n
        }
      case _ =>
    }
    KernelCallCount(parses, texts, selects)
  }
}

final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent span and the pass they belong to. Kept in memory and written out
  * at the end of the run. While a span is open its name is the Spark job
  * group, so the [[Meter]] attributes the jobs it causes to that layer.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  var pass = -1
  private var open = List.empty[(Int, String)]

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.length
      spans += null // reserve the id; filled on close
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = Span(id, parent, pass, name, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((_, n)) => sc.setJobGroup(n, n, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Per span name: total duration and self time (minus child spans). */
  def selfTimes(passId: Int): Map[String, (Double, Double)] = {
    val mine = spans.filter(s => s != null && s.pass == passId)
    val childNs = mine.groupBy(_.parent).map { case (p, cs) => (p, cs.map(c => c.endNs - c.startNs).sum) }
    mine.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      (n, (total / 1e9, self / 1e9))
    }
  }
}
