package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary, on the driver's nanoTime clock.
  * `layer` is `client` (the operation itself), a module name followed by
  * the call (`operators.build`, `sources.commit_merge`, `plans.plan`,
  * `exec.run`), or `exec.job` / `exec.stage` for Spark's own work. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans of one run, held in memory until the run ends. When disabled,
  * `span` only runs its body. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, layer, t0, t1)
      }
    }

  /** Runs one client operation as the root span of operation `opId`. */
  def operation[T](opId: Int)(body: => T): T = {
    op = opId
    span("client")(body)
  }

  /** Attaches Spark job and stage intervals seen during operation `opId`:
    * a job's parent is the innermost driver span open when it started. */
  def attach(opId: Int, jobs: Seq[(Long, Long, Seq[(Long, Long)])]): Unit = {
    val mine = spans.filter(s => s.op == opId && s.layer != "exec.job" &&
      s.layer != "exec.stage")
    jobs.foreach { case (js, je, stages) =>
      val parent = mine.filter(s => s.start <= js && js <= s.end)
        .sortBy(s => -s.start).headOption.map(_.id).getOrElse(-1)
      val jobId = nextId
      nextId += 1
      spans += Span(jobId, parent, opId, "exec.job", js, je)
      stages.foreach { case (ss, se) =>
        spans += Span(nextId, jobId, opId, "exec.stage", ss, se)
        nextId += 1
      }
    }
  }

  /** Self time per span layer: duration minus the union of the
    * intervals its child spans cover. */
  def selfTimeByLayer: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.layer -> math.max(0L, s.dur - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Counts summed over whatever ran since the last `harvest`. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskNs, cpuNs, gcNs, fetchWaitNs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputRows, inputBytes, scanFiles = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Seq[(Long, Long)])]
}

/** Listens to the scheduler and to finished query executions; counts go
  * into the current [[Counters]] until `harvest` swaps in a fresh one.
  * Callers drain the listener bus before harvesting. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  // epoch milliseconds -> driver nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs
  private var cur = new Counters
  private val jobStages = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageTimes = mutable.Map.empty[Int, (Long, Long)]

  def harvest(): Counters = synchronized {
    val c = cur
    cur = new Counters
    jobStages.clear()
    stageTimes.clear()
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStages(e.jobId) = (ns(e.time), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (start, ids) =>
      val stages = ids.flatMap(stageTimes.get)
      cur.jobSpans += ((start, ns(e.time), stages))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    cur.stages += 1
    cur.tasks += info.numTasks
    for (s <- info.submissionTime; c <- info.completionTime)
      stageTimes(info.stageId) = (ns(s), ns(c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cur.taskNs += m.executorRunTime * 1000000L
      cur.cpuNs += m.executorCpuTime
      cur.gcNs += m.jvmGCTime * 1000000L
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitNs += m.shuffleReadMetrics.fetchWaitTime * 1000000L
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.inputRows += m.inputMetrics.recordsRead
      cur.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val files = Plans.walk(qe.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    synchronized { cur.scanFiles += files }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The most heap the driver JVM held after any garbage collection since
  * the last `reset`, from the collectors' notifications: the heap a run
  * needs at least, transient growth inside an operation included when a
  * collection fell inside it. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var peak = 0L
  private var seen = 0L

  collectors.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }
  private val before = collections

  def reset(): Unit = { settle(); synchronized { peak = 0L } }

  def peakMb: Double = { settle(); synchronized(peak / 1048576.0) }

  /** Notifications arrive on another thread: waits, up to two seconds,
    * until every collection so far has been seen. */
  private def settle(): Unit = {
    val due = collections - before
    val deadline = System.nanoTime() + 2000000000L
    while (synchronized(seen) < due && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def collections: Long = collectors.map(_.getCollectionCount).filter(_ > 0).sum

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); seen += 1 }
    }
}

/** Static shape of a physical plan. */
object Plans {
  def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(walk)
  }

  private def wrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec |
        _: WholeStageCodegenExec | _: InputAdapter => true
    case _ => false
  }

  /** (operators, exchanges, operators holding an interpreted
    * `CodegenFallback` expression — such operators stay out of
    * whole-stage code generation). */
  def shape(plan: SparkPlan): (Int, Int, Int) = {
    val ops = walk(plan).filterNot(wrapper).toSeq
    val exchanges = ops.count(_.isInstanceOf[Exchange])
    val interpreted = ops.count(_.expressions.exists(
      _.find(_.isInstanceOf[CodegenFallback]).isDefined))
    (ops.size, exchanges, interpreted)
  }
}
