package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{ListenerBusDrain, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over the jobs of one job group. */
final class Counters {
  var execCpuNs = 0L; var gcMs = 0L; var taskWaitMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var output = 0L
  var jobs = 0L; var tasks = 0L; var failedTasks = 0L

  def add(o: Counters): Unit = {
    execCpuNs += o.execCpuNs; gcMs += o.gcMs; taskWaitMs += o.taskWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
  }

  def fields: Seq[(String, Double)] = Seq(
    "exec_cpu_s" -> execCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "task_wait_s" -> taskWaitMs / 1e3,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
    "output_bytes" -> output.toDouble, "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble)
}

/** Attributes task metrics to the job group that was set when each job
  * started. Spans set one group each, so a group's counters are the
  * span's own (self) work. */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()
  private val groups = new ConcurrentHashMap[String, Counters]()

  private def of(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g); c.synchronized { c.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    val submitted = stageSubmit.getOrDefault((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      if (m != null) {
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Sum of the counters of every group accepted by `keep`, after all
    * queued events are delivered. */
  def total(sc: SparkContext)(keep: String => Boolean): Counters = {
    ListenerBusDrain(sc)
    val t = new Counters
    groups.asScala.foreach { case (g, c) => if (keep(g)) c.synchronized(t.add(c)) }
    t
  }
}

/** Counts the file scans of one input file in every executed query,
  * failed ones included: how often a pass re-runs a lineage. */
final class ScanCounter(fileName: String) extends QueryExecutionListener {
  @volatile var scans = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case w: DataWritingCommandExec => nodes(w.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def count(qe: QueryExecution): Unit = {
    val n = nodes(qe.executedPlan).count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == fileName)
      case _ => false
    }
    synchronized { scans += n }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = count(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = count(qe)
}

/** One traced interval: a call from the harness into the engine. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long)

/** Records nested spans in memory; each span runs under its own job
  * group so the listener's counters split by span. */
final class Tracer(sc: SparkContext, runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = 0

  def group(id: Int): String = s"$runId/$id"

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, pass, t0, t1)
    }
  }
}
