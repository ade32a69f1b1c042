package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op accounting of Spark listener events, keyed by job group.
  *
  * Every op runs under its own `SparkContext.setJobGroup`; job, stage and
  * task events are attributed through the group carried in the job's
  * properties, and SQL executions through the group in
  * `SparkListenerSQLExecutionStart`. Catalyst phases come from the
  * `QueryExecutionListener` callback, which the session's execution
  * listener bus makes from the shared listener queue while it delivers
  * `SparkListenerSQLExecutionEnd`, just before this listener (registered
  * later on the same queue) receives that event: the callback's
  * `QueryExecution` is paired with the execution id of the end event that
  * follows it. Events arrive on the listener bus after the action has
  * returned, so [[Ledger.settle]] waits for a barrier job to pass through
  * the bus before an op's record is read.
  */
final class Ledger(benchFiles: Set[String]) extends SparkListener with QueryExecutionListener {
  import Ledger._

  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  // the QueryExecution of the end event being delivered on the queue
  private val reported = new AtomicReference[QueryExecution]()
  private val jobsEnded = ConcurrentHashMap.newKeySet[Int]()

  def group(id: String): Group = groups.computeIfAbsent(id, _ => new Group)
  def forget(id: String): Unit = groups.remove(id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop("spark.jobGroup.id").foreach { gid =>
      e.stageIds.foreach(s => stageGroup.put(s, gid))
      // a job's call site is that of the SQL action it runs for (the root
      // execution's description, "collect at Workloads.scala:41"), else
      // that of its result stage, which is created last
      val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      val site = exec.flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      val eager = !benchFiles.exists(f => site.contains(s" at $f:"))
      group(gid).synchronized {
        group(gid).jobs(e.jobId) = JobRec(e.time, -1L, site, eager)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    groups.values().asScala.foreach { g =>
      g.synchronized { g.jobs.get(e.jobId).foreach(j => g.jobs(e.jobId) = j.copy(end = e.time)) }
    }
    jobsEnded.add(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { gid =>
      val g = group(gid); g.synchronized { g.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { gid =>
      val g = group(gid)
      val m = e.taskMetrics
      g.synchronized {
        g.tasks += 1
        if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) g.taskRetries += 1
        if (m != null) {
          g.taskRunMs += m.executorRunTime
          g.taskCpuNs += m.executorCpuTime
          g.taskGcMs += m.jvmGCTime
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          g.inputBytes += m.inputMetrics.bytesRead
          g.peakExecMem = math.max(g.peakExecMem, m.peakExecutionMemory)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.description)
      s.jobGroupId.foreach { gid =>
        execGroup.put(s.executionId, gid)
        val g = group(gid)
        g.synchronized { g.executions += s.executionId }
      }
    case end: SparkListenerSQLExecutionEnd =>
      val qe = reported.getAndSet(null)
      if (qe != null) Option(execGroup.get(end.executionId)).foreach { gid =>
        val spans = qe.tracker.phases.toSeq.collect {
          case (phase, s) if Seq("analysis", "optimization", "planning").contains(phase) =>
            Span(s"catalyst.$phase", s.startTimeMs, s.endTimeMs)
        }
        val g = group(gid)
        g.synchronized { g.phases ++= spans; g.phasedExecs += end.executionId }
      }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = reported.set(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = reported.set(qe)

  /** Block until every listener event of the ops run so far has been
    * delivered: a one-task barrier job is queued behind them, and its
    * job-end event arrives only after theirs.
    */
  def settle(sc: org.apache.spark.SparkContext, gid: String): Unit = {
    sc.setJobGroup(Barrier, null, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    def delivered: Boolean = {
      val b = group(Barrier)
      val g = group(gid)
      b.synchronized(b.jobs.nonEmpty && b.jobs.keySet.forall(jobsEnded.contains)) &&
        g.synchronized(g.jobs.values.forall(_.end >= 0))
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!delivered && System.currentTimeMillis() < deadline) Thread.sleep(1)
    if (!delivered) System.err.println(s"[perfbench] listener events of $gid not delivered in 10 s")
    forget(Barrier)
  }
}

object Ledger {
  private val Barrier = "perfbench-barrier"

  final case class Span(name: String, startMs: Long, endMs: Long)
  final case class JobRec(startMs: Long, end: Long, callSite: String, eager: Boolean)

  final class Group {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    var stages = 0L
    var tasks = 0L
    var taskRetries = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var taskGcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var peakExecMem = 0L
    val executions = mutable.LinkedHashSet.empty[Long]
    val phasedExecs = mutable.HashSet.empty[Long]
    val phases = mutable.ArrayBuffer.empty[Span]
  }
}
