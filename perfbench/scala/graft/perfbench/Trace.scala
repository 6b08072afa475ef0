package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a graft layer, as the benchmark's single caller thread
  * saw it, made by workload step `step`. `parent` is the id of the span
  * open when this one started, or -1.
  */
final case class Span(id: Int, rep: Int, step: String, name: String, parent: Int,
                      startNs: Long, endNs: Long)

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def groupOf(id: Int): String = GroupPrefix + id
  def idOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var cur: Option[(Long, Long)] = None
      ivs.foreach { case (a, b) =>
        cur match {
          case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
          case Some((ca, cb)) => covered += cb - ca; cur = Some((a, b))
          case None => cur = Some((a, b))
        }
      }
      cur.foreach { case (ca, cb) => covered += cb - ca }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}

/** Counts ops — one layer call or one output check each — and their
  * failures. Given a SparkContext it also records a [[Span]] per layer
  * call and gives the call a Spark job group of its own, so that every
  * job the call starts can be charged to it; without one (the timed,
  * untraced runs) it only counts.
  */
final class Tracer(sc: Option[SparkContext]) {
  var attempted = 0L
  var failed = 0L
  var rep = 0
  var step = ""
  val failures = mutable.ArrayBuffer.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0

  private def fail(what: String, why: String): Unit = {
    failed += 1
    failures += s"$what: $why"
  }

  def op[T](name: String)(body: => T): T = {
    attempted += 1
    sc match {
      case None =>
        try body catch { case e: Throwable => fail(name, e.toString); throw e }
      case Some(ctx) =>
        val id = nextId
        nextId += 1
        val parent = open.headOption.map(_._1).getOrElse(-1)
        open = (id, name) :: open
        ctx.setJobGroup(Tracer.groupOf(id), name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try body catch { case e: Throwable => fail(name, e.toString); throw e }
        finally {
          spans += Span(id, rep, step, name, parent, t0, System.nanoTime())
          open = open.tail
          open.headOption match {
            case Some((pid, pname)) => ctx.setJobGroup(Tracer.groupOf(pid), pname, interruptOnCancel = false)
            case None => ctx.clearJobGroup()
          }
        }
    }
  }

  /** One output check as an op; `ok = false` counts as a failure. */
  def check(what: String, ok: Boolean, why: => String = "mismatch"): Unit = {
    attempted += 1
    if (!ok) fail(what, why)
  }

  /** Charge a failure that escaped every op (benchmark glue) as one op. */
  def glueFailure(what: String, e: Throwable): Unit = {
    attempted += 1
    fail(what, e.toString)
  }
}

/** Per-job Spark counters, filled from the listener bus. A stage belongs
  * to the first job that lists it; a task's wait is the time from its
  * stage's submission to its launch, i.e. the time it waited for a core.
  */
final class JobListener extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var result = 0L
  }
  final case class Job(id: Int, group: String, acc: Acc)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = Job(e.jobId, group, new Acc)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
      val a = job.acc
      a.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.result += m.resultSize
      }
    }
  }

  /** The jobs seen since the last call, forgetting them. */
  def harvest(): Seq[Job] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear(); stageJob.clear(); stageSubmit.clear()
    out
  }
}

/** Counts joins in the executed plan of every SQL execution, final AQE
  * plans and subqueries included.
  */
final class JoinCounter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var broadcastJoins = 0L
  private var allJoins = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val joins = collectWithSubqueries(qe.executedPlan) { case j: BaseJoinExec => j }
    val b = joins.count {
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    synchronized { broadcastJoins += b; allJoins += joins.size }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (broadcast joins, all joins) since the last call, forgetting them. */
  def harvest(): (Long, Long) = synchronized {
    val out = (broadcastJoins, allJoins)
    broadcastJoins = 0L; allJoins = 0L
    out
  }
}
