package graft.tools

import graft.{Bench, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SQLPlanMetric, SparkPlanGraphNode}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** The query profiler: runs registry queries by name in the bench's
  * session and sink, and prints where each query's best run spent its
  * time, read from Spark's own job and stage events and its SQL status
  * store, so no query is hand-split or wrapped in a timer of its own.
  *
  * {{{
  * runMain graft.tools.Profile [--scale <f1,f2,…>] [--plans <dir> <suffix>] <sfDir> <q1,q2,…>
  * }}}
  *
  * Per query: one untimed warm-up run, then every timed run's wall time
  * and the minimum (`SPARK_GRAFT_RUNS` runs, default 3, at
  * `SPARK_GRAFT_CPUS` cores); for the best run its
  * job, stage and task counts and summed task time, each SQL execution it
  * caused with its top physical nodes, each job outside any SQL execution
  * by call site, and the join strategies of the AQE-final plans.
  *
  * `--scale` runs the queries on [[Bench.blowUp]]'s corpus at each factor,
  * built in a temp dir and deleted afterwards; `--scale 10` is the bench's
  * sf1 corpus. With two or more factors a last line per query gives its
  * min wall and the rows out of its `Scan` nodes at each factor, and the
  * least-squares exponent b of t ≈ a·f^b: b ≈ 1 is linear, b < 1 means
  * cores absorbed the growth, b near 2 is a pair explosion, and scan rows
  * that stay flat mean the query's input does not grow with the corpus.
  *
  * `--plans` writes `<dir>/<q>_<suffix>.txt`, the formatted AQE-final plan
  * of every SQL execution of the best run, in order (one corpus only).
  */
object Profile {

  /** Jobs, completed stages, tasks, summed task run time and shuffle
    * records written by a set of jobs.
    */
  final case class Work(jobs: Int, stages: Int, tasks: Long, taskMs: Long, shuffleRecords: Long) {
    def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, shuffleRecords + o.shuffleRecords)
  }
  private val NoWork = Work(0, 0, 0L, 0L, 0L)
  private def sum(ws: Iterable[Work]): Work = ws.foldLeft(NoWork)(_ + _)

  /** A physical plan node's totals over its tasks: timing metrics summed,
    * rows out, shuffle bytes written and spill bytes.
    */
  final case class Node(name: String, desc: String, ms: Double, rows: Double,
      shuffleBytes: Double, spillBytes: Double)

  /** One SQL execution: the first line of its description, its duration,
    * the work of its jobs, its plan nodes and its formatted plan, the
    * AQE-final one once it ended.
    */
  final case class Execution(id: Long, description: String, ms: Long, work: Work,
      nodes: Seq[Node], plan: String)

  /** One run of a body: its wall time, the work of all its jobs, the SQL
    * executions it caused, and its jobs outside any SQL execution grouped
    * by call site.
    */
  final case class Recording(wallS: Double, total: Work, executions: Seq[Execution],
      outside: Seq[(String, Work)]) {
    /** The work the executions and the outside jobs account for; equal to
      * `total` when every job is attributed.
      */
    def attributed: Work = sum(executions.map(_.work) ++ outside.map(_._2))
    /** Join node counts over the executions' plans, by strategy. */
    def joins: Seq[(String, Int)] =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(j => j -> executions.map(_.nodes.count(_.name == j)).sum)
  }

  /** Every job started while attached, with its SQL execution id if it has
    * one and its call site; a completed stage counts for the first job
    * that lists it.
    */
  private final class Jobs extends SparkListener {
    final class Job(val exec: Option[Long], val site: String) {
      var work = Work(1, 0, 0L, 0L, 0L)
    }
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs(e.jobId) = new Job(exec.map(_.toLong), e.stageInfos.maxBy(_.stageId).name)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      val w = Work(0, 1, s.numTasks, m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L))
      stageJob.get(s.stageId).flatMap(jobs.get).foreach(j => j.work += w)
    }
  }

  /** Runs `body` once and records it. The listener bus is drained before
    * and after, so the recording holds exactly the body's jobs and the
    * status store holds the final metrics and plans of its executions.
    */
  def record(spark: SparkSession)(body: => Unit): Recording = {
    val sc = spark.sparkContext
    val store = spark.sharedState.statusStore
    Bridge.drainListenerBus(sc)
    val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    val l = new Jobs
    sc.addSparkListener(l)
    val wallS =
      try { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      finally { Bridge.drainListenerBus(sc); sc.removeSparkListener(l) }
    // the store writes an ended execution's final metrics on its own async
    // writer, after the bus has delivered the end event
    def ended = store.executionsList().filter(_.executionId > before)
    val deadline = System.nanoTime() + 60000000000L
    while (ended.exists(_.metricValues == null) && System.nanoTime() < deadline) Thread.sleep(5)
    val jobs = l.synchronized(l.jobs.values.toSeq)
    val executions = ended.sortBy(_.executionId).map { e =>
      val values = store.executionMetrics(e.executionId)
      // a reused exchange or cached plan lists its subtree once per use,
      // with the same accumulators: keep the first
      val nodes = store.planGraph(e.executionId).allNodes.distinctBy(n =>
        if (n.metrics.isEmpty) Left(n.id) else Right(n.metrics.map(_.accumulatorId)))
      Execution(e.executionId, e.description.linesIterator.nextOption().getOrElse(""),
        e.completionTime.map(_.getTime - e.submissionTime).getOrElse(-1L),
        sum(jobs.filter(_.exec.contains(e.executionId)).map(_.work)),
        nodes.map(node(_, values)).toSeq, e.physicalPlanDescription)
    }
    val outside = jobs.filter(_.exec.isEmpty)
    Recording(wallS, sum(jobs.map(_.work)), executions,
      outside.map(_.site).distinct.map(s => s -> sum(outside.filter(_.site == s).map(_.work))))
  }

  private def node(n: SparkPlanGraphNode, values: Map[Long, String]): Node = {
    def total(p: SQLPlanMetric => Boolean) =
      n.metrics.filter(p).flatMap(m => values.get(m.accumulatorId)).map(amount).sum
    Node(n.name, n.desc, total(m => m.metricType == "timing" || m.metricType == "nsTiming"),
      total(_.name == "number of output rows"), total(_.name == "shuffle bytes written"),
      total(_.name == "spill size"))
  }

  private val Units = Map("" -> 1.0, "B" -> 1.0, "KiB" -> 1024.0, "MiB" -> 1048576.0,
    "GiB" -> 1073741824.0, "TiB" -> 1099511627776.0, "ms" -> 1.0, "s" -> 1e3, "m" -> 6e4,
    "h" -> 3.6e6)

  /** A status-store metric string in its base unit (rows, bytes or ms):
    * the total, alone or first on the last line of the
    * "total (min, med, max …)" form.
    */
  private def amount(s: String): Double = {
    val t = s.linesIterator.toSeq.last.takeWhile(_ != '(').trim.replace(",", "").split(' ')
    t.head.toDouble * Units.getOrElse(t.lift(1).getOrElse(""), sys.error(s"unparsed metric '$s'"))
  }

  private val TopNodes = 6

  private def report(q: String, runs: Seq[Recording], best: Recording): Unit = {
    def p(s: String): Unit = println(s"[profile] $s")
    def work(w: Work) =
      f"${w.jobs} jobs, ${w.stages} stages, ${w.tasks} tasks, task ${w.taskMs / 1e3}%.2f s"
    val mib = 1048576.0
    p(f"$q wall ${runs.map(r => f"${r.wallS}%.3f").mkString(" ")}  min ${best.wallS}%.3f s")
    p(s"  best run: ${work(best.total)}, shuffle ${best.total.shuffleRecords} records; " +
      s"${best.executions.size} sql executions, ${best.outside.map(_._2.jobs).sum} jobs outside; " +
      s"attributed ${best.attributed.jobs} of ${best.total.jobs} jobs")
    p("  joins: " + best.joins.map { case (j, n) => s"$j $n" }.mkString(", "))
    best.executions.foreach { e =>
      p(f"  sql ${e.id} ${e.ms / 1e3}%.3f s, ${work(e.work)}: ${e.description}")
      e.nodes.filter(n => n.ms + n.rows + n.shuffleBytes + n.spillBytes > 0)
        .sortBy(n => (-n.ms, -n.rows, -n.shuffleBytes, -n.spillBytes)).take(TopNodes)
        .foreach(n => p(f"    ${n.ms / 1e3}%8.3f s ${n.rows}%12.0f rows " +
          f"${n.shuffleBytes / mib}%9.2f MiB shuffle ${n.spillBytes / mib}%8.2f MiB spill  " +
          n.name))
    }
    best.outside.foreach { case (site, w) => p(s"  outside sql: ${work(w)}: $site") }
  }

  /** Rows out of a recording's `Scan` nodes: its storage reads and its scans of
    * checkpointed RDDs.
    */
  private def scanRows(r: Recording): Double =
    r.executions.flatMap(_.nodes).filter(_.name.startsWith("Scan")).map(_.rows).sum

  /** Least-squares slope of log t over log f: the scaling exponent b. */
  private def exponent(pts: Seq[(Int, Double)]): Double = {
    val xy = pts.map { case (f, t) => (math.log(f.toDouble), math.log(t)) }
    val n = xy.size
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  def main(args: Array[String]): Unit = {
    val usage = "Profile [--scale <f1,f2,…>] [--plans <dir> <suffix>] <sfDir> <q1,q2,…>"
    def parse(as: List[String], scale: Seq[Int], plans: Option[(String, String)])
        : (Seq[Int], Option[(String, String)], String, Seq[String]) = as match {
      case "--scale" :: fs :: rest => parse(rest, fs.split(",").map(_.trim.toInt).toSeq, plans)
      case "--plans" :: dir :: suffix :: rest => parse(rest, scale, Some((dir, suffix)))
      case List(sfDir, qs) => (scale, plans, sfDir, qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ => throw new IllegalArgumentException(s"usage: $usage; got ${args.mkString(" ")}")
    }
    val (scale, plans, sfDir, names) = parse(args.toList, Nil, None)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the query registry: ${unknown.mkString(", ")}")
    require(plans.isEmpty || scale.size <= 1, "--plans takes one corpus: give --scale one factor")
    val runs = Bench.knob("SPARK_GRAFT_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    val spark = Bench.benchSession()

    // each query's min wall and scan rows on the corpus at `dir`
    def profile(dir: String): Map[String, (Double, Double)] = names.map { q =>
      // one untimed run first: the first factor would otherwise time
      // class loading, codegen and JIT warm-up as the query's cost
      Bench.materialize(SparkEntry.queries(q)(spark, dir))
      val recs = (1 to runs).map { _ =>
        Bench.drainHeap(spark)
        record(spark)(Bench.materialize(SparkEntry.queries(q)(spark, dir)))
      }
      val best = recs.minBy(_.wallS)
      report(q, recs, best)
      plans.foreach { case (out, suffix) =>
        val path = Paths.get(out, s"${q}_$suffix.txt")
        Files.createDirectories(path.getParent)
        Files.writeString(path, best.executions
          .map(e => s"=== sql ${e.id}: ${e.description}\n${e.plan}").mkString("\n"))
        println(s"[profile]   wrote $path")
      }
      q -> (best.wallS, scanRows(best))
    }.toMap

    try {
      if (scale.isEmpty) profile(sfDir)
      else {
        val byFactor = scale.map { f =>
          val dir = Files.createTempDirectory(s"graft_scale$f").toString
          try {
            Bench.blowUp(spark, sfDir, dir, f)
            println(s"[profile] factor $f")
            f -> profile(dir)
          } finally Cleanup.deleteRecursively(dir)
        }
        if (scale.distinct.size >= 2) names.foreach { q =>
          val at = byFactor.map { case (f, bests) => f -> bests(q) }
          println(f"[profile] scale $q%-32s " + at.map { case (f, (wall, rows)) =>
            f"f=$f: $wall%.3f s $rows%.0f scan rows" }.mkString("  ") +
            f"  b=${exponent(at.map { case (f, (wall, _)) => f -> wall })}%.2f")
        }
      }
    } finally spark.stop()
  }
}
