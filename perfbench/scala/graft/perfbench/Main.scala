package graft.perfbench

import graft.core.DDFManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** The benchmark JVM: one workload, one seed, one caller thread, a
  * single session at local[nproc]. Run through `perfbench/run.py`, which
  * builds this, checks the outputs it leaves in DuckDB and prints the
  * result line.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --corpus DIR
  *       --work DIR --out FILE [--trace-file FILE]
  *
  * Phases: set-up (Spark session start, the DDF session open repeated
  * [[SetupRepeats]] times, [[WarmUps]] untimed warm-up repetitions, the
  * first of which also writes every final frame for the oracle check);
  * then timed repetitions for S seconds and at least [[MinReps]] of them.
  * With --trace 1, untraced and traced repetitions alternate instead, at
  * least [[MinTracePairs]] pairs. run.py generates the corpus before and
  * deletes it after.
  */
object Main {
  val SetupRepeats = 3
  val WarmUps = 3
  val MinReps = 3
  val MinTracePairs = 2

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread (the caller, Spark's scheduler
    * and the task threads), by thread id. The JIT compiler's and the
    * collectors' threads are not Java threads and are left out: Spark
    * keeps generating and evicting classes (each repetition loads ~200
    * new ones), so the JIT compiles in every repetition, and its share of
    * process CPU swings by seconds from one JVM to the next.
    */
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** `cpuS` is the Java threads' CPU time (see [[threadCpuNs]]); `jitS`
    * and `gcS` are the JIT compiler's and the collectors' time during the
    * repetition, printed so that a slow one can be told apart from a busy
    * JIT.
    */
  final case class Rep(wallS: Double, cpuS: Double, heapMb: Double, persisted: Int,
                       cachedPlans: Int, freedMb: Double, digests: Map[String, Long],
                       jitS: Double, gcS: Double)

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `Bench.materialize`'s sink shape, keeping the digest. */
  def digest(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.toSeq.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** One repetition: every step in the DDF session `c.m`; a step that
    * throws loses its outputs and the repetition goes on.
    */
  def runRep(w: Workload, c: Ctx): Map[String, Long] =
    w.steps.flatMap { st =>
      c.t.step = st.name
      val before = c.t.failed
      try st.body(c).map { case (name, df) => name -> c.t.op("sink")(c.checkDir match {
        case None => digest(df)
        case Some(dir) =>
          df.write.mode("overwrite").parquet(s"$dir/$name")
          digest(c.spark.read.parquet(s"$dir/$name"))
      }) }
      catch {
        case NonFatal(e) =>
          if (c.t.failed == before) c.t.glueFailure(st.name, e)
          System.err.println(s"[perfbench] step ${st.name} failed: $e")
          Nil
      }
    }.toMap

  private def cachedPlans(spark: SparkSession): Int = {
    val f = spark.sharedState.cacheManager.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(spark.sharedState.cacheManager).asInstanceOf[Seq[_]].size
  }

  /** Heap used after a GC pair, once Spark's context cleaner has released
    * what the first pair made unreachable (broadcasts, shuffles, RDDs).
    */
  private def heapAfterGcMb(sc: org.apache.spark.SparkContext): Double = {
    System.gc(); System.gc()
    org.apache.spark.PerfbenchBus.awaitCleanerQuiet(sc)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs one repetition and measures it, then records what it left
    * behind (before any cleanup) and releases that residue so the next
    * repetition starts clean.
    */
  def measuredRep(w: Workload, c: Ctx): Rep = {
    val sc = c.spark.sparkContext
    val cpu0 = threadCpuNs()
    val (jit0, gc0) = (jitMs(), gcMs())
    val t0 = System.nanoTime()
    val d = runRep(w, c)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = threadCpuNs().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e9
    val (jit, gc) = ((jitMs() - jit0) / 1e3, (gcMs() - gc0) / 1e3)
    val persisted = sc.getPersistentRDDs.size
    val plans = cachedPlans(c.spark)
    val heap = heapAfterGcMb(sc)
    val freed = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    c.spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.tools.Cleanup.deleteRecursively(s"${c.scratch}/publish")
    org.apache.spark.PerfbenchBus.awaitCleanerQuiet(sc)
    Rep(wall, cpu, heap, persisted, plans, freed, d, jit, gc)
  }

  /** Runs `body` until `seconds` have passed and it has run at least
    * `minRuns` times.
    */
  private def timedLoop[T](seconds: Double, minRuns: Int, body: () => T): Seq[T] = {
    val t0 = System.nanoTime()
    var out = Vector.empty[T]
    while (out.size < minRuns || (System.nanoTime() - t0) / 1e9 < seconds) out :+= body()
    out
  }

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val corpus = a("corpus")
    val scratch = s"$work/scratch"
    Files.createDirectories(Paths.get(scratch))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = DDFManager.localSession(nproc)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      val t = new Tracer(None)
      val c = new Ctx(spark, corpus, scratch, t)
      val opens = (1 to SetupRepeats).map { _ =>
        val s0 = System.nanoTime()
        try w.openSession(c) catch { case NonFatal(_) => () }
        (System.nanoTime() - s0) / 1e9
      }
      // the first warm-up repetition is also the checked one: its sink
      // writes every final frame for the DuckDB oracle
      val checkDir = s"$work/check"
      val (warm, warmS) = (1 to WarmUps).map { i =>
        c.checkDir = if (i == 1) Some(checkDir) else None
        val w0 = System.nanoTime()
        val r = measuredRep(w, c)
        (r, (System.nanoTime() - w0) / 1e9)
      }.unzip
      c.checkDir = None
      val setupS = sessionS + median(opens) + warmS.sum
      println(f"[perfbench] ${w.name} set-up: session $sessionS%.3f s, DDF session " +
        opens.map(o => f"$o%.3f").mkString("", "/", " s") +
        ", warm-up " + warmS.map(x => f"$x%.3f").mkString("", "/", " s") +
        " (JIT " + warm.map(r => f"${r.jitS}%.3f").mkString("", "/", " s)"))

      val (reps, tracedReps, layer, tt) =
        if (!traced) (timedLoop(seconds, MinReps, () => measuredRep(w, c)), Nil, Nil, new Tracer(None))
        else traceRun(w, c, seconds, a.get("trace-file"), seed)
      val wallS = median(reps.map(_.wallS))
      def each(f: Rep => Double, unit: String) = reps.map(r => f"${f(r)}%.3f").mkString("", "/", s" $unit")
      println(s"[perfbench] ${w.name} timed repetitions: wall ${each(_.wallS, "s")}, " +
        s"CPU ${each(_.cpuS, "s")}, JIT ${each(_.jitS, "s")}, GC ${each(_.gcS, "s")}, " +
        s"heap after GC ${each(_.heapMb, "MB")}")

      // digests: every repetition must reproduce the checked one's
      val all = warm ++ reps ++ tracedReps
      w.oracles.keys.toSeq.sorted.foreach { name =>
        val ds = all.map(_.digests.get(name))
        t.check(s"$name digest stable", ds.forall(_.isDefined) && ds.flatten.distinct.size == 1,
          s"digests ${ds.map(_.map(_.toHexString).getOrElse("missing")).distinct.mkString(",")}")
      }

      val e2e = Seq(
        ("wall_s", wallS, "s"),
        ("cpu_s", median(reps.map(_.cpuS)), "s"),
        ("setup_s", setupS, "s"),
        ("heap_after_gc_mb", median(reps.map(_.heapMb)), "MB"))
      val residue = Seq(
        ("residue.persisted_rdds", median(reps.map(_.persisted.toDouble)), "count"),
        ("residue.cached_plans", median(reps.map(_.cachedPlans.toDouble)), "count"),
        ("residue.freed_mb", median(reps.map(_.freedMb)), "MB"))
      val metrics = if (traced) layer ++ residue else e2e
      val failures = t.failures ++ tt.failures
      val json = Json.obj(
        "workload" -> Json.str(w.name),
        "seed" -> seed.toString,
        "reps" -> reps.size.toString,
        "attempted" -> (t.attempted + tt.attempted).toString,
        "failed" -> (t.failed + tt.failed).toString,
        "failures" -> Json.arr(failures.toSeq.map(Json.str)),
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
        "checks" -> Json.obj(w.oracles.toSeq.sortBy(_._1).map { case (k, sql) =>
          k -> Json.obj("path" -> Json.str(s"$checkDir/$k"), "oracle" -> Json.str(sql)) }: _*))
      Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
    } finally {
      spark.stop()
    }
  }

  /** Names of the spans the per-layer metrics report, in output order. */
  val SpanNames: Seq[String] = Seq("core.DDFManager", "sql.Dialect", "operators.Joins",
    "operators.Aggregations", "operators.etl", "operators.Views", "operators.Graph",
    "stats.Stats", "pipeline.TextAnalysis", "pipeline.Dedup", "pipeline.SetJoin",
    "pipeline.IvfIndex", "sources.Manifest", "sink", "unattributed")

  /** The traced run: untraced and traced repetitions alternate, so both
    * see the same JIT and cache state; a traced one has a span per layer
    * call, a job group per span and the listeners' counts. The listeners
    * are attached only for the traced repetitions (and the traced DDF
    * session open), so the untraced ones run as in the timed run.
    * Per-layer metrics are medians over the traced repetitions; tracing
    * overhead is the difference of the two medians of wall time.
    */
  private def traceRun(w: Workload, c: Ctx, seconds: Double, traceFile: Option[String],
                       seed: Long)
      : (Seq[Rep], Seq[Rep], Seq[(String, Double, String)], Tracer) = {
    val spark = c.spark
    val sc = spark.sparkContext
    val jobs = new JobListener
    val joins = new JoinCounter
    /** Runs `body` with both listeners attached; returns what they saw. */
    def listened[T](body: => T): (T, (Seq[JobListener#Job], (Long, Long))) = {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(joins)
      try {
        val r = body
        org.apache.spark.PerfbenchBus.drain(sc)
        (r, (jobs.harvest(), joins.harvest()))
      } finally {
        sc.removeSparkListener(jobs)
        spark.listenerManager.unregister(joins)
      }
    }
    val t = new Tracer(Some(sc))
    val tc = new Ctx(spark, c.dir, c.scratch, t)
    // repetition 0: the traced run's own DDF session open
    val openJobs = listened(try w.openSession(tc) catch { case NonFatal(_) => () })._2._1
    var perRep = Seq.empty[(Seq[JobListener#Job], (Long, Long))]
    def tracedRep(): Rep = {
      t.rep += 1
      val (r, seen) = listened(measuredRep(w, tc))
      perRep :+= seen
      r
    }
    // which of the pair runs first alternates, so neither side is always
    // the warmer one
    val pairs = timedLoop(seconds, MinTracePairs, { () =>
      if (t.rep % 2 == 0) { val u = measuredRep(w, c); (u, tracedRep()) }
      else { val r = tracedRep(); (measuredRep(w, c), r) }
    })
    val (untraced, reps) = (pairs.map(_._1), pairs.map(_._2))
    val untracedWallS = median(untraced.map(_.wallS))

    val self = Tracer.selfNs(t.spans.toSeq)
    val spanById = t.spans.map(s => s.id -> s).toMap
    def spanOf(job: JobListener#Job): String =
      Tracer.idOf(job.group).flatMap(spanById.get).map(_.name).getOrElse("unattributed")
    // per repetition (0 = session open): span name -> metric -> value
    val tables = ((openJobs, (0L, 0L)) +: perRep).zipWithIndex.map { case ((js, _), rep) =>
      val busy = t.spans.filter(_.rep == rep).groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
      val byJob = js.groupBy(spanOf)
      SpanNames.map { n =>
        val jj = byJob.getOrElse(n, Nil)
        val mb = 1048576.0
        n -> Seq(
          "busy_s" -> busy.getOrElse(n, 0.0),
          "jobs" -> jj.size.toDouble,
          "tasks" -> jj.map(_.acc.tasks).sum.toDouble,
          "task_s" -> jj.map(_.acc.runMs).sum / 1e3,
          "wait_s" -> jj.map(_.acc.waitMs).sum / 1e3,
          "shuffle_write_mb" -> jj.map(_.acc.shuffleWrite).sum / mb,
          "spill_mb" -> jj.map(_.acc.spill).sum / mb,
          "result_mb" -> jj.map(_.acc.result).sum / mb).toMap
      }.toMap
    }
    val units = Seq("busy_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_s" -> "s",
      "wait_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "result_mb" -> "MB")
    // the session open happens once per invocation: its share is added
    // to the median repetition
    val layer = for (n <- SpanNames; (m, u) <- units if !(n == "unattributed" && m == "busy_s"))
      yield (s"$n.$m", tables.head(n)(m) + median(tables.tail.map(_(n)(m))), u)
    val share = median(perRep.map { case (_, (b, all)) => if (all == 0) 0.0 else b.toDouble / all })
    val props =
      try {
        val pc = new Ctx(spark, c.dir, c.scratch, new Tracer(None))
        w.openSession(pc)
        w.properties(pc)
      } catch { case NonFatal(e) => t.glueFailure("properties", e); Nil }
    val yieldOf = props.toMap.getOrElse("pipeline.Dedup.pair_yield", 0.0)
    val tracedWall = median(reps.map(_.wallS))

    traceFile.foreach { f =>
      val spansJson = t.spans.map { s =>
        val myJobs = (openJobs ++ perRep.flatMap(_._1)).filter(j => Tracer.idOf(j.group).contains(s.id)).map(_.id)
        Json.obj("name" -> Json.str(s.name), "step" -> Json.str(s.step), "rep" -> s.rep.toString,
          "id" -> s.id.toString,
          "parent" -> s.parent.toString, "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString, "self_ns" -> self(s.id).toString,
          "jobs" -> Json.arr(myJobs.map(_.toString)))
      }
      val jobsJson = (openJobs +: perRep.map(_._1)).zipWithIndex.flatMap { case (js, i) => js.map { j =>
        Json.obj("rep" -> i.toString, "job" -> j.id.toString, "span" -> Json.str(spanOf(j)),
          "tasks" -> j.acc.tasks.toString, "run_ms" -> j.acc.runMs.toString,
          "wait_ms" -> j.acc.waitMs.toString, "shuffle_write_bytes" -> j.acc.shuffleWrite.toString,
          "spill_bytes" -> j.acc.spill.toString, "result_bytes" -> j.acc.result.toString)
      }}
      val doc = Json.obj("workload" -> Json.str(w.name), "seed" -> seed.toString,
        "untraced_wall_s" -> Json.num(untracedWallS), "traced_wall_s" -> Json.num(tracedWall),
        "properties" -> Json.obj(props.map { case (k, v) => k -> Json.num(v) }: _*),
        "spans" -> Json.arr(spansJson.toSeq), "jobs" -> Json.arr(jobsJson))
      Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
      Files.write(Paths.get(f), doc.getBytes(StandardCharsets.UTF_8))
    }
    props.foreach { case (k, v) => println(f"[perfbench] ${w.name} property $k = $v%.6g") }
    (untraced, reps, layer ++ Seq(
      ("pipeline.Dedup.pair_yield", yieldOf, "ratio"),
      ("sql.broadcast_join_share", share, "ratio"),
      ("trace.overhead_s", tracedWall - untracedWallS, "s")), t)
  }
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
