package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{BooleanNode, DecimalNode, IntNode, LongNode, MissingNode,
  ObjectNode, TextNode}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Benchmark main: the headline queries at SPARK_GRAFT_SF_DIR in this JVM,
  * then the sf1 and x10 tiers in a forked one ([[BenchSf1]]). The full
  * artifact goes to `bench_result.json`; stdout gets one compact JSON line
  * (1.9-2.2 KB with the sf1 tier on), printed last.
  *
  * Every tier is a list of [[Row]]s, a query's samples and the GC ms of its
  * sampling window. One [[summarize]] turns a tier into its verdicts,
  * anchor ratios, suspects and retry rows, and one Jackson writer renders
  * every tier. The rules, each with its reason:
  *   - A query reports the min of its clean samples, because this host
  *     stalls the JVM for seconds at a time and a stall only adds time.
  *   - The min is `converged` when the last clean sample set no new min and
  *     two lie within 10% + 30 ms of it, because a still-falling min is only
  *     an upper bound; an unconverged query samples on to its cap.
  *   - A sample is rejected when its all-core ALU probe or its
  *     memory-bandwidth probe ran 1.5× over the quietest one this JVM saw,
  *     because a busy neighbour slows the query without showing in its own
  *     CPU time.
  *   - A sample is rejected when GC took over 25% of its wall and 500 ms,
  *     because it then measured a polluted heap rather than the query.
  *   - A query left with no clean sample is flagged `contended` or
  *     `gc_thrash` and never `converged`.
  *   - A suspect row is re-run once after its tier, so the artifact itself
  *     says whether a slowdown reproduces; its official number stays the
  *     original measurement.
  *   - The sf1 and x10 tiers run in a fresh JVM, because residue from the
  *     headline tier once made a 3.5 s sf1 query read 26 s.
  *   - Every query is warmed once untimed, and the heap is drained between
  *     queries, outside every timed region.
  */
object Bench {
  /** The sf0.1 headline tier: only rows that take ≥ 1 s at sf0.1, where 10%
    * is above scheduler jitter. m02/m05 are the exception: they decode a
    * fixed image set whose size is part of their oracle contract, so they
    * cannot grow with the corpus, and they watch the costliest per-row op.
    */
  private[graft] val headline = Seq(
    "p05_curation_corpus_build", "j04_edit_distance_join_k3", "g05_kcore",
    "ds01_dsir_weights", "j03_edit_distance_join", "p08_mixture_recipe_build",
    "g02_triangle_count", "q80_tpch_q9",
    "m02_image_roundtrip", "m05_image_neardup")

  /** The sf1 tier on the 10×-blown corpus, the primary regression record:
    * one representative per engine family. p05 is not here because at 10×
    * its decontamination stage drains the selection to zero docs; p07 is
    * its composed-build slot.
    */
  private[graft] val sf1Set = Seq(
    "q10_tpch_q1", "q12_tpch_q3", "q80_tpch_q9", "d01_dedup_exact",
    "d02_dedup_minhash", "d11_incremental_minhash_fast", "t14_token_ids",
    "a01_ann_brute", "q85_quantiles_sketch", "p01_pipeline_e2e",
    "t09_span_dedup", "p07_graph_curation_report",
    "q21_join_multikey", "q40_summary", "q63_window_runsum",
    "q64_events_hourly", "e03_json_extract", "s01_sessionize", "j01_asof_join",
    "t01_text_enrich", "t04_decontaminate", "t17_contamination_matrix",
    "t23_ngram_novelty_fast", "c01_tfidf_topterms", "c06_bm25_retrieve",
    "a20_semantic_dedup_scaled", "a11_ivf_int8_rerank", "q92_budget_select",
    "q94_budget_select_by_group", "ts01_resample_gapfill",
    "c15_snapshot_diff", "ml09_auc_by_group",
    "w03_domain_cap_build")

  /** The x10 scaling tier: heavy headline rows re-run on the 10× corpus and
    * added to the headline `queries` map as `x10_<name>`, because at sf0.1
    * every row is overhead-bound and a run at two core counts cannot show
    * parallel speedup.
    */
  private[graft] val x10Set = Seq(
    "j04_edit_distance_join_k3", "g05_kcore", "ds01_dsir_weights",
    "g02_triangle_count", "p07_graph_curation_report")

  /** A SPARK_GRAFT_* knob; the headline process and [[BenchSf1]] read every
    * knob through here, the child from the environment it inherits.
    */
  private[graft] def knob(name: String, default: String): String = sys.env.getOrElse(name, default)

  /** A comma-list knob as a name set; unset means every query. */
  private[graft] def knobSet(name: String): Option[Set[String]] =
    sys.env.get(name).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The quiet-host anchor each row's time is divided by (`vs_anchor`). */
  private[graft] def anchorPath: String = knob("SPARK_GRAFT_ANCHOR", "BENCH_anchor_r17.json")
  /** The previous round's anchor, reported beside the current one as
    * `vs_prev_anchor` so a recut anchor carries any drift on its face.
    */
  private[graft] def prevAnchorPath: String = knob("SPARK_GRAFT_PREV_ANCHOR", "BENCH_anchor_r16.json")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private[graft] def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The per-query map under `key` of an anchor artifact, or empty when the
    * file is missing or unreadable, or was measured at another `sf` than
    * `sfDir`: ratios mean nothing across scale factors.
    */
  private[graft] def anchorMap(path: String, key: String, sfDir: String): Map[String, Double] =
    try {
      val doc = om.readTree(new java.io.File(path))
      if (doc.path("sf").asText != sfDir) Map.empty
      else entries(doc.path(key)).map { case (k, v) => k -> v.asDouble }.toMap
    } catch { case _: java.io.IOException => Map.empty }

  /** Short display keys for compact-line names ("q10_tpch_q1" → "q10"),
    * or the full names if two prefixes would collide.
    */
  private lazy val short: Map[String, String] = {
    val names = (headline ++ sf1Set).distinct
    val pref = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    if (pref.values.toSeq.distinct.size == names.size) pref else names.map(n => n -> n).toMap
  }
  /** A query's compact-line name; an x10 row keeps its `x10_` prefix. */
  private[graft] def shortOf(n: String): String =
    if (n.startsWith("x10_")) "x10_" + shortOf(n.drop(4)) else short.getOrElse(n, n)

  /** The min plateaued: the last sample set no strictly new min, and ≥ 2
    * samples lie within 10% + 30 ms of it. The 30 ms keeps the rule
    * meaningful under 0.3 s, where 10% is below scheduler jitter; an exact
    * tie with an earlier min is a reproduced time, so it converges.
    */
  private def isConverged(samples: Seq[Double]): Boolean =
    samples.size >= 2 && {
      val m = samples.min
      samples.last >= samples.init.min &&
        samples.count(_ <= m * 1.10 + 0.03) >= 2
    }

  /** One sample of one query: wall seconds, CPU utilization of the whole
    * box, the ALU probe seconds taken just before it, the GC ms collected
    * during it, the memory-bandwidth probe seconds (0.0 = not measured,
    * never rejects), and the generated classes Spark compiled during it.
    */
  private[graft] case class Sample(wall: Double, util: Double, probe: Double,
                                   gcMs: Long = 0L, memProbe: Double = 0.0,
                                   compiles: Long = 0L)

  /** Generated classes compiled by this JVM so far (codegen cache misses). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** GC ate over 25% of the sample's wall and at least 500 ms: it measured
    * the allocator fighting a polluted heap, not the query. Young-gen
    * pauses on sub-second queries are tens of ms and do not count.
    */
  private[graft] def isGcThrash(s: Sample): Boolean =
    s.gcMs > 500 && s.gcMs > 0.25 * s.wall * 1000.0

  /** Per-query verdict: the best sample (min over clean samples, or over all
    * of them when none is clean), rejection counts by cause, `contended`
    * when starvation left no clean sample, `gcThrash` when GC did, and
    * convergence over the clean samples. A query with no clean sample is
    * never `converged`.
    */
  private[graft] case class QueryVerdict(best: Sample, rejected: Int,
                                         gcRejected: Int, contended: Boolean,
                                         gcThrash: Boolean, converged: Boolean)

  /** Either calibration probe says the host was not quiet: the ALU spin
    * (CPU starvation) or the memory sweep (bus contention the spin cannot
    * see). memFloor defaults to infinity, so samples without a memory probe
    * never reject on it.
    */
  private[graft] def isRejected(s: Sample, probeFloor: Double,
                                memFloor: Double = Double.PositiveInfinity): Boolean =
    isStarved(s.probe, probeFloor) || isMemStarved(s.memProbe, memFloor)

  private[graft] def verdict(ss: Seq[Sample], probeFloor: Double,
                             memFloor: Double = Double.PositiveInfinity): QueryVerdict = {
    val starved = ss.count(s => isRejected(s, probeFloor, memFloor))
    val thrash = ss.count(s => !isRejected(s, probeFloor, memFloor) && isGcThrash(s))
    val clean = ss.filter(s => !isRejected(s, probeFloor, memFloor) && !isGcThrash(s))
    if (clean.isEmpty)
      QueryVerdict(ss.minBy(_.wall), starved, thrash,
        contended = starved > 0, gcThrash = thrash > 0 || ss.exists(isGcThrash),
        converged = false)
    else
      QueryVerdict(clean.minBy(_.wall), starved, thrash,
        contended = false, gcThrash = false,
        converged = isConverged(clean.map(_.wall)))
  }

  @volatile private var probeSink = 0L // defeat dead-code elimination
  private val probeThreads = math.max(2, Runtime.getRuntime.availableProcessors())
  /** Wall seconds of `work(t)` on one thread per core, all at once. */
  private def onAllCores(work: Int => Long): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until probeThreads).map { t =>
      val th = new Thread(() => probeSink = work(t))
      th.setDaemon(true)
      th.start()
      th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed CPU-bound calibration spin: 20 M LCG steps on every core at once,
    * ~25-30 ms wall on a quiet 32-core host, no allocation. All cores,
    * because the query uses all of them: a single spinning thread always
    * finds one idle core while a neighbour squeezes the rest.
    */
  private def spinAllCores(): Double = onAllCores { t =>
    var x = 0x9E3779B97F4A7C15L + t
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    x
  }
  /** One probe = settle, then min of two all-core spins, so this JVM's own
    * threads winding down after a job are not read as a neighbour.
    */
  private def probeOnce(): Double = settledProbe(() => spinAllCores())

  /** Memory-bandwidth calibration sweep: every core streams its slice of
    * one shared 256 MiB long array, DRAM-bound work of ~10-25 ms when quiet.
    * A neighbour saturating the memory bus slows every shuffle- and
    * scan-heavy query but not a register-resident spin. The array is
    * filled once per JVM, which also pages it in.
    */
  private val memProbeWords = 32 * 1024 * 1024 // 256 MiB of longs
  private lazy val memProbeArr: Array[Long] = {
    val a = new Array[Long](memProbeWords)
    var i = 0
    while (i < a.length) { a(i) = i.toLong; i += 1 }
    a
  }
  private def memSweepAllCores(): Double = {
    val arr = memProbeArr
    val slice = arr.length / probeThreads
    onAllCores { t =>
      val until = if (t == probeThreads - 1) arr.length else t * slice + slice
      var s = 0L
      var i = t * slice
      while (i < until) { s += arr(i); i += 1 }
      s
    }
  }
  /** min-of-2 with no settle of its own: it runs right after [[probeOnce]]. */
  private def memProbeOnce(): Double = math.min(memSweepAllCores(), memSweepAllCores())

  /** The ALU rule's 1.5× with a 10 ms slack, because DRAM bandwidth under
    * this JVM's own page-cache churn jitters more than a register spin. A
    * zero memProbe or an infinite floor never rejects.
    */
  private[graft] def isMemStarved(memProbe: Double, floor: Double): Boolean =
    memProbe > 0.0 && floor != Double.PositiveInfinity &&
      memProbe > floor * 1.5 + 0.010

  /** Settle, then min of two spins: self-noise decays between the spins (the
    * min takes the settled second), neighbour contention inflates both (the
    * min stays high and the sample is rejected).
    */
  private[graft] def settledProbe(spin: () => Double, settleMs: Long = 30): Double = {
    Thread.sleep(settleMs)
    math.min(spin(), spin())
  }

  /** The probe ran ≥ 1.5× slower than the quietest this JVM has seen, with
    * 5 ms of slack for sub-30 ms probe jitter.
    */
  private[graft] def isStarved(probe: Double, floor: Double): Boolean =
    probe > floor * 1.5 + 0.005

  /** Hash every output column into one aggregate, so Catalyst cannot prune
    * the computed columns of a projection-shaped query the way `count()`
    * let it.
    */
  private[graft] def materialize(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)")).collect()

  /** One JVM's sampling machinery: the monotone probe floors, the timed
    * single run with its pre-sample probes and GC delta, and the
    * converge-or-cap sampling loop.
    */
  private[graft] final class Sampler(
      spark: SparkSession,
      qs: Map[String, (SparkSession, String) => DataFrame]) {
    // seeded before any timed work; they only drop as quieter windows are
    // seen, and verdicts read the final floors, so an inflated startup
    // cannot hide contention
    @volatile var probeFloor: Double = (1 to 5).map(_ => probeOnce()).min
    @volatile var memFloor: Double = (1 to 5).map(_ => memProbeOnce()).min

    def warm(name: String, dir: String): Unit = materialize(qs(name)(spark, dir))

    def timed(name: String, dir: String): Sample = {
      val p = probeOnce()
      probeFloor = math.min(probeFloor, p)
      val mp = memProbeOnce()
      memFloor = math.min(memFloor, mp)
      val cpu0 = osBean.getProcessCpuTime
      val g0 = gcMs
      val c0 = codegenCompiles
      val t0 = System.nanoTime()
      // fail fast: a swallowed error would report the failure path's time
      // as a legitimate best-of-N
      try materialize(qs(name)(spark, dir))
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); throw e }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9
      Sample(wall, cpuSec / (wall * Runtime.getRuntime.availableProcessors()),
        p, gcMs - g0, mp, codegenCompiles - c0)
    }

    /** Sample `name` at least `base` times, extending to `cap` until the min
      * over clean samples converges. base == 1 means exactly one run.
      */
    def sampleQuery(name: String, dir: String, base: Int, cap: Int): Seq[Sample] = {
      var ss = Seq.fill(base)(timed(name, dir))
      def clean = ss.filter(s => !isRejected(s, probeFloor, memFloor) && !isGcThrash(s))
        .map(_.wall)
      while (base > 1 && !isConverged(clean) && ss.size < cap)
        ss = ss :+ timed(name, dir)
      ss
    }
  }

  /** The bench SparkSession for both JVMs: the engine's one recipe,
    * [[graft.core.DDFManager.localSession]], at SPARK_GRAFT_CPUS cores.
    */
  private[graft] def benchSession(): SparkSession =
    graft.core.DDFManager.localSession(knob("SPARK_GRAFT_CPUS", "32").toInt)

  // ---- the tier record ----

  /** One query of a tier: its timed samples and the GC ms of its sampling window. */
  private[graft] case class Row(name: String, samples: Seq[Sample], gcMs: Long)

  /** A tier after [[summarize]]: each row with its verdict, the ratios of
    * best walls to the anchor and the previous anchor, the suspects, and a
    * (name, wall, ratio) retry row per retried suspect.
    */
  private[graft] case class Tier(rows: Seq[(Row, QueryVerdict)], vsAnchor: Seq[(String, Double)],
      vsPrevAnchor: Seq[(String, Double)], suspects: Seq[String], retry: Seq[(String, Double, Double)]) {
    def best: Seq[(String, Double)] = rows.map { case (r, v) => r.name -> v.best.wall }
    def total: Double = rows.map(_._2.best.wall).sum
    private def where(p: QueryVerdict => Boolean) = rows.collect { case (r, v) if p(v) => r.name }
    /** The flagged names by class; `unconverged` excludes the other two. */
    def flags: Seq[(String, Seq[String])] = Seq("contended" -> where(_.contended),
      "gc_thrash" -> where(_.gcThrash),
      "unconverged" -> where(v => !v.converged && !v.contended && !v.gcThrash))
  }

  /** A tier's verdicts under the given probe floors, its anchor ratios, its
    * suspects, and the retry rows `retryRun` returns for them. A suspect is
    * over 2× its anchor, or GC-thrashed in every sample, or unconverged or
    * contended at ≥ 1.3× its anchor: such a row alone shows neither a
    * regression nor its absence, so each earns the in-record retry.
    */
  private[graft] def summarize(rows: Seq[Row], probeFloor: Double, memFloor: Double,
      anchor: Map[String, Double] = Map.empty, prevAnchor: Map[String, Double] = Map.empty,
      retryRun: Seq[String] => Seq[(String, Double, Double)] = _ => Seq.empty): Tier = {
    val vs = rows.map(r => r -> verdict(r.samples, probeFloor, memFloor))
    def ratios(a: Map[String, Double]) = vs.collect {
      case (r, v) if a.get(r.name).exists(_ > 0) => r.name -> v.best.wall / a(r.name)
    }
    val vsAnchor = ratios(anchor)
    val byName = vs.map { case (r, v) => r.name -> v }.toMap
    val suspects = (vsAnchor.collect { case (k, x) if x > 2.0 => k } ++
      vs.collect { case (r, v) if v.gcThrash => r.name } ++
      vsAnchor.collect { case (k, x)
        if x >= 1.3 && (!byName(k).converged || byName(k).contended) => k }).distinct
    Tier(vs, vsAnchor, ratios(prevAnchor), suspects, retryRun(suspects))
  }

  // ---- the one JSON writer ----

  private val om = JsonMapper.builder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    // a child's document is read back digit for digit ("2.000" stays 2.000)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)
    .build()

  /** `d` rounded half-up to `places` decimals, as `%.{places}f` prints it. */
  private def fixed(d: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(places, java.math.RoundingMode.HALF_UP)
  private def secs(xs: Seq[(String, Double)]) = obj(xs.map { case (k, s) => k -> fixed(s, 3) })
  private def ratioMap(xs: Seq[(String, Double)], short: String => String = identity) =
    obj(xs.map { case (k, r) => short(k) -> fixed(r, 2) })

  /** A JSON object from ordered pairs. A value is a JSON node, a rounded
    * BigDecimal, a Boolean, Int, Long or String, or a Seq of these; a bare
    * Double is refused, so every number states its rounding.
    */
  private[graft] def obj(kvs: Iterable[(String, Any)]): ObjectNode = {
    val o = om.createObjectNode()
    kvs.foreach { case (k, v) => o.replace(k, node(v)) }
    o
  }
  private def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case d: java.math.BigDecimal => DecimalNode.valueOf(d)
    case b: Boolean => BooleanNode.valueOf(b)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case s: String => TextNode.valueOf(s)
    case xs: Seq[_] => val a = om.createArrayNode(); xs.foreach(x => a.add(node(x))); a
  }
  private[graft] def write(n: JsonNode): String = om.writeValueAsString(n)
  private def entries(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
  private def names(n: JsonNode): Seq[String] = n.asScala.map(_.asText).toSeq
  private def merge(into: ObjectNode, from: JsonNode): Unit =
    entries(from).foreach { case (k, v) => into.replace(k, v) }
  /** A fragment that splices after other fields: `,"k":v,…`. */
  private def fragment(o: ObjectNode): String = "," + write(o).drop(1).dropRight(1)

  /** The per-query fields a measured tier writes to `bench_result.json`,
    * each key suffixed by `sfx`.
    */
  private def fullFields(t: Tier, sfx: String): Seq[(String, Any)] = {
    def per(f: (Row, QueryVerdict) => Any) = obj(t.rows.map { case (r, v) => r.name -> f(r, v) })
    def each(f: Sample => Any) = per((r, _) => r.samples.map(f))
    Seq("samples" -> each(s => fixed(s.wall, 2)), "probes" -> each(s => fixed(s.probe, 3)),
      "mem_probes" -> each(s => fixed(s.memProbe, 3)), "codegen_compiles" -> each(_.compiles),
      "converged" -> per((_, v) => v.converged), "contended" -> per((_, v) => v.contended),
      "gc_thrash" -> per((_, v) => v.gcThrash), "rejected" -> per((_, v) => v.rejected),
      "gc_rejected" -> per((_, v) => v.gcRejected), "gc_q_ms" -> per((r, _) => r.gcMs),
      "vs_anchor" -> ratioMap(t.vsAnchor), "vs_prev_anchor" -> ratioMap(t.vsPrevAnchor),
      "suspect" -> t.suspects, "retry" -> retryNode(t.retry)
    ).map { case (k, v) => (k + sfx) -> v }
  }

  /** A tier's part of the compact line: its flagged names by class, `mid`,
    * its suspects and its retry ratios, names shortened. `extra(cls)` adds
    * another tier's names of that class (the x10 rows the headline carries).
    */
  private def compactFields(t: Tier, sfx: String, short: String => String, mid: Seq[(String, Any)],
      extra: String => Seq[String] = _ => Nil): Seq[(String, Any)] =
    t.flags.map { case (cls, ns) => (cls + sfx) -> (ns ++ extra(cls)).map(short) } ++ mid ++ Seq(
      "suspect" + sfx -> t.suspects.map(short),
      "retry" + sfx -> ratioMap(t.retry.map { case (k, _, r) => k -> r }, short))

  /** The sf1 tier's fields for `bench_result.json` and for the compact line. */
  private[graft] def sf1Nodes(t: Tier, short: String => String, gcTier: Long,
      forked: Boolean): (ObjectNode, ObjectNode) = {
    val q = Seq("queries_sf1" -> secs(t.best))
    val total = "total_sf1" -> fixed(t.total, 3)
    (obj(q ++ fullFields(t, "_sf1") ++ Seq(total, "gc_ms_sf1" -> gcTier, "sf1_forked" -> forked)),
      obj(q ++ Seq(total) ++ compactFields(t, "_sf1", short,
        Seq("vs_anchor_sf1" -> ratioMap(t.vsAnchor, short)))))
  }

  /** The x10 scaling tier's block: its rows summarized as `x10_<name>`. */
  private[graft] def x10Node(rows: Seq[Row], probeFloor: Double, memFloor: Double): ObjectNode = {
    val t = summarize(rows.map(r => r.copy(name = "x10_" + r.name)), probeFloor, memFloor)
    val kept = Set("samples_x10", "codegen_compiles_x10", "converged_x10")
    obj(Seq("queries_x10" -> secs(t.best)) ++ fullFields(t, "_x10").filter(f => kept(f._1)) ++
      t.flags.map { case (cls, ns) => (cls + "_x10") -> ns })
  }
  private def x10Queries(x10: JsonNode): Seq[(String, Double)] =
    entries(x10.path("queries_x10")).map { case (k, v) => k -> v.asDouble }

  private def retryNode(rows: Seq[(String, Double, Double)]): ObjectNode =
    obj(rows.map { case (k, w, r) => k -> obj(Seq("value" -> fixed(w, 3),
      "vs_anchor" -> fixed(r, 2), "attribution" -> retryAttribution(r))) })

  // views of the record as strings, for callers that splice or parse JSON text
  /** `{"name":{"value":s,"vs_anchor":r,"attribution":"…"},…}`. */
  private[graft] def retryJson(rows: Seq[(String, Double, Double)]): String = write(retryNode(rows))
  /** Per query, each timed sample's codegen compiles in sample order. */
  private[graft] def compilesMap(xs: Seq[(String, Seq[Sample])]): String =
    write(obj(xs.map { case (k, ss) => k -> ss.map(_.compiles) }))
  /** The x10 block as one JSON object. */
  private[graft] def x10Render(triples: Seq[(String, Seq[Sample], Long)], probeFloor: Double,
      memFloor: Double): String =
    write(x10Node(triples.map(Row.tupled), probeFloor, memFloor))
  /** An x10 block's (per-query seconds, unconverged names, contended names);
    * an empty block reads as empty.
    */
  private[graft] def parseX10(line: String): (Seq[(String, Double)], Seq[String], Seq[String]) = {
    val x = om.readTree(line)
    (x10Queries(x), names(x.path("unconverged_x10")), names(x.path("contended_x10")))
  }
  /** The sf1 tier's (full, compact) fields as fragments that each splice
    * after other fields. `retryRun` gets the tier's suspects.
    */
  private[graft] def sf1Render(triples1: Seq[(String, Seq[Sample], Long)], probeFloor: Double,
      anchorQ1: Map[String, Double], shortOf: String => String, gcTier: Long, forked: Boolean,
      retryRun: Seq[String] => Seq[(String, Double, Double)] = _ => Seq.empty,
      memFloor: Double = Double.PositiveInfinity,
      prevAnchorQ1: Map[String, Double] = Map.empty): (String, String) = {
    val (full, compact) = sf1Nodes(summarize(triples1.map(Row.tupled), probeFloor, memFloor, anchorQ1,
      prevAnchorQ1, retryRun), shortOf, gcTier, forked)
    (fragment(full), fragment(compact))
  }

  private val Harness = "hash-materialized; r9: per-sample CPU calibration probe rejects starved " +
    "samples; r14: per-sample GC delta rejects gc-thrash samples, sf1 tier runs in a forked fresh " +
    "JVM; r17: per-sample memory-bandwidth probe rejects bus-contended samples; r18: x10_* rows " +
    "are the heavy operators on the 10x corpus, measured in the forked JVM (see Bench.scala scaladoc)"

  /** The run's full artifact and compact line: the headline tier `head`
    * around the forked JVM's document `fork` (missing before the fork has
    * run or with the sf1 tier off). `queries` and `value` carry the x10 rows
    * too. The compact line keeps the anchor geomeans; the per-row ratios are
    * in the detail file.
    */
  private[graft] def render(head: Tier, fork: JsonNode, sfDir: String, runs: Int,
      probeFloor: Double, memFloor: Double, gcHeadline: Long, detail: String): (ObjectNode, ObjectNode) = {
    val x10 = fork.path("x10")
    val x10Q = x10Queries(x10)
    val top = Seq("metric" -> "total", "value" -> fixed(head.total + x10Q.map(_._2).sum, 3),
      "unit" -> "sec", "queries" -> secs(head.best ++ x10Q), "sf" -> sfDir, "runs" -> runs)
    val full = obj(top ++ Seq("harness" -> Harness, "probe_base" -> fixed(probeFloor, 3),
      "mem_probe_base" -> fixed(memFloor, 3), "gc_ms" -> gcHeadline, "anchor" -> anchorPath,
      "prev_anchor" -> prevAnchorPath, "best_run_cpu_util" ->
      obj(head.rows.map { case (r, v) => r.name -> fixed(v.best.util, 2) })) ++ fullFields(head, ""))
    merge(full, fork.path("full"))
    full.replace("x10", if (x10.isObject) x10 else obj(Nil))
    def geomean(xs: Seq[(String, Double)]): Double =
      if (xs.isEmpty) 1.0 else math.exp(xs.map(x => math.log(x._2)).sum / xs.size)
    val compact = obj(top ++ compactFields(head, "", shortOf, Seq(
      "rejected_total" -> head.rows.map(_._2.rejected).sum,
      "vs_anchor_geomean" -> fixed(geomean(head.vsAnchor), 2),
      "vs_prev_anchor_geomean" -> fixed(geomean(head.vsPrevAnchor), 2)),
      cls => names(x10.path(cls + "_x10"))) ++ Seq(
      // the queries whose sampling window collected > 2 s of GC
      "gc_hot" -> obj(head.rows.collect { case (r, _) if r.gcMs > 2000 => shortOf(r.name) -> r.gcMs })))
    merge(compact, fork.path("compact"))
    compact.replace("detail", TextNode.valueOf(detail))
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = knob("SPARK_GRAFT_RUNS", "5").toInt
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    val cap = math.max(runs, knob("SPARK_GRAFT_MAX_RUNS", "9").toInt)
    val spark = benchSession()
    val qs = SparkEntry.queries
    val sampler = new Sampler(spark, qs)
    sampler.warm("q10_tpch_q1", sfDir) // JVM/codegen warmup outside the timed region
    // narrows the set for local iteration and skips the sf1 tier
    val only = knobSet("SPARK_GRAFT_ONLY")
    val gc0 = gcMs
    val rows = measureSet(spark, sampler, sfDir, runs, cap,
      headline.filter(qs.contains).filter(n => only.forall(_.contains(n))))
    val gcHeadline = gcMs - gc0
    val anchorQ = anchorMap(anchorPath, "queries", sfDir)
    val retried = summarize(rows, sampler.probeFloor, sampler.memFloor, anchorQ,
      retryRun = sus => retrySuspects(spark, sampler, sfDir, sus, anchorQ, runs, cap)).retry
    // verdicts under the final probe floors, which the retries may have lowered
    val head = summarize(rows, sampler.probeFloor, sampler.memFloor, anchorQ,
      anchorMap(prevAnchorPath, "queries", sfDir), _ => retried)

    val out = knob("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    def writeOut(fork: JsonNode): ObjectNode = {
      val (full, compact) = render(head, fork, sfDir, runs, sampler.probeFloor, sampler.memFloor,
        gcHeadline, out)
      Files.write(Paths.get(out), (write(full) + "\n").getBytes(UTF_8))
      compact
    }
    // written before the sf1 tier, so an sf1 failure keeps the headline tier
    writeOut(MissingNode.getInstance)

    val wantSf1 = knob("SPARK_GRAFT_SF1", "1") != "0" && sfDir.contains("sf0.1") && only.isEmpty
    val compact = writeOut(
      if (!wantSf1) MissingNode.getInstance
      else try runSf1Forked(sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 tier FAILED (headline tier kept): $e")
        val err = obj(Seq("sf1_error" ->
          (e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))))
        obj(Seq("full" -> err, "compact" -> err))
      })
    // the compact line goes last on stdout: Spark logs to stderr, so any
    // parse (whole tail, first '{', last line) finds one bare JSON line
    println(write(compact))
    System.out.flush()
    spark.stop()
  }

  /** Mechanical read of a suspect's retry ratio: back at ≤ 1.5× names the
    * original a transient host artifact; still > 2× says the slowdown
    * reproduces; in between the row stays ambiguous.
    */
  private[graft] def retryAttribution(ratio: Double): String =
    if (ratio <= 1.5) "transient_host_noise"
    else if (ratio > 2.0) "persistent_over_2x"
    else "borderline"

  /** Re-run each anchored suspect once with the tier's own sample budget,
    * heap drained around it. Suspects without an anchor row are skipped.
    */
  private[graft] def retrySuspects(spark: SparkSession, sampler: Sampler, dir: String,
      suspects: Seq[String], anchor: Map[String, Double], runs: Int,
      cap: Int): Seq[(String, Double, Double)] =
    suspects.filter(n => anchor.get(n).exists(_ > 0)).map { name =>
      drainHeap(spark)
      val ss = measureSet(spark, sampler, dir, runs, cap, Seq(name)).head.samples
      val wall = verdict(ss, sampler.probeFloor, sampler.memFloor).best.wall
      (name, wall, wall / anchor(name))
    }

  /** Heap drain between queries, outside every timed region: drop cached
    * plans and pinned RDDs (a returned localCheckpoint is a persisted RDD
    * the CacheManager cannot see), then a GC pair with a pause between, so
    * the ContextCleaner frees dead broadcasts and shuffle state. One query's
    * residue must not slow the next.
    */
  private[graft] def drainHeap(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(50) // let ContextCleaner drain its reference queue
    System.gc()
  }

  /** Run the sf1 and x10 tiers in a fresh JVM ([[BenchSf1]]) with this
    * JVM's flags, classpath and environment (so the same knobs), and read
    * back the JSON document it writes. The child's output goes to a log, echoed to stderr on
    * failure, because this process's stdout must stay clean. This process
    * owns the ~10× sf0.1 corpus dir, because a timed-out child dies by
    * SIGKILL. Throws when the child fails to spawn, times out, exits
    * nonzero or writes no tiers.
    */
  private def runSf1Forked(sfDir: String): JsonNode = {
    val out = Files.createTempFile("graft_sf1_out", ".json")
    val log = Files.createTempFile("graft_sf1_fork", ".log")
    val corpusDir = Files.createTempDirectory("graft_sf1").toString
    def fail(why: String): Nothing = {
      val tail = try Files.readAllLines(log).asScala.takeRight(15).mkString("\n")
        catch { case _: Throwable => "<log unreadable>" }
      System.err.println(s"[bench] $why (log tail):\n$tail")
      throw new RuntimeException(why)
    }
    try {
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
          "graft.BenchSf1", sfDir, out.toString, corpusDir)
      val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      val timeoutSec = knob("SPARK_GRAFT_SF1_TIMEOUT_SEC", "3000").toLong
      if (!proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        fail(s"sf1 fork timed out after $timeoutSec s")
      }
      if (proc.exitValue() != 0) fail(s"sf1 fork exited ${proc.exitValue()}")
      val doc = om.readTree(out.toFile)
      if (!doc.has("full")) fail("sf1 fork wrote no tiers")
      doc
    } finally {
      Seq(out, log).foreach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
      try graft.tools.Cleanup.deleteRecursively(corpusDir) catch { case _: Throwable => () }
    }
  }

  /** Warm, sample to convergence or `cap`, attribute GC and drain, per
    * query of `set`: the loop of every tier.
    */
  private[graft] def measureSet(spark: SparkSession, sampler: Sampler, dir: String, runs: Int,
      cap: Int, set: Seq[String]): Seq[Row] =
    set.map { n =>
      sampler.warm(n, dir)
      val g0 = gcMs
      val row = Row(n, sampler.sampleQuery(n, dir, runs, math.max(runs, cap)), gcMs - g0)
      drainHeap(spark)
      row
    }

  /** The corpus at `sfDir` blown up `factor`× into `corpusDir`, in the
    * standard `<dir>/<table>.parquet` layout so the SAME query closures run
    * unchanged against it; [[BenchSf1]] builds the sf1 and x10 tiers' corpus
    * at factor 10. Facts blow with per-replica key offsets, so join
    * fan-outs stay linear; documents append a per-replica token, so
    * near-dup structure per content group stays bounded (`factor`-doc
    * sibling groups); embeddings take replica `i` as the base rotated by
    * `i` ([[rotated]]: norm-preserving, replicas ~orthogonal, so a constant
    * dup rate); dims copy as-is. This is the recipe of the scaling smoke
    * deleted after f1da5bb (`git show f1da5bb:src/main/scala/graft/tools/`),
    * whose measurements SCALE.md keeps. Written once; the caller owns
    * `corpusDir` and deletes it, and the write is outside every timed region.
    */
  private[graft] def blowUp(spark: SparkSession, sfDir: String, corpusDir: String,
      factor: Int): String = {
    require(factor >= 1, s"blow-up factor must be >= 1, got $factor")
    def read(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    def blow(df: DataFrame, offs: Map[String, Long]): DataFrame =
      (0 until factor).map(i => df.select(df.columns.map(c =>
        offs.get(c).map(o => (col(c) + lit(i * o)).as(c)).getOrElse(col(c))): _*))
        .reduce(_ unionAll _)
    Seq(
      ("lineitem", Map("l_orderkey" -> 1000000000L, "l_partkey" -> 1000000L)),
      ("orders", Map("o_orderkey" -> 1000000000L)),
      ("part", Map("p_partkey" -> 1000000L)),
      // r13: customer blows too so p07's entity graph (edges k → k+7
      // within a segment) grows with the corpus. The 10 M stride keeps
      // replica key ranges disjoint (no cross-replica edges) and leaves
      // the original custkeys intact, so orders→customer joins still
      // match replica 0; the extra customers are unmatched scan — the
      // realistic shape of a dimension growing with the fact table.
      ("customer", Map("c_custkey" -> 10000000L))
    ).foreach { case (t, offs) =>
      blow(read(t), offs).write.mode("overwrite").parquet(s"$corpusDir/$t.parquet")
    }
    (0 until factor).map(i => read("documents")
        .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat(col("text"), lit(" v" + i)).as("text"),
          col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    (0 until factor).map(i => read("embeddings")
        .select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          rotated(i).as("embedding"), col("label")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
    (0 until factor).map(i => EntryShared.loadEvents(spark, sfDir)
        .select((col("event_id") + lit(i * 1000000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props")))
      .reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$corpusDir/events.parquet")
    Seq("region", "nation", "supplier").foreach(t =>
      read(t).write.mode("overwrite").parquet(s"$corpusDir/$t.parquet"))
    corpusDir
  }

  /** The `embedding` column cyclically shifted left by `shift` mod its
    * length. A raw shift past the length would make the slice length
    * negative and kill the job on the executor; modulo it, replicas `i`
    * and `i + dim` share a rotation (distinct ids, equal vectors).
    */
  private[graft] def rotated(shift: Int): Column = {
    val s = s"($shift % size(embedding))"
    expr(s"concat(slice(embedding, $s + 1, size(embedding) - $s), slice(embedding, 1, $s))")
  }
}

/** The sf1 and x10 tiers as a standalone main, launched by [[Bench]] in a
  * fresh JVM so the 10×-corpus measurements never share a heap with the
  * headline tier. args: the base sf dir, the output file, and the dir to
  * build the corpus in, which the parent owns and cleans up. Writes one JSON document,
  * `{"full":…,"compact":…,"x10":…}`; knobs arrive through the inherited
  * environment. Exits nonzero on any failure.
  */
object BenchSf1 {
  import Bench._

  def main(args: Array[String]): Unit = {
    require(args.length == 3, s"BenchSf1 <sfDir> <out> <corpusDir>, got ${args.toSeq}")
    val Array(sfDir, out, corpusDir) = args
    val runs = knob("SPARK_GRAFT_SF1_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_SF1_RUNS must be >= 1, got $runs")
    // a higher cap than the headline's: on the fresh 10× corpus JIT and the
    // page cache keep warming across runs
    val cap = math.max(runs, knob("SPARK_GRAFT_SF1_MAX_RUNS", "12").toInt)
    // narrows the sf1 tier for local iteration and skips the x10 tier
    val only = knobSet("SPARK_GRAFT_SF1_ONLY")
    val spark = benchSession()
    val qs = SparkEntry.queries
    val sampler = new Sampler(spark, qs)
    val gc1 = gcMs
    val dir = blowUp(spark, sfDir, corpusDir, 10)
    try {
      sampler.warm("q10_tpch_q1", dir) // the new dir's table registrations
      val rows = measureSet(spark, sampler, dir, runs, cap,
        sf1Set.filter(qs.contains).filter(n => only.forall(_.contains(n))))
      val gcTier = gcMs - gc1
      val anchorQ1 = anchorMap(anchorPath, "queries_sf1", sfDir)
      val tier = summarize(rows, sampler.probeFloor, sampler.memFloor, anchorQ1,
        anchorMap(prevAnchorPath, "queries_sf1", sfDir),
        sus => retrySuspects(spark, sampler, dir, sus, anchorQ1, runs, cap))
      val (full, compact) = sf1Nodes(tier, shortOf, gcTier, forked = true)
      val x10 = if (only.isDefined) obj(Nil) else x10Node(measureSet(spark, sampler, dir, runs,
        cap, x10Set.filter(qs.contains)), sampler.probeFloor, sampler.memFloor)
      Files.write(Paths.get(out),
        write(obj(Seq("full" -> full, "compact" -> compact, "x10" -> x10))).getBytes(UTF_8))
    } finally spark.stop()
    // local-mode Spark occasionally leaves non-daemon threads; the parent
    // reads only the output file, so exit decisively
    sys.exit(0)
  }
}
