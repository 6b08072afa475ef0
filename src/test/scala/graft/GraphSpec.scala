package graft

import graft.core.DDFManager
import graft.operators.{Aggregations, Graph}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: symmetric pair is a fixed point; star ranks hand-computed") {
    // a <-> b: each node forwards its whole rank, so 150000 + 85% of
    // 1000000 = 1000000 every round — the exact fixed point
    val pair = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val pr = Graph.pageRank(pair, "src", "dst", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr == Map("a" -> 1000000L, "b" -> 1000000L), s"got $pr")

    // star a <-> {b, c}: hand-rolled two rounds of integer arithmetic
    //   round 1: a = 150000 + 85%*(1e6 + 1e6) = 1850000
    //            b = c = 150000 + 85%*(1e6 div 2) = 575000
    //   round 2: a = 150000 + 85%*(575000*2)     = 1127500
    //            b = c = 150000 + 85%*(1850000 div 2) = 936250
    val star = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("src", "dst")
    val pr2 = Graph.pageRank(star, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr2 == Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L), s"got $pr2")
  }

  test("pageRank: dangling sink keeps collecting, emits nothing") {
    val pr = Graph.pageRank(Seq(("a", "sink")).toDF("src", "dst"), "src", "dst", 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a has no in-edges -> base only; sink collects a's whole rank
    assert(pr == Map("a" -> 150000L, "sink" -> 1000000L), s"got $pr")
  }

  test("mergeAggregates == direct aggregate over the union; non-mergeable fns refused") {
    val m = DDFManager(spark)
    val df = Seq(("x", 1.0), ("x", 5.0), ("y", 2.0), ("x", 3.0), ("y", 8.0))
      .toDF("g", "v")
    val spec = "g, n=count(*), mx=max(v), mn=min(v), s=sum(v)"
    val a = m.register(df.filter(col("v") < 4))
    val b = m.register(df.filter(col("v") >= 4))
    val merged = Aggregations.mergeAggregates(
      Aggregations.aggregate(a, spec).df, Aggregations.aggregate(b, spec).df, spec)
      .orderBy("g").collect()
    val direct = Aggregations.aggregate(m.register(df), spec).df
      .orderBy("g").collect()
    assert(merged.sameElements(direct))
    intercept[IllegalArgumentException](
      Aggregations.mergeAggregates(df, df, "g, m=avg(v)"))
  }

  test("pageRankWeighted: rank splits by weight; duplicate edges sum; pair fixed point") {
    // symmetric pair forwards its whole rank whatever the weight —
    // same fixed point as the unweighted form
    val pair = Seq(("a", "b", 7L), ("b", "a", 7L)).toDF("src", "dst", "w")
    val pp = Graph.pageRankWeighted(pair, "src", "dst", "w", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pp == Map("a" -> 1000000L, "b" -> 1000000L), s"got $pp")
    // star a→b (weight 3), a→c (weight 1): after one round b gets 3/4 of
    // a's damped mass, c gets 1/4 — hand-computed micro-units
    val star = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val ps = Graph.pageRankWeighted(star, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ps == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L), s"got $ps")
    // duplicate (src, dst) rows sum their weights; zero-weight edges drop
    val dup = Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L), ("a", "d", 0L))
      .toDF("src", "dst", "w")
    val pd = Graph.pageRankWeighted(dup, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pd == Map("a" -> 150000L, "b" -> 787500L, "c" -> 362500L), s"got $pd")
  }

  test("hits: hand-computed two iterations; sources/sinks zero the right side (r17)") {
    import spark.implicits._
    // a->b, a->c, d->c: c is the authority (two in-links), a the hub
    val e = Seq(("a", "b"), ("a", "c"), ("d", "c")).toDF("s", "t")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Graph.hits(e, "s", "t", iterations = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // iter1: araw b=S c=2S -> auth b=S/2 c=S; hraw a=1.5S d=S ->
    //   hub a=S d=floor(S/1.5)=666666
    // iter2: araw b=S c=1666666 -> auth b=floor(1e12/1666666)=600000 c=S;
    //   hraw a=1600000 d=1000000 -> hub a=S d=625000
    assert(out("a") == ((0L, 1000000L)), s"got ${out("a")}")
    assert(out("b") == ((600000L, 0L)))
    assert(out("c") == ((1000000L, 0L)))
    assert(out("d") == ((0L, 625000L)))
    out.values.foreach { case (au, hb) =>
      assert(au <= 1000000L && hb <= 1000000L) }
    // released iteration caches: only the returned materialization may
    // remain pinned beyond what was pinned before the call
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"hits must release its iteration frames, leaked ids: $leaked")
  }

  test("hits and pageRank: the result's plan does not grow with the iterations") {
    val e = Seq(("a", "b", 2L), ("a", "c", 1L), ("d", "c", 3L), ("c", "a", 1L))
      .toDF("s", "t", "w")
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "hits" -> (Graph.hits(e, "s", "t", _)),
      "pageRank" -> (Graph.pageRank(e, "s", "t", _)),
      "pageRankWeighted" -> (Graph.pageRankWeighted(e, "s", "t", "w", _)))
    def planNodes(run: Int => org.apache.spark.sql.DataFrame, iterations: Int): Int = {
      val out = run(iterations)
      try out.queryExecution.analyzed.collect { case p => p }.size
      finally graft.core.Checkpoints.release(out)
    }
    val grown = ops.map { case (name, run) => (name, planNodes(run, 2), planNodes(run, 6)) }
      .filter { case (_, two, six) => six > two }
    assert(grown.isEmpty, grown.map { case (name, two, six) =>
      s"$name's analyzed plan has $two nodes at 2 iterations, $six at 6" }.mkString("; "))
  }

  test("triangleCount: K4 has 3 per node; direction/dups/self-loops erased") {
    // K4 = 4 triangles, each node in exactly 3
    val k4 = (for {
      a <- 1 to 4; b <- 1 to 4 if a != b
    } yield (a.toLong, b.toLong)).toDF("src", "dst") // both directions + dups
      .unionAll(Seq((1L, 1L)).toDF("src", "dst"))    // self-loop must drop
    val tc = Graph.triangleCount(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $tc")
    // triangle-free graph (a path) → empty output
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCount(path, "src", "dst").count() == 0)
  }

  test("triangleCount: skewed star+rim — hub counted once per rim triangle") {
    // hub 0 connected to rim 1..6; rim is a cycle → 6 triangles, hub in
    // all 6, each rim node in 3 (two hub triangles + one... compute:
    // triangle (0, i, i+1) for each cycle edge; rim node i is in
    // triangles (0,i-1,i) and (0,i,i+1) → 2 each; hub in 6.
    val rim = (1 to 6).map(i => (i.toLong, (if (i == 6) 1 else i + 1).toLong))
    val star = (1 to 6).map(i => (0L, i.toLong))
    val tc = Graph.triangleCount((rim ++ star).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc(0L) == 6L && (1 to 6).forall(i => tc(i.toLong) == 2L), s"got $tc")
  }

  test("kCore: cascade peels the tail, core degrees reported, strict guard") {
    // lollipop: K5 (ids 1-5, deg 4) + tail 5-6-7-8. 2-core: the tail
    // peels back node by node (8 first, then 7, then 6 — a 3-round
    // cascade), K5 survives with in-core degree 4.
    val k5 = (for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a.toLong, b.toLong))
    val tail = Seq((5L, 6L), (6L, 7L), (7L, 8L))
    val out = Graph.kCore((k5 ++ tail).toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L), s"got $out")
    // whole graph unravels at k above the max core
    assert(Graph.kCore(tail.toDF("src", "dst"), "src", "dst", k = 2).count() == 0)
    // strict: a cascade deeper than maxIter must throw, not return junk
    intercept[IllegalStateException] {
      Graph.kCore((k5 ++ tail).toDF("src", "dst"), "src", "dst", k = 2, maxIter = 1)
    }
  }

  test("connectedComponents labels a chain by its minimum id") {
    val edges = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("src", "dst")
    val cc = Graph.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L),
      s"got $cc")
  }

  // --- round 12: checkpoint-release hygiene ---

  private def lollipop = {
    val k5 = for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a.toLong, b.toLong)
    (k5 ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))).toDF("src", "dst")
  }

  test("eager triangleCount, kCore and connectedComponents record their rounds") {
    // the operators return checkpoints, so their per-round DAG is read
    // from the AQE-final plans of the SQL executions the call ran
    def recording(run: => org.apache.spark.sql.DataFrame): graft.tools.Profile.Recording = {
      var out: org.apache.spark.sql.DataFrame = null
      val rec = graft.tools.Profile.record(spark) { out = run }
      graft.core.Checkpoints.release(out)
      rec
    }
    def recorded(run: => org.apache.spark.sql.DataFrame): Seq[String] =
      recording(run).executions.flatMap(_.nodes).map(_.name)
    val edges = lollipop
    val tc = recording(Graph.triangleCount(edges, "src", "dst"))
    val tcNodes = tc.executions.flatMap(_.nodes).map(_.name)
    assert(tcNodes.exists(_.endsWith("Join")), "triangleCount should record its out-list join")
    // one SQL execution over no cached frame, in the measured job count
    assert(tc.executions.size == 1 && tc.outside.isEmpty,
      s"triangleCount ran ${tc.executions.size} SQL executions and " +
        s"${tc.outside.map(_._2.jobs).sum} jobs outside them")
    val cached = tcNodes.filter(_.contains("InMemory"))
    assert(cached.isEmpty, s"triangleCount scanned cached frames: $cached")
    assert(tc.total.jobs <= 7, s"triangleCount ran ${tc.total.jobs} jobs")
    assert(recorded(Graph.kCore(edges, "src", "dst", k = 2)).exists(_.endsWith("Aggregate")),
      "kCore should record the degree aggregate")
    assert(recorded(Graph.connectedComponents(edges, "src", "dst")).exists(_.endsWith("Join")),
      "connectedComponents should record the propagation round")
  }

  test("Checkpoints.release frees localCheckpoint blocks (Dataset.unpersist alone can't)") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(100).toDF("v").localCheckpoint()
    val rddId = df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint should pin its RDD")
    df.unpersist(blocking = true) // the trap: no-op for checkpoints
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "Dataset.unpersist must NOT be assumed to free checkpoint blocks")
    graft.core.Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "release must free the checkpointed RDD's blocks")
  }

  test("iterative loops release superseded rounds: at most one block set survives") {
    def pinnedIds = spark.sparkContext.getPersistentRDDs.keySet
    // runs `call`; at most the result's own blocks may stay pinned, and
    // releasing the result must return the pinned set to its baseline.
    // r13 (r12 ADVICE): connectedComponents/dupClusters return a Project
    // (withColumnRenamed) OVER the final checkpoint, which the old
    // root-only LogicalRDD match in release silently skipped.
    def pinsOnlyResult(name: String)(call: => org.apache.spark.sql.DataFrame): Long = {
      val before = pinnedIds
      val out = call
      val n = out.count()
      val leaked = pinnedIds -- before
      assert(leaked.size <= 1, s"$name left ${leaked.size} pinned RDDs " +
        "(expected only the returned frame's checkpoint)")
      graft.core.Checkpoints.release(out)
      assert((pinnedIds -- before).isEmpty,
        s"release($name result) must free its blocks; still pinned: ${pinnedIds -- before}")
      n
    }
    // a 64-node chain needs several pointer-doubling rounds; before the
    // r12 fix each round left one pinned checkpoint behind
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(pinsOnlyResult("connectedComponents")(
      Graph.connectedComponents(chain, "src", "dst")) == 64)
    // kCore on the lollipop peels a 3-round cascade
    assert(pinsOnlyResult("kCore")(Graph.kCore(lollipop, "src", "dst", k = 2)) == 5)
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    assert(pinsOnlyResult("dupClusters")(graft.pipeline.Dedup.dupClusters(pairs)) == 20)
    assert(pinsOnlyResult("pageRank")(Graph.pageRank(chain, "src", "dst", 4)) == 64)
    assert(pinsOnlyResult("pageRankWeighted")(Graph.pageRankWeighted(
      chain.withColumn("w", col("src") % 3 + 1), "src", "dst", "w", 4)) == 64)
    assert(pinsOnlyResult("triangleCount")(Graph.triangleCount(lollipop, "src", "dst")) == 5)
    val docs = Seq((1L, "the court held the contract void"), (2L, "whisk the eggs"))
      .toDF("doc_id", "text")
    assert(pinsOnlyResult("importanceWeights")(graft.pipeline.Dsir.importanceWeights(
      docs, docs.filter(col("doc_id") === 1L), "text", "doc_id", buckets = 64)) == 2)
    val names = Seq((1L, "graph"), (2L, "grape"), (3L, "giraffe")).toDF("id", "s")
    assert(pinsOnlyResult("editDistanceLookup")(graft.pipeline.SetJoin.editDistanceLookup(
      names, "s", "id", names, "s", "id", maxDist = 1)) == 5)
    val texts = Seq((1L, "a b"), (2L, "A  b "), (3L, "c")).toDF("doc_id", "text")
    assert(pinsOnlyResult("exactSurvivors")(
      graft.pipeline.Dedup.exactSurvivors(texts, "text", "doc_id")) == 2)
    val near = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), (3L, "an unrelated text"))
      .toDF("doc_id", "text")
    assert(pinsOnlyResult("minhashDedup")(graft.pipeline.Dedup.minhashDedup(
      near, "text", "doc_id", threshold = 0.5)) == 1)
    assert(pinsOnlyResult("minhashRecallEval")(graft.pipeline.Dedup.minhashRecallEval(
      near, "text", "doc_id", threshold = 0.5)) == 1)
  }
}
