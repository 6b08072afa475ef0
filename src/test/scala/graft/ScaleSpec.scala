package graft

import graft.operators.Joins
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Scale-path machinery: shuffle-free bucketed joins and skew salting.
  * These specs pin PLAN SHAPE (where the win lives), not just results.
  */
class ScaleSpec extends SparkTestBase {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed co-located join runs without any Exchange") {
    import spark.implicits._
    val facts = (1L to 1000L).map(i => (i % 50, s"f$i")).toDF("k", "payload")
    val dims = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "attr")
    Bucketing.writeBucketed(facts, "graft_facts_b", Seq("k"), 8)
    Bucketing.writeBucketed(dims, "graft_dims_b", Seq("k"), 8)
    try {
      // broadcast off so the shuffle-free-ness comes from bucketing, not
      // a broadcast; AQE off so the initial plan is what we assert on
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val j = Bucketing.readBucketed(spark, "graft_facts_b")
          .join(Bucketing.readBucketed(spark, "graft_dims_b"), "k")
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle, got:\n$plan")
        assert(j.count() == 1000L)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }

  test("partitioned write prunes directories at scan time") {
    import spark.implicits._
    val rows = (1 to 400).map(i => (i.toLong, Seq("click", "view", "purchase", "error")(i % 4)))
      .toDF("id", "etype")
    val path = "target/tmp-partitioned-events"
    Bucketing.writePartitioned(rows, path, Seq("etype"))
    val back = spark.read.parquet(path).filter(col("etype") === "click")
    assert(back.count() == 100)
    // the filter must land in PartitionFilters (directory pruning), not
    // just PushedFilters (row-group pruning)
    val scan = back.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "etype")),
      s"partition filter must reach the scan, got: ${scan.partitionFilters}")
  }

  test("temperatureResample: broadcast quota join; data-path window boundary-bounded") {
    import spark.implicits._
    val m = new graft.core.DDFManager(spark)
    val df = (1 to 300).map(i => (i.toLong, s"g${i % 3}")).toDF("doc_id", "lang")
    val out = graft.operators.Views.temperatureResample(
      m.register(df), "lang", "doc_id", power = 2, targetTotal = 50).df
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"quota join must broadcast, got:\n$plan")
    // r13: the boundary-sub-range shape replaced the whole-group window
    // — every corpus-path window must sit above the sub-range boundary
    // restriction (matchDistribution's pin, same helper)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val dataWindows = windows.filterNot(
      _.partitionSpec.exists(_.references.exists(_.name == "__cb")))
    assert(dataWindows.nonEmpty, "expected the boundary sub-range window")
    dataWindows.foreach { w =>
      val conds = w.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
      }
      assert(conds.exists(_.find {
        case eq: org.apache.spark.sql.catalyst.expressions.EqualTo =>
          eq.references.exists(a => a.name == "__sub" || a.name == "__bnd")
        case _ => false
      }.isDefined),
        s"window must be fed by the sub-range boundary filter:\n${w.toString.take(2000)}")
    }
    assert(out.count() > 0)
  }

  test("tfidfTopTerms reuses the tf aggregation for doc_freq (no second corpus scan)") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"alpha beta w$i gamma")).toDF("doc_id", "text")
    val out = graft.pipeline.Relevance.tfidfTopTerms(df, "text", "doc_id", k = 2)
    // the tokenizer (regexp split) must appear in exactly one scan branch:
    // doc_freq is derived from the tf frame, not a re-tokenized corpus
    val plan = out.queryExecution.optimizedPlan.toString
    val tokenizations = "split".r.findAllIn(plan).size
    assert(tokenizations <= 2, // one Generate(explode(split...)) can print split twice
      s"doc_freq must not re-tokenize the corpus, got $tokenizations split()s:\n$plan")
    assert(out.count() > 0)
  }

  test("writeSharded caps rows per output file without an extra shuffle") {
    import spark.implicits._
    withTempDir("graft_shard") { tmp =>
      val dir = s"$tmp/out"
      val df = (1L to 1000L).toDF("id").coalesce(1)
      Bucketing.writeSharded(df, dir, maxRecordsPerFile = 300L)
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 4, s"1000 rows / 300 cap = 4 shards, got ${files.length}")
      val back = spark.read.parquet(dir)
      assert(back.count() == 1000L)
      // no file exceeds the cap
      files.foreach { f =>
        assert(spark.read.parquet(f.getAbsolutePath).count() <= 300L)
      }
    }
  }

  test("semanticPairs: within-cell join is equi-keyed (no cartesian), cells bound pairs") {
    import spark.implicits._
    val vecs = (1 to 60).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, base.map(_ + i / 1000.0f))
    }.toDF("vec_id", "embedding")
    val idx = graft.pipeline.IvfIndex.buildFromCentroids(vecs, "embedding", "vec_id",
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val pairs = graft.pipeline.Dedup.semanticPairs(idx, threshold = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair generation must be keyed on cell, got:\n$plan")
    // 30 per cell → 2 * C(30,2) within-cell pairs scored, none across cells
    assert(pairs.count() == 2L * 30 * 29 / 2)
  }

  test("intervalJoin (batch) anchors on the equality key — never a nested-loop product") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val l = (1 to 50).map(i => (i.toLong % 7, i.toLong, t(i % 60))).toDF("k", "lid", "lts")
    val r = (1 to 50).map(i => (i.toLong % 7, i.toLong + 100, t((i + 3) % 60))).toDF("k", "rid", "rts")
    val j = graft.streaming.EventStreams.intervalJoin(
      l, r, Seq("k"), "lts", "rts", 0L, 10 * 60 * 1000L)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"interval join must hash on the equality key, got:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("hashedTokenFeatures: shuffles carry post-agg rows, never raw tokens") {
    import spark.implicits._
    val docs = (1 to 200).map(i => (i.toLong, s"alpha beta w$i gamma delta")).toDF("id", "text")
    val out = graft.pipeline.TextAnalysis.hashedTokenFeatures(docs, "text", "id", 32)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the explode must be UNDER a partial aggregate (map-side combine
    // compacts to <= dim rows per id before any exchange) — a plan that
    // exchanges the Generate output directly shuffles every token
    val gen = plan.indexOf("Generate explode")
    val firstExchange = plan.indexOf("Exchange")
    assert(gen >= 0 && firstExchange >= 0)
    assert(plan.substring(firstExchange, gen).contains("partial_count") ||
      plan.substring(0, gen).contains("partial_count"),
      s"token explode must be compacted by a partial aggregate before the shuffle:\n$plan")
  }

  test("bm25Retrieve: query-token semi-join broadcasts and prunes before the tf aggregate") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, s"alpha beta w$i gamma")).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha"), (2L, "gamma beta")).toDF("qid", "qtext")
    val out = graft.pipeline.Relevance.bm25Retrieve(docs, "text", "doc_id",
      queries, "qid", "qtext", k = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"corpus explode must be pruned by a broadcast semi-join, got:\n$plan")
    assert(out.filter(col("rk") > 3).isEmpty && out.count() == 6)
  }

  test("editDistanceLookup FastSS path: candidates from an equi join on variants — no cartesian") {
    import spark.implicits._
    val left = (1 to 30).map(i => (i.toLong, s"word$i")).toDF("id", "s")
    val right = (1 to 50).map(i => (100L + i, s"word$i")).toDF("id", "s")
    // the lookup returns a checkpoint: its plan is read from the AQE-final
    // plan nodes of the SQL executions the eager call ran
    def lookupNodes(k: Int): Seq[graft.tools.Profile.Node] = {
      var out: org.apache.spark.sql.DataFrame = null
      val rec = graft.tools.Profile.record(spark) {
        out = graft.pipeline.SetJoin.editDistanceLookup(left, "s", "id",
          right, "s", "id", maxDist = k)
      }
      graft.core.Checkpoints.release(out)
      rec.executions.flatMap(_.nodes)
    }
    val k2 = lookupNodes(2)
    assert(!k2.exists(n => n.name == "CartesianProduct" || n.name == "BroadcastNestedLoopJoin"),
      s"FastSS lookup candidates must come from an equi join on variants:\n${k2.map(_.desc)}")
    // k = 3 → PassJoin: each side's segments against the other side's
    // probes, two equi-joins on (l, i, g); the short-string pool is a
    // bounded nested-loop join by design, so it is not pinned here
    val k3 = lookupNodes(3)
    val segJoin = raw"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[l#\d+, i#\d+, g#\d+\].*".r
    assert(k3.count(n => segJoin.matches(n.desc)) == 2,
      s"PassJoin lookup candidates must come from two equi joins on (l, i, g):\n${k3.map(_.desc)}")
  }

  test("incrementalExactBloom: one anti-join; bloom probe gates both branches") {
    import spark.implicits._
    val index = (1 to 50).map(i => (i.toLong, s"indexed doc $i")).toDF("doc_id", "text")
    val known = graft.pipeline.Dedup.exact(index, "text", "doc_id").select("fingerprint")
    val batch = (40 to 60).map(i => (100L + i, s"indexed doc $i")).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.incrementalExactBloom(batch, known, "text", "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size == 1,
      s"only the maybe-branch may join the index, got:\n$plan")
    // the probe filter is visible pre-optimization (on a local-relation
    // test input ConvertToLocalRelation folds it into the scan)
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains("might_contain"),
      s"bloom probe missing from the analyzed plan:\n$analyzed")
    assert(out.collect().map(_.getAs[Long]("keep_id")).toSet == (151L to 160L).toSet)
  }

  test("saltedJoin equals the unsalted join and spreads the hot key") {
    import spark.implicits._
    // one hot key (900 of 1000 rows) + a tail
    val left = ((1 to 900).map(i => (7L, s"v$i")) ++ (1 to 100).map(i => (i.toLong, s"t$i")))
      .toDF("k", "lv")
    val right = (1L to 100L).map(i => (i, s"r$i")).toDF("k", "rv")
    for (jt <- Seq("inner", "left_outer", "left_semi")) {
      val plain = left.join(right, Seq("k"), jt)
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      val salted = Joins.saltedJoin(left, right, Seq("k"), saltFactor = 8, jt)
        .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      assert(salted == plain, s"salted $jt must match plain join")
    }
    // the hot key's rows really get distinct salts (distribution spread);
    // same deterministic expression the operator uses
    val salts = left
      .withColumn("__graft_salt", pmod(xxhash64(left.columns.map(col): _*), lit(8L)))
      .filter(col("k") === 7L).select("__graft_salt").distinct().count()
    assert(salts > 1, "hot key must spread over multiple salt values")
    // right-preserving joins are rejected
    intercept[IllegalArgumentException] {
      Joins.saltedJoin(left, right, Seq("k"), 4, "full_outer")
    }
  }

  test("asofJoin: latest right at-or-before left, ties by rightOrder, null when none") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 10L, t(5)), (2L, 10L, t(20)), (3L, 11L, t(1)), (4L, 10L, t(10)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((100L, 10L, t(5), 1.0), (101L, 10L, t(5), 2.0), (102L, 10L, t(15), 3.0),
        (103L, 12L, t(0), 9.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = Joins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        Seq("ts", "value"), "event_id")
      .select(col("event_id"), col("asof.value").as("v"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L) == 2.0, "equal-ts right matches; tie broken by max rightOrder")
    assert(out(2L) == 3.0, "latest right before left wins")
    assert(out(3L) == null, "no right row for that user → null payload")
    assert(out(4L) == 2.0, "carries forward past unmatched gaps")
    // plan shape: exactly one shuffle (the window), no range explosion
    val plan = Joins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
      Seq("value"), "event_id").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("topKByGroup: native bounded heap == window rank; aggregates, never windows") {
    import spark.implicits._
    val df = spark.range(10000).toDF("id")
      .withColumn("g", col("id") % 7)
      .withColumn("v", (col("id") * 37) % 1000)
      .withColumn("payload", concat(lit("p"), col("id")))
    val got = operators.Views.topKByGroup(df, Seq("g"), Seq("v", "id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    val want = df.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id").desc)))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    assert(got == want, s"native top-k != window rank\n got=$got\nwant=$want")
    // duplicate (g, v) pairs exist (10000 ids over 1000 v values per
    // group) — the id in the struct breaks them deterministically
    assert(got.size == 21)
    // the whole point: an AGGREGATE plan (map-side partial bounded heap),
    // no Window operator, no sort of the data
    val plan = operators.Views.topKByGroup(df, Seq("g"), Seq("v", "id"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("bounded_top_k"),
      s"expected the native aggregate, got:\n$plan")
    assert(!plan.contains("Window"), "top-k per group must not fall back to a window")
    // fewer rows than k → whole group survives
    val tiny = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("g", "v", "p")
    assert(operators.Views.topKByGroup(tiny, Seq("g"), Seq("v"), 5).count() == 2)
    // ascending = bottom-k (the reversed heap), output smallest-first
    val asc = operators.Views.topKByGroup(df, Seq("g"), Seq("v", "id"), 3,
        ascending = true)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1))).toSet
    val wantAsc = df.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").asc, col("id").asc)))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    assert(asc == wantAsc, s"bottom-k != window asc rank\n got=$asc\nwant=$wantAsc")
    // mixed directions: (score DESC, token ASC) with STRING ties — the
    // reversed-field comparator, == the mixed-order window
    val sdf = Seq((1L, 5.0, "zz"), (1L, 5.0, "aa"), (1L, 5.0, "mm"), (1L, 9.0, "qq"))
      .toDF("g", "s", "t")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val mixAgg = bridge.column(graft.functions.BoundedTopK(
      bridge.expression(struct(col("s"), col("t"))), 3,
      reversedFields = Seq(1)).toAggregateExpression())
    val mix = sdf.groupBy("g").agg(mixAgg.as("tk"))
      .select(posexplode(col("tk")).as(Seq("p", "e")))
      .collect().map(r => (r.getInt(0), r.getStruct(1).getString(1))).toList
    assert(mix == List((0, "qq"), (1, "aa"), (2, "mm")),
      s"score DESC then token ASC expected, got $mix")
  }

  test("topKWithRank: window-identical ranks with STRING ids (r12 ADVICE fix)") {
    import spark.implicits._
    // score ties must break id-ASCENDING for any orderable id type — the
    // r11 negated-copy trick required numeric ids; reversedFields doesn't
    val df = Seq(("q1", "doc-b", 9.0), ("q1", "doc-a", 9.0), ("q1", "doc-z", 7.0),
        ("q1", "doc-c", 9.0), ("q2", "doc-x", 1.0), ("q2", "doc-y", 2.0))
      .toDF("q", "doc", "score")
    val got = operators.Views.topKWithRank(df, "q", "score", "doc", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
    val want = df.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q").orderBy(col("score").desc, col("doc").asc)))
      .filter(col("rk") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Int]("rk"))).toSet
    assert(got == want, s"got=$got want=$want")
    // still the aggregate plan, not a window
    val plan = operators.Views.topKWithRank(df, "q", "score", "doc", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_k") && !plan.contains("Window"), plan)
  }

  test("budgetSelect == global running-sum window; no global window in the plan") {
    import spark.implicits._
    val df = spark.range(10000).toDF("id")
      .withColumn("q", (col("id") * 37) % 1000)      // priority, heavy ties
      .withColumn("cost", (col("id") % 97) + 1)       // 1..97
    val order = Seq(col("q").desc, col("id").asc)
    val budget = 120000L
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = operators.Views.budgetSelect(df, order, "cost", budget)
      .collect().map(_.getLong(0)).toSet
    val want = df.withColumn("c",
        sum("cost").over(org.apache.spark.sql.expressions.Window
          .orderBy(col("q").desc, col("id").asc)
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("c") <= budget)
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"diff=${(got diff want) ++ (want diff got)}")
    // r13: the pins are on plans that can actually fail (the r12 pin
    // asserted no-Window on a LogicalRDD scan — vacuous).
    // (a) the RESULT is a lazy filter of the ORIGINAL frame: no window,
    //     no exchange, no RDD scan — a global-window rewrite would
    //     reintroduce Window + Exchange here
    val sel = operators.Views.budgetSelect(df, order, "cost", budget)
    val plan = sel.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange") &&
      !plan.contains("Scan ExistingRDD"),
      s"must be a lazy pushdown-eligible filter of the input:\n$plan")
    // (c) nothing pins: no checkpoint/persist survives the call (the
    //     r12 verdict's lifetime ask — the old shape pinned a full
    //     range-partitioned corpus copy until driver GC)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinnedBefore,
      "budgetSelect must not leave pinned storage behind")
    // edges: zero budget keeps nothing (all costs >= 1); empty input ok;
    // negative costs refused up front from the pass-1 full-input min —
    // even when the cutoff lands before the negative row (r12 ADVICE:
    // the old scan-time require silently missed exactly that case)
    assert(operators.Views.budgetSelect(df, order, "cost", 0L).count() == 0)
    assert(operators.Views.budgetSelect(df.limit(0), order, "cost", 10L).count() == 0)
    intercept[IllegalArgumentException] {
      operators.Views.budgetSelect(
        df.withColumn("cost", when(col("id") === 9999L, lit(-1L)).otherwise(col("cost"))),
        order, "cost", 10L)
    }
  }

  test("budgetSelect sampled path runs zero shuffle stages (r18)") {
    import spark.implicits._
    val df = spark.range(50000).toDF("id")
      .withColumn("q", (col("id") * 37) % 1000)
      .withColumn("cost", (col("id") % 97) + 1)
    val order = Seq(col("q").desc, col("id").asc)
    val rec = graft.tools.Profile.record(spark) {
      val got = operators.Views.budgetSelect(df, order, "cost", 600000L)
      got.write.format("noop").mode("overwrite").save() // the lazy filter too
    }
    val shuffleRecords = rec.total.shuffleRecords
    assert(shuffleRecords == 0L,
      s"sampled budgetSelect wrote $shuffleRecords shuffle records — " +
        "the r18 shape must be map-only passes + driver finish")
    // two map-only driver collects (the pass-1 sample, the boundary
    // range) and the sink's own job
    assert(rec.total.jobs == 3, s"budgetSelect + sink ran ${rec.total.jobs} jobs, expected 3")
  }

  test("budgetSelect on a struct key runs the same zero-shuffle search") {
    val df = spark.range(50000).toDF("id")
      .withColumn("q", struct(((col("id") * 37) % 1000).as("a"),
        concat(lit("s"), (col("id") % 7).cast("string")).as("b")))
      .withColumn("cost", (col("id") % 97) + 1)
    val order = Seq(col("q").desc, col("id").asc)
    val budget = 600000L
    var got = Set.empty[Long]
    val rec = graft.tools.Profile.record(spark) {
      got = operators.Views.budgetSelect(df, order, "cost", budget)
        .collect().map(_.getLong(0)).toSet
    }
    val want = df.withColumn("c", sum("cost").over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("c") <= budget).collect().map(_.getLong(0)).toSet
    assert(got == want, s"diff=${(got diff want) ++ (want diff got)}")
    assert(rec.total.shuffleRecords == 0L,
      s"struct-key budgetSelect wrote ${rec.total.shuffleRecords} shuffle records")
    assert(rec.total.jobs == 3, s"budgetSelect + collect ran ${rec.total.jobs} jobs, expected 3")
  }

  test("budgetSelect narrows a cutoff range above the collect limit; refuses millions of ties") {
    // 600 k distinct keys: more than the 2^18 rows the driver walks, so
    // at least one counted round narrows the range before the collect
    val wide = spark.range(600000L).toDF("id")
      .withColumn("q", xxhash64(col("id"))).withColumn("cost", (col("id") % 13) + 1)
    val order = Seq(col("q").asc, col("id").asc)
    val budget = 1000000L
    var got = Set.empty[Long]
    val rec = graft.tools.Profile.record(spark) {
      got = operators.Views.budgetSelect(wide, order, "cost", budget)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    // the pass-1 sample, one counted round, the boundary collect, the result
    assert(rec.total.jobs == 4, s"budgetSelect + collect ran ${rec.total.jobs} jobs, expected 4")
    val want = wide.withColumn("c", sum("cost").over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("c") <= budget).select("id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got == want,
      s"kept ${got.size}, diff=${((got diff want) ++ (want diff got)).take(10)}")
    // 2.2 M rows on one key: the boundary range cannot be split below
    // the driver's 8 × 2^18-row collect, so the order is not total
    val df = spark.range(2200000L).toDF("id")
      .withColumn("q", lit(1L)).withColumn("cost", lit(1L))
    val err = intercept[IllegalArgumentException] {
      operators.Views.budgetSelect(df, Seq(col("q").asc), "cost", 1000L)
    }
    assert(err.getMessage.contains("tie-break"), err.getMessage)
  }

  test("budgetSelectByGroup == per-group window; payload never rides the window") {
    import spark.implicits._
    val df = spark.range(8000).toDF("id")
      .withColumn("g", concat(lit("s"), (col("id") % 7).cast("string")))
      .withColumn("pri", (col("id") * 31) % 50)       // heavy ties
      .withColumn("cost", (col("id") % 13) + 1)
      .withColumn("payload", concat(lit("body-"), col("id").cast("string")))
    val order = Seq(col("pri").desc, col("id").asc)
    val budgets: Map[Any, Long] = Map("s0" -> 900L, "s1" -> 0L, "s2" -> 400L)
    val sel = operators.Views.budgetSelectByGroup(df, "g", order, "cost",
      budgets, defaultBudget = 600L)
    val got = sel.select("id").collect().map(_.getLong(0)).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("pri").desc, col("id").asc)
    val budgetExpr = budgets.foldLeft(lit(600L)) { case (acc, (g, b)) =>
      when(col("g") <=> lit(g), lit(b)).otherwise(acc)
    }
    val want = df.withColumn("rs", sum("cost").over(w))
      .filter(col("rs") <= budgetExpr)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(sel.filter(col("g") === "s1").count() == 0, "zero-budget group must vanish")
    // plan pins: (a) every Window in the plan runs over the SLIM
    // projection (group/keys/cost, all __-named) — the full-width
    // payload must never ride the window exchange; a naive rewrite
    // (filter the full frame by a window column) puts `payload` there
    val windows = sel.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }
    assert(windows.nonEmpty, "expected the slim cutoff window")
    windows.foreach { wn =>
      // slim columns are __-named; Spark's own window internals are
      // _we-named — anything else (the payload) fails the pin
      val names = wn.child.output.map(_.name)
      assert(names.forall(_.startsWith("_")),
        s"window must see only the slim projection, saw $names")
    }
    // (b) the result reaches the payload through the cutoff JOIN of the
    // original frame, not through a windowed copy
    assert(sel.queryExecution.executedPlan.toString.contains("Join"),
      "expected the cutoff join-back")
    // negative costs: complete validation — the guard rides the running
    // sum, so consumption throws even though the negative row sorts
    // after every budget cutoff (cost 9000 at the lowest priority)
    val poisoned = df.withColumn("cost",
      when(col("id") === 7999L, lit(-3L)).otherwise(col("cost")))
    val ex = intercept[Exception] {
      operators.Views.budgetSelectByGroup(poisoned, "g", order, "cost",
        budgets, defaultBudget = 600L).count()
    }
    assert(ex.getMessage.contains("negative cost"), ex.getMessage)
    // edges: empty input; map-key budget for a NULL group
    assert(operators.Views.budgetSelectByGroup(
      df.limit(0), "g", order, "cost", budgets).count() == 0)
    val withNullG = df.withColumn("g",
      when(col("id") % 11 === 0, lit(null: String)).otherwise(col("g")))
    val nullKept = operators.Views.budgetSelectByGroup(withNullG, "g", order,
      "cost", Map((null: Any) -> 50L), defaultBudget = 0L)
    assert(nullKept.count() > 0, "null -> budget entry must reach NULL-group rows")
    assert(nullKept.filter(col("g").isNotNull).count() == 0)
  }

  test("budgetSelectByGroup: colossal groups auto-route off the window path") {
    import spark.implicits._
    // 2 "colossal" groups (2000 rows) + 3 small (60) under a threshold
    // of 500: the big groups must leave the per-group window for the
    // shared range-exchange scan, the small ones stay — same output
    val df = spark.range(4180).toDF("id")
      .withColumn("g",
        when(col("id") < 2000, lit("big0"))
          .when(col("id") < 4000, lit("big1"))
          .otherwise(concat(lit("s"), ((col("id") - 4000) % 3).cast("string"))))
      .withColumn("pri", (col("id") * 31) % 50) // heavy ties
      .withColumn("cost", (col("id") % 13) + 1)
      .withColumn("payload", concat(lit("body-"), col("id").cast("string")))
    val order = Seq(col("pri").desc, col("id").asc)
    val budgets: Map[Any, Long] =
      Map("big0" -> 3000L, "big1" -> 0L, "s0" -> 100L)
    def run(threshold: Long) = operators.Views.budgetSelectByGroup(
        df, "g", order, "cost", budgets, defaultBudget = 150L,
        colossalThreshold = threshold)
    val want = run(Long.MaxValue).select("id").collect().map(_.getLong(0)).toSet
    val got = run(500L)
    val gotIds = got.select("id").collect().map(_.getLong(0)).toSet
    assert(gotIds == want, s"missing=${want -- gotIds} extra=${gotIds -- want}")
    // plan pin (mixed regime): the window branch survives for the small
    // groups but its input excludes the colossal ones — every Window
    // node still sees only the __-named slim projection
    got.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }.foreach { wn =>
      val names = wn.child.output.map(_.name)
      assert(names.forall(_.startsWith("_")),
        s"window must see only the slim projection, saw $names")
    }
    // all-colossal regime: NO window anywhere in the plan — the whole
    // selection is range-exchange passes + a plain per-group filter of
    // the original frame (the straggler-free shape the r13 scaladoc
    // could only recommend manually)
    val allBig = run(100L).filter(col("g").startsWith("big"))
    val allBigPlan = operators.Views.budgetSelectByGroup(
      df.filter(col("g").startsWith("big")), "g", order, "cost", budgets,
      defaultBudget = 150L, colossalThreshold = 100L)
    assert(allBigPlan.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }.isEmpty, "all-colossal selection must not contain a Window")
    assert(allBigPlan.select("id").collect().map(_.getLong(0)).toSet ==
      want.filter(_ < 4000))
    assert(allBig.select("id").collect().map(_.getLong(0)).toSet ==
      want.filter(_ < 4000))
    // zero-budget colossal group vanishes, like the window path's
    assert(got.filter(col("g") === "big1").count() == 0)
  }

  test("ds03 shape: every group colossal at threshold 10 -> window-free plan, window-path values") {
    import spark.implicits._
    // the driver row ds03_budget_colossal_path in miniature: 20 groups
    // of 25 rows (the sf0.001 documents layout) under threshold 10 —
    // ALL groups route off the window path, and the branch's output is
    // bit-equal to the window path's on the same frame
    val df = spark.range(500).toDF("doc_id")
      .withColumn("source", concat(lit("src"), (col("doc_id") % 20).cast("string")))
      .withColumn("n_chars", (col("doc_id") * 37) % 400 + 50)
    val order = Seq(col("n_chars").desc, col("doc_id").asc)
    val budgets: Map[Any, Long] = Map("src2" -> 0L, "src5" -> 4000L)
    def run(threshold: Long) = operators.Views.budgetSelectByGroup(
      df, "source", order, "n_chars", budgets, defaultBudget = 2000L,
      colossalThreshold = threshold)
    val colossal = run(10L)
    assert(colossal.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
    }.isEmpty, "threshold 10 over 25-row groups must leave no Window in the plan")
    val want = run(Long.MaxValue).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(colossal.select("doc_id").collect().map(_.getLong(0)).toSet == want)
    assert(colossal.filter(col("source") === "src2").count() == 0,
      "zero-budget group vanishes on the colossal branch")
  }

  test("writeBucketed in a non-default database never touches default's same-named table") {
    import spark.implicits._
    // the r11 guard computed <warehouse>/<table> — the DEFAULT db's
    // managed location — while tableExists resolved against the CURRENT
    // db: with a non-default current db it deleted live default-db data
    spark.sql("DROP TABLE IF EXISTS default.graft_bk_guard")
    Seq((1L, "keep")).toDF("k", "v").write.saveAsTable("default.graft_bk_guard")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bkdb")
    spark.catalog.setCurrentDatabase("graft_bkdb")
    try {
      Bucketing.writeBucketed(Seq((2L, "other")).toDF("k", "v"),
        "graft_bk_guard", Seq("k"), 2)
      assert(spark.table("default.graft_bk_guard")
        .collect().map(_.getString(1)).toSeq == Seq("keep"),
        "default db's managed table must survive a same-named bucketed " +
          "write in another database")
      assert(spark.table("graft_bkdb.graft_bk_guard").count() == 1)
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP DATABASE IF EXISTS graft_bkdb CASCADE")
      spark.sql("DROP TABLE IF EXISTS default.graft_bk_guard")
    }
  }

  test("asofJoin directions: forward min-ord tie, nearest backward tie, tolerance cuts") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 10L, t(5)), (2L, 10L, t(20)), (3L, 10L, t(10)), (4L, 10L, t(14)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((100L, 10L, t(5), 1.0), (101L, 10L, t(5), 2.0),
        (102L, 10L, t(15), 3.0)).toDF("event_id", "user_id", "ts", "value")
    def run(dir: String, tol: Option[Double]) =
      Joins.asofJoin(left, right, Seq("user_id"), "ts", "ts",
          Seq("value"), "event_id", direction = dir, tolerance = tol)
        .select(col("event_id"), col("asof.value").as("v"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val f = run("forward", None)
    assert(f(1L) == 1.0, "equal-ts matches forward; tie broken by MIN rightOrder")
    assert(f(2L) == null, "nothing at-or-after 10:20")
    assert(f(3L) == 3.0, "earliest right after left")
    val n = run("nearest", None)
    assert(n(3L) == 2.0, "10:10 is 5 min from both sides — tie goes backward")
    assert(n(4L) == 3.0, "10:14 is closer to 10:15 than to 10:05")
    assert(n(2L) == 3.0, "only a backward candidate → backward")
    // 4-minute tolerance (240 s): 10:10 is 5 min from every right → null
    val nt = run("nearest", Some(240.0))
    assert(nt(3L) == null && nt(4L) == 3.0, s"got $nt")
    val bt = run("backward", Some(240.0))
    assert(bt(2L) == null, "backward match at 5 min rejected by 4-min tolerance")
    intercept[IllegalArgumentException](run("sideways", None))
  }

  test("rangeJoin: closed-interval containment as an equi-join, no nested loop") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val points = Seq((1L, 10L, t(0)), (2L, 10L, t(10)), (3L, 10L, t(31)), (4L, 11L, t(10)))
      .toDF("pid", "user_id", "pt")
    val ivs = Seq((100L, 10L, t(0), t(10)), (101L, 10L, t(30), t(45)))
      .toDF("iid", "user_id", "s", "e")
    val got = Joins.rangeJoin(points, ivs, Seq("user_id"), "pt", "s", "e",
        bucketMs = 7 * 60 * 1000L) // deliberately unaligned bucket width
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1: at interval start (inclusive); 2: at end (inclusive); 3: inside
    // the second interval; 4: same time as 2 but wrong user
    assert(got == Set((1L, 100L), (2L, 100L), (3L, 101L)))
    val plan = Joins.rangeJoin(points, ivs, Seq("user_id"), "pt", "s", "e", 60000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // a dirty interval (sentinel end date) fails fast with a clear error
    // instead of materializing a giant sequence() array
    val dirty = Seq((200L, 10L, t(0), java.sql.Timestamp.valueOf("9999-12-31 00:00:00")))
      .toDF("iid", "user_id", "s", "e")
    val ex = intercept[Exception] {
      Joins.rangeJoin(points, dirty, Seq("user_id"), "pt", "s", "e", 60000L).collect()
    }
    assert(ex.getMessage != null)
    // swapped bounds (end < start) are just as explosive: sequence(bs, be)
    // with be < bs builds a DESCENDING |span|-element array — the guard
    // must catch the absolute span, not just the positive direction
    val swapped = Seq((201L, 10L, java.sql.Timestamp.valueOf("9999-12-31 00:00:00"), t(0)))
      .toDF("iid", "user_id", "s", "e")
    val ex2 = intercept[Exception] {
      Joins.rangeJoin(points, swapped, Seq("user_id"), "pt", "s", "e", 60000L).collect()
    }
    assert(ex2.getMessage != null)
  }

  // ---------------------------------------------------------------------
  // fillDirectional: the global fill must never plan an unpartitioned
  // window (the round-5 scale-killer: Window.orderBy with no partitionBy
  // drags the whole dataset into ONE task)
  // ---------------------------------------------------------------------

  private def logicalWindows(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("deterministicShuffle: rank window is shard-partitioned (no global sort task)") {
    import spark.implicits._
    val m = new graft.core.DDFManager(spark)
    val df = (1L to 100L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = graft.operators.Views.deterministicShuffle(
      m.register(df), "doc_id", "ep1", numShards = 8).df
    val wins = logicalWindows(out)
    assert(wins.nonEmpty, "expected the in-shard rank window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"epoch shuffle must never plan an unpartitioned Window:\n${out.queryExecution.optimizedPlan}")
  }

  test("boilerplateScore: shingle-keyed join + two aggs, never a cartesian") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"w${i % 7} x${i % 5} y${i % 3} z$i tail"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.boilerplateScore(df, "text", "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate scoring must stay shingle-keyed:\n$plan")
    out.collect()
  }

  test("fillDirectional global: range-partitioned two-pass, no unpartitioned Window") {
    import graft.operators.MissingData
    import spark.implicits._
    val m = new graft.core.DDFManager(spark)
    // 12 rows over 4 shuffle partitions → several range partitions start
    // with nulls, so the carry fix-up path is genuinely exercised
    val df = Seq[(Int, Option[Double])](
      (1, Some(1.0)), (2, None), (3, None), (4, None), (5, None), (6, Some(6.0)),
      (7, None), (8, None), (9, None), (10, Some(10.0)), (11, None), (12, None)
    ).toDF("t", "x")
    // pass 1 is a mapPartitions scan over ONE range exchange — no
    // window at all (a Window.partitionBy(__pid) would hash-exchange
    // the full data a second time), and exactly one shuffle
    val pass1 = MissingData.fillGlobalPass1(df, "ffill", "t", Seq("x"))
    assert(logicalWindows(pass1).isEmpty,
      s"global fill pass 1 must not plan any Window:\n${pass1.queryExecution.optimizedPlan}")
    // the shuffle lives in the RDD lineage (pass 1 ends at a
    // mapPartitions over the range exchange) — count it there
    val shuffles = "ShuffledRowRDD".r.findAllIn(pass1.rdd.toDebugString).length
    assert(shuffles == 1,
      s"global fill pass 1 must shuffle exactly once, got $shuffles:\n" +
        pass1.rdd.toDebugString)
    // end-to-end: identical to the single-task formulation's semantics
    val ff = MissingData.fillDirectional(m.register(df), "ffill", "t", Seq("x"))
      .df.orderBy("t").collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(ff.toSeq == Seq(1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 6.0, 6.0, 6.0, 10.0, 10.0, 10.0))
    val bf = MissingData.fillDirectional(m.register(df), "bfill", "t", Seq("x"))
      .df.orderBy("t").collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(bf.toSeq == Seq(1.0, 6.0, 6.0, 6.0, 6.0, 6.0, 10.0, 10.0, 10.0, 10.0, null, null))
  }

  test("extractJson: unreferenced payload fields are pruned out of the parse") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // a 3-field payload of which the query touches ONE: the optimized
    // from_json must carry only that field — at 100 TB this is the
    // difference between parsing 2 columns and parsing 200
    // built from range (not a literal) so constant folding can't collapse
    // the whole plan into a LocalRelation before we can inspect the parse
    val df = spark.range(1, 2).select(concat(lit("{\"keep\":"), col("id"),
      lit(",\"dead_a\":\"x\",\"dead_b\":[1,2,3]}")).as("js"))
    val schema = StructType(Seq(
      StructField("keep", IntegerType),
      StructField("dead_a", StringType),
      StructField("dead_b", ArrayType(IntegerType))))
    val out = graft.operators.Semistructured
      .extractJson(df, "js", schema)
      .select(col("json.keep"))
    val plan = out.queryExecution.optimizedPlan.toString
    // the parse SCHEMA must shrink to the referenced field (the input
    // string itself still names the dead fields, so match StructFields)
    assert(plan.contains("from_json(StructField(keep"),
      s"expected a keep-only from_json parse:\n$plan")
    assert(!plan.contains("StructField(dead_a") && !plan.contains("StructField(dead_b"),
      s"unused payload fields must be pruned from the parse schema:\n$plan")
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("mixtureSample: the only window runs over the boundary bucket, not a whole source") {
    import spark.implicits._
    // range-derived (not a LocalRelation) so ConvertToLocalRelation can't
    // fold the boundary filter away before we can inspect it
    val docs = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(3))).as("source"),
      array_join(array_repeat(lit("w"), (pmod(col("id"), lit(5)) + 1).cast("int")), " ")
        .as("text"))
    val out = graft.pipeline.TextAnalysis.mixtureSample(
      docs, "text", "doc_id", "source",
      Map("s0" -> 0.5, "s1" -> 0.5), totalTokens = 200, nBuckets = 16)
    // at 100 TB a source is terabytes: a Window.partitionBy(source) over
    // the full input is the single-task trap. Every Window in the plan
    // must sit above the boundary-bucket equality filter.
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the boundary-bucket window")
    windows.foreach { w =>
      // the optimizer inlines __b (collapsed projections), so match the
      // SHAPE: a Filter below the window carrying a bucket EQUALITY on
      // the poly_hash-derived bucket (the source-isin filter alone is an
      // In, not an EqualTo)
      val hasBoundaryFilter = w.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }.exists(_.condition.find {
        case eq: org.apache.spark.sql.catalyst.expressions.EqualTo =>
          // the bucket column survives as __b above the checkpoint, or
          // as the inlined poly_hash expression if lineage is visible
          eq.references.exists(_.name == "__b") || eq.toString.contains("poly_hash")
        case _ => false
      }.isDefined)
      assert(hasBoundaryFilter,
        s"window must be fed by the bucket-equality boundary filter:\n${w.toString.take(2000)}")
    }
    assert(out.count() > 0)
  }

  test("matchDistribution: the data-path window runs over the boundary sub-range only") {
    import spark.implicits._
    val m = new graft.core.DDFManager(spark)
    // range-derived so ConvertToLocalRelation can't fold the filters away
    val corpus = spark.range(600).select(col("id").as("doc_id"),
      concat(lit("b"), pmod(col("id"), lit(3))).as("lang"))
    val target = spark.range(90).select(col("id").as("doc_id"),
      concat(lit("b"), pmod(col("id"), lit(2))).as("lang"))
    val out = graft.operators.Views.matchDistribution(
      m.register(corpus), "lang", "doc_id", target.toDF())
    // bucket columns are LOW-cardinality (5 languages over 100 TB): a
    // Window.partitionBy(bucket) over the full corpus is a handful of
    // straggler sort tasks. Every corpus-path window must sit above the
    // boundary sub-range equality filter; the only other window allowed
    // is the cut computation over the (bucket, sub) stats frame —
    // recognizable by its __cb partition key and ≤256 rows per bucket.
    val windows = out.df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val dataWindows = windows.filterNot(
      _.partitionSpec.exists(_.references.exists(_.name == "__cb")))
    assert(dataWindows.nonEmpty, "expected the boundary sub-range window")
    dataWindows.foreach { w =>
      // the optimizer may keep the boundary restriction as a Filter or
      // fold it into the broadcast join's condition — both shapes keep
      // the window's input to the boundary sub-range
      val conds = w.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition.getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
      }
      val hasBoundaryFilter = conds.exists(_.find {
        case eq: org.apache.spark.sql.catalyst.expressions.EqualTo =>
          eq.references.exists(a => a.name == "__sub" || a.name == "__bnd")
        case _ => false
      }.isDefined)
      assert(hasBoundaryFilter,
        s"window must be fed by the sub-range boundary filter:\n${w.toString.take(2000)}")
    }
    // and the selection itself stays correct under the split
    assert(out.df.count() > 0 && out.df.count() <= 600)
  }

  test("fillDirectional with partitionCols: per-group hash-partitioned window") {
    import graft.operators.MissingData
    import spark.implicits._
    val m = new graft.core.DDFManager(spark)
    val df = Seq(
      ("a", 1, Some(1.0)), ("a", 2, None), ("a", 3, None),
      ("b", 1, None), ("b", 2, Some(5.0)), ("b", 3, None)
    ).toDF("g", "t", "x")
    val out = MissingData.fillDirectional(m.register(df), "ffill", "t", Seq("x"),
      partitionCols = Seq("g"))
    val wins = logicalWindows(out.df)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "partitionCols fill must hash-partition its window")
    val got = out.df.orderBy("g", "t").collect()
      .map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    // the fill must NOT leak across groups: b's leading null stays null
    assert(got == Seq(1.0, 1.0, 1.0, null, 5.0, 5.0))
  }

  // ---------------------------------------------------------------------
  // TPC-H q66-q69 plan pins (SURVEY §8): the same plan-audit discipline
  // q12-q15 got, as ScaleSpec assertions so the shapes can't rot. Tiny
  // parquet fixtures (pushdown needs a FILE scan, not a LocalRelation).
  // ---------------------------------------------------------------------

  private lazy val tpchPinDir: String = {
    import spark.implicits._
    val dir = "target/tmp-tpch-planpin"
    val part = (1 to 20).map(k =>
        (k.toLong, s"Brand#${k % 5 + 1}", k, if (k % 2 == 0) "PROMO" else "STANDARD",
          if (k % 3 == 0) s"red widget $k" else s"blue bolt $k"))
      .toDF("p_partkey", "p_brand", "p_size", "p_type", "p_name")
    val lineitem = (for (o <- 1 to 50; ln <- 1 to 3) yield (
        o.toLong, ((o * 3 + ln) % 20 + 1).toLong, (o % 10 + 1).toLong,
        ((o + ln) % 50 + 1).toDouble, 100.0 + o, 0.05,
        java.sql.Timestamp.valueOf(f"1996-${o % 3 + 1}%02d-${o % 28 + 1}%02d 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate")
    val orders = (1 to 50).map(o => (o.toLong, (o % 10 + 1).toLong,
        java.sql.Timestamp.valueOf(f"1996-${o % 3 + 1}%02d-01 00:00:00"), 1000.0 + o,
        if (o % 4 == 0) "1-URGENT" else "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    val customer = (1 to 10).map(k => (k.toLong, s"c$k", k % 5, 100.0 * k))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val supplier = (1 to 10).map(k => (k.toLong, s"s$k", k % 5, 100.0 * k - 250.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nation = (0 to 4).map(k => (k, s"NATION_$k", k % 2)).toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((0, "EUROPE"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
    Seq("part" -> part, "lineitem" -> lineitem, "orders" -> orders,
        "customer" -> customer, "supplier" -> supplier,
        "nation" -> nation, "region" -> region)
      .foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$n")
        spark.read.parquet(s"$dir/$n").createOrReplaceTempView(n)
      }
    // these views replace the registry's own: make its next query register them again
    EntryShared.activeDir.remove(spark.hashCode)
    dir
  }

  private def lineitemScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("lineitem")) => s
    }

  test("tpch q66 (Q14): shipdate range pushes to the lineitem scan; part broadcasts") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ14Sql)
      val scans = lineitemScans(df)
      assert(scans.nonEmpty)
      assert(scans.forall(_.metadata("PushedFilters").contains("l_shipdate")),
        s"shipdate range must reach PushedFilters: ${scans.map(_.metadata("PushedFilters"))}")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"part side must broadcast:\n$plan")
      df.collect() // the pinned plan must also run
    }
  }

  test("tpch q67 (Q17): correlated scalar avg decorrelates to one aggregate join") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ17Sql)
      val plan = df.queryExecution.executedPlan.toString
      // decorrelated = the per-part avg is ONE grouped aggregate joined
      // back, never a per-outer-row re-execution (nested loop) — so
      // lineitem is scanned exactly twice (outer + the avg build), not N×
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"correlated avg must not nested-loop:\n$plan")
      assert(lineitemScans(df).size == 2,
        "expected exactly 2 lineitem scans: the outer read and the avg build")
      df.collect()
    }
  }

  test("tpch q68 (Q18): IN over the HAVING subquery stays a semi-join") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ18Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"IN-subquery must plan as a semi-join:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      df.collect()
    }
  }

  test("tpch q72 (Q22): NOT EXISTS plans as an anti-join; scalar avg is one aggregate") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ22Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan as an anti-join:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      df.collect()
    }
  }

  test("tpch q73 (Q15): revenue CTE joins hash/broadcast, max subquery never nested-loops") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ15Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"scalar max must not nested-loop:\n$plan")
      df.collect()
    }
  }

  test("tpch q69 (Q19): OR-of-ANDs partially pushes to BOTH scans (CNF extraction)") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ19Sql)
      val li = lineitemScans(df)
      assert(li.nonEmpty && li.forall(_.metadata("PushedFilters").contains("l_quantity")),
        s"the l_quantity-only disjunction must push below the join: " +
          li.map(_.metadata("PushedFilters")).mkString("; "))
      val partScans = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("planpin/part")) => s
      }
      assert(partScans.nonEmpty && partScans.forall(_.metadata("PushedFilters").contains("p_brand")),
        s"the part-side disjunction must push: " +
          partScans.map(_.metadata("PushedFilters")).mkString("; "))
      df.collect()
    }
  }

  test("tpch q79 (Q2): correlated min-cost subquery decorrelates — no nested loop") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ2Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"correlated min must decorrelate to joins:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"dimension chain must broadcast:\n$plan")
      df.collect()
    }
  }

  test("tpch q80 (Q9): p_name filter pushes to the part scan; profit joins never nested-loop") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ9Sql)
      val partScans = df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("planpin/part")) => s
      }
      assert(partScans.nonEmpty && partScans.forall(_.metadata("PushedFilters").contains("p_name")),
        s"p_name LIKE must push: ${partScans.map(_.metadata("PushedFilters")).mkString("; ")}")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      df.collect()
    }
  }

  test("tpch q81 (Q11): grand-total threshold is ONE reused scalar aggregate, no nested loop") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ11Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"HAVING scalar subquery must stay a scalar broadcast:\n$plan")
      df.collect()
    }
  }

  test("tpch q82 (Q16): NOT IN on a null-free key plans as an anti-join, not a nested loop") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ16Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"NOT IN must plan as an anti-join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
      df.collect()
    }
  }

  test("tpch q83 (Q20): the IN-chain plans as stacked semi-joins; correlated sum decorrelates") {
    tpchPinDir
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.sql(EntryShared.tpchQ20Sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"IN must plan as semi-join:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"correlated availqty sum must decorrelate:\n$plan")
      df.collect()
    }
  }

  /** No Sort node touches pre-aggregation (data-scale) rows: every Sort
    * in the optimized plan must sit ABOVE an Aggregate, i.e. order only
    * the aggregated result (bins, sketch rows), never the corpus.
    */
  private def assertNoDataScaleSort(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}
    val plan = df.queryExecution.optimizedPlan
    plan.foreach {
      case s: Sort =>
        assert(s.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"Sort over pre-aggregation rows (data-scale sort):\n$plan")
      case _ =>
    }
  }

  test("quantiles default is the t-digest sketch — no value sort, no exact percentile") {
    // build from spark.range: ConvertToLocalRelation folds literal
    // fixtures and the pin would assert on an empty plan
    val df = spark.range(1000L).select((col("id") % 97).cast("double").as("v"))
    val sketch = graft.stats.Stats.quantilesFrame(df, "v", Seq(0.25, 0.5, 0.75))
    val plan = sketch.queryExecution.optimizedPlan.toString
    assert(plan.contains("percentile_approx"),
      s"default quantile path must be the sketch:\n$plan")
    assert(!plan.toLowerCase.contains("sort"),
      s"sketch path must not sort values:\n$plan")
    // exact mode is OPT-IN: only an explicit exact=true plans the
    // value-buffering exact aggregate (gate/golden scale only)
    val exactPlan = graft.stats.Stats.quantilesFrame(df, "v", Seq(0.5), exact = true)
      .queryExecution.optimizedPlan.toString
    assert(exactPlan.contains("percentile(") && !exactPlan.contains("percentile_approx"),
      s"exact=true must plan the exact aggregate:\n$exactPlan")
    // the sketch shuffles one digest per partition, not the values: the
    // only exchange under the final agg is the partial-agg single-row one
    val exec = sketch.queryExecution.executedPlan.toString
    assert(exec.contains("partial_percentile_approx"),
      s"sketch must partial-aggregate map-side:\n$exec")
  }

  test("group-quantile gate/buckets approx path: sketch aggregate, no window, broadcast join-back") {
    val df = spark.range(10000L)
      .select((col("id") % 7).as("g"), (col("id") % 997).cast("double").as("v"))
    val gate = graft.stats.Stats.filterByGroupQuantile(df, "v", "g", 0.9, approx = true)
    val opt = gate.queryExecution.optimizedPlan
    assert(opt.toString.contains("percentile_approx"),
      s"approx gate must use the mergeable sketch:\n$opt")
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"approx path must not plan a window:\n$opt")
    assertNoDataScaleSort(gate)
    // the boundary frame is one row per group — the join-back must be a
    // broadcast, never a shuffle of the data side
    val exec = gate.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"cut join-back must broadcast:\n$exec")
    // the bucket twin routes through the same cut machinery: same pins
    val buck = graft.stats.Stats.bucketByGroupQuantiles(df, "v", "g",
      Seq(1.0 / 3, 2.0 / 3), Seq("tail", "middle", "head"), approx = true)
    val boptStr = buck.queryExecution.optimizedPlan.toString
    assert(boptStr.contains("percentile_approx") && !boptStr.contains("Window"),
      s"approx buckets must be window-free sketch:\n$boptStr")
    assert(buck.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("q41/q43 stat shapes: sorts only above the aggregation, never the data") {
    // q43's histogram: two jobs (min/max, bucket groupBy) — its orderBy
    // ranges over numBins aggregated rows, not lineitem
    val df = spark.range(60000L).select((col("id") % 991).cast("double").as("v"))
    assertNoDataScaleSort(graft.stats.Stats.histogramDF(df, "v", 20))
    // q41's exact quantile frame (gate scale): hash agg, still no sort
    assertNoDataScaleSort(
      graft.stats.Stats.quantilesFrame(df, "v", Seq(0.1, 0.5, 0.9), exact = true))
    // q84/q85's sketch frame
    assertNoDataScaleSort(graft.stats.Stats.quantilesFrame(df, "v", Seq(0.1, 0.5, 0.9)))
  }

  test("interpolate's forward+backward frames share ONE Window and ONE sort") {
    import spark.implicits._
    // both rowsBetween frames order by the same (key, bucket) — Catalyst
    // must fuse all window functions into a single Window exec over a
    // single Sort; a second sort or window would double the 100 TB cost
    val dense = (0 until 1000).map(i =>
      (i % 7L, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:00"),
        if (i % 3 == 0) Some(i.toDouble) else None))
      .toDF("k", "bucket", "v")
      .repartition(4) // defeat ConvertToLocalRelation so the plan is real
    val out = graft.operators.TimeSeries.interpolate(dense, "bucket", Seq("k"), "v", "vi")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("Window \\[").length - 1 == 1,
      s"expected exactly ONE Window exec, plan:\n$plan")
    assert(plan.split("\\bSort \\[").length - 1 == 1,
      s"expected exactly ONE Sort below the window, plan:\n$plan")
  }

  test("resample densify join broadcasts the aggregated side; user filter pushes to scan") {
    val ev = spark.range(5000L).select(
      (col("id") % 11).as("user_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 360).as("ts"),
      (col("id") % 100).cast("double").as("value"))
    val out = graft.operators.TimeSeries.resample(ev, "ts", Seq("user_id"), 21600L,
      Seq("s" -> sum("value")))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"densify join missing:\n$plan")
    // the spine side generates from the per-key min/max agg, never from a
    // driver-materialized calendar
    assert(plan.contains("Generate explode(sequence"),
      s"spine must be a distributed sequence explode:\n$plan")
  }

  test("pivot with explicit values: ONE aggregate, no distinct-scan job, no window") {
    import spark.implicits._
    val m = graft.core.DDFManager(spark)
    val ddf = m.register(spark.range(1000L).select(
      (col("id") % 7).as("g"),
      concat(lit("v"), (col("id") % 3).cast("string")).as("p"),
      col("id").cast("double").as("x")))
    val out = graft.operators.Aggregations.pivot(ddf, Seq("g"), "p",
      Seq("v0", "v1", "v2"), Seq("s=sum(x)", "mx=max(x)")).df
    out.collect()
    // AQE repeats the tree under "== Initial Plan ==" — count the final
    // section only
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // explicit values ⇒ conditional aggregates in a single hash
    // aggregate: exactly one exchange (by g), no value-discovery pass
    // (Spark's own PivotFirst plan pays a second (group, pivot)
    // aggregate + exchange), no window
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"pivot must be one hash aggregate with one exchange:\n$plan")
    assert(!plan.contains("Window"), s"no window in a pivot plan:\n$plan")
  }

  test("funnel: one shuffle on the entity key; step filter reaches the scan side") {
    import spark.implicits._
    val ev = spark.range(2000L).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("ts"),
      (col("id") % 50).as("user_id"),
      concat(lit("t"), (col("id") % 5).cast("string")).as("event_type"))
    val out = graft.operators.TimeSeries.funnel(ev, "user_id", "ts",
      "event_id", "event_type", Seq("t0", "t1", "t2"))
    out.collect()
    val fullPlan = out.queryExecution.executedPlan.toString
    val plan = fullPlan.split("== Initial Plan ==").head
    // exactly two exchanges: the per-entity groupBy and the K-row
    // roll-up's single-partition exchange — never a window, never a
    // per-step re-scan of the log
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"funnel must shuffle once on the entity key (+ the K-row rollup):\n$plan")
    assert(!plan.contains("Window"), s"no window in the funnel plan:\n$plan")
    // the isin(step types) filter must prune non-step events before the
    // per-entity sorted-fold aggregate (full tree — AQE's final section
    // elides completed stages below the reused shuffle)
    assert(fullPlan.contains("collect_list"),
      s"expected the sorted-fold aggregate:\n$fullPlan")
    // (the synthetic event_type expression is inlined into the filter,
    // so probe for the IN-list itself)
    assert(fullPlan.contains(" IN (t0,t1,t2)"),
      s"expected the step-type filter under the shuffle:\n$fullPlan")
  }

  test("datacard: the corpus pays one (source, fingerprint) shuffle; no window; one scan") {
    import spark.implicits._
    val docs = spark.range(2000L).select(
      col("id").as("doc_id"),
      concat(lit("doc text the and of "), (col("id") % 400).cast("string")).as("text"),
      concat(lit("src"), (col("id") % 4).cast("string")).as("source"))
    val out = graft.pipeline.TextAnalysis.datacard(docs, "text", "doc_id", "source")
    // datacard localCheckpoints its result; plan-audit the checkpointed
    // frame's ORIGIN by rebuilding the same shape without materializing
    val base = docs.na.drop(Seq("doc_id")).select(col("source"),
      graft.pipeline.TextAnalysis.fingerprintMd5("text").as("__fp"),
      graft.pipeline.TextAnalysis.tokenCount("text").as("__tc"),
      graft.pipeline.TextAnalysis.langId("text").as("__lang"),
      graft.pipeline.TextAnalysis.qualityScore("text").as("__q"))
    val g = base.groupBy("source", "__fp").agg(count(lit(1)).as("n"))
    g.collect()
    val plan = g.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"doc-level stage: one corpus shuffle on (source, fp):\n$plan")
    assert(!plan.contains("Window"), "no window anywhere in datacard")
    // end-to-end sanity on the same frame: per-source rows, all longs
    val rows = out.collect()
    assert(rows.length == 4 && rows.forall(_.getAs[Long]("n_docs") == 500))
  }

  test("diversitySample: per-cell cap plans without a whole-cell window on the keep side") {
    import spark.implicits._
    val vecs = spark.range(3000L).select(col("id").as("vec_id"),
      array((col("id") % 97).cast("float") + lit(1.0f),
        (col("id") % 13).cast("float")).as("embedding"))
    val cents = Array(Array(1.0, 0.0), Array(50.0, 6.0), Array(96.0, 12.0))
    val idx = graft.pipeline.IvfIndex.buildFromCentroids(vecs, "embedding", "vec_id", cents)
    val out = graft.pipeline.IvfIndex.diversitySample(idx, perCell = 10)
    val n = out.count()
    assert(n <= 30 && n > 0)
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the boundary-sub-range shape: any Window present ranks only the
    // boundary sub-range rows (filtered input), never the whole cell —
    // pin the structural giveaway: the pass-2 branches filter on the
    // broadcast cut frame BEFORE any window sort
    assert(plan.contains("BroadcastExchange") || plan.contains("broadcast"),
      s"cut frame must broadcast:\n$plan")
    val rebuilt = graft.operators.Views.stratifiedSampleDf(
      idx.corpus.withColumn("__probe", lit(1)), "cell", 10, "id")
    assert(rebuilt.columns.contains("__probe"), "payload columns survive the cap")
  }

  test("nbQualityScore: weight table broadcasts; corpus pays the (id, bucket) aggregate") {
    import spark.implicits._
    val docs = spark.range(1500L).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma "), (col("id") % 11).cast("string")).as("text"),
      (col("id") % 3 === 0).as("pos"))
    val out = graft.pipeline.TextAnalysis.nbQualityScore(
      docs, "text", "doc_id", isPos = col("pos"), dim = 64)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange"),
      s"the dim-row weight table must broadcast into the scoring join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-vs-corpus sort-merge join in the scoring path:\n$plan")
  }

  test("gopherRules: per-row projection only — zero exchanges in the plan") {
    import spark.implicits._
    val docs = spark.range(500L).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox and that dog have fun with it row "),
        col("id").cast("string")).as("text"))
    val out = graft.pipeline.TextAnalysis.gopherRules(docs, "text", "doc_id")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"gopherRules must be scan-throughput (no shuffle):\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
  }

  test("distinctNgrams: two-level aggregate — no Expand, no Window, 2 shuffles") {
    import spark.implicits._
    val docs = spark.range(300L).select((col("id") % 4).cast("string").as("source"),
      concat(lit("alpha beta gamma delta "), (col("id") % 7).cast("string")).as("text"))
    val out = graft.pipeline.TextAnalysis.distinctNgrams(docs, "text", "source", Seq(2))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Expand"),
      s"exact distinct must come from the two-level agg, not distinct-expansion:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"exactly the (group,gram) and (group) shuffles:\n$plan")
  }

  test("categoricalDrift: totals broadcast; no cartesian in the plan") {
    import spark.implicits._
    val ref = spark.range(1000L).select((col("id") % 7).cast("string").as("k"))
    val cur = spark.range(800L).select((col("id") % 5).cast("string").as("k"))
    val out = graft.stats.Stats.categoricalDrift(ref, cur, "k")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row totals frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("psiMonitor (batch): one windowed aggregation — single shuffle, no join") {
    import spark.implicits._
    val ev = spark.range(2000L).select(
      (lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000) +
        col("id") % 7200).cast("timestamp").as("ts"),
      (col("id") % 100).cast("double").as("value"))
    val spec = graft.stats.Stats.histogramSpec(ev, "value", nBins = 8)
    val out = graft.streaming.EventStreams.psiMonitor(ev, "value", spec)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"per-bin counts are conditional aggregates in ONE windowed agg:\n$plan")
    assert(!plan.contains("Join"), s"reference folds in as literals, no join:\n$plan")
    assert(!plan.contains("Window,"), s"no window operator (only time windows):\n$plan")
  }

  test("snapshotDiff: union + max-of-struct aggregate — no join in the plan") {
    import spark.implicits._
    val old = spark.range(5000L).select(col("id"),
      concat(lit("t"), (col("id") % 97).cast("string")).as("txt"))
    val nw = spark.range(4500L).select(col("id"),
      concat(lit("t"), (col("id") % 89).cast("string")).as("txt"))
    val out = graft.operators.History.snapshotDiff(old, nw, Seq("id"), Seq("txt"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      s"snapshotDiff pairs the sides in ONE grouped aggregate, never a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"one key shuffle of old ∪ new:\n$plan")
  }

  test("aucByGroup / percentileRank: the ordering window runs over the aggregate, not the corpus") {
    import spark.implicits._
    val scored = spark.range(20000L).select(
      (col("id") % 8).as("g"),
      ((col("id") * 7) % 100).cast("double").as("score"),
      (col("id") % 2).cast("int").as("label"))
    val auc = graft.ml.MLSupport.aucByGroup(scored, "score", "label", Seq("g"))
    auc.collect()
    val aucPlan = auc.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the Window's child subtree must contain the distinct-score
    // aggregate — a window directly over the scan would rank the corpus
    val winIdx = aucPlan.indexOf("Window")
    val aggIdx = aucPlan.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"aucByGroup window must sit ABOVE the distinct-score aggregate:\n$aucPlan")
    val pr = graft.stats.Stats.percentileRank(
      scored.select(col("score").as("x")), Seq("x"))
    pr.collect()
    val prPlan = pr.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val pw = prPlan.indexOf("Window")
    val pa = prPlan.indexOf("HashAggregate", pw)
    assert(pw >= 0 && pa > pw,
      s"percentileRank window must sit ABOVE the distinct-value aggregate:\n$prPlan")
    assert(prPlan.contains("BroadcastNestedLoopJoin") || prPlan.contains("BroadcastExchange"),
      s"the 1-row total joins back broadcast:\n$prPlan")
  }

  test("sourceOverlap: per-source totals broadcast back onto the pair counts") {
    import spark.implicits._
    val corpus = spark.range(8000L).select(
      concat(lit("s"), (col("id") % 12).cast("string")).as("source"),
      concat(lit("doc"), (col("id") % 500).cast("string")).as("text"))
    val out = graft.pipeline.Dedup.sourceOverlap(corpus, "text", "source")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"both total frames must broadcast (they are O(#sources) rows):\n$plan")
  }

  test("Bench.blowUp at factor 2: facts double, dims copy, keys stay disjoint, replicas rotate") {
    val base = smokeSfDir
    withTempDir("graft_blowup") { dir =>
      Bench.blowUp(spark, base, dir, 2)
      def read(d: String, t: String) =
        if (t == "events") EntryShared.loadEvents(spark, d) else spark.read.parquet(s"$d/$t.parquet")
      val keys = Seq("lineitem" -> Seq("l_orderkey", "l_linenumber"), "orders" -> Seq("o_orderkey"),
        "part" -> Seq("p_partkey"), "customer" -> Seq("c_custkey"), "documents" -> Seq("doc_id"),
        "embeddings" -> Seq("vec_id"), "events" -> Seq("event_id"))
      keys.foreach { case (t, k) =>
        val (b, blown) = (read(base, t), read(dir, t))
        assert(blown.count() == 2 * b.count(), s"$t rows")
        // no replica's key lands on another replica's
        def distinctKeys(df: org.apache.spark.sql.DataFrame) = df.select(k.map(col): _*).distinct().count()
        assert(distinctKeys(blown) == 2 * distinctKeys(b), s"$t keys collide")
      }
      Seq("region", "nation", "supplier").foreach(t =>
        assert(read(dir, t).count() == read(base, t).count(), s"$t rows"))

      def vectors(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] = df.select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      val orig = vectors(read(base, "embeddings"))
      val blown = vectors(read(dir, "embeddings"))
      orig.foreach { case (id, v) =>
        assert(blown(id) == v, s"replica 0 of $id")
        assert(blown(id + 1000000L) == v.tail :+ v.head, s"replica 1 of $id")
      }
      // the shift wraps at the vector length: past it, the raw shift made a
      // negative slice length and failed the job
      val dim = orig.head._2.size
      val emb = read(base, "embeddings")
      assert(emb.select(Bench.rotated(dim + 1)).collect().toSeq ==
        emb.select(Bench.rotated(1)).collect().toSeq)
    }
  }
}
