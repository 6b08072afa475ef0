package graft

import graft.operators.{Joins, Views}
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style specs: scalacheck generators with fixed seeds (each
  * sample is a Spark job, so we draw a handful of deterministic samples
  * instead of the default 100).
  */
class PropertySpec extends SparkTestBase {

  private val params = Gen.Parameters.default
  private def draw[T](g: Gen[T], seed: Long): T = g.pureApply(params, Seed(seed))

  test("property: portableHash60 stays in [0, 2^60) on arbitrary strings") {
    import spark.implicits._
    val strGen = Gen.listOfN(40, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', 'ä', 'é', '!', '.')))
      .map(_.mkString)
    val samples = (1L to 6L).map(i => draw(strGen, i)) ++ Seq("", " ", "a")
    val hs = samples.toDF("t")
      .select(Dedup.portableHash60(col("t")).as("h"))
      .collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0L && (h >>> 60) == 0L))
    // determinism: a second evaluation gives identical hashes
    val hs2 = samples.toDF("t")
      .select(Dedup.portableHash60(col("t")).as("h")).collect().map(_.getLong(0))
    assert(hs.sameElements(hs2))
  }

  test("property: saltedJoin ≡ plain join on random frames and salt factors") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(120, Gen.zip(Gen.chooseNum(-5L, 20L), Gen.alphaStr.map(_.take(4))))
    for (seed <- 1L to 3L) {
      val left = draw(rowsGen, seed).toDF("k", "lv")
      val right = draw(rowsGen, seed + 100).distinct.toDF("k", "rv")
      val factor = draw(Gen.chooseNum(1, 9), seed + 200)
      for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
        val plain = left.join(right.dropDuplicates("k"), Seq("k"), jt)
          .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
        val salted = Joins.saltedJoin(left, right.dropDuplicates("k"), Seq("k"), factor, jt)
          .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
        assert(salted == plain, s"seed=$seed factor=$factor type=$jt")
      }
    }
  }

  test("property: hashSample is monotone in rate, including negative keys") {
    import spark.implicits._
    val keyGen = Gen.listOfN(300, Gen.chooseNum(-100000L, 100000L))
    for (seed <- 1L to 3L) {
      val ddf = m.register(draw(keyGen, seed).toDF("k"))
      val r1 = draw(Gen.chooseNum(0, 500), seed + 10)
      val r2 = draw(Gen.chooseNum(500, 1000), seed + 20)
      val s1 = Views.hashSample(ddf, "k", r1).df.collect().map(_.getLong(0)).toSet
      val s2 = Views.hashSample(ddf, "k", r2).df.collect().map(_.getLong(0)).toSet
      assert(s1.subsetOf(s2), s"seed=$seed rates $r1 <= $r2")
      assert(Views.hashSample(ddf, "k", 1000).df.count() == ddf.df.count(),
        "rate 1000 keeps everything")
    }
  }

  test("property: chunkByTokens covers every token; reassembly round-trips") {
    import spark.implicits._
    val docGen = Gen.chooseNum(0, 60).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1, 30)).map(_.map(i => s"w$i").mkString(" ")))
    for (seed <- 1L to 4L) {
      val texts = (0 until 12).map(i => (i.toLong, draw(docGen, seed * 31 + i)))
      val df = texts.toDF("doc_id", "text")
      val maxT = draw(Gen.chooseNum(2, 12), seed + 50)
      val ov = draw(Gen.chooseNum(0, maxT - 1), seed + 60)
      val step = maxT - ov
      val out = graft.pipeline.TextAnalysis.chunkByTokens(df, "text", "doc_id", maxT, ov)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_id"),
          r.getAs[String]("chunk"))).groupBy(_._1)
      texts.foreach { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val chunks = out.getOrElse(id, Array.empty).sortBy(_._2).map(_._3.split(" ").toSeq)
        if (toks.isEmpty) assert(chunks.isEmpty, s"seed=$seed id=$id")
        else {
          // expected chunk count and full reassembly (drop each successor's
          // overlap prefix) — tail chunks may be shorter than maxT but the
          // union must be exactly the token stream
          val expN = math.ceil(math.max(toks.size - ov, 1).toDouble / step).toInt
          assert(chunks.length == expN, s"seed=$seed id=$id maxT=$maxT ov=$ov")
          val rebuilt = chunks.zipWithIndex.flatMap { case (c, i) =>
            if (i == 0) c else c.drop(ov) }.toSeq
          assert(rebuilt == toks, s"seed=$seed id=$id maxT=$maxT ov=$ov")
        }
      }
    }
  }

  test("property: spanDedup on an all-unique corpus reassembles every doc verbatim") {
    import spark.implicits._
    // tokens are globally unique across docs -> no span collides, so
    // dedup must be the identity (normalized text) for every width
    val docs = (1L to 8L).map(i =>
      (i, (1 to draw(Gen.choose(1, 17), i).toInt).map(j => s"w${i}_$j").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    for (w <- Seq(1, 3, 6)) {
      val out = Dedup.spanDedup(df, "text", "doc_id", w)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
      docs.foreach { case (id, text) =>
        assert(out(id) == text, s"w=$w doc $id must round-trip")
      }
    }
  }

  test("property: packChunks respects the budget except lone oversize chunks") {
    import spark.implicits._
    val sizeGen = Gen.listOfN(80, Gen.chooseNum(1L, 30L))
    for (seed <- 1L to 3L) {
      val sizes = draw(sizeGen, seed)
      val chunks = sizes.zipWithIndex.map { case (n, i) => (i.toLong % 7, i.toLong, n) }
        .toDF("id", "chunk_id", "n_tokens")
      val budget = draw(Gen.chooseNum(10L, 40L), seed + 10)
      val packed = graft.pipeline.TextAnalysis.packChunks(chunks, budget, nBuckets = 4)
        .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_tokens")))
      val byBin = packed.groupBy(_._1).map { case (_, g) => (g.map(_._2).sum, g.length) }
      assert(byBin.forall { case (tot, cnt) => tot <= budget || cnt == 1 },
        s"seed=$seed budget=$budget")
      // every chunk survives packing exactly once
      assert(packed.length == sizes.length)
    }
  }

  private lazy val m = graft.core.DDFManager(spark)

  test("property: resample invariants on random event sets") {
    import spark.implicits._
    val evGen = Gen.listOfN(80, Gen.zip(
      Gen.chooseNum(0L, 4L),
      Gen.chooseNum(0L, 400000L),   // seconds offset over ~4.6 days
      Gen.chooseNum(1, 99)))
    for (seed <- 1L to 3L) {
      val rows = draw(evGen, seed).map { case (k, off, v) =>
        (k, new java.sql.Timestamp(1704067200000L + off * 1000L), v.toDouble)
      }
      val df = rows.toDF("k", "t", "v")
      val out = graft.operators.TimeSeries.resample(df, "t", Seq("k"), 3600L,
        Seq("s" -> sum("v"))).collect()
      // counts add back up to the input
      assert(out.map(_.getLong(2)).sum == rows.size, s"seed=$seed")
      // every key is a contiguous hourly spine: rows = (max-min)/3600 + 1
      rows.groupBy(_._1).foreach { case (k, rs) =>
        val buckets = rs.map(r => r._2.getTime / 1000 / 3600 * 3600)
        val expect = (buckets.max - buckets.min) / 3600 + 1
        val got = out.count(_.getLong(0) == k)
        assert(got == expect, s"seed=$seed key=$k: $got vs $expect")
      }
      // interpolate on the dense frame never produces a null where the
      // key has at least one observation, and is idempotent on observed rows
      val dense = graft.operators.TimeSeries.resample(df, "t", Seq("k"), 3600L,
        Seq("m" -> max("v")))
      val interp = graft.operators.TimeSeries.interpolate(
        dense, "bucket", Seq("k"), "m", "mi").collect()
      assert(interp.forall(r => !r.isNullAt(r.fieldIndex("mi"))), s"seed=$seed")
      assert(interp.filter(r => !r.isNullAt(r.fieldIndex("m")))
        .forall(r => r.getDouble(r.fieldIndex("m")) == r.getDouble(r.fieldIndex("mi"))))
    }
  }

  test("property: scd2 intervals tile each key's observed span without overlap") {
    import spark.implicits._
    val gen = Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 3L),
      Gen.chooseNum(0L, 500000L), Gen.oneOf("a", "b", "c")))
    for (seed <- 11L to 13L) {
      val rows = draw(gen, seed).zipWithIndex.map { case ((k, off, v), i) =>
        (k, new java.sql.Timestamp(1704067200000L + off * 1000L), v, i.toLong)
      }.distinct
      val df = rows.toDF("k", "t", "tier", "tie")
      val h = graft.operators.History.scd2(df, Seq("k"), "t", Seq("tier"), Seq("tie"))
        .orderBy("k", "valid_from").collect()
      rows.groupBy(_._1).foreach { case (k, rs) =>
        val ivs = h.filter(_.getLong(0) == k)
        // first interval starts at the key's first observation
        assert(ivs.head.getTimestamp(2) == rs.map(_._2).minBy(_.getTime), s"seed=$seed")
        // chained: each valid_to equals the next valid_from; last is open
        ivs.sliding(2).foreach {
          case Array(cur, nxt) => assert(cur.getTimestamp(3) == nxt.getTimestamp(2))
          case _ =>
        }
        assert(ivs.last.isNullAt(3))
        // consecutive intervals always change the attribute
        ivs.sliding(2).foreach {
          case Array(cur, nxt) => assert(cur.getString(1) != nxt.getString(1), s"seed=$seed")
          case _ =>
        }
      }
    }
  }

  test("property: mergeAggregates ≡ direct aggregate on random splits") {
    import spark.implicits._
    val gen = Gen.listOfN(100, Gen.zip(Gen.oneOf("p", "q", "r"), Gen.chooseNum(-50, 50)))
    for (seed <- 21L to 23L) {
      val rows = draw(gen, seed).map { case (g, v) => (g, v.toDouble) }
      val df = rows.toDF("g", "v")
      val m = graft.core.DDFManager(spark)
      val spec = "g, n=count(*), mx=max(v), mn=min(v), s=sum(v)"
      val cut = draw(Gen.chooseNum(-30, 30), seed + 50)
      val a = m.register(df.filter(col("v") < cut))
      val b = m.register(df.filter(col("v") >= cut))
      val merged = graft.operators.Aggregations.mergeAggregates(
        graft.operators.Aggregations.aggregate(a, spec).df,
        graft.operators.Aggregations.aggregate(b, spec).df, spec)
        .orderBy("g").collect().map(_.toSeq).toSeq
      val direct = graft.operators.Aggregations.aggregate(m.register(df), spec).df
        .orderBy("g").collect().map(_.toSeq).toSeq
      assert(merged == direct, s"seed=$seed cut=$cut")
    }
  }

  test("property: editDistanceJoin ≡ brute force on random low-alphabet corpora") {
    import spark.implicits._
    // 3-letter alphabet + short lengths maximize both true pairs and
    // pruning-filter stress (repeats, near-anagrams, shared substrings)
    val strGen = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    for (seed <- 1L to 3L) {
      val strs = (1L to 60L).map(i => (i, draw(strGen, seed * 1000 + i)))
      val df = strs.toDF("id", "str")
      val k = draw(Gen.chooseNum(1, 3), seed + 500)
      val a = df.select($"id".as("ia"), $"str".as("sa"))
      val b = df.select($"id".as("ib"), $"str".as("sb"))
      val brute = a.crossJoin(b).filter($"ia" < $"ib")
        .withColumn("d", levenshtein($"sa", $"sb")).filter($"d" <= k)
        .select($"ia", $"ib", $"d".cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val mine = graft.pipeline.SetJoin.editDistanceJoin(df, "str", "id", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(mine == brute,
        s"seed=$seed k=$k missing=${brute -- mine} extra=${mine -- brute}")
    }
  }

  test("property: budgetSelect ≡ global running-sum window on random corpora × budgets × layouts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(3L, 11L, 77L)) {
      val rng = new scala.util.Random(seed)
      val n = 200 + rng.nextInt(1800)
      val stringKey = rng.nextBoolean() // exercise non-numeric order keys
      val rows = (0 until n).map { i =>
        // ~10% null costs (count 0 by contract), many zero costs, heavy
        // priority ties so the id tie-break decides at the cutoff
        val cost: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(40).toLong
        (f"s${rng.nextInt(30)}%02d", rng.nextInt(30).toLong, i.toLong, cost)
      }
      // a double key holding NaN (sorts last), -0.0 and 0.0 (equal) and nulls
      val withDouble = rows.map { case (qs, qn, id, cost) =>
        val qd: java.lang.Double = qn match {
          case 0L => Double.NaN
          case 1L => -0.0
          case 2L => 0.0
          case 3L => null
          case k => k / 7.0
        }
        (qs, qn, qd, id, cost)
      }
      val base0 = withDouble.toDF("qs", "qn", "qd", "id", "cost")
      val layout = 1 + rng.nextInt(13) // random physical layout
      val asc = rng.nextBoolean()
      val totalCost = rows.map(r => Option(r._4).fold(0L)(_.toLong)).sum
      // budget regimes: nothing fits / a slice / all-but-boundary / everything
      val budgets = Seq(0L, totalCost / 7 + rng.nextInt(20), totalCost - 1, totalCost + 5)
      val qn = col("qn")
      val keyKinds = Seq(
        (if (stringKey) "string" else "long") -> (if (stringKey) col("qs") else qn),
        // a struct with a null field and null structs
        "struct" -> when(qn === 4L, lit(null)).otherwise(
          struct(when(qn % 7 =!= 0L, qn % 5).as("a"), col("qs").as("b"))),
        // arrays of two lengths sharing prefixes, and null arrays
        "array" -> when(qn === 6L, lit(null)).otherwise(
          when(qn % 3 === 0L, array(qn % 4)).otherwise(array(qn % 4, qn))),
        "double" -> col("qd"))
      for ((kind, key) <- keyKinds) {
        val base = base0.select(key.as("q"), col("id"), col("cost")).repartition(layout)
        val order = if (asc) Seq(col("q").asc, col("id").asc)
                    else Seq(col("q").desc, col("id").asc)
        val w = Window.orderBy(order: _*).rowsBetween(Long.MinValue, 0)
        for (budget <- budgets) {
          val got = Views.budgetSelect(base, order, "cost", budget)
            .collect().map(_.getLong(1)).toSet
          val want = base
            .withColumn("c", sum(coalesce(col("cost"), lit(0L))).over(w))
            .filter(col("c") <= budget)
            .collect().map(_.getLong(1)).toSet
          assert(got == want, s"seed=$seed key=$kind asc=$asc " +
            s"budget=$budget missing=${want -- got} extra=${got -- want}")
        }
      }
    }
  }

  test("property: apportionBudget ≡ driver-side largest-remainder on random weights (r17)") {
    import spark.implicits._
    for (seed <- Seq(5L, 23L, 91L)) {
      val rng = new scala.util.Random(seed)
      val n = 5 + rng.nextInt(120)
      val budget = rng.nextInt(5000).toLong
      val rows = (0 until n).map(i =>
        (f"k$i%03d", (rng.nextInt(1000) - 50).toLong)) // some <= 0 -> drop
      val df = rows.toDF("key", "w")
      val got = Views.apportionBudget(df, "key", "w", budget)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      // driver-side reference: floors + one unit to the largest remainders
      val pos = rows.filter(_._2 > 0)
      val tw = pos.map(_._2).sum
      val exact = pos.map { case (k, w) => k -> (w.toDouble * budget / tw.toDouble) }
      val floors = exact.map { case (k, e) => k -> e.floor.toLong }.toMap
      val extra = budget - floors.values.sum
      val bump = exact.map { case (k, e) => (k, e - e.floor) }
        .sortBy { case (k, r) => (-r, k) }.take(extra.toInt).map(_._1).toSet
      val want = floors.map { case (k, f) =>
        k -> (f + (if (bump(k)) 1L else 0L)) }
      assert(got == want, s"seed=$seed n=$n budget=$budget " +
        s"diff=${(want.toSet -- got.toSet) ++ (got.toSet -- want.toSet)}")
      if (tw > 0 && budget > 0)
        assert(got.values.sum == budget, s"seed=$seed sum != budget")
    }
    // plan pin: the remainder bump is a budgetSelect, whose passes sort
    // nothing — a millions-of-keys weight table must never sort under
    // one unpartitioned Window
    val big = spark.range(5000).select(
      concat(lit("k"), $"id").as("key"), (pmod($"id" * 37, lit(997)) + 1).as("w"))
    val plan = Views.apportionBudget(big, "key", "w", 100000L)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"apportionBudget must not use a global window:\n$plan")
  }

  test("property: budgetSelectByGroup ≡ per-group running-sum window on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(5L, 23L, 91L)) {
      val rng = new scala.util.Random(seed)
      val n = 200 + rng.nextInt(1500)
      // seed 91 forces >32 distinct budget keys so withBudget's
      // broadcast-join branch (not just the when-chain) is under test
      val nGroups = if (seed == 91L) 40 + rng.nextInt(20) else 1 + rng.nextInt(12)
      val rows = (0 until n).map { i =>
        // ~8% null groups (a real mixture component), ~10% null costs
        // (count 0), ~6% null priorities, heavy priority ties
        val g = if (rng.nextInt(12) == 0) null else s"g${rng.nextInt(nGroups)}"
        val pri: java.lang.Long = if (rng.nextInt(16) == 0) null else rng.nextInt(8).toLong
        val cost: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(30).toLong
        (g, pri, i.toLong, cost)
      }
      val base = rows.toDF("g", "pri", "id", "cost").repartition(1 + rng.nextInt(9))
      val asc = rng.nextBoolean()
      // sometimes NO unique tie-break: the peer-inclusive (RANGE-frame)
      // contract must keep tied cohorts whole either way
      val tieTotal = rng.nextBoolean()
      val order = (if (asc) Seq(col("pri").asc) else Seq(col("pri").desc)) ++
        (if (tieTotal) Seq(col("id").asc) else Nil)
      val budgets: Map[Any, Long] = (0 until nGroups).flatMap { gi =>
        if (seed == 91L || rng.nextBoolean())
          Some((s"g$gi": Any) -> rng.nextInt(200).toLong) else None
      }.toMap ++ (if (rng.nextBoolean()) Map((null: Any) -> rng.nextInt(100).toLong)
                  else Map.empty[Any, Long])
      if (seed == 91L) assert(budgets.size > 32,
        "seed-91 iteration must exercise the broadcast-join budget path")
      val default = if (rng.nextBoolean()) 0L else rng.nextInt(150).toLong
      val got = Views.budgetSelectByGroup(base, "g", order, "cost", budgets, default)
        .select("id").collect().map(_.getLong(0)).toSet
      // default frame (RANGE UNBOUNDED PRECEDING) — peers share one sum
      val w = Window.partitionBy(col("g")).orderBy(order: _*)
      val budgetExpr = budgets.foldLeft(lit(default)) { case (acc, (g, b)) =>
        when(col("g") <=> lit(g), lit(b)).otherwise(acc)
      }
      val want = base.withColumn("rs", sum(coalesce(col("cost"), lit(0L))).over(w))
        .filter(col("rs") <= budgetExpr)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"seed=$seed asc=$asc tieTotal=$tieTotal " +
        s"default=$default missing=${want -- got} extra=${got -- want}")
      // r14: a tiny colossalThreshold forces most groups through the
      // range-exchange colossal branch (and leaves the sub-threshold
      // tail on the window branch) — output must be IDENTICAL either
      // way, including tied-cohort drops, null groups, and null costs
      val routed = Views.budgetSelectByGroup(base, "g", order, "cost",
          budgets, default, colossalThreshold = 10L)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(routed == want, s"colossal routing diverged: seed=$seed " +
        s"asc=$asc tieTotal=$tieTotal default=$default " +
        s"missing=${want -- routed} extra=${routed -- want}")
    }
  }

  test("property: matchDistribution quotas, mix-invariance, layout-invariance on random corpora") {
    import spark.implicits._
    for (seed <- Seq(11L, 47L, 83L)) {
      val rng = new scala.util.Random(seed)
      val nBuckets = 2 + rng.nextInt(5)
      val n = 300 + rng.nextInt(900)
      // skewed corpus mix, independent skewed target mix, partial overlap
      // (one corpus-only and one target-only bucket when nBuckets > 2)
      val corpus = (0 until n).map { i =>
        (i.toLong, s"b${rng.nextInt(nBuckets)}")
      }.toDF("doc_id", "bucket").repartition(1 + rng.nextInt(8))
      val target = (0 until 100 + rng.nextInt(200)).map { i =>
        (i.toLong, s"b${1 + rng.nextInt(nBuckets)}") // b0 absent from target
      }.toDF("doc_id", "bucket")
      val got = Views.matchDistribution(m.register(corpus), "bucket", "doc_id", target).df
      val byBucket = got.groupBy("bucket").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // independent BigInt replication of the quota arithmetic over the
      // SHARED buckets (b0 must renormalize away)
      val cd = corpus.groupBy("bucket").count().collect()
        .map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
      val ct = target.groupBy("bucket").count().collect()
        .map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
      val shared = cd.keySet.intersect(ct.keySet)
      val t = shared.iterator.map(ct).sum
      val mSize = shared.iterator.map(b => cd(b) * t / ct(b)).min
      val want = shared.map(b => b -> (mSize * ct(b) / t).toLong)
        .filter(_._2 > 0).toMap
      assert(byBucket == want, s"seed=$seed got=$byBucket want=$want")
      assert(!byBucket.contains("b0"), "corpus-only bucket must renormalize away")
      // realized quota never exceeds availability
      want.foreach { case (b, q) => assert(q <= cd(b).toLong) }
      // mix-invariance: the match depends on the target's PROPORTIONS,
      // not its absolute size — doubling the target changes nothing
      val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
      val doubled = target.unionAll(target.withColumn("doc_id", col("doc_id") + 1000000L))
      val ids2 = Views.matchDistribution(m.register(corpus), "bucket", "doc_id", doubled)
        .df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == ids2, s"seed=$seed: doubling the target changed the selection")
      // layout-invariance: a different physical layout selects the SAME rows
      val ids3 = Views.matchDistribution(m.register(corpus.repartition(13)),
        "bucket", "doc_id", target).df.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == ids3)
      assert(ids.subsetOf((0 until n).map(_.toLong).toSet))
    }
  }

  test("property: topKByGroup ≡ window rank on random frames, both directions") {
    import spark.implicits._
    for (seed <- Seq(7L, 42L, 99L)) {
      val rng = new scala.util.Random(seed)
      val n = 300 + rng.nextInt(700)
      val k = 1 + rng.nextInt(5)
      val nGroups = 1 + rng.nextInt(8)
      // duplicate values on purpose: the id tie-break must decide
      val df = (0 until n).map(i =>
          (rng.nextInt(nGroups).toLong, rng.nextInt(20).toLong, i.toLong))
        .toDF("g", "v", "id")
      for (asc <- Seq(false, true)) {
        val got = graft.operators.Views.topKByGroup(df, Seq("g"), Seq("v", "id"), k,
            ascending = asc)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val ord = if (asc)
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("v").asc, col("id").asc)
        else
          org.apache.spark.sql.expressions.Window.partitionBy("g")
            .orderBy(col("v").desc, col("id").desc)
        val want = df.withColumn("rk", row_number().over(ord))
          .filter(col("rk") <= k)
          .collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("id"))).toSet
        assert(got == want,
          s"seed=$seed k=$k asc=$asc missing=${want -- got} extra=${got -- want}")
      }
    }
  }

  test("property: connectedComponents ≡ union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(7L, 29L, 83L)) {
      val rng = new scala.util.Random(seed)
      val nNodes = 8 + rng.nextInt(25)
      val nEdges = rng.nextInt(45)
      // duplicates and reversed duplicates on purpose; no self-loops
      // (the contract speaks of nodes incident to an edge between
      // distinct nodes)
      val edges = (0 until nEdges).map { _ =>
        val a = rng.nextInt(nNodes).toLong
        var b = rng.nextInt(nNodes).toLong
        while (b == a) b = rng.nextInt(nNodes).toLong
        (a, b)
      }
      if (edges.nonEmpty) {
        val df = edges.toDF("s", "d").repartition(1 + rng.nextInt(7))
        val cc = graft.operators.Graph.connectedComponents(df, "s", "d")
        val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        graft.core.Checkpoints.release(cc)
        // union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val minOf = nodes.groupBy(find).map { case (root, ns) => root -> ns.min }
        val want = nodes.map(n => n -> minOf(find(n))).toMap
        assert(got == want, s"seed=$seed diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      }
    }
  }

  test("property: kCore ≡ serial peeling on random graphs") {
    import spark.implicits._
    for (seed <- Seq(13L, 41L, 97L)) {
      val rng = new scala.util.Random(seed)
      val nNodes = 8 + rng.nextInt(18)
      val edges = (0 until 20 + rng.nextInt(50)).map { _ =>
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong)
      }
      val k = 2 + rng.nextInt(2)
      val df = edges.toDF("s", "d").repartition(1 + rng.nextInt(5))
      val core = graft.operators.Graph.kCore(df, "s", "d", k)
      val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.core.Checkpoints.release(core)
      // serial peel over the canonical simple graph (the fixpoint is
      // unique, so any peeling order reaches the same core)
      val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      var adj = simple.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      var changed = true
      while (changed) {
        val drop = adj.collect { case (n, ns) if ns.size < k => n }.toSet
        changed = drop.nonEmpty
        adj = adj.collect { case (n, ns) if !drop(n) => n -> (ns -- drop) }
      }
      val want = adj.map { case (n, ns) => n -> ns.size.toLong }
      assert(got == want, s"seed=$seed k=$k diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
  }

  test("property: triangleCount ≡ brute-force triple enumeration") {
    import spark.implicits._
    def check[T](label: String, edges: Seq[(T, T)], parts: Int)(
        implicit ord: Ordering[T], enc: org.apache.spark.sql.Encoder[(T, T)]): Unit = {
      val df = spark.createDataset(edges).toDF("s", "d").repartition(parts)
      val tc = graft.operators.Graph.triangleCount(df, "s", "d")
      val got = tc.collect().map(r => r.getAs[T](0) -> r.getLong(1)).toMap
      graft.core.Checkpoints.release(tc)
      val simple = edges.map { case (a, b) => (ord.min(a, b), ord.max(a, b)) }
        .filter(e => e._1 != e._2).distinct.toSet
      val nodes = simple.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val counts = scala.collection.mutable.Map[T, Long]().withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.size; l <- (j + 1) until nodes.size
        (a, b, c) = (nodes(i), nodes(j), nodes(l))
        if simple((a, b)) && simple((b, c)) && simple((a, c))
      } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
      val want = counts.toMap
      assert(got == want, s"$label diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
    for (seed <- Seq(17L, 53L, 101L)) {
      val rng = new scala.util.Random(seed)
      val nNodes = 6 + rng.nextInt(18)
      val edges = (0 until 15 + rng.nextInt(60)).map { _ =>
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong)
      }
      check(s"seed=$seed", edges, 1 + rng.nextInt(5))
    }
    val rng = new scala.util.Random(29L)
    // hub-heavy: node 0 touches every other node, plus random chords, so
    // orientation puts the hub last and its out-list stays empty
    val star = (1L to 40L).map(i => (0L, i)) ++
      (0 until 60).map(_ => (1L + rng.nextInt(40), 1L + rng.nextInt(40)))
    check("hub", star, 3)
    // dense: near-complete on 12 nodes (every 7th pair dropped)
    val dense = for {
      a <- 0L until 12L; b <- (a + 1) until 12L if (a * 12 + b) % 7 != 0
    } yield if ((a + b) % 2 == 0) (a, b) else (b, a)
    check("dense", dense, 4)
    // string ids order lexicographically: "n10" < "n2"
    val strs = (0 until 50).map(_ => (s"n${rng.nextInt(14)}", s"n${rng.nextInt(14)}"))
    check("string ids", strs, 2)
  }

  test("property: rangeJoin ≡ brute-force containment on random intervals × bucket sizes") {
    import spark.implicits._
    for (seed <- Seq(19L, 47L, 71L)) {
      val rng = new scala.util.Random(seed)
      val nP = 40 + rng.nextInt(100)
      val nI = 20 + rng.nextInt(60)
      val span = 100000L // ms
      val points = (0 until nP).map(i =>
        (i.toLong, s"k${rng.nextInt(4)}", rng.nextLong(span)))
      val intervals = (0 until nI).map { j =>
        val a = rng.nextLong(span); val b = rng.nextLong(span)
        (j.toLong, s"k${rng.nextInt(5)}", math.min(a, b), math.max(a, b))
      }
      val pdf = points.toDF("pid", "k", "tms")
        .select(col("pid"), col("k"), timestamp_millis(col("tms")).as("t"))
        .repartition(1 + rng.nextInt(7))
      val idf = intervals.toDF("iid", "k", "sms", "ems")
        .select(col("iid"), col("k"), timestamp_millis(col("sms")).as("s"),
          timestamp_millis(col("ems")).as("e"))
        .repartition(1 + rng.nextInt(7))
      // bucket sizes from far-smaller to far-larger than typical spans
      val bucketMs = Seq(1300L, 9000L, 40000L)(rng.nextInt(3))
      val got = graft.operators.Joins.rangeJoin(pdf, idf, Seq("k"),
          "t", "s", "e", bucketMs = bucketMs)
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (pid, pk, t) <- points; (iid, ik, s, e) <- intervals
        if pk == ik && s <= t && t <= e
      } yield (pid, iid)).toSet
      assert(got == want, s"seed=$seed bucketMs=$bucketMs " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("property: global fillDirectional ≡ naive global window on unique orderings") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- Seq(31L, 59L, 89L)) {
      val rng = new scala.util.Random(seed)
      val n = 50 + rng.nextInt(250)
      val orders = rng.shuffle((0 until n).map(_.toLong * 3).toVector)
      val rows = orders.map { o =>
        def v() = if (rng.nextInt(3) == 0) None else Some(rng.nextInt(100).toLong)
        (o, v(), v())
      }
      val base = rows.toDF("o", "v1", "v2").repartition(1 + rng.nextInt(9))
      for (method <- Seq("ffill", "bfill")) {
        val got = graft.operators.MissingData
          .fillDirectional(m.register(base), method, "o", Seq("v1", "v2")).df
          .collect().map(r => r.getLong(0) ->
            (Option(r.get(1)), Option(r.get(2)))).toMap
        val w = if (method == "ffill")
          Window.orderBy(col("o")).rowsBetween(Window.unboundedPreceding, 0)
        else Window.orderBy(col("o")).rowsBetween(0, Window.unboundedFollowing)
        def fill(c: String) = if (method == "ffill")
          last(col(c), ignoreNulls = true).over(w)
        else first(col(c), ignoreNulls = true).over(w)
        val want = base.select(col("o"), fill("v1").as("v1"), fill("v2").as("v2"))
          .collect().map(r => r.getLong(0) ->
            (Option(r.get(1)), Option(r.get(2)))).toMap
        assert(got == want, s"seed=$seed method=$method " +
          s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      }
    }
  }

  test("property: sortedNeighborhoodJoin ≡ serial window replay on random corpora") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- Seq(37L, 67L, 103L)) {
      val rng = new scala.util.Random(seed)
      val n = 30 + rng.nextInt(60)
      // 2-letter alphabet, short keys: heavy ties (the id tie-break
      // decides ranks) and many true near-matches; ~10% null keys drop
      val rows = (0 until n).map { i =>
        val key: String = if (rng.nextInt(10) == 0) null
          else (0 until rng.nextInt(5)).map(_ => ('a' + rng.nextInt(2)).toChar).mkString
        (i.toLong, key)
      }
      val window = 2 + rng.nextInt(4)
      val maxDist = rng.nextInt(3)
      val df = rows.toDF("id", "key").repartition(1 + rng.nextInt(7))
      val got = graft.pipeline.SetJoin
        .sortedNeighborhoodJoin(df, "key", "id", window, maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ranked = rows.filter(_._2 != null).sortBy(r => (r._2, r._1))
      val want = (for {
        ra <- ranked.indices
        rb <- (ra + 1) until math.min(ra + window, ranked.size)
        d = lev(ranked(ra)._2, ranked(rb)._2) if d <= maxDist
        ids = Seq(ranked(ra)._1, ranked(rb)._1)
      } yield (ids.min, ids.max, d.toLong)).toSet
      assert(got == want, s"seed=$seed window=$window maxDist=$maxDist " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("property: pageRank ≡ serial integer replay on random directed graphs") {
    import spark.implicits._
    for (seed <- Seq(11L, 43L, 79L)) {
      val rng = new scala.util.Random(seed)
      val nNodes = 5 + rng.nextInt(15)
      val edges = (0 until 10 + rng.nextInt(40)).map { _ =>
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong) // self-loops allowed
      }
      val iters = 1 + rng.nextInt(4)
      val damping = Seq(50, 85, 100)(rng.nextInt(3))
      val scale = 1000000L
      val df = edges.toDF("s", "d").repartition(1 + rng.nextInt(5))
      // random positive integer weights; duplicate (s, d) rows sum
      val weighted = edges.map { case (s, d) => (s, d, 1L + rng.nextInt(9)) }
      val wdf = weighted.toDF("s", "d", "w").repartition(1 + rng.nextInt(5))
      def ranks(out: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        try out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally graft.core.Checkpoints.release(out)
      val got = ranks(graft.operators.Graph.pageRank(df, "s", "d", iters, damping, scale))
      val gotW = ranks(graft.operators.Graph.pageRankWeighted(wdf, "s", "d", "w",
        iters, damping, scale))
      // serial replay of the documented integer recurrence over summed
      // (s, d) weights: each edge carries (pr · w) div Σ_s w, which unit
      // weights on the distinct edges make pr div outdeg
      def replay(w: Map[(Long, Long), Long]): Map[Long, Long] = {
        val nodes = w.keys.flatMap(x => Seq(x._1, x._2)).toSet
        val sw = w.groupMapReduce(_._1._1)(_._2)(_ + _)
        val base = (100L - damping) * scale / 100L
        var pr = nodes.map(_ -> scale).toMap
        for (_ <- 0 until iters) {
          val contrib = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
          w.foreach { case ((s, d), x) =>
            contrib(d) += Math.floorDiv(pr(s) * x, sw(s))
          }
          pr = nodes.map(n => n -> (base + Math.floorDiv(damping * contrib(n), 100L))).toMap
        }
        pr
      }
      val want = replay(edges.distinct.map(_ -> 1L).toMap)
      assert(got == want, s"seed=$seed iters=$iters damping=$damping " +
        s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      val wantW = replay(weighted.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _))
      assert(gotW == wantW, s"weighted: seed=$seed iters=$iters damping=$damping " +
        s"diff=${(gotW.toSet diff wantW.toSet) ++ (wantW.toSet diff gotW.toSet)}")
    }
  }

  test("property: intervalMerge ≡ serial sweep on random interval sets") {
    import spark.implicits._
    for (seed <- Seq(23L, 57L, 91L)) {
      val rng = new scala.util.Random(seed)
      val n = 40 + rng.nextInt(160)
      // short span range forces overlaps, touches, containment; ~10%
      // degenerate (len ≤ 0) and ~5% null-endpoint rows must drop
      val rows = (0 until n).map { _ =>
        val s = rng.nextInt(120).toLong
        val len = rng.nextInt(12).toLong - 1 // -1..10: some zero/negative
        val sOpt: java.lang.Long = if (rng.nextInt(20) == 0) null else s
        val eOpt: java.lang.Long = if (rng.nextInt(20) == 0) null else s + len
        (s"k${rng.nextInt(4)}", sOpt, eOpt)
      }
      val df = rows.toDF("k", "s", "e").repartition(1 + rng.nextInt(7))
      val got = graft.operators.TimeSeries.intervalMerge(df, Seq("k"), "s", "e")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = rows
        .collect { case (k, s, e) if s != null && e != null && e > s =>
          (k, s.toLong, e.toLong) }
        .groupBy(_._1).flatMap { case (k, ivs) =>
          val sorted = ivs.map(x => (x._2, x._3)).sortBy(identity)
          val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          sorted.foreach { case (s, e) =>
            if (spans.nonEmpty && s <= spans.last._2) {
              val (ls, le, c) = spans.remove(spans.size - 1)
              spans += ((ls, math.max(le, e), c + 1))
            } else spans += ((s, e, 1L))
          }
          spans.map { case (s, e, c) => (k, s, e, c) }
        }.toSet
      assert(got == want, s"seed=$seed missing=${want -- got} extra=${got -- want}")
    }
  }

  test("property: cdcApply ≡ last-writer-wins replay; re-apply is idempotent") {
    import spark.implicits._
    for (seed <- Seq(3L, 33L, 73L)) {
      val rng = new scala.util.Random(seed)
      val keys = (0 until 5 + rng.nextInt(20)).map(i => s"k$i")
      val baseRows = keys.filter(_ => rng.nextBoolean())
        .map(k => (k, rng.nextInt(100).toLong))
      // unique ts per key (the documented total-order contract); ops U/D
      val changes = keys.flatMap { k =>
        val ts = rng.shuffle((1 to 8).toList).take(rng.nextInt(5))
        ts.map(t => (k, rng.nextInt(100).toLong, t.toLong,
          if (rng.nextInt(4) == 0) "D" else "U"))
      }
      val base = baseRows.toDF("k", "v").repartition(1 + rng.nextInt(5))
      val feed = changes.toDF("k", "v", "ts", "op").repartition(1 + rng.nextInt(5))
      val out = graft.operators.History.cdcApply(base, feed, Seq("k"), Seq("v"), "ts", "op")
      val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = (baseRows.map { case (k, v) => k -> Option(v) }.toMap ++
        changes.groupBy(_._1).map { case (k, cs) =>
          val last = cs.maxBy(_._3)
          k -> (if (last._4 == "D") None else Some(last._2))
        }).collect { case (k, Some(v)) => k -> v }
      assert(got == want, s"seed=$seed diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      val again = graft.operators.History
        .cdcApply(out, feed, Seq("k"), Seq("v"), "ts", "op")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(again == got, s"seed=$seed re-apply changed the state")
    }
  }

  test("property: groupMedian/groupQuantiles/groupMode ≡ serial selection") {
    import spark.implicits._
    for (seed <- Seq(29L, 63L, 107L)) {
      val rng = new scala.util.Random(seed)
      val n = 60 + rng.nextInt(240)
      // heavy value ties + ~10% nulls (dropped by contract)
      val rows = (0 until n).map { _ =>
        val v: java.lang.Long = if (rng.nextInt(10) == 0) null else rng.nextInt(15).toLong
        (s"g${rng.nextInt(5)}", v)
      }
      val df = rows.toDF("g", "v").repartition(1 + rng.nextInt(7))
      val byGroup = rows.collect { case (g, v) if v != null => g -> v.toLong }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
      val med = graft.stats.Stats.groupMedian(df, "g", "v")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val wantMed = byGroup.map { case (g, vs) =>
        val lo = vs((vs.size - 1) / 2); val hi = vs(vs.size / 2)
        g -> (lo + hi).toDouble / 2
      }
      assert(med == wantMed, s"seed=$seed median diff=${(med.toSet diff wantMed.toSet)}")
      val ps = Seq(0.25, 0.5, 0.9)
      val qs = graft.stats.Stats.groupQuantiles(df, "g", "v", ps)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val wantQs = byGroup.map { case (g, vs) =>
        def at(p: Double) = {
          // identical rank snap to Stats.groupQuantiles / the oracles
          val snapped = BigDecimal(p * vs.size)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          vs(math.max(math.ceil(snapped).toInt, 1) - 1)
        }
        g -> ((at(0.25), at(0.5), at(0.9)))
      }
      assert(qs == wantQs, s"seed=$seed quantiles diff=${(qs.toSet diff wantQs.toSet)}")
      val mode = graft.stats.Stats.groupMode(df, "g", "v")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val wantMode = byGroup.map { case (g, vs) =>
        val counts = vs.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
        val best = counts.toSeq.sortBy { case (v, c) => (-c, v) }.head
        g -> best
      }
      assert(mode == wantMode, s"seed=$seed mode diff=${(mode.toSet diff wantMode.toSet)}")
    }
  }

  test("property: bucketByGroupQuantiles/filterByGroupQuantile ≡ serial nearest-rank reference") {
    import spark.implicits._
    val cuts = Seq(0.25, 0.5, 0.9)
    val labels = Seq("b0", "b1", "b2", "b3")
    def cutAt(vs: Seq[Double], p: Double): Double = {
      // identical rank snap to Stats.groupQuantiles / the oracles
      val snapped = BigDecimal(p * vs.size)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      vs(math.max(math.ceil(snapped).toInt, 1) - 1)
    }
    for (seed <- Seq(17L, 83L, 131L)) {
      val rng = new scala.util.Random(seed)
      val n = 60 + rng.nextInt(240)
      // heavy ties + ~10% nulls (null score ⇒ null bucket / never gated in)
      val rows = (0 until n).map { i =>
        val v: java.lang.Double =
          if (rng.nextInt(10) == 0) null else rng.nextInt(25).toDouble
        (s"g${rng.nextInt(4)}", i.toLong, v)
      }
      val df = rows.toDF("g", "id", "v").repartition(1 + rng.nextInt(7))
      val byGroup = rows.collect { case (g, _, v) if v != null => g -> v.toDouble }
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
      val want = rows.map { case (g, id, v) =>
        id -> (if (v == null) null
               else {
                 val cs = cuts.map(p => cutAt(byGroup(g), p))
                 val i = cs.indexWhere(v.toDouble <= _)
                 if (i < 0) labels.last else labels(i)
               })
      }.toMap
      val got = graft.stats.Stats.bucketByGroupQuantiles(df, "v", "g", cuts, labels)
        .collect()
        .map(r => r.getLong(1) -> (if (r.isNullAt(3)) null else r.getString(3)))
        .toMap
      assert(got == want,
        s"seed=$seed diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      val p = 0.7
      val kept = graft.stats.Stats.filterByGroupQuantile(df, "v", "g", p)
        .collect().map(_.getLong(1)).toSet
      val wantKept = rows.collect {
        case (g, id, v) if v != null && v.toDouble >= cutAt(byGroup(g), p) => id
      }.toSet
      assert(kept == wantKept, s"seed=$seed gate diff=${kept diff wantKept} ${wantKept diff kept}")
    }
  }

  test("property: interpolate ≡ serial linear fill with edge clamp") {
    import spark.implicits._
    for (seed <- Seq(41L, 69L, 113L)) {
      val rng = new scala.util.Random(seed)
      val rows = (0 until 4 + rng.nextInt(4)).flatMap { ki =>
        val k = s"s$ki"
        val times = rng.shuffle((0 until 200).map(_.toLong * 7)).take(10 + rng.nextInt(40))
        // one key in three is observation-poor; one is all-null
        val nullRate = ki % 3 match { case 0 => 3 case 1 => 6 case _ => 10 }
        times.map(t => (k, t,
          (if (rng.nextInt(10) < nullRate) None
           else Some(rng.nextInt(50).toDouble)): Option[Double]))
      }
      val df = rows.toDF("k", "tsec", "v")
        .select(col("k"), timestamp_seconds(col("tsec")).as("t"), col("v"))
        .repartition(1 + rng.nextInt(7))
      val got = graft.operators.TimeSeries.interpolate(df, "t", Seq("k"), "v", "vf")
        .select(col("k"), unix_timestamp(col("t")).as("tsec"), col("vf"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val want = rows.groupBy(_._1).flatMap { case (k, krs) =>
        val sorted = krs.map(r => (r._2, r._3)).sortBy(_._1)
        val obs = sorted.collect { case (t, Some(v)) => (t, v) }
        sorted.map { case (t, v) =>
          val filled = v.orElse {
            val prev = obs.filter(_._1 <= t).lastOption
            val next = obs.find(_._1 >= t)
            (prev, next) match {
              case (None, None) => None
              case (None, Some((_, nv))) => Some(nv)
              case (Some((_, pv)), None) => Some(pv)
              case (Some((pt, pv)), Some((nt, nv))) =>
                Some(pv + (nv - pv) * ((t - pt).toDouble / (nt - pt).toDouble))
            }
          }
          (k, t) -> filled
        }
      }
      assert(got == want, s"seed=$seed diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
  }

  test("property: asofJoin ≡ brute force across directions × tolerance × layouts") {
    import spark.implicits._
    // dense integer times with heavy collisions: same-instant ties on
    // BOTH sides, multiple rights per instant (the __ord tie-break),
    // keys present on only one side, empty-candidate lefts
    for (seed <- Seq(5L, 23L, 61L)) {
      val rng = new scala.util.Random(seed)
      val nl = 40 + rng.nextInt(120)
      val nr = 30 + rng.nextInt(120)
      val lrows = (0 until nl).map(i =>
        (i.toLong, s"k${rng.nextInt(5)}", rng.nextInt(25).toLong))
      val rrows = (0 until nr).map(j =>
        (j.toLong, s"k${rng.nextInt(6)}", rng.nextInt(25).toLong, rng.nextInt(1000).toLong))
      val left = lrows.toDF("lid", "k", "t").repartition(1 + rng.nextInt(7))
      val right = rrows.toDF("rid", "k", "rt", "v").repartition(1 + rng.nextInt(7))
      for (direction <- Seq("backward", "forward", "nearest");
           tol <- Seq(None, Some(3.0))) {
        val got = graft.operators.Joins.asofJoin(left, right, Seq("k"),
            "t", "rt", Seq("v"), rightOrder = "rid", direction = direction,
            tolerance = tol)
          .select(col("lid"), col("asof.v").as("v"))
          .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        // the documented contract, literally: pick the direction's match
        // (greatest (rt, rid) backward / least forward), THEN apply
        // tolerance to the picked match; nearest = closer of the two
        // tolerance-filtered picks, exact ties going backward
        val want = lrows.map { case (lid, k, t) =>
          val cands = rrows.filter(_._2 == k)
          def tolOk(rt: Long): Boolean = tol.forall(x => math.abs(t - rt) <= x)
          val b = cands.filter(_._3 <= t).sortBy(c => (c._3, c._1)).lastOption
            .filter(c => tolOk(c._3)).map(_._4)
          val f = cands.filter(_._3 >= t).sortBy(c => (c._3, c._1)).headOption
            .filter(c => tolOk(c._3)).map(_._4)
          val fRt = cands.filter(_._3 >= t).sortBy(c => (c._3, c._1)).headOption.map(_._3)
          val bRt = cands.filter(_._3 <= t).sortBy(c => (c._3, c._1)).lastOption.map(_._3)
          val m = direction match {
            case "backward" => b
            case "forward" => f
            case _ => (b, f) match {
              case (None, _) => f
              case (_, None) => b
              case (Some(_), Some(_)) =>
                if ((t - bRt.get) <= (fRt.get - t)) b else f
            }
          }
          lid -> m
        }.toMap
        assert(got == want, s"seed=$seed dir=$direction tol=$tol " +
          s"diff=${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
      }
    }
  }

  test("property: cdcApply ∘ snapshotDiff = identity on random releases") {
    import spark.implicits._
    import graft.operators.History
    val rowGen = Gen.zip(Gen.chooseNum(0L, 40L),
      Gen.option(Gen.alphaStr.map(_.take(5))), Gen.chooseNum(-3, 3))
    for (seed <- 1L to 4L) {
      // distinct keys per side (snapshotDiff's contract); overlapping key
      // ranges so added/removed/changed/unchanged all occur, incl. NULL
      // values exercising the null-safe compare
      def snap(s: Long) = draw(Gen.listOfN(30, rowGen), s)
        .groupBy(_._1).map(_._2.head).toSeq
        .map { case (k, v, n) => (k, v.orNull, n) }
      val old = snap(seed).toDF("k", "txt", "v")
      val nw = snap(seed + 50).toDF("k", "txt", "v")
      val diff = History.snapshotDiff(old, nw, Seq("k"), Seq("txt", "v"))
      val changes = diff.select(col("k"), col("txt"), col("v"),
        lit(1L).as("ts"),
        when(col("change") === "removed", "D").otherwise("U").as("op"))
      val rebuilt = History.cdcApply(old, changes, Seq("k"),
        Seq("txt", "v"), "ts", "op")
      assert(rebuilt.exceptAll(nw).isEmpty && nw.exceptAll(rebuilt).isEmpty,
        s"seed=$seed: cdcApply(old, diff(old, new)) != new")
    }
  }

  test("property: aucByGroup ≡ MLlib evaluator on random scored frames") {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val rowGen = Gen.zip(Gen.chooseNum(0, 40), Gen.oneOf(0.0, 1.0))
    for (seed <- 1L to 3L) {
      // quantized scores (k/41) → heavy ties; both classes guaranteed
      val rows = draw(Gen.listOfN(150, rowGen), seed)
        .map { case (s, l) => (s / 41.0, l) } ++ Seq((0.9, 1.0), (0.1, 0.0))
      val df = rows.toDF("score", "label")
      val ours = graft.ml.MLSupport.aucByGroup(df, "score", "label", Nil)
        .collect()(0).getDouble(0)
      val mllib = graft.ml.MLSupport.rocAuc(
        df.select(col("label"), array_to_vector(
          array(lit(0.0) - col("score"), col("score"))).as("raw")),
        "label", "raw")
      assert(math.abs(ours - mllib) < 1e-9, s"seed=$seed: $ours vs $mllib")
    }
  }

  test("property: percentileRank midranks average 0.5 and are isotone") {
    import spark.implicits._
    import graft.stats.Stats
    for (seed <- 1L to 3L) {
      val vals = draw(Gen.listOfN(80, Gen.chooseNum(-20, 20)), seed)
        .map(_.toDouble)
      val ranked = Stats.percentileRank(vals.toDF("x"), Seq("x"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      // midrank mean is exactly 0.5 on any non-empty column
      val mean = ranked.map(_._2).sum / ranked.length
      assert(math.abs(mean - 0.5) < 1e-9, s"seed=$seed mean=$mean")
      // isotone: x1 < x2 ⇒ pr1 < pr2; x1 == x2 ⇒ pr1 == pr2
      val sorted = ranked.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((x1, p1), (x2, p2)) =>
          if (x1 == x2) assert(p1 == p2, s"seed=$seed tie broke rank")
          else assert(p1 < p2, s"seed=$seed not isotone at $x1 -> $x2")
        case _ =>
      }
    }
  }

  /** The reference form of exact dedup: the min id per fingerprint
    * ([[Dedup.exact]]) joined back to the corpus on the id.
    */
  private def exactSurvivorsByJoin(df: org.apache.spark.sql.DataFrame, textCol: String,
                                   idCol: String): org.apache.spark.sql.DataFrame =
    df.join(Dedup.exact(df, textCol, idCol).select(col("keep_id").as(idCol)), idCol)

  test("property: exactSurvivors ≡ min-id join-back on random corpora") {
    import spark.implicits._
    val base = Seq("the quick fox", "a b c", "spark joins rows", "x")
    for (seed <- Seq(5L, 17L, 29L, 61L)) {
      val rng = new scala.util.Random(seed)
      val n = 20 + rng.nextInt(60)
      // unique ids, some of them null; texts from a small pool with case
      // and whitespace variants of each, and some null texts
      val rows = rng.shuffle((1L to 3L * n).toList).take(n).map { id =>
        val text = Option.when(rng.nextInt(10) != 0) {
          val t = base(rng.nextInt(base.size))
          val cased = if (rng.nextBoolean()) t.toUpperCase else t
          " " * rng.nextInt(2) + cased.replace(" ", " " * (1 + rng.nextInt(3))) +
            "\t" * rng.nextInt(2)
        }
        (text, Option.when(rng.nextInt(8) != 0)(id), rng.nextInt(100))
      }
      val df = rows.toDF("text", "doc_id", "score").repartition(1 + rng.nextInt(4))
      val got = Dedup.exactSurvivors(df, "text", "doc_id")
      try {
        val want = exactSurvivorsByJoin(df, "text", "doc_id")
        assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
          s"seed=$seed: ${got.schema} vs ${want.schema}")
        def rowsOf(out: org.apache.spark.sql.DataFrame) =
          out.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
        assert(rowsOf(got) == rowsOf(want), s"seed=$seed")
      } finally graft.core.Checkpoints.release(got)
    }
  }
}
