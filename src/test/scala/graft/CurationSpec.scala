package graft

import graft.operators.Views
import graft.pipeline.{Relevance, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-4 curation operators: TF-IDF / BM25 relevance, temperature
  * mixture rebalancing, C4-style heuristic rules, int8 quantization.
  */
class CurationSpec extends SparkTestBase {

  private lazy val m = new graft.core.DDFManager(spark)

  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple banana banana durian"),
      (3L, "apple cherry elderberry elderberry"),
      (4L, "fig fig fig fig")
    ).toDF("doc_id", "text")
  }

  test("tfidfTopTerms: corpus-wide terms rank below distinctive ones; token tie-break") {
    val top = Relevance.tfidfTopTerms(corpus(), "text", "doc_id", k = 2)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rk")) -> r.getAs[String]("token"))
      .toMap
    // 'apple' is in 3/4 docs (idf low); doc 3's doubled 'elderberry' (df=1) wins
    assert(top((3L, 1)) == "elderberry")
    // doc 4 has a single term; rank 1 is fig, no rank 2 row
    assert(top((4L, 1)) == "fig" && !top.contains((4L, 2)))
    // doc 1: apple tf=2 but df=3; cherry tf=1 df=2 → apple score 2*(ln(5/4)+1)
    // = 2.446 > cherry 1*(ln(5/3)+1) = 1.51 → apple first
    assert(top((1L, 1)) == "apple")
  }

  test("tfidfTopTerms: minDocFreq prunes hapax terms before ranking") {
    val top = Relevance.tfidfTopTerms(corpus(), "text", "doc_id", k = 1, minDocFreq = 2L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("token")).toMap
    // elderberry/durian/fig all have doc_freq 1 → pruned; doc 4 vanishes
    assert(!top.contains(4L))
    assert(top(3L) == "apple" || top(3L) == "cherry")
  }

  test("bm25: rarer query term scores higher; non-matching docs absent") {
    val scores = Relevance.bm25(corpus(), "text", "doc_id", Seq("durian", "apple"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    // doc 4 contains neither term
    assert(!scores.contains(4L))
    // doc 2 holds the corpus-unique 'durian' plus 'apple' → strictly above
    // docs 1/3 which only match the common 'apple'
    assert(scores(2L) > scores(1L) && scores(2L) > scores(3L))
    val hits = Relevance.bm25(corpus(), "text", "doc_id", Seq("durian", "apple"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("terms_hit")).toMap
    assert(hits(2L) == 2L && hits(1L) == 1L)
    // r14 review: query terms go through the SAME normalization as
    // corpus tokens — capitalized or multi-word terms must score
    // identically to their tokenized form instead of silently matching
    // nothing (the bm25Retrieve behavior for the same query text)
    val capped = Relevance.bm25(corpus(), "text", "doc_id", Seq("Durian  Apple"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    assert(capped == scores, s"got $capped want $scores")
  }

  test("bm25Retrieve: per-query rows match single-query bm25; k bounds each query") {
    import spark.implicits._
    val queries = Seq((1L, "durian apple"), (2L, "fig")).toDF("qid", "qtext")
    val got = Relevance.bm25Retrieve(corpus(), "text", "doc_id",
        queries, "qid", "qtext", k = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id")) ->
        (r.getAs[Double]("bm25"), r.getAs[Int]("rk"))).toMap
    val single = Relevance.bm25(corpus(), "text", "doc_id", Seq("durian", "apple"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("bm25")).toMap
    // query 1's winner is doc 2 (unique 'durian' + 'apple'), scored
    // identically to the single-query primitive
    assert(got((1L, 2L))._2 == 1 && got((1L, 2L))._1 == single(2L))
    // k=2 bounds output though 3 docs match 'apple'
    assert(got.keys.count(_._1 == 1L) == 2)
    // query 2 matches only doc 4
    assert(got.keys.filter(_._1 == 2L).map(_._2).toSet == Set(4L))
  }

  test("jaccardRetrieve: exact overlap ratios; candidates require a shared token") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana"), (2L, "apple banana cherry"),
      (3L, "kiwi melon")).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry")).toDF("qid", "qtext")
    val got = Relevance.jaccardRetrieve(docs, "text", "doc_id",
        queries, "qid", "qtext", k = 5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("jaccard"), r.getAs[Int]("rk"))).toMap
    // doc 2: |{apple,cherry} ∩ {apple,banana,cherry}| = 2, union 3 → 2/3
    // doc 1: 1 ∩ / 3 union → 1/3; doc 3 shares nothing → absent
    assert(got(2L) == ((2.0 / 3.0, 1)) && got(1L) == ((1.0 / 3.0, 2)))
    assert(!got.contains(3L))
  }

  test("rrfFuse: both-list docs outrank single-list; absent ranks contribute 0") {
    import spark.implicits._
    val r1 = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3)).toDF("query_id", "id", "rk")
    val r2 = Seq((1L, 20L, 1), (1L, 40L, 2)).toDF("query_id", "id", "rk")
    val fused = Relevance.rrfFuse(Seq(r1, r2), k = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("rrf"), r.getAs[Int]("rk"))).toMap
    // doc 20 appears in both (ranks 2 and 1) → 1/62 + 1/61, the winner
    assert(fused(20L) == ((1.0 / 62 + 1.0 / 61, 1)))
    // doc 10 only in r1 at rank 1 → 1/61, second
    assert(fused(10L) == ((1.0 / 61, 2)))
    // ties on 1/62 (30 in r1 rank... none) — 40 at 1/62 beats 30 at 1/63
    assert(fused(40L)._2 == 3 && fused(30L)._2 == 4)
  }

  test("weightedSample: probability scales with weight; null/zero weights drop; deterministic") {
    import spark.implicits._
    val df = (1L to 2000L).map(i =>
      (i, if (i <= 1000) 1.0 else 0.1, if (i % 500 == 0) null else "x"))
      .toDF("id", "w", "junk")
    val ddf = m.register(df)
    val kept = Views.weightedSample(ddf, "id", "w", scale = 0.5)
      .df.collect().map(_.getLong(0))
    val (hi, lo) = kept.partition(_ <= 1000L)
    // p=0.5 for w=1.0 vs p=0.05 for w=0.1 — counts must reflect the ratio
    assert(hi.length > 400 && hi.length < 600, s"hi=${hi.length}")
    assert(lo.length > 10 && lo.length < 120, s"lo=${lo.length}")
    // pure function of the data: second run identical
    val again = Views.weightedSample(ddf, "id", "w", scale = 0.5)
      .df.collect().map(_.getLong(0))
    assert(kept.toSet == again.toSet)
    // null and NaN weights -> probability 0 (NaN would otherwise survive
    // least() and keep the row with probability 1)
    val withNull = m.register(Seq((1L, Option.empty[Double]), (2L, Some(1.0)),
      (3L, Some(Double.NaN))).toDF("id", "w"))
    assert(Views.weightedSample(withNull, "id", "w", scale = 1.0)
      .df.collect().forall(_.getLong(0) == 2L))
    // non-numeric weight column fails loudly, not silently-empty
    val bad = m.register(Seq((1L, "oops")).toDF("id", "w"))
    intercept[IllegalArgumentException] {
      Views.weightedSample(bad, "id", "w", scale = 1.0)
    }
    // scale >= 1/max(w) keeps everything with w >= 1
    assert(Views.weightedSample(ddf, "id", "w", scale = 10.0).numRows == 2000L)
  }

  test("c4Rules: NULL text classifies as all-false flags, not NULL") {
    import spark.implicits._
    val df = Seq((1L, Some("A perfectly reasonable sentence appears right here.")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val out = TextAnalysis.c4Rules(df, "text", "doc_id")
    val byId = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"))
    val nullRow = byId(2L)
    Seq("enough_words", "mean_word_len_ok", "no_long_word", "terminal_punct",
      "no_blacklist", "keep").foreach { c =>
      assert(!nullRow.isNullAt(nullRow.fieldIndex(c)) && !nullRow.getAs[Boolean](c),
        s"$c must be false (not NULL) on null text")
    }
    // keep/!keep must partition the corpus
    assert(out.filter(col("keep")).count() + out.filter(!col("keep")).count() == 2)
  }

  test("gopherRules: each rule fires on its own violation; NULL text all-false") {
    import spark.implicits._
    val good = "the quick brown fox and the lazy dog that have fun with all of it"
    val df = Seq(
      (1L, Some(good)),                                       // passes all
      (2L, Some("short text here")),                          // word_count
      (3L, Some(good + " ### ... ... ###")),                  // symbols (+alpha)
      (4L, Some(good + "\n- alpha beta gamma" +
        "\n- delta epsilon zeta\n* eta theta iota")),         // bullets
      (5L, Some(good + "\ntrails off...\nalso this one...")), // ellipses
      (6L, Some("a1 b2 c3 11 22 33 44 55 66 77 88 99 00 x1 the of")), // alpha
      (7L, Some("zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo")),  // stopwords
      (8L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "text", "doc_id",
      minWords = 10, maxWords = 100, minMeanLen = 1.0, maxMeanLen = 10.0,
      maxSymbolRatio = 0.1, maxBulletRatio = 0.5, maxEllipsisRatio = 0.3,
      minAlphaRatio = 0.8, minStopwords = 2)
    val byId = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    val flags = Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
      "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_ratio_ok", "stopword_ok")
    assert(byId(1L).getAs[Boolean]("keep"), "clean doc keeps")
    def failsOnly(id: Long, bad: Set[String]) = flags.foreach { f =>
      assert(byId(id).getAs[Boolean](f) == !bad(f), s"doc $id flag $f")
    }
    failsOnly(2L, Set("word_count_ok", "stopword_ok"))
    failsOnly(3L, Set("symbol_ratio_ok", "alpha_ratio_ok"))
    failsOnly(4L, Set("bullet_ratio_ok"))
    failsOnly(5L, Set("ellipsis_ratio_ok"))
    failsOnly(6L, Set("alpha_ratio_ok"))
    failsOnly(7L, Set("stopword_ok"))
    (flags :+ "keep").foreach { c =>
      val r = byId(8L)
      assert(!r.isNullAt(r.fieldIndex(c)) && !r.getAs[Boolean](c),
        s"$c must be false (not NULL) on null text")
    }
    assert(out.filter(col("keep")).count() + out.filter(!col("keep")).count() == 8)
    intercept[IllegalArgumentException](
      TextAnalysis.gopherRules(df, "text", "doc_id", stopwords = Seq("it's")))
  }

  test("distinctNgrams: exact totals/distincts per width; short groups absent") {
    import spark.implicits._
    val df = Seq(
      ("A", "a a a b"), ("B", "a b c d"), ("C", "x"))
      .toDF("source", "text")
    val out = TextAnalysis.distinctNgrams(df, "text", "source", Seq(1, 2))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("n")) ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"),
          r.getAs[Double]("distinct_ratio")))).toMap
    assert(out(("A", 1)) == ((4L, 2L, 0.5)))
    assert(out(("B", 1)) == ((4L, 4L, 1.0)))
    assert(out(("C", 1)) == ((1L, 1L, 1.0)))
    assert(out(("A", 2)) == ((3L, 2L, 2.0 / 3.0))) // "a a","a a","a b"
    assert(out(("B", 2)) == ((3L, 3L, 1.0)))
    // a group with no document long enough is ABSENT for that n, not 0/0
    assert(!out.contains(("C", 2)) && out.size == 5)
    intercept[IllegalArgumentException](
      TextAnalysis.distinctNgrams(df, "text", "source", Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.distinctNgrams(df, "text", "source", Seq(1, 1)))
    intercept[IllegalArgumentException](
      TextAnalysis.distinctNgrams(df, "text", "source", Seq(0)))
  }

  test("temperatureResample: integer-exact quotas, deterministic selection") {
    import spark.implicits._
    val df = (1 to 90).map(i => (i.toLong, if (i <= 60) "en" else "fr")).toDF("doc_id", "lang")
    // power=2: quotas = floor(30·c²/Σc²): en 60²=3600, fr 30²=900, Σ=4500
    // → en floor(30·3600/4500)=24, fr floor(30·900/4500)=6
    val out = Views.temperatureResample(m.register(df), "lang", "doc_id",
      power = 2, targetTotal = 30).df
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("en" -> 24L, "fr" -> 6L))
    // re-run selects the SAME rows (hash-rank, not RNG)
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Views.temperatureResample(m.register(df), "lang", "doc_id",
      power = 2, targetTotal = 30).df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // power=1 keeps natural proportions: en 20, fr 10
    val p1 = Views.temperatureResample(m.register(df), "lang", "doc_id",
      power = 1, targetTotal = 30).df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p1 == Map("en" -> 20L, "fr" -> 10L))
  }

  test("temperatureResample: NULL group keeps its quota instead of vanishing") {
    import spark.implicits._
    val df = (1 to 60).map { i =>
      (i.toLong, if (i <= 30) Some("en") else None)
    }.toDF("doc_id", "lang")
    // power=1: en and null each hold 30 rows → 10 rows each of target 20
    val out = Views.temperatureResample(m.register(df), "lang", "doc_id",
      power = 1, targetTotal = 20).df
    val byLang = out.groupBy("lang").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byLang == Map(Some("en") -> 10L, None -> 10L), s"got $byLang")
  }

  test("temperatureResample: empty input resamples to itself, no divide-by-zero") {
    import spark.implicits._
    val df = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    val out = Views.temperatureResample(m.register(df), "lang", "doc_id",
      power = 2, targetTotal = 30).df
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
  }

  test("matchDistribution: exact quotas, renormalized over shared buckets") {
    import spark.implicits._
    // input: en 60, fr 30, de 10; target: en 20, fr 20, zh 5.
    // zh is absent from the input and de absent from the target → the
    // match renormalizes over {en, fr}: T = 40,
    // M = min(⌊60·40/20⌋, ⌊30·40/20⌋) = 60, quotas en = fr = ⌊60·20/40⌋ = 30.
    val df = (1 to 100).map { i =>
      (i.toLong, if (i <= 60) "en" else if (i <= 90) "fr" else "de")
    }.toDF("doc_id", "lang")
    val target = ((1 to 20).map(_ => "en") ++ (1 to 20).map(_ => "fr") ++
      (1 to 5).map(_ => "zh")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "lang")
    val out = Views.matchDistribution(m.register(df), "lang", "doc_id", target).df
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("en" -> 30L, "fr" -> 30L), s"got $byLang")
    // hash-rank selection: layout-invariant and re-run-stable
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Views.matchDistribution(m.register(df.repartition(7)), "lang",
      "doc_id", target).df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // quota join is a broadcast, not a shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("matchDistribution: empty input matches-to-itself; no cached residue left behind") {
    import spark.implicits._
    // r13 ADVICE: an empty upstream stage must come back as an empty
    // frame (the temperatureResample contract), not the misleading
    // disjoint-buckets IllegalArgumentException
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    val target = Seq((1L, "en")).toDF("doc_id", "lang")
    val out = Views.matchDistribution(m.register(empty), "lang", "doc_id", target).df
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
    // r13 ADVICE: the internal stats persist must be RELEASED before the
    // operator returns — repeated calls in a long-lived session must not
    // accumulate cached frames waiting on ContextCleaner
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 50).map(i => (i.toLong, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    val matched = Views.matchDistribution(m.register(df), "lang", "doc_id",
      Seq((1L, "en"), (2L, "fr")).toDF("doc_id", "lang")).df
    matched.count() // execute the returned plan — must not need the cache
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"matchDistribution left persisted RDDs behind: ${after -- before}")
  }

  test("matchDistribution: NULL bucket participates; disjoint buckets fail loudly") {
    import spark.implicits._
    val df = (1 to 40).map { i =>
      (i.toLong, if (i <= 20) Some("en") else None)
    }.toDF("doc_id", "lang")
    val target = Seq((1L, Some("en")), (2L, Option.empty[String]))
      .toDF("doc_id", "lang")
    // T = 2, M = min(⌊20·2/1⌋, ⌊20·2/1⌋) = 40 → each bucket keeps 20
    val out = Views.matchDistribution(m.register(df), "lang", "doc_id", target).df
    val byLang = out.groupBy("lang").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byLang == Map(Some("en") -> 20L, None -> 20L), s"got $byLang")
    val alien = Seq((1L, "zh")).toDF("doc_id", "lang")
    val ex = intercept[IllegalArgumentException] {
      Views.matchDistribution(m.register(df), "lang", "doc_id", alien)
    }
    assert(ex.getMessage.contains("share no"), ex.getMessage)
  }

  test("leakageSafeSplit: pre-existing split/cluster_id columns fail loudly") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val withSplit = Seq((1L, "train")).toDF("id", "split")
    val e1 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.leakageSafeSplit(withSplit, pairs, "id",
        Seq(("train", 9), ("test", 1)))
    }
    assert(e1.getMessage.contains("split"))
    val withCluster = Seq((1L, 7L)).toDF("id", "cluster_id")
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.leakageSafeSplit(withCluster, pairs, "id",
        Seq(("train", 9), ("test", 1)))
    }
    assert(e2.getMessage.contains("cluster_id"))
  }

  test("leakageSafeSplit: string id column fails loudly, not silently all-train") {
    import spark.implicits._
    val universe = Seq("a", "b").toDF("id")
    val pairs = Seq(("a", "b")).toDF("id1", "id2")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Dedup.leakageSafeSplit(universe, pairs, "id",
        Seq(("train", 9), ("test", 1)))
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("c4Rules: terminal punctuation anchors at absolute end (trailing newline)") {
    import spark.implicits._
    val df = Seq(
      (1L, "ends with a period."),
      (2L, "ends with period then newline.\n"),
      (3L, "ends with newline then nothing\n")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Rules(df, "text", "doc_id", minWords = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("terminal_punct")).toMap
    assert(out(1L))
    // rtrim strips spaces but NOT \n; \z must not match before the newline
    // (Java's $ would — the RE2 oracle disagrees)
    assert(!out(2L))
    assert(!out(3L))
  }

  test("c4Rules: each rule flips on its violating row") {
    import spark.implicits._
    val df = Seq(
      (1L, "A perfectly normal sentence with enough reasonable words inside it."),
      (2L, "too short."),                                     // enough_words fails
      (3L, "aa bb cc dd ee ff gg hh ii jj kk ll"),            // mean len 2 < 3
      (4L, "this row has one verylongtokenthatkeepsgoingandgoingwaypasttwentyfive chars ok."),
      (5L, "embedded javascript should trip the blacklist filter right here today."),
      (6L, "no terminal punctuation on this otherwise acceptable sentence here today")
    ).toDF("doc_id", "text")
    val rules = TextAnalysis.c4Rules(df, "text", "doc_id", minWords = 5)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rules(1L).getAs[Boolean]("keep"))
    assert(!rules(2L).getAs[Boolean]("enough_words") && !rules(2L).getAs[Boolean]("keep"))
    assert(!rules(3L).getAs[Boolean]("mean_word_len_ok"))
    assert(!rules(4L).getAs[Boolean]("no_long_word"))
    assert(!rules(5L).getAs[Boolean]("no_blacklist"))
    assert(!rules(6L).getAs[Boolean]("terminal_punct") && !rules(6L).getAs[Boolean]("keep"))
    // non-prose config: punctuation reported but not required
    val lax = TextAnalysis.c4Rules(df, "text", "doc_id", minWords = 5,
      requireTerminalPunct = false).collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(lax(6L).getAs[Boolean]("keep"))
  }

  test("leakageSafeSplit: cluster members share a split; weights partition buckets") {
    import spark.implicits._
    val universe = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = graft.pipeline.Dedup.leakageSafeSplit(universe, pairs, "id",
        Seq(("train", 8), ("val", 1), ("test", 1)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L, 6L, 9L))
    assert(out(1L) == out(2L) && out(2L) == out(3L), "cluster {1,2,3} must not straddle")
    assert(out(5L) == out(6L), "cluster {5,6} must not straddle")
    assert(Set("train", "val", "test").contains(out(9L)))
    // deterministic: a re-run assigns identical splits
    val again = graft.pipeline.Dedup.leakageSafeSplit(universe, pairs, "id",
        Seq(("train", 8), ("val", 1), ("test", 1)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split")).toMap
    assert(again == out)
  }

  test("incrementalMinhash: in-batch verify + index probe, no corpus rescan") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val oldDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "columnar storage formats parquet orc arrow feather and friends explained")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus doc 1 (one word changed) → dropped by index probe
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      // in-batch near-dup pair → 12 dropped by the verified in-batch stage
      (11L, "spark query engines and distributed join strategies for analytics at scale"),
      (12L, "spark query engines and distributed join strategies for analytics at speed"),
      // clean
      (13L, "a completely unrelated treatise on sourdough fermentation timing and hydration")
    ).toDF("doc_id", "text")
    val index = Dedup.bandRows(
      Dedup.minhashSignaturesFromShingles(Dedup.shingled(oldDocs, "text", "doc_id")))
    val (kept, keptRows) = Dedup.incrementalMinhash(batch, index, "text", "doc_id",
      threshold = 0.5)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 13L), s"got $ids")
    // returned band rows cover exactly the survivors (appendable index delta)
    val rowIds = keptRows.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(rowIds == Set(11L, 13L))
    assert(keptRows.count() == 2 * 8, "bands rows per surviving doc")
    // r18: the survivors-only entry point returns the identical kept set
    // without materializing the band-row delta (one fewer checkpoint job)
    val keptOnly = Dedup.incrementalMinhashKept(batch, index, "text", "doc_id",
      threshold = 0.5)
    assert(keptOnly.select("doc_id").collect().map(_.getLong(0)).toSet == ids)
  }

  test("review-fix guards: c4Rules empty blacklist, packChunks id type, sampleFrames everyK, dupClusters strict") {
    import spark.implicits._
    // empty blacklist disables the rule instead of crashing at plan build
    val df = Seq((1L, "a perfectly ordinary sentence with several words here.")).toDF("doc_id", "text")
    val ok = TextAnalysis.c4Rules(df, "text", "doc_id", minWords = 3, blacklist = Seq.empty)
      .first()
    assert(ok.getAs[Boolean]("no_blacklist") && ok.getAs[Boolean]("keep"))
    // packChunks rejects a non-integral id before the shuffle runs
    val sChunks = Seq(("doc-1", 0L, 5L)).toDF("id", "chunk_id", "n_tokens")
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.packChunks(sChunks, budgetTokens = 10)
    }
    assert(e1.getMessage.contains("integral"))
    // sampleFrames rejects everyK = 0 (would silently drop every frame)
    val pay = graft.pipeline.Multimodal.withBinaryPayload(df, "text", "text")
    val e2 = intercept[IllegalArgumentException] {
      graft.pipeline.Multimodal.sampleFrames(pay, "doc_id", "payload", chunkBytes = 8, everyK = 0)
    }
    assert(e2.getMessage.contains("everyK"))
    // dupClusters strict: maxIter = 0 cannot converge → loud failure
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val e3 = intercept[IllegalStateException] {
      graft.pipeline.Dedup.dupClusters(pairs, maxIter = 0)
    }
    assert(e3.getMessage.contains("not converged"))
  }

  test("recallAt is a macro average over queries and rejects empty truth") {
    import spark.implicits._
    // q1 truth {1,2} with one hit; q2 truth {7} fully hit:
    // macro = (0.5 + 1.0)/2 = 0.75 (micro would be 2/3)
    val truth = Seq((1L, 1L, 1), (1L, 2L, 2), (2L, 7L, 1)).toDF("query_id", "id", "rk")
    val ann = Seq((1L, 1L, 1), (1L, 99L, 2), (2L, 7L, 1)).toDF("query_id", "id", "rk")
    val r = graft.pipeline.IvfIndex.recallAt(ann, truth, k = 2)
    assert(math.abs(r - 0.75) < 1e-12, s"got $r")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.IvfIndex.recallAt(ann, truth.filter(col("rk") > 99), k = 2)
    }
    assert(e.getMessage.contains("empty truth"))
  }

  test("quantizeInt8: codes bounded, round-trip cosine near 1, zero vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("q"))
    val codes = q.select(col("vec_id"), col("q.codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) == Seq(64, -127, 32, 0), s"got ${codes(1L)}")
    assert(codes(2L).forall(_ == 0))
    val cos = df.filter(col("vec_id") === 1L)
      .select(Similarity.cosine(
        expr("transform(embedding, x -> cast(x as double))"),
        Similarity.dequantize(Similarity.quantizeInt8(col("embedding")))))
      .first().getDouble(0)
    assert(cos > 0.9999, s"round-trip cosine $cos")
  }

  test("matryoshkaTruncate: prefix dims, unit renorm, ranking preserved, zero-safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(3.0f, 4.0f, 100.0f, -100.0f)),
      (2L, Seq(1.0f, 0.0f, 50.0f, 50.0f)),
      (3L, Seq(0.0f, 0.0f, 9.0f, 9.0f))
    ).toDF("vec_id", "embedding")
    val raw = Similarity.matryoshkaTruncate(df, "embedding", 2, renormalize = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(raw(1L) == Seq(3.0f, 4.0f) && raw(3L) == Seq(0.0f, 0.0f))
    val rn = Similarity.matryoshkaTruncate(df, "embedding", 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(rn(1L).map(x => x * x).sum - 1.0) < 1e-12, "unit norm after renorm")
    assert((rn(1L) zip Seq(0.6, 0.8)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(rn(3L) == Seq(0.0, 0.0), "zero prefix stays a zero vector")
    // scale-invariance: cosine ranking identical with and without renorm
    def ranks(t: org.apache.spark.sql.DataFrame) = {
      val q = t.filter(col("vec_id") === 1L).withColumnRenamed("vec_id", "qid")
      Similarity.bruteForceTopK(t, q, "embedding", "vec_id", "qid", 3)
        .orderBy("rk").collect().map(_.getAs[Long]("id")).toSeq
    }
    assert(ranks(Similarity.matryoshkaTruncate(df, "embedding", 2, renormalize = false))
      == ranks(Similarity.matryoshkaTruncate(df, "embedding", 2)))
  }

  test("deterministicShuffle: reproducible, total, salt re-deals, shards partition") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    def run(salt: String) =
      Views.deterministicShuffle(m.register(df), "doc_id", salt, numShards = 4).df
        .select("doc_id", "shard", "seq").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val a = run("ep1").sortBy(_._1)
    val b = run("ep1").sortBy(_._1)
    assert(a.sameElements(b), "same salt must reproduce the identical order")
    // (shard, seq) is a total order: seq is 1..n_shard within every shard
    a.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length),
        s"shard $sh seq must be dense 1..${rows.length}")
    }
    assert(a.map(_._2).distinct.length == 4, "all 4 shards populated at n=200")
    val c = run("ep2").sortBy(_._1)
    assert(!a.sameElements(c), "a new salt must re-deal the order")
    assert(c.groupBy(_._2).values.map(_.length).sum == 200, "re-deal loses nothing")
  }

  test("boilerplateScore: common shingles flag docs; short docs covered with ratio 0") {
    import spark.implicits._
    // 6 docs share the banner 'all rights reserved'; doc 7 is unique text,
    // doc 8 is too short to shingle (1 token)
    val banner = (1L to 6L).map(i => (i, s"all rights reserved unique$i tail$i"))
    val df = (banner ++ Seq((7L, "seven distinct words appear only here today"),
        (8L, "tiny"))).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateScore(df, "text", "doc_id",
        dfThreshold = 4L, maxRatio = 0.4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_common"),
          r.getAs[Double]("boiler_ratio"), r.getAs[Boolean]("keep")))).toMap
    assert(out.size == 8, "every doc keeps a row")
    // banner docs: 5 tokens → 3 shingles; 'all rights reserved' df=6 > 4
    // → 1 of 3 common, ratio 1/3 ≤ 0.4 → kept
    val (n1, c1, r1, k1) = out(1L)
    assert(n1 == 3 && c1 == 1 && math.abs(r1 - 1.0 / 3) < 1e-12 && k1, s"got ${out(1L)}")
    // unique doc: nothing common
    assert(out(7L)._2 == 0L && out(7L)._4)
    // short doc: zero shingles → ratio 0, kept (whole-text shingle df=1)
    assert(out(8L)._3 == 0.0 || out(8L)._2 == 0L)
    // raise df pressure: threshold 1 makes banner shingles common for all 6
    val strict = TextAnalysis.boilerplateScore(df, "text", "doc_id",
        dfThreshold = 1L, maxRatio = 0.2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("keep")).toMap
    assert(!strict(1L), "banner doc must be dropped at strict threshold")
    assert(strict(7L), "unique doc survives any threshold")
  }

  test("dropDuplicateParagraphs: first occurrence survives corpus-wide (r17)") {
    import spark.implicits._
    val intro = "Welcome to our site."
    val docs = Seq(
      (1L, s"$intro\n\nunique one\n\nshared tail"),
      (2L, s"$intro\n\nunique two\n\nshared tail"),
      (3L, s"  $intro  \n\nunique three"), // trimmed form matches
      (4L, intro), // nothing original -> empty rewrite, row survives
      (5L, "wholly original doc"))
      .toDF("doc_id", "text")
    val out = pipeline.TextAnalysis.dropDuplicateParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("n_paras"),
          r.getAs[Long]("n_dropped")))).toMap
    // doc 1 holds the first occurrence of intro AND shared tail
    assert(out(1L) == ((s"$intro\n\nunique one\n\nshared tail", 3L, 0L)),
      s"got ${out(1L)}")
    assert(out(2L) == (("unique two", 3L, 2L)))
    assert(out(3L) == (("unique three", 2L, 1L)))
    assert(out(4L) == (("", 1L, 1L)))
    assert(out(5L) == (("wholly original doc", 1L, 0L)))
    // election never shuffles paragraph TEXT: the winner aggregate and
    // its join carry only (id, pos, 8-byte hash)
    val planLines = pipeline.TextAnalysis
      .dropDuplicateParagraphs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString.linesIterator.toIndexedSeq
    val kExchanges = planLines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(__k"))
    assert(kExchanges.nonEmpty,
      s"expected hash-keyed slim exchanges in:\n${planLines.mkString("\n")}")
    // the exchange's direct child (next plan line) is the shipped row —
    // it must be the slim projection, never one carrying paragraph text
    kExchanges.foreach { case (_, i) =>
      assert(!planLines(i + 1).contains("para#"),
        s"winner-election exchange ships text:\n${planLines(i + 1)}")
    }
  }

  test("dropCommonLines: corpus-frequent lines removed in place, order kept, empties preserved") {
    import spark.implicits._
    val footer = "(c) example corp"
    val docs = (1L to 5L).map(i =>
      (i, s"NAV HOME\nbody text $i\n\n  $footer  \nunique tail $i")) ++
      Seq((6L, "only original\nlines here"), (7L, footer))
    val df = docs.toDF("doc_id", "text")
    val out = TextAnalysis.dropCommonLines(df, "text", "doc_id", dfThreshold = 3L)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_dropped")))).toMap
    // NAV (df=5) and the footer (df=6, matched by TRIMMED form despite
    // padding) drop; the empty line survives verbatim; order intact
    assert(out(1L) == (("body text 1\n\nunique tail 1", 5L, 2L)), s"got ${out(1L)}")
    assert(out(6L) == (("only original\nlines here", 2L, 0L)))
    // a doc that was ONLY boilerplate rewrites to empty, not NULL
    assert(out(7L) == (("", 1L, 1L)))
    // threshold is strict >: at 5 the NAV line (df exactly 5) survives
    val loose = TextAnalysis.dropCommonLines(df, "text", "doc_id", dfThreshold = 5L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_dropped")).toMap
    assert(loose(1L) == 1L, "only the df=6 footer drops at threshold 5")
    // a repeated line WITHIN one doc counts that doc once for DF
    val rep = TextAnalysis.dropCommonLines(
      Seq((1L, "x\nx\nx"), (2L, "y")).toDF("doc_id", "text"),
      "text", "doc_id", dfThreshold = 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_dropped")).toMap
    assert(rep(1L) == 0L, "within-doc repeats are not corpus frequency")
    // r17 (advice): a NULL text keeps its row — empty rewrite, 1 line
    val withNull = TextAnalysis.dropCommonLines(
      Seq((1L, Some("x")), (2L, Option.empty[String])).toDF("doc_id", "text"),
      "text", "doc_id", dfThreshold = 1L)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_dropped")))).toMap
    assert(withNull(2L) == (("", 1L, 0L)), s"NULL text must survive: $withNull")
  }

  test("dropCommonLines plan: 8-byte frequency keys, broadcast common set (r17)") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"NAV\nbody $i")).toDF("doc_id", "text")
    val out = TextAnalysis.dropCommonLines(df, "text", "doc_id", dfThreshold = 3L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the over-threshold line set reaches the payload as a BROADCAST
    // join — the payload never shuffles by line key (the hottest keys
    // are exactly the banner lines, a text-keyed join would skew)
    assert(plan.contains("BroadcastHashJoin"),
      s"common-line set must broadcast-join the payload:\n$plan")
    // every hash exchange carries only id/hash/count — no string column
    // may appear in an exchange schema (the r16-advice skew + width fix)
    val exchanges = "Exchange hashpartitioning\\([^)]*\\)[^\\n]*".r
      .findAllIn(plan).toList
    val stringKeyed = exchanges.filter(_.contains("__t"))
    assert(stringKeyed.isEmpty,
      s"frequency exchanges must not carry the trimmed line text:\n$exchanges")
  }

  test("ngramNovelty: first occurrence wins, exact shares, null text excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("a b c d")),   // shingles {a b c, b c d} — both first here
      (2L, Some("a b c d")),   // exact recycle -> novelty 0
      (3L, Some("a b c x")),   // {a b c (seen), b c x (new)} -> 0.5
      (4L, Some("y z")),       // < 3 tokens -> single whole-text shingle, new
      (5L, Option.empty[String]) // null text -> no output row
    ).toDF("doc_id", "text")
    for (hashed <- Seq(true, false)) {
      val out = TextAnalysis.ngramNovelty(docs, "text", "doc_id", hashed)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(out.toSeq == Seq(
        (1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0),
        (3L, 2L, 1L, 0.5), (4L, 1L, 1L, 1.0)),
        s"hashShingles=$hashed: got ${out.toSeq}")
    }
  }

  test("nbQualityScore: seed-class tokens score positive, crawl tokens negative, empty doc NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good good", "p"), (2L, "good good", "p"),
      (3L, "bad bad bad", "n"), (4L, "bad bad", "n"),
      (5L, "good", "n"),   // held-out style: pos-word doc labeled negative
      (6L, "", "n")        // no tokens -> no evidence
    ).toDF("doc_id", "text", "src")
    // "good" and "bad" land in distinct buckets at dim=64 (61 vs 5)
    val out = TextAnalysis.nbQualityScore(docs, "text", "doc_id",
        isPos = col("src") === "p", dim = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out(1L)._1 == 3 && out(6L)._1 == 0)
    assert(out(1L)._2.get > 0 && out(5L)._2.get > 0, "'good' carries positive log-odds")
    assert(out(3L)._2.get < 0 && out(4L)._2.get < 0, "'bad' carries negative log-odds")
    assert(out(6L)._2.isEmpty, "no tokens -> NULL score, not a prediction")
    // length normalization: all-'good' docs share the same per-token odds
    assert(math.abs(out(1L)._2.get - out(2L)._2.get) < 1e-12)
    // both classes required
    intercept[IllegalArgumentException] {
      TextAnalysis.nbQualityScore(docs, "text", "doc_id", isPos = lit(true), dim = 64)
    }
  }

  test("paretoQualitySample: kept set is the pure hash-uniform rule; NULL scores dropped") {
    import spark.implicits._
    val scored = (1L to 400L).map(i => (i, Some((i % 21).toDouble / 2.0 - 5.0)))
      .toDF("id", "logodds")
      .unionByName(Seq((1000L, Option.empty[Double])).toDF("id", "logodds"))
    val alpha = 9.0
    val out = TextAnalysis.paretoQualitySample(scored, "id", "logodds", alpha)
      .collect().map(_.getAs[Long]("id")).toSet
    // independent reimplementation of the operator's deterministic rule
    def fold(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val expect = (1L to 400L).filter { i =>
      val u = (fold(i.toString) % 1000003L + 1.0) / 1000004.0
      val pareto = math.pow(u, -1.0 / alpha) - 1.0
      val q = 1.0 / (1.0 + math.exp(-((i % 21).toDouble / 2.0 - 5.0)))
      pareto > 1.0 - q
    }.toSet
    assert(out == expect, s"diff: ${(out diff expect) ++ (expect diff out)}")
    assert(!out.contains(1000L), "NULL score is not admitted")
    // the rule keeps most high scorers and SOME low scorers (no hard cliff)
    val hi = (1L to 400L).filter(i => i % 21 >= 18).toSet
    val lo = (1L to 400L).filter(i => i % 21 <= 2).toSet
    assert((out & hi).size > hi.size / 2, "most high scorers kept")
    assert((out & lo).nonEmpty && (out & lo).size < lo.size, "low scorers: long tail, not all")
  }

  test("datacard: per-source counts, within-source dup volume, lang argmax with ties to smallest") {
    import spark.implicits._
    val en = "the cat and the dog are in the house and they sleep"
    val de = "der hund und die katze sind in dem haus und sie schlafen"
    val docs = Seq(
      (1L, en, "a"), (2L, en, "a"),       // exact dup inside source a
      (3L, de, "a"),
      (4L, en, "b"),                      // same text as source a — NOT a dup across sources
      (5L, de, "b")
    ).toDF("doc_id", "text", "source")
    // qualityMin 0 → every doc passes; 1.1 → none (bounds, no hand-computed floats)
    val lo = TextAnalysis.datacard(docs, "text", "doc_id", "source", qualityMin = 0.0)
      .orderBy("source").collect()
    val a = lo(0); val b = lo(1)
    assert(a.getAs[String]("source") == "a" && a.getAs[Long]("n_docs") == 3)
    assert(a.getAs[Long]("n_dup_docs") == 1, "one copy beyond the first fingerprint")
    assert(a.getAs[Long]("n_tokens") == 12 * 3, "whitespace token counts sum")
    assert(a.getAs[Long]("n_quality_hi") == 3, "qualityMin=0 passes all")
    // en wins 2-1 in source a; source b ties 1-1 → smallest lang tag (de)
    assert(a.getAs[String]("top_lang") == "en" && a.getAs[Long]("n_langs") == 2)
    assert(b.getAs[Long]("n_docs") == 2 && b.getAs[Long]("n_dup_docs") == 0,
      "cross-source copies are not within-source dups")
    assert(b.getAs[String]("top_lang") == "de" && b.getAs[Long]("n_langs") == 2,
      "count tie breaks to the smallest language tag")
    val hi = TextAnalysis.datacard(docs, "text", "doc_id", "source", qualityMin = 1.1)
      .orderBy("source").collect()
    assert(hi.forall(_.getAs[Long]("n_quality_hi") == 0L), "qualityMin=1.1 passes none")
    // NULL source is a reported group, not a silent undercount (the join
    // is null-safe)
    val withNull = docs.unionByName(
      Seq((9L, en, null.asInstanceOf[String])).toDF("doc_id", "text", "source"))
    val card2 = TextAnalysis.datacard(withNull, "text", "doc_id", "source", qualityMin = 0.0)
    assert(card2.count() == 3, "NULL-source group present")
    val nullRow = card2.filter(col("source").isNull).collect()
    assert(nullRow.length == 1 && nullRow.head.getAs[Long]("n_docs") == 1)
  }
}
