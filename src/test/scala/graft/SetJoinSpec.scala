package graft

import graft.pipeline.SetJoin
import org.apache.spark.sql.functions._

class SetJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def fixture = {
    // 40 docs over a 30-word vocabulary with planted near-dup pairs
    val rng = new scala.util.Random(17)
    val vocab = (0 until 30).map(i => s"w$i")
    val base = (0 until 40).map { i =>
      val words = Seq.fill(8 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }
    base.toDF("id", "text")
  }

  private def brute(df: org.apache.spark.sql.DataFrame, t: Double) = {
    val sets = df.collect().map { r =>
      r.getLong(0) -> r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter) if j >= t
    } yield (ia, ib)).toSet
  }

  test("exactJaccardJoin finds EXACTLY the brute-force pair set (no false negatives)") {
    val df = fixture
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val mine = SetJoin.exactJaccardJoin(df, "text", "id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = brute(df, t)
      assert(mine == truth, s"t=$t: mine ${mine.size} vs truth ${truth.size}; " +
        s"missing=${truth -- mine}, extra=${mine -- truth}")
    }
  }

  test("prefix filter prunes: candidates well under n^2/2 on a diverse corpus") {
    // diverse corpus: disjoint vocab slices -> few prefix collisions
    val docs = (0 until 60).map { i =>
      val words = (0 until 10).map(j => s"w${(i / 3) * 20 + j}")
      (i.toLong, words.mkString(" "))
    }.toDF("id", "text")
    val nCands = SetJoin.candidates(docs, "text", "id", 0.8).count()
    val allPairs = 60L * 59 / 2
    assert(nCands < allPairs / 4,
      s"prefix filter should prune hard on diverse data: $nCands vs $allPairs")
    // and the verified result still matches brute force
    val mine = SetJoin.exactJaccardJoin(docs, "text", "id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mine == brute(docs, 0.8))
  }

  test("jaccard values are exact and pairs are unordered-unique") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z q")
    ).toDF("id", "text")
    val out = SetJoin.exactJaccardJoin(df, "text", "id", 0.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(2) == 0.6)
  }

  test("editDistanceLookup == brute force on both paths (FastSS and PassJoin)") {
    // low alphabet + short words: dense near-pairs; strings of length
    // 0..4 on both sides feed PassJoin's short-string pool from either
    // side, and equal lengths hit both segment/probe directions
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rng = new scala.util.Random(23)
    val alpha = "abcd"
    def word(n: Int = 6 + rng.nextInt(4)) = (0 until n)
      .map(_ => alpha(rng.nextInt(alpha.length))).mkString
    val rightWords = (0 until 60).map(i => (i.toLong, word()))
    val leftWords = (100 until 125).map(i => (i.toLong, word()))
    val rightRows = rightWords ++ (60 until 70).map(i => (i.toLong, word(i % 5)))
    val leftRows = leftWords ++ (125 until 135).map(i => (i.toLong, word(i % 5)))
    val right = rightRows.toDF("id", "s")
    val left = leftRows.toDF("id", "s")
    for (k <- Seq(1, 2, 3, 4)) { // k ≤ 2 → FastSS; k ≥ 3 → PassJoin + pool
      val mine = SetJoin.editDistanceLookup(left, "s", "id", right, "s", "id",
          maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val truth = (for {
        (il, sl) <- leftRows; (ir, sr) <- rightRows
        d = lev(sl, sr) if d <= k
      } yield (il, ir, d.toLong)).toSet
      assert(mine == truth, s"k=$k: mine ${mine.size} vs truth ${truth.size}; " +
        s"missing=${truth -- mine}, extra=${mine -- truth}")
    }
  }

  test("editDistanceJoin == brute force incl. repeats, shared prefixes, short strings") {
    import spark.implicits._
    // the corpus bakes in every known pruning trap:
    //  - "aaaaaa"/"aaaaab": repeated substrings (a DISTINCT-gram count
    //    filter would false-negative this pair)
    //  - "Customer#…": long shared prefix (constant leading segments)
    //  - "a"/"ab"/"b": very short strings
    val docs = Seq(
      (1L, "aaaaaa"), (2L, "aaaaab"), (3L, "aaaaba"),
      (4L, "Customer#000000001"), (5L, "Customer#000000002"),
      (6L, "Customer#000001002"), (7L, "Customer#999999999"),
      (8L, "a"), (9L, "ab"), (10L, "b"), (11L, "xyz"),
      (12L, "gradient descent"), (13L, "gradient descend"),
      (14L, "stochastic gradient")
    ).toDF("id", "str")
    def brute(k: Int): Set[(Long, Long, Long)] = {
      val a = docs.select($"id".as("ia"), $"str".as("sa"))
      val b = docs.select($"id".as("ib"), $"str".as("sb"))
      a.crossJoin(b).filter($"ia" < $"ib")
        .withColumn("d", levenshtein($"sa", $"sb"))
        .filter($"d" <= k)
        .select($"ia", $"ib", $"d".cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    for (k <- Seq(1, 2)) {
      val mine = SetJoin.editDistanceJoin(docs, "str", "id", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(mine == brute(k), s"k=$k: $mine vs ${brute(k)}")
    }
  }

  test("editDistanceJoin k=1: deletion-variant join plans as an equi-join, no cartesian") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, f"Customer#$i%09d")).toDF("id", "str")
    val out = SetJoin.editDistanceJoin(docs, "str", "id", maxDist = 1)
    // the operator eagerly checkpoints, so pin the plan on a lazy
    // reconstruction of the candidate shape: variant explode + self-join
    val variants = docs
      .select($"id", expr("explode(transform(sequence(1, length(str)), " +
        "i -> concat(substring(str, 1, i - 1), substring(str, i + 1, 100))))").as("v"))
    val plan = variants.as("a").join(variants.as("b"),
        $"a.v" === $"b.v" && $"a.id" < $"b.id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // and the result itself is right (40 consecutive ids: distance-1
    // neighbors are single-digit changes)
    assert(out.count() > 0)
  }

  test("editDistanceJoin guards") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "str")
    intercept[IllegalArgumentException](
      graft.pipeline.SetJoin.editDistanceJoin(df, "str", "id", maxDist = 0))
    intercept[IllegalArgumentException](
      graft.pipeline.SetJoin.editDistanceJoin(df, "str", "id", 1, q = 0))
  }

  test("exact-threshold boundary: IEEE ceil(t*n) overshoot must not drop valid pairs") {
    // t=0.55, |a|=100, b a 55-token subset: J = 55/100 = 0.55 exactly.
    // ceil(0.55*100) evaluates to 56 in doubles; without the epsilon
    // slack BOTH candidate directions excluded this pair (review fix).
    val aTokens = (0 until 100).map(i => s"tk$i")
    val df = Seq(
      (1L, aTokens.mkString(" ")),
      (2L, aTokens.take(55).mkString(" "))
    ).toDF("id", "text")
    val out = SetJoin.exactJaccardJoin(df, "text", "id", 0.55).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 0.55,
      s"boundary pair must survive, got ${out.toSeq}")
  }

  test("sortedNeighborhoodJoin: exact window semantics, bucket-boundary pairs included") {
    import spark.implicits._
    // sort order by key: aaa(1) aab(2) aac(3) abc(4) zzz(5) zzy(6)?? no —
    // keys sorted: aaa aab aac abc zzy zzz → ranks 0..5
    val df = Seq((1L, "aaa"), (2L, "aab"), (3L, "aac"), (4L, "abc"),
      (5L, "zzz"), (6L, "zzy")).toDF("id", "name")
    // window=2 (adjacent ranks only), maxDist=1: (aaa,aab) d1, (aab,aac)
    // d1, (aac,abc) d1 (one substitution), (abc,zzy) far, (zzy,zzz) d1
    val w2 = SetJoin.sortedNeighborhoodJoin(df, "name", "id", window = 2, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(w2 == Set((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (5L, 6L, 1L)),
      s"got $w2")
    // window=3 adds the rank-distance-2 pair (aaa,aac) d1; W=2 puts
    // ranks (0,2) in DIFFERENT buckets — the downward bucket emission
    // must still find it
    val w3 = SetJoin.sortedNeighborhoodJoin(df, "name", "id", window = 3, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(w3 == w2 + ((1L, 3L, 1L)), s"got $w3")
    // out-of-window true match is missed — the documented recall bound
    // (ax/bx are Levenshtein-1 but sort 5 ranks apart)
    val spread = Seq((1L, "ax"), (2L, "ba"), (3L, "bb"), (4L, "bc"),
      (5L, "bd"), (6L, "bx")).toDF("id", "name")
    val got = SetJoin.sortedNeighborhoodJoin(spread, "name", "id", window = 2, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((1L, 6L)),
      "ax/bx sort 5 ranks apart — window 2 must miss them (blocking contract)")
    intercept[IllegalArgumentException](
      SetJoin.sortedNeighborhoodJoin(df, "name", "id", window = 1, maxDist = 1))
  }

  test("sortedNeighborhoodJoin keeps non-numeric record ids (r12 ADVICE fix)") {
    import spark.implicits._
    // UUID-style string ids — the common record-linkage shape; the r11
    // typed-rank path required Long ids and threw AnalysisException here
    val df = Seq(("u-01", "aaa"), ("u-02", "aab"), ("u-03", "aac"),
      ("u-10", "zzz")).toDF("rec", "name")
    val out = SetJoin.sortedNeighborhoodJoin(df, "name", "rec", window = 2, maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("u-01", "u-02", 1L), ("u-02", "u-03", 1L)), s"got $out")
    // and the id column's TYPE survives into the output schema
    val schema = SetJoin.sortedNeighborhoodJoin(df, "name", "rec", 2, 1).schema
    assert(schema("id_a").dataType == org.apache.spark.sql.types.StringType)
  }
}
