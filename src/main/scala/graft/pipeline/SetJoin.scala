package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join (AllPairs/PPJoin-style prefix
  * filtering) — every unordered pair of documents whose token-set
  * Jaccard is ≥ the threshold, with NO false negatives (contrast
  * `Dedup.minhashDedup`, whose banded LSH trades recall for speed; this
  * operator is the ground-truth join the sketch is tuned against).
  *
  * Prefix-filter principle: order every set by one GLOBAL token order
  * (rarest-first, ties lexicographic). If J(a, b) ≥ t then
  * |a∩b| ≥ ⌈t·|a|⌉, and any ⌈t·|a|⌉ elements of `a` must hit the first
  * |a| − ⌈t·|a|⌉ + 1 of them — so the PREFIXES of a and b share a
  * token, and an inverted index on prefix tokens alone finds every
  * qualifying pair. Rare-first ordering makes those prefixes the
  * LOW-frequency tokens, keeping index postings short.
  *
  * Scale shape: explode to (id, token) once; the global order comes
  * from one token-frequency aggregate (O(vocab)); candidates are a
  * self-join ON PREFIX TOKENS ONLY (shuffle O(Σ prefix lengths), never
  * the full postings), with the cheap length filter
  * t·|a| ≤ |b| ≤ |a|/t applied inside the join; exact verification
  * joins the token-set arrays back by id — O(candidates), each checked
  * with a codegen'd array_intersect.
  */
object SetJoin {

  /** Slack on the candidate-filter bounds: ⌈t·n⌉ / ⌊n/t⌋ evaluated in
    * IEEE doubles can land one past the exact integer (e.g. 0.55 × 100
    * = 55.000000000000007 → ceil 56, wrongly excluding a valid pair).
    * The filters are conservative PRE-checks — verification is exact —
    * so each bound is slackened by ε before rounding: a too-long prefix
    * or a too-wide length window only admits extra candidates, never
    * drops a qualifying pair. ε = 1e-6 absolute covers the double
    * rounding error of t·n for n up to ~10⁹ with 10³ margin.
    */
  private val eps = 1e-6
  private def ceilSlack(x: Column): Column = ceil(x - lit(eps))
  private def floorSlack(x: Column): Column = floor(x + lit(eps))

  /** (id, s, n): distinct token set + size per doc, empty sets dropped. */
  private def tokenSets(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        array_distinct(expr(TextAnalysis.tokensExpr(textCol))).as("s"))
      .withColumn("n", size(col("s")))
      .filter(col("n") > 0)

  /** Candidate pairs from an already-built (id, s, n) sets frame — the
    * corpus is tokenized ONCE by the caller and shared across the
    * frequency, prefix, and verification branches of the DAG.
    */
  private def candidatesFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val tk = sets.select(col("id"), col("n"), explode(col("s")).as("token"))
    val freq = tk.groupBy("token").agg(count(lit(1)).as("tf"))
    val prefix = tk.join(freq, "token")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("tf"), col("token"))))
      .filter(col("rn") <= col("n") - ceilSlack(lit(threshold) * col("n")) + 1)
      .select("id", "n", "token")
    prefix.as("a").join(prefix.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id") &&
          col("b.n") >= ceilSlack(lit(threshold) * col("a.n")) &&
          col("b.n") <= floorSlack(col("a.n") / lit(threshold)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The candidate-pair frame [[exactJaccardJoin]] verifies — exposed so
    * instrumentation can report the prefix filter's pruning power
    * (candidates vs n²/2) the same way `Similarity.lshCandidates` does.
    */
  def candidates(df: DataFrame, textCol: String, idCol: String,
                 threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    candidatesFromSets(tokenSets(df, textCol, idCol), threshold)
  }

  /** All pairs (id_a < id_b, jaccard ≥ threshold) over the DISTINCT
    * whitespace-token sets of `textCol`. Output: (id_a, id_b, jaccard).
    */
  def exactJaccardJoin(df: DataFrame, textCol: String, idCol: String,
                       threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    // tokenize once; the sets frame feeds the candidate branches AND both
    // verification sides, so the regex-split scan runs a single time
    val sets = tokenSets(df, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try { // release the corpus cache even when a mid-chain job throws (r14 review)
    val sa = sets.select(col("id").as("id_a"), col("s").as("sa"), col("n").as("na"))
    val sb = sets.select(col("id").as("id_b"), col("s").as("sb"), col("n").as("nb"))
    val out = candidatesFromSets(sets, threshold)
      .join(sa, "id_a").join(sb, "id_b")
      // r17 opt: native intersection count — no intersection array built
      .withColumn("inter",
        graft.functions.VectorFunctions.intersectSize(col("sa"), col("sb"))
          .cast("double"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      // materialize the (result-sized) pair frame so the corpus-sized
      // sets cache can be dropped before returning — no cache outlives
      // the call beyond the result itself
      .localCheckpoint(eager = true)
    out
    } finally sets.unpersist(blocking = false)
  }

  /** EXACT edit-distance self-join: every unordered pair of rows whose
    * `strCol` values are within Levenshtein distance `maxDist`, with NO
    * false negatives. The entity-resolution sibling of
    * [[exactJaccardJoin]] — string identity instead of token sets.
    * Candidates come from [[editCandidates]] (FastSS for k ≤ 2, PassJoin
    * for k ≥ 3) and are checked by [[verified]]. Output:
    * (id_a, id_b, dist), id_a < id_b, dist ≤ k.
    *
    * `q` is ignored: it tuned the positional q-gram filter that PassJoin
    * replaced, and stays so existing callers keep compiling.
    */
  def editDistanceJoin(df: DataFrame, strCol: String, idCol: String,
                       maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val strs = prepStrings(df, strCol, idCol)
    // finally: the corpus-sized cache is released whether the eager
    // checkpoint lands or a job throws (the Dedup.scala persist discipline)
    try verified(editCandidates(strs, strs, maxDist, self = true), strs, strs, maxDist)
      .localCheckpoint(eager = true)
    finally strs.unpersist(blocking = false)
  }

  /** EXACT edit-distance LOOKUP join (two tables): every (left, right)
    * pair within Levenshtein distance `maxDist` — the batch-vs-canonical
    * entity-resolution shape (match today's ingest against the reference
    * table) that [[editDistanceJoin]]'s self-join form only reaches via
    * a wasteful union. Same candidate generators and the same NO-false-
    * negative guarantee. Output: (id_l, id_r, dist), dist ≤ maxDist.
    * The result is a checkpoint, already materialized; release it via
    * [[graft.core.Checkpoints.release]].
    */
  def editDistanceLookup(left: DataFrame, leftStr: String, leftId: String,
                         right: DataFrame, rightStr: String, rightId: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val ls = prepStrings(left, leftStr, leftId)
    val rs = prepStrings(right, rightStr, rightId)
    try verified(editCandidates(ls, rs, maxDist, self = false), ls, rs, maxDist)
      .select(col("id_a").as("id_l"), col("id_b").as("id_r"), col("dist"))
      .localCheckpoint(eager = true)
    finally { ls.unpersist(blocking = false); rs.unpersist(blocking = false) }
  }

  /** (id, str, len) of a string column, nulls dropped; persisted, for the
    * caller to release.
    */
  private def prepStrings(df: DataFrame, strCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).cast("string").as("str"))
      .filter(col("str").isNotNull)
      .withColumn("len", length(col("str")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact verify of (id_a, id_b) candidates between prepped sides `a`
    * and `b`: (id_a, id_b, dist), dist ≤ k. The levenshtein is
    * THRESHOLDED — banded O(len·k) DP with early exit instead of the full
    * O(len²) matrix; returns −1 past the threshold, so `between 0 and k`
    * keeps exactly the `<= k` rows with their exact distances.
    */
  private def verified(cands: DataFrame, a: DataFrame, b: DataFrame, k: Int): DataFrame =
    cands.join(a.select(col("id").as("id_a"), col("str").as("stra")), "id_a")
      .join(b.select(col("id").as("id_b"), col("str").as("strb")), "id_b")
      .withColumn("dist", levenshtein(col("stra"), col("strb"), k))
      .filter(col("dist").between(0, k))
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))

  /** Distinct (id_a, id_b) candidates: a superset of the pairs of
    * prepped `a` × `b` strings within edit distance k — complete at every
    * step. With `self` (`a` and `b` are one frame) each unordered pair
    * comes once, id_a < id_b. The generator is chosen by k:
    *
    * k ≤ 2 → DELETION NEIGHBORHOODS (FastSS): each string explodes to
    * every variant reachable by ≤ k character deletions (k=1: len+1
    * variants; k=2: O(len²)); candidates are pairs sharing a variant.
    * Complete: an alignment with ≤ k edits leaves a common subsequence
    * reachable from BOTH strings by ≤ k deletions. Variants are near-full
    * strings, so a constant region shared by the corpus does not make
    * them collide. That is why FastSS owns k ≤ 2: on j03's sf0.01 names
    * ("Customer#000…") PassJoin at k=1 produced 1,124,250 candidates —
    * every pair, against 19,500 true pairs — because the constant first
    * segment matches every other name of a compatible length.
    *
    * k ≥ 3 → PARTITION FILTER (PassJoin pigeonhole — Li, Deng, Wang,
    * Feng, VLDB 2011; kernels in [[graft.functions.EditDistanceExpressions]]):
    * split the shorter string of a pair into k+1 contiguous segments —
    * ≤ k edits cannot touch all of them, so one segment appears EXACTLY
    * in the longer string within ±k of its home position. Candidates are
    * one equi-join on (shorter length l, segment index i, content g) of
    * one side's segments against the other side's probe substrings
    * (O(k³) short slices per string, generated in-row); two tables join
    * both ways, since either side may hold the shorter string. Deletion
    * neighborhoods would be O(len³) variants a string here. A string
    * shorter than k+1 code points owns zero-length segments (which would
    * match everywhere), and a pair whose shorter string has ≤ k code
    * points has both lengths ≤ 2k (ed ≥ |len diff|): such pairs come from
    * a bounded all-pairs pool.
    */
  private def editCandidates(a: DataFrame, b: DataFrame, k: Int,
                             self: Boolean): DataFrame = {
    def pairs(cond: Column): Column = if (self) cond && col("id_a") < col("id_b") else cond
    if (k <= 2) {
      def variants(df: DataFrame, s: String) = df.select(col("id").as(s"id_$s"),
        col("len").as(s"l$s"), explode(expr(variantsExpr(k))).as(s"v$s"))
      return variants(a, "a").join(variants(b, "b"),
          pairs(col("va") === col("vb") && abs(col("la") - col("lb")) <= k))
        .select("id_a", "id_b").distinct()
    }
    val m = k + 1
    // segments of `s`'s strings hit by probe substrings of `p`'s strings
    def hits(s: DataFrame, sid: String, p: DataFrame, pid: String) = {
      val segs = s.filter(col("len") >= m)
        .select(col("id").as(sid),
          explode(graft.functions.VectorFunctions.edSegments(col("str"), k)).as("sg"),
          col("len").as("l"))
        .select(col(sid), col("l"), col("sg.i").as("i"), col("sg.g").as("g"))
      p.filter(col("len") >= m)
        .select(col("id").as(pid),
          explode(graft.functions.VectorFunctions.edSegmentProbes(col("str"), k)).as("pb"))
        .select(col(pid), col("pb.l").as("l"), col("pb.i").as("i"), col("pb.g").as("g"))
        .join(segs, Seq("l", "i", "g"))
    }
    val main =
      if (self) hits(a, "id_s", a, "id_t")
        .filter(col("id_s") =!= col("id_t"))
        .select(
          when(col("id_s") < col("id_t"), col("id_s")).otherwise(col("id_t")).as("id_a"),
          when(col("id_s") < col("id_t"), col("id_t")).otherwise(col("id_s")).as("id_b"))
      else hits(a, "id_a", b, "id_b").select("id_a", "id_b")
        .unionAll(hits(b, "id_b", a, "id_a").select("id_a", "id_b"))
    def short(df: DataFrame, s: String) =
      df.filter(col("len") <= 2 * k).select(col("id").as(s"id_$s"), col("len").as(s"l$s"))
    val pool = short(a, "a").join(short(b, "b"), pairs(
        least(col("la"), col("lb")) <= k && abs(col("la") - col("lb")) <= k))
      .select("id_a", "id_b")
    main.unionAll(pool).distinct()
  }

  /** `concat(prefix before i, suffix after i)` — delete char `i` (1-based). */
  private def delAt(s: String, i: String): String =
    s"concat(substring($s, 1, $i - 1), substring($s, $i + 1, 1000000000))"

  /** All single-deletion variants of `s` (empty array for the empty
    * string — Spark's `sequence(1, 0)` DESCENDS, so the guard is load-
    * bearing).
    */
  private def d1(s: String, v: String): String =
    s"""(CASE WHEN length($s) = 0 THEN cast(array() AS array<string>)
       | ELSE transform(sequence(1, length($s)), $v -> ${delAt(s, v)}) END)""".stripMargin

  /** FastSS variant set of the prepped `str` column: the string plus
    * every variant reachable by ≤ k character deletions.
    */
  private def variantsExpr(k: Int): String = k match {
    case 1 => s"array_distinct(concat(array(str), ${d1("str", "i")}))"
    case 2 => s"""array_distinct(concat(array(str), ${d1("str", "i")},
                 |  flatten(transform(${d1("str", "i")},
                 |    s1 -> ${d1("s1", "j")}))))""".stripMargin
    case other => throw new IllegalArgumentException(
      s"deletion variants support k <= 2, got $other")
  }

  /** Sorted-neighborhood record linkage (Hernández–Stolfo SNM): rank
    * all records by the blocking key (total order — ties broken by id),
    * compare each record only against its `window − 1` rank successors,
    * verify with codegen'd Levenshtein ≤ `maxDist`. Output
    * (id_a, id_b, dist) with id_a < id_b.
    *
    * This is a BLOCKING HEURISTIC, not a complete join: recall is bound
    * by sort locality (a true match whose keys sort > window ranks apart
    * is missed — use [[editDistanceJoin]] when completeness matters; the
    * j09 gate's oracle replays the window semantics exactly, and on the
    * zero-padded name corpus SNM's output is a strict subset of j03's
    * complete join). Why it earns its place at 100 TB anyway: candidate volume
    * is EXACTLY n·(window−1) regardless of key distribution — the
    * skew-proof budget no similarity filter can promise — and multi-pass
    * SNM over different key orderings is the standard ER recall repair.
    *
    * Scale shape: one distributed range-sort + zipWithIndex for the
    * global rank (the rankVocabulary pattern — no single-task window),
    * then each row lands in TWO (window−1)-sized rank buckets and
    * candidates are one equi-join on the bucket id — |r1 − r2| ≤
    * window − 1 ⇒ the buckets ⌊r/W⌋ differ by ≤ 1, so emitting
    * (⌊r/W⌋, ⌊r/W⌋+1) on the build side covers every in-window pair
    * with an equality key. No inequality join, no window function over
    * data. Null blocking keys drop before ranking (a record with no key
    * cannot be windowed against anything — route null-key records to a
    * repair pass).
    */
  def sortedNeighborhoodJoin(df: DataFrame, keyCol: String, idCol: String,
                             window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val spark = df.sparkSession
    val w = window - 1
    // rank via the untyped Row RDD so the record id keeps WHATEVER
    // orderable type it arrived with (string/UUID ids are the common
    // record-linkage case; an id-type requirement here would be
    // arbitrary). zipWithIndex over the range-sorted frame preserves the
    // sort — same distributed-rank device as rankVocabulary.
    val sorted = df.select(col(keyCol).cast("string").as("k"), col(idCol).as("id"))
      .na.drop(Seq("k"))
      .sort(asc("k"), asc("id"))
    val idType = sorted.schema("id").dataType
    val ranked = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, rnk) =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), rnk)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("rnk",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val probe = ranked.select(col("k").as("ka"), col("id").as("id_x"),
      col("rnk").as("ra"), expr(s"rnk div $w").as("b"))
    // the build side is the HIGHER-ranked partner (rb > ra), so it must
    // reach DOWN: rb − ra ≤ W ⇒ ⌊ra/W⌋ ∈ {⌊rb/W⌋, ⌊rb/W⌋ − 1}
    val build = ranked.select(col("k").as("kb"), col("id").as("id_y"),
        col("rnk").as("rb"),
        explode(array(expr(s"rnk div $w"), expr(s"rnk div $w - 1"))).as("b"))
    probe.join(build, "b")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= w)
      // r17 opt: thresholded levenshtein (see verified); the
      // max(1, ·) keeps the threshold form defined at maxDist = 0 — the
      // between-filter still admits only dist ≤ maxDist
      .withColumn("dist", levenshtein(col("ka"), col("kb"), math.max(1, maxDist)))
      .filter(col("dist").between(0, maxDist))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("dist").cast("long").as("dist"))
      .distinct()
  }
}
