package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for large-scale training-data pipelines —
  * extensions beyond the reference (SURVEY §7.2 step 9), designed for the
  * 100 TB path:
  *
  *  - everything is expression-level (`functions._` + higher-order array
  *    functions) so it stays inside codegen / Tungsten rows;
  *  - candidate generation always goes through banding/bucketing so the
  *    only shuffles are key-partitioned joins on short band signatures —
  *    never an all-pairs cartesian;
  *  - representative selection is a single hash-partitioned groupBy.
  */
object Dedup {

  /** Normalize text for fingerprinting: lowercase, collapse whitespace. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact dedup: one representative (min id) per identical normalized
    * text. Single hash-partitioned aggregate; at 100 TB the md5 group key
    * (16 bytes) shuffles instead of the document bodies.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(normText(col(textCol))).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup: per normalized-text fingerprint, the
    * row with the min id, `idCol` first and then the other columns in
    * input order. ONE aggregate keeps the whole row (`min_by` over a
    * struct of every column), so the input is scanned and its derived
    * columns are computed once, with no join back to the corpus. A group
    * whose ids are all NULL keeps nothing.
    *
    * EAGER: the result is `localCheckpoint`ed. Every caller reads the
    * survivors at least twice (the near-dup pass, then an anti-join or a
    * join back), and a lazy result re-ran scan → enrichment → gate →
    * aggregate per read. Release it with
    * [[graft.core.Checkpoints.release]] once every reader is done.
    *
    * Precondition: `idCol` is unique per row (the corpus contract) — the
    * aggregate keeps ONE row per fingerprint, matching the old min-id
    * join-back exactly when ids are unique.
    */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = idCol +: df.columns.filterNot(_ == idCol).toSeq
    df.groupBy(md5(normText(col(textCol))))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .filter(col("__row").isNotNull)
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
      .localCheckpoint(eager = true)
  }

  /** Incremental exact dedup: the production ingest shape — dedup a new
    * batch against an existing fingerprint index WITHOUT rescanning the
    * corpus. Returns the new batch's survivors: first occurrence (min id)
    * of each fingerprint not already present in `knownFingerprints`
    * (a single `fingerprint` string column, e.g. persisted from
    * [[exact]]'s output).
    *
    * Scale shape: the batch is fingerprinted per-row, in-batch dups
    * collapse via one partial-aggregated groupBy on the 16-byte md5 key,
    * and the index probe is a left-anti equi-join on that key — the
    * index side streams from its (bucketable) store; nothing rescans
    * document bodies. Union the survivors' fingerprints back into the
    * index for the next batch.
    */
  def incrementalExact(newDocs: DataFrame, knownFingerprints: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val batch = newDocs
      .select(col(idCol), md5(normText(col(textCol))).as("fingerprint"))
      .groupBy("fingerprint").agg(min(col(idCol)).as("keep_id"))
    // null-safe key: NULL text is ONE content value (groupBy already
    // collapses it in-batch; `exact` gives it one representative) — a
    // plain anti-join would re-deliver every all-null batch forever
    // because NULL never equi-matches the indexed NULL
    batch.join(knownFingerprints.select(col("fingerprint").as("__kfp")),
        col("fingerprint") <=> col("__kfp"), "left_anti")
  }

  /** `might_contain(bloom, value)` — the probe twin of Spark's
    * `bloom_filter_agg`. Registered only as an internal expression (the
    * optimizer's runtime-filter machinery), so it is constructed directly
    * — same technique as the native vector expressions. The bloom side
    * must be a LITERAL (the expression contract: constant or scalar
    * subquery); the value side must be the SAME hash the aggregate was
    * fed.
    */
  private def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes),
        org.apache.spark.sql.graftbridge.Bridge.expression(value)))

  /** [[incrementalExact]] with a Bloom prefilter on the index — same
    * result (bit-identical: Bloom filters have no false negatives, and
    * false positives are resolved by the exact anti-join), different
    * 100 TB shape. The index's fingerprints are folded into ONE
    * driver-side sketch (`bloom_filter_agg` over `xxhash64(fingerprint)`;
    * ~1.2 GB per 10⁹ index entries at fpp=0.01 — a sketch, not data);
    * batch rows whose probe says "definitely new" skip the index join
    * entirely. Only the `maybe` rows — true dups + an fpp-sized sliver —
    * reach the anti-join, which typically shrinks it from
    * |batch| ⋈ |index| to a broadcast-able probe side. The sketch is
    * embedded as a plan literal (broadcast-by-constant).
    *
    * `expectedItems` sizes the sketch; pass the index's row count from
    * its store's metadata when known — 0 (default) counts the index
    * (one cheap column scan). Production loops amortize the build by
    * persisting the sketch bytes alongside the index and unioning new
    * fingerprints in.
    *
    * The session confs `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems/.maxNumBits` cap the aggregate (defaults 4M items /
    * 8 MB); past them the sketch would silently saturate (fpp → 1, every
    * row flows to the anti-join — correct but pure overhead), so this
    * REQUIRES the caps cover `n` — raise both confs for billion-entry
    * indexes (the 10⁹ @ fpp 0.01 sizing needs ~1.2 GB of bits).
    */
  def incrementalExactBloom(newDocs: DataFrame, knownFingerprints: DataFrame,
                            textCol: String, idCol: String,
                            expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val batch = newDocs
      .select(col(idCol), md5(normText(col(textCol))).as("fingerprint"))
      .groupBy("fingerprint").agg(min(col(idCol)).as("keep_id"))
    val n = if (expectedItems > 0) expectedItems else knownFingerprints.count()
    if (n == 0) return batch // empty index: everything is new
    val conf = knownFingerprints.sparkSession.conf
    val maxItems = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    // optimal bits m = n·ln(1/fpp)/ln²2
    val bits =
      math.max(64L, math.ceil(n * math.log(1.0 / fpp) / (math.log(2) * math.log(2))).toLong)
    require(n <= maxItems && bits <= maxBits,
      s"incrementalExactBloom: index size $n needs $bits bloom bits, but the " +
        s"session caps are maxNumItems=$maxItems / maxNumBits=$maxBits — the " +
        s"sketch would saturate into a no-op prefilter. Raise spark.sql.optimizer" +
        s".runtime.bloomFilter.{maxNumItems,maxNumBits} or use incrementalExact")
    // bloom_filter_agg lives in the INTERNAL registry only (Spark 4.1's
    // runtime-filter machinery) — constructed directly, like the probe
    val bloomAgg = org.apache.spark.sql.graftbridge.Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.graftbridge.Bridge.expression(xxhash64(col("h"))),
        org.apache.spark.sql.catalyst.expressions.Literal(n),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
        .toAggregateExpression())
    val bf = knownFingerprints
      .select(col("fingerprint").as("h"))
      .agg(bloomAgg.as("bf"))
      .first().getAs[Array[Byte]](0)
    // NULL fingerprints are NOT skipped by the hash: xxhash64(NULL)
    // evaluates to the seed (42) on BOTH the aggregate side above and
    // the probe side below, so an indexed NULL inserts 42 into the
    // sketch and a NULL batch row probes 42 — the sketch itself routes
    // NULL-vs-NULL to the maybe-branch, whose NULL-SAFE anti-join then
    // decides, exactly as incrementalExact would. bf == null happens
    // only for a zero-row index aggregate, which the n == 0 early
    // return above already handles; the guard is kept for defense.
    val probe =
      if (bf == null) lit(true)
      else mightContain(bf, xxhash64(col("fingerprint")))
    // the batch aggregate feeds BOTH probe branches — materialize it
    // once (batch-sized, the per-ingest unit) instead of re-running the
    // newDocs scan + fingerprint groupBy per branch (r14 review; the
    // minhashCandidatesFromSignatures both-sides rule)
    val batchM = batch.localCheckpoint(eager = true)
    batchM.filter(!probe).unionAll(
      batchM.filter(probe)
        .join(knownFingerprints.select(col("fingerprint").as("__kfp")),
          col("fingerprint") <=> col("__kfp"), "left_anti"))
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Word n-gram shingles as a per-row array (no explode — the shingle
    * set stays per-row until banding). NATIVE codegen'd expression
    * (graft.functions.WordShingles): shingling touches every byte of
    * every document, and the HOF formulation below runs interpreted —
    * one tight loop beats a 3-level lambda fold the same way VectorDot
    * beats aggregate(zip_with(...)). Byte-identical output to the HOF
    * twin (TextExprSpec equivalence), so the DuckDB oracle replicas are
    * unaffected.
    */
  def shingleExpr(textCol: String, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftbridge.Bridge.expression(expr(textCol)), n))

  /** The higher-order-function formulation of [[shingleExpr]] — kept as
    * the equivalence reference for the native expression (and as the
    * documentation of the shape the oracles replicate in SQL).
    *
    * PERFORMANCE CONTRACT (why the lambda bodies look like this):
    * HOF lambdas are interpreted, and any captured OUTER expression is
    * re-evaluated per element — a lambda body containing
    * `slice(toks, i, n)` re-runs the whole regexp+split once per shingle
    * (measured: ~34 ms/doc, 30+ s for 500 docs). So the lambda bodies
    * below touch ONLY lambda variables: the token array is shifted at
    * projection level and folded with zip_with (concat null-propagates
    * past the end, nulls filtered after).
    */
  private[graft] def shingleExprHof(textCol: String, n: Int): Column = {
    val t = s"split(trim(regexp_replace(lower($textCol), '\\\\s+', ' ')), ' ')"
    if (n <= 1) return expr(s"array_distinct($t)")
    val folded = (2 to n).foldLeft(t) { (acc, i) =>
      s"zip_with($acc, slice($t, $i, size($t)), (x, y) -> concat(x, ' ', y))"
    }
    expr(
      s"""CASE WHEN size($t) < $n THEN array(array_join($t, ' '))
         |ELSE array_distinct(filter($folded, s -> s IS NOT NULL))
         |END""".stripMargin)
  }

  /** Spread a small frame across the cluster before CPU-heavy per-row
    * work (a single small parquet file arrives as ONE task otherwise —
    * measured single-core bottleneck). Decided from plan STATISTICS only:
    * `.rdd.getNumPartitions` would force physical planning and — with AQE
    * on — materialize query stages just to read a partition count.
    */
  private[pipeline] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // below ~16 MB/slot the scan under-parallelizes the per-row CPU work;
    // larger inputs already fan out via spark.sql.files.maxPartitionBytes
    if (bytes < BigInt(target) * 16L * 1024 * 1024) df.repartition(target) else df
  }

  /** Per-document shingle sets as one (id, sh) frame — the shared input of
    * the signature stage AND the Jaccard verify stage (shingling is the
    * most expensive expression in the pipeline; compute it once).
    */
  def shingled(df: DataFrame, textCol: String, idCol: String, shingleN: Int = 3): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shingleExpr(textCol, shingleN).as("sh"))

  /** k MinHash values per document as columns h0..h{k-1}, from a
    * precomputed (id, sh) frame: ONE native codegen'd pass per row over
    * the shingle array (graft.functions.MinHashAffine) — no exploded
    * (doc, shingle) rows, no aggregation hash map, no shuffle; the
    * round-6 replacement for the explode→hash-once→partial-agg shape kept
    * below as [[minhashSignaturesAgg]] (identical minima, TextExprSpec-
    * pinned, so the d07/d10 DuckDB oracle replicas are unaffected). A
    * nested HOF array expression (k array_min(transform(...))) is no
    * alternative: it re-evaluates the interpreted shingle tree per
    * reference, 10+ minutes for 500 docs.
    */
  def minhashSignaturesFromShingles(sh: DataFrame, k: Int = 32): DataFrame =
    signaturesNative(sh, k, portable = false)

  /** Cross-engine-deterministic signatures: [[portableFold]] base hash
    * per shingle, same affine permutation family. Same native one-pass
    * shape as [[minhashSignaturesFromShingles]]; the xxhash64 default
    * remains preferred at scale only for its better bit mixing.
    */
  def minhashSignaturesPortable(sh: DataFrame, k: Int = 32): DataFrame =
    signaturesNative(sh, k, portable = true)

  private def signaturesNative(sh: DataFrame, k: Int, portable: Boolean): DataFrame = {
    // NULL array elements are dropped up front: the native loop skips
    // them, so the caller-visible contract (and the agg equivalence
    // reference below) must see the same element set — without this, a
    // caller-supplied shingle frame containing nulls would hash
    // xxhash64(NULL)=seed into every permutation's min on the agg path
    // but not the native one
    val cleaned = sh.withColumn("sh", expr("filter(sh, x -> x IS NOT NULL)"))
    val sig = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.MinHashAffine(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("sh")), k, portable))
    // the signature is computed in ITS OWN projection and the h-columns
    // extracted from the materialized array in the next one —
    // CollapseProject keeps the boundary (non-cheap, multiply-referenced),
    // so the O(shingles·k) loop runs once per row, not k times
    cleaned.select(col("id"), sig.as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col("id") +: (0 until k).map(i => col("__mh").getItem(i).as(s"h$i")): _*)
  }

  /** The explode→base-hash→partial-aggregated-min formulation — kept as
    * the equivalence reference for [[signaturesNative]] (TextExprSpec
    * pins identical output) and as documentation of the shape the DuckDB
    * oracles replicate in SQL.
    */
  private[graft] def minhashSignaturesAgg(sh: DataFrame, k: Int,
                                          portable: Boolean): DataFrame = {
    val base =
      if (portable) portableFold(col("s"))
      else pmod(xxhash64(col("s")), lit(affineP))
    affineMinhash(
      sh.select(col("id"), explode(col("sh")).as("s"))
        .filter(col("s").isNotNull) // match signaturesNative's null-skip
        .select(col("id"), base.as("H")),
      k)
  }

  private val affineP = 1000000007L

  /** k MinHash values as columns h0..h{k-1} from a base-hashed shingle
    * frame (id, H), H ∈ [0, p): the textbook affine family
    * (2i+1)·H + c_i mod p — the base hash runs ONCE per shingle and each
    * permutation is a codegen'd multiply-add (products < 2^60, no
    * overflow), instead of k independent full-string hashes. p ≈ 2^30
    * collides distinct shingles within a doc with probability
    * ~n²/2p ≈ 10⁻⁴ at n = 500 shingles — noise far below the minhash
    * estimator's own variance.
    */
  private def affineMinhash(exploded: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(pmod(col("H") * (2L * i + 1) + lit((i * 1000003L + 12345L) % affineP),
        lit(affineP))).as(s"h$i"))
    exploded.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** (id, band, sig) band rows of a signature frame — the unit the LSH
    * self-join keys on, and the PERSISTED INDEX SHAPE for incremental
    * dedup (see [[incrementalMinhash]]): compact (bands rows per doc,
    * short sig), appendable, and probe-able with one equi-join.
    */
  def bandRows(sig: DataFrame, k: Int = 32, bands: Int = 8,
      bandSig: Seq[Column] => Column = cs => xxhash64(concat_ws(",", cs: _*))): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // each h_i column is referenced exactly once across all band hashes
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        bandSig((0 until r).map(i => col(s"h${b * r + i}"))).as("sig")))
    sig.select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.sig"))
  }

  /** Distinct (id1 < id2) pairs sharing any (band, sig) — the one LSH
    * candidate join, shared by the batch and incremental paths so a
    * future tie-break/skew fix lands in both.
    */
  private[graft] def candidatePairsFromBandRows(rows: DataFrame): DataFrame = {
    val l = rows.alias("l"); val r = rows.alias("r")
    l.join(r, col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs (id1 < id2) from a precomputed signature
    * frame, deduplicated across bands. EAGER: the result is
    * `localCheckpoint`ed — this (a) lets the temporary band table be
    * unpersisted HERE instead of leaking into the caller's session
    * (round-1/2 advice), and (b) means the caller's multiple references to
    * the candidate set (members union + two verify joins) read materialized
    * rows instead of re-running the LSH join per reference.
    *
    * Recall tuning: P(candidate | J) = 1 − (1 − J^r)^bands with
    * r = k/bands. Defaults (k=32, bands=8, r=4): J=0.9→0.9996, 0.8→0.985,
    * 0.7→0.89, 0.5→0.40 — sized for near-dup thresholds ≥0.7. For lower
    * thresholds use more/narrower bands (bands=16, r=2 → 0.99 at J=0.5)
    * at the price of more false-positive candidates to verify.
    */
  def minhashCandidatesFromSignatures(sig: DataFrame, k: Int = 32, bands: Int = 8,
      bandSig: Seq[Column] => Column = cs => xxhash64(concat_ws(",", cs: _*))): DataFrame = {
    // persist: the self-join would otherwise recompute the whole
    // shingle→hash→aggregate subtree on BOTH sides (plus AQE re-planning
    // each copy). One (id, band, sig) row per doc-band — compact.
    val withBands = bandRows(sig, k, bands, bandSig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      candidatePairsFromBandRows(withBands)
        .localCheckpoint() // eager; cleaned by the ContextCleaner on GC
    } finally withBands.unpersist(blocking = false)
  }

  /** Exact n-gram Jaccard for candidate pairs given precomputed (id, sh)
    * shingle sets: two key joins, then per-row array intersection — use
    * AFTER banding, never on all pairs.
    */
  def jaccardOnShingledPairs(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      // r17 opt: one native intersection COUNT instead of materializing
      // the intersection and union ARRAYS just to take their sizes; the
      // shingle arrays are distinct sets (computeShingles first-occurrence
      // dedup), so |a ∪ b| = |a| + |b| − |a ∩ b| exactly and the jaccard
      // double is the identical count/count division
      .withColumn("inter",
        graft.functions.VectorFunctions.intersectSize(col("sh1"), col("sh2")))
      .withColumn("uni", size(col("sh1")) + size(col("sh2")) - col("inter"))
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))

  /** Jaccard for candidate pairs from raw documents: shingles ONLY the
    * pair members (semi-join prefilter) — after banding, candidates are a
    * tiny fraction of the corpus, so this skips shingling ~everything.
    * Callers that already hold a shingled frame (minhashDedup) should use
    * jaccardOnShingledPairs instead of re-shingling.
    */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame, textCol: String,
                     idCol: String, shingleN: Int = 3): DataFrame = {
    val members = pairs.select(col("id1").as(idCol))
      .unionAll(pairs.select(col("id2").as(idCol))).distinct()
    val filtered = docs.select(col(idCol), col(textCol)).join(members, Seq(idCol), "left_semi")
    jaccardOnShingledPairs(pairs, shingled(filtered, textCol, idCol, shingleN))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle ONCE (persisted; shared
    * by the signature stage and the verify stage), candidates → exact
    * Jaccard → threshold filter. EAGER (localCheckpoint) so the shingle
    * cache can be released before returning — no persist leaks across
    * invocations. At extreme corpus scale where persisting shingle sets is
    * too much storage, compose minhashCandidatesFromSignatures + jaccardOnPairs instead
    * (re-shingles candidate members only).
    */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.8, shingleN: Int = 3,
                   k: Int = 32, bands: Int = 8,
                   portable: Boolean = false): DataFrame = {
    val sh = shingled(df, textCol, idCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = if (portable) minhashSignaturesPortable(sh, k)
                 else minhashSignaturesFromShingles(sh, k)
      val cand =
        if (portable)
          minhashCandidatesFromSignatures(sigs, k, bands, cs => concat_ws(",", cs: _*))
        else minhashCandidatesFromSignatures(sigs, k, bands)
      val members = cand.select(col("id1").as("id"))
        .unionAll(cand.select(col("id2").as("id"))).distinct()
      val out = jaccardOnShingledPairs(cand, sh.join(members, Seq("id"), "left_semi"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint()
      // the verify output is materialized — the candidate checkpoint has
      // no remaining reader; release it now instead of pinning until GC
      graft.core.Checkpoints.release(cand)
      out
    } finally sh.unpersist(blocking = false)
  }

  /** Banding-recall EVALUATION: measure, on an eval-sized corpus slice,
    * how much of the exact near-dup truth the LSH banding surfaces — the
    * number that justifies (or rejects) a (k, bands, threshold) choice
    * before minhashDedup runs at corpus scale, the text twin of
    * `Similarity.annRecall`. Truth is COMPLETE: any pair with shingle
    * Jaccard ≥ threshold > 0 shares at least one shingle, so the
    * shared-shingle postings join is a complete candidate generator and
    * the exact-Jaccard filter over it is the full truth set. That join
    * is the all-pairs shape minhash exists to avoid — this operator is
    * for EVAL slices (pre-filter with [[graft.operators.Views.hashSample]]
    * or an id range), never the full corpus; at corpus scale a hot
    * shingle makes it quadratic. That contract is ENFORCED (r13 verdict
    * ask): the input must hold at most `maxDocs` rows (default 100 000 —
    * generous for a recall estimate, far below where a hot shingle
    * hurts) or the call fails before any pair work starts; pass
    * `force = true` to run a larger slice deliberately. The count is
    * one cheap job over the eval slice.
    *
    * Returns ONE row: n_docs, n_true (exact pairs ≥ threshold), n_cand
    * (banding candidate pairs), n_hit (their intersection = candidates
    * that verify), recall = n_hit/n_true, precision = n_hit/n_cand
    * (1.0 when the denominator is 0 — an empty truth set is vacuously
    * recalled). Integer counts and one IEEE division each, so the
    * values are engine-portable. All aggregates are single-row;
    * nothing data-scale reaches the driver.
    */
  def minhashRecallEval(df: DataFrame, textCol: String, idCol: String,
                        threshold: Double, shingleN: Int = 3,
                        k: Int = 32, bands: Int = 8,
                        portable: Boolean = false,
                        maxDocs: Long = 100000L,
                        force: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1], got $threshold")
    if (!force) {
      // the one intentionally non-scalable operator in the repo: its
      // truth join is all-pairs-per-shared-shingle, so refuse anything
      // bigger than an eval slice unless the caller says force
      val n = df.count()
      require(n <= maxDocs,
        s"minhashRecallEval is an EVAL-slice operator (quadratic truth join): " +
          s"input has $n docs > maxDocs=$maxDocs. Pre-filter with " +
          s"Views.hashSample/an id range, raise maxDocs, or pass force=true " +
          s"to run a larger slice deliberately.")
    }
    val sh = shingled(df, textCol, idCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val post = sh.select(col("id"), explode(col("sh")).as("s"))
      val truthCand = post.alias("a").join(post.alias("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
      val truth = jaccardOnShingledPairs(truthCand, sh)
        .filter(col("jaccard") >= threshold)
        .localCheckpoint() // read twice (count + hit join); truthCand dies here
      val sigs = if (portable) minhashSignaturesPortable(sh, k)
                 else minhashSignaturesFromShingles(sh, k)
      val cand =
        if (portable)
          minhashCandidatesFromSignatures(sigs, k, bands, cs => concat_ws(",", cs: _*))
        else minhashCandidatesFromSignatures(sigs, k, bands)
      val out = df.agg(count(lit(1)).as("n_docs"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(truth.join(cand, Seq("id1", "id2"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .withColumn("recall", when(col("n_true") === 0, lit(1.0))
          .otherwise(col("n_hit").cast("double") / col("n_true")))
        .withColumn("precision", when(col("n_cand") === 0, lit(1.0))
          .otherwise(col("n_hit").cast("double") / col("n_cand")))
        .localCheckpoint(eager = true) // 1 row; lets both pair frames release
      graft.core.Checkpoints.release(truth)
      graft.core.Checkpoints.release(cand)
      out
    } finally sh.unpersist(blocking = false)
  }

  /** Incremental near-dup dedup: process a NEW batch against a persisted
    * band index ([[bandRows]] shape: (id, band, sig)) WITHOUT rescanning
    * the corpus — the production ingest loop for MinHash-LSH.
    *
    * Two stages: (1) in-batch near-dups are removed with the FULL
    * verify pipeline (we hold the batch text, so exact Jaccard is
    * available — drop every id2 of a verified pair); (2) the survivors'
    * band rows probe the index with one semi-join on (band, sig) —
    * any shared band marks the doc a near-dup of an existing corpus doc
    * and drops it. Stage 2 is CANDIDATE-level by design: the index
    * stores signatures, not shingles (storing corpus shingles would be
    * corpus-sized), so cross-batch decisions carry LSH's false-positive
    * rate — P(collision | J) = 1 − (1 − J^r)^bands, the same curve the
    * caller tuned k/bands for (see [[minhashCandidatesFromSignatures]]).
    *
    * Returns (survivors of the batch, their band rows) — append the
    * band rows to the index for the next batch. Scale shape: the batch
    * is shingled once; the index side streams through one equi-join on
    * the short (band, sig) key; nothing touches corpus text.
    */
  def incrementalMinhash(newDocs: DataFrame, bandIndex: DataFrame,
                         textCol: String, idCol: String,
                         threshold: Double = 0.8, shingleN: Int = 3,
                         k: Int = 32, bands: Int = 8,
                         portable: Boolean = false): (DataFrame, DataFrame) =
    incrementalMinhashImpl(newDocs, bandIndex, textCol, idCol, threshold,
      shingleN, k, bands, portable, needRows = true)

  /** [[incrementalMinhash]] for callers that only consume the survivor
    * frame (r18 opt): the returned band rows cost a whole extra job
    * (semi-join + eager checkpoint) that a `(kept, _)` destructure paid
    * for nothing — batch-mode dedup (d10/d11) wants the survivors only;
    * the index-append rows are the STREAMING ingest's contract.
    */
  def incrementalMinhashKept(newDocs: DataFrame, bandIndex: DataFrame,
                             textCol: String, idCol: String,
                             threshold: Double = 0.8, shingleN: Int = 3,
                             k: Int = 32, bands: Int = 8,
                             portable: Boolean = false): DataFrame =
    incrementalMinhashImpl(newDocs, bandIndex, textCol, idCol, threshold,
      shingleN, k, bands, portable, needRows = false)._1

  private def incrementalMinhashImpl(newDocs: DataFrame, bandIndex: DataFrame,
                         textCol: String, idCol: String,
                         threshold: Double, shingleN: Int,
                         k: Int, bands: Int,
                         portable: Boolean, needRows: Boolean): (DataFrame, DataFrame) = {
    // the batch is shingled ONCE and banded ONCE: the same band-row frame
    // drives the in-batch candidate self-join AND the index probe
    // (composing minhashDedup + a second signature pass would shingle the
    // batch twice — measured ~2× the wall time of this shape).
    // kept = batch \ (in-batch verified losers ∪ index band collisions);
    // dropping losers before or after the probe yields the same set.
    val sh = shingled(newDocs, textCol, idCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = if (portable) minhashSignaturesPortable(sh, k)
                 else minhashSignaturesFromShingles(sh, k)
      val bandSigFn: Seq[Column] => Column =
        if (portable) cs => concat_ws(",", cs: _*)
        else cs => xxhash64(concat_ws(",", cs: _*))
      val rows = bandRows(sigs, k, bands, bandSigFn)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // EAGER like minhashCandidatesFromSignatures: cand is referenced
        // three times (both member unions + the verify join), and without
        // the checkpoint each reference re-runs the LSH self-join — 3× the
        // dominant cost on dup-heavy batches (measured 42 s → 25 s at a
        // 25k/25k split of 10× sf0.1, and superlinear → linear scaling
        // across 1×..10×, in the scaling smoke deleted after f1da5bb:
        // `git show f1da5bb:src/main/scala/graft/tools/`)
        val cand = candidatePairsFromBandRows(rows).localCheckpoint()
        val members = cand.select(col("id1").as("id"))
          .unionAll(cand.select(col("id2").as("id"))).distinct()
        val losers = jaccardOnShingledPairs(cand, sh.join(members, Seq("id"), "left_semi"))
          .filter(col("jaccard") >= threshold)
          .select(col("id2").as(idCol)).distinct()
        val dupIds = rows
          .join(bandIndex.select(col("band"), col("sig")), Seq("band", "sig"), "left_semi")
          .select(col("id").as(idCol)).distinct()
        val kept = newDocs
          .join(losers.unionAll(dupIds).distinct(), Seq(idCol), "left_anti")
          .localCheckpoint()
        // kept (cand's last reader, via losers) is materialized — release
        // the candidate checkpoint instead of leaving it pinned until GC
        graft.core.Checkpoints.release(cand)
        val keptRows = if (needRows)
          rows.join(kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
            .localCheckpoint()
        else null
        (kept, keptRows)
      } finally rows.unpersist(blocking = false)
    } finally sh.unpersist(blocking = false)
  }

  /** Cross-engine deterministic 60-bit token hash: two independent
    * mod-prime char folds (31/1e9+7 and 131/998244353, each < 2^30)
    * packed as h1 + h2·2^30. Reproducible in any SQL engine with a list
    * fold (see the d03 DuckDB oracle; same pattern as
    * TextAnalysis.rollingHash, which hash-matches DuckDB at sf0.01).
    * NATIVE codegen'd fold — portability no longer costs interpreter
    * dispatch, so this path is scale-capable too (xxhash64 remains the
    * default for its better mixing).
    */
  def portableHash60(c: Column): Column =
    portableFold(c, 31L, 1000000007L) +
      portableFold(c, 131L, 998244353L) * lit(1L << 30)

  /** Single mod-prime char fold (< 2^30) — the cross-engine primitive
    * behind [[portableHash60]] and the portable MinHash path. Native
    * expression (graft.functions.PolyHash); byte-identical to the HOF
    * twin below (TextExprSpec equivalence).
    */
  def portableFold(c: Column, mult: Long = 31L, prime: Long = 1000000007L): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.graftbridge.Bridge.expression(c), mult, prime))

  /** The HOF formulation of [[portableFold]] — the equivalence reference
    * (and the shape the DuckDB oracles replicate with list_reduce).
    */
  private[graft] def portableFoldHof(c: Column, mult: Long = 31L,
                                     prime: Long = 1000000007L): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => pmod(acc * mult + coalesce(ascii(ch), lit(0)), lit(prime)))

  /** nBits-wide SimHash fingerprints (id, fp): per bit, sum +1/−1 token
    * votes; sign per bit → fingerprint. Same explode-then-aggregate shape
    * as [[minhashSignaturesAgg]] — each token hashed once, nBits codegen'd
    * conditional sums, one partial-aggregated shuffle of nBits longs per
    * doc. (A single nested-HOF expression re-splits the text per bit —
    * 64× the work — so don't "simplify" this back.)
    *
    * `tokenHash` defaults to xxhash64 (codegen'd, the 100 TB path);
    * pass [[portableHash60]] with nBits=60 for a cross-engine-checkable
    * fingerprint.
    */
  def simhashFingerprints(df: DataFrame, textCol: String, idCol: String,
                          tokenHash: Column => Column = xxhash64(_),
                          nBits: Int = 64): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits must be in [1, 64], got $nBits")
    val tok = spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), explode(tokens(col(textCol))).as("t"))
      .select(col("id"), tokenHash(col("t")).as("h"))
    val bitSums = (0 until nBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$b"))
    val sums = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until nBits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("id"), fp.as("fp"))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into
    * maxHamming+1 contiguous bit chunks — by pigeonhole, any pair within
    * Hamming distance maxHamming shares ≥1 identical chunk (with only 4
    * fixed chunks, the old shape silently missed pairs at distance ≥4) —
    * join per chunk, verify with bit_count(xor) ≤ maxHamming.
    */
  def simhashDedup(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   tokenHash: Column => Column = xxhash64(_),
                   nBits: Int = 64): DataFrame =
    simhashCandidatesFromFingerprints(
      simhashFingerprints(df, textCol, idCol, tokenHash, nBits), maxHamming, nBits)

  /** Banded candidate join over a precomputed (id, fp) fingerprint frame.
    * Recall contract: nChunks = maxHamming+1 ⇒ every true pair is found
    * (pigeonhole), so the bit_count verify makes the output EXACT.
    * Scale note: chunk width shrinks as maxHamming grows (64/(maxHamming+1)
    * bits), so buckets get coarser and the candidate set grows — large
    * maxHamming is inherently expensive for any LSH scheme; prefer ≤ 16.
    */
  def simhashCandidatesFromFingerprints(fp: DataFrame, maxHamming: Int,
                                        nBits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming must be in [0, ${nBits - 1}], got $maxHamming")
    val nChunks = maxHamming + 1
    val base = nBits / nChunks; val rem = nBits % nChunks
    // first `rem` chunks are one bit wider; offsets are cumulative
    val widths = (0 until nChunks).map(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkCols = (0 until nChunks).map { i =>
      val mask = if (widths(i) >= 64) -1L else (1L << widths(i)) - 1
      struct(lit(i).as("chunk"),
        (shiftright(col("fp"), offsets(i)) bitwiseAND lit(mask)).as("ck"))
    }
    val chunked = fp.select(col("id"), col("fp"), explode(array(chunkCols: _*)).as("c"))
      .select(col("id"), col("fp"), col("c.chunk"), col("c.ck"))
    val l = chunked.alias("l"); val r = chunked.alias("r")
    l.join(r, col("l.chunk") === col("r.chunk") && col("l.ck") === col("r.ck") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-dup candidate pairs → duplicate
    * clusters, labeled by the minimum member id.
    *
    * Each round does (a) one-hop min-label propagation over the edges and
    * (b) pointer doubling (label ← label of the label), so convergence is
    * O(log diameter) rounds, not O(diameter) — a 100-node chain converges
    * in ~7 rounds instead of 99. Every round's frame is `localCheckpoint`ed:
    * an iterative plan that is only persisted still GROWS its logical tree
    * ~2× per round (persist caches data, not lineage), and by round 10
    * Catalyst analysis/plan-stringification is minutes of driver CPU
    * (measured on the r3 d06 graph). Checkpointing flattens each round to
    * a scan. Each round is two shuffles (join+groupBy, join) plus a count.
    *
    * Throws if labels haven't converged after `maxIter` rounds:
    * silently-partial labels would let near-dups straddle a
    * [[leakageSafeSplit]] boundary — the exact bug the split exists to
    * prevent. Pointer doubling converges in ~log2(diameter) rounds, so
    * 20 covers diameters to ~10⁶.
    *
    * Returns the final round's checkpointed labels — reads are free;
    * release with [[graft.core.Checkpoints.release]] when done. Every
    * SUPERSEDED round's checkpoint is released as soon as the next round
    * materializes; only the final round's blocks survive the call.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint() // eager + FLAT lineage for the loop below
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one propagation round: one-hop min over the edges, then pointer
      // doubling (label ← label of the label)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nlabel"))
      val hop = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      val next = hop.alias("a")
        .join(hop.select(col("id").as("lid"), col("label").as("llabel")).alias("b"),
          col("a.label") === col("b.lid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.label"), coalesce(col("llabel"), col("a.label"))).as("label"))
        .localCheckpoint()
      val changed = next.alias("n").join(labels.alias("o"), "id")
        .filter(col("n.label") =!= col("o.label")).count()
      // `changed` was the superseded round's last reader — release its
      // pinned blocks NOW, not at some future driver GC (the r11 bench
      // leak: ~2 block-sets per round accumulating across the whole run)
      graft.core.Checkpoints.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      graft.core.Checkpoints.release(labels)
      throw new IllegalStateException(
        s"dupClusters: labels not converged after $maxIter rounds — component " +
          s"diameter exceeds ~2^$maxIter; raise maxIter")
    }
    labels.withColumnRenamed("label", "cluster_id")
    // finally, not inline: a mid-loop job failure must still release the
    // edge cache (every other persist in this file follows the pattern)
    } finally edges.unpersist(blocking = false)
  }

  /** One representative (min id) per duplicate cluster; singletons (no
    * candidate pair) survive untouched.
    */
  def clusterSurvivors(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val clusters = dupClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster_id")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Soft dedup: keep EVERY row but weight each by 1/|dup-cluster| —
    * the downweight-instead-of-remove policy (a duplicated document
    * contributes one document's worth of gradient in aggregate, spread
    * over its copies). Removal loses the copies' metadata/provenance
    * and is irreversible; a weight column lets the trainer (or a later
    * weighted sample — compose with `Views.weightedSample`) decide.
    * Rows in no candidate pair get weight 1.0.
    *
    * Scale shape: [[dupClusters]] over the pair set (cluster-member-
    * sized, not corpus-sized), one groupBy(cluster) for sizes, one join
    * back to members, and one LEFT join of the corpus to that member-
    * sized weight frame — broadcast under AQE whenever the dup set is
    * small relative to the corpus (the normal regime).
    *
    * Output: `df` + `weight` (double, (0, 1]).
    */
  def softDedupWeights(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    // refuse rather than silently clobber caller data (the
    // deterministicShuffle column-collision rule): joining a second
    // 'weight' in would make the coalesce below ambiguous
    require(!df.columns.contains("weight"),
      "softDedupWeights writes column 'weight' but the input already has one — rename it first")
    val clusters = dupClusters(pairs)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("__cs"))
    val weights = clusters.join(sizes, "cluster_id")
      .select(col("id").as(idCol), (lit(1.0) / col("__cs")).as("weight"))
    df.join(weights, Seq(idCol), "left")
      .withColumn("weight", coalesce(col("weight"), lit(1.0)))
  }

  /** Quality-aware representative per duplicate cluster: where
    * [[clusterSurvivors]] keeps the min-id member, this keeps the member
    * maximizing `scoreCol` (quality score, vector norm, recency…) with
    * ties broken by highest id — what a curation pipeline actually wants
    * ("keep the best copy", not "keep the first copy"). One join of the
    * cluster labels to the score frame plus one window shuffle on
    * cluster_id; both frames are cluster-member-sized, not corpus-sized.
    */
  def clusterRepresentativesBy(clusters: DataFrame, scores: DataFrame,
                               idCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(scoreCol).desc, col("id").desc)
    clusters.join(scores.select(col(idCol).as("id"), col(scoreCol)), "id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("id").as("keep_id"))
  }

  /** Leakage-safe train/val/test assignment: every member of a duplicate
    * cluster lands in the SAME split, so near-duplicates can never
    * straddle a train/eval boundary (the classic contamination bug that
    * per-row random splits cannot avoid). Split is a pure function of the
    * cluster label — the min member id from [[dupClusters]], own id for
    * singletons — via the same xor-fold hash as `Views.hashSample`, so
    * re-runs, engines, and later incremental batches agree.
    *
    * `weights` are integer parts out of their sum, e.g.
    * ("train",8),("val",1),("test",1). Scale shape: one left join of the
    * corpus to the (cluster-member-sized) label frame plus per-row hash
    * arithmetic — no extra shuffle beyond the join.
    */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                       weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive, got $weights")
    // numeric id required: cast(string as long) in the bucket hash would
    // be null per row, silently sending EVERY row to the first split
    // (same guard as Views.stratifiedSample)
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"leakageSafeSplit: id column '$idCol' must be numeric " +
        s"(got ${df.schema(idCol).dataType.simpleString})")
    // withColumn("split") would silently OVERWRITE a pre-existing split
    // column, and a pre-existing cluster_id on df would make the
    // post-join drop("cluster_id") ambiguous — refuse both up front
    require(!df.columns.contains("split") && !df.columns.contains("cluster_id"),
      "leakageSafeSplit: input must not already have 'split' or " +
        "'cluster_id' columns (they are produced/consumed internally)")
    val totalW = weights.map(_._2).sum
    val labels = dupClusters(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    val bucket = graft.operators.Views.xorFold(
      coalesce(col("cluster_id"), col(idCol)), totalW.toLong)
    val splitCol = weights.tail.foldLeft(
      (lit(weights.head._1), weights.head._2)) { case ((acc, cum), (name, w)) =>
        (when(bucket >= cum, lit(name)).otherwise(acc), cum + w)
      }._1
    df.join(labels, Seq(idCol), "left")
      .withColumn("split", splitCol)
      .drop("cluster_id")
  }

  /** Content-level corpus diff — the ingest-audit shape: what did this
    * batch/version ADD, what did it DROP, what is COMMON, by normalized
    * content fingerprint (so renames/re-ids don't count as changes).
    * Output: (fingerprint, status ∈ added|removed|common, old_n, new_n)
    * with per-side duplicate counts.
    *
    * Scale shape: two [[exact]]-style 16-byte-key aggregates and one
    * full-outer join on that key; document bodies never shuffle. NULL
    * text is one content value on both sides (null-safe join key).
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 textCol: String): DataFrame = {
    def fps(df: DataFrame, cnt: String) = df
      .groupBy(md5(normText(col(textCol))).as("fingerprint"))
      .agg(count(lit(1)).as(cnt))
    val o = fps(oldDocs, "old_n").withColumnRenamed("fingerprint", "__ofp")
    val n = fps(newDocs, "new_n")
    n.join(o, col("fingerprint") <=> col("__ofp"), "full_outer")
      .select(
        coalesce(col("fingerprint"), col("__ofp")).as("fingerprint"),
        when(col("old_n").isNull, "added")
          .when(col("new_n").isNull, "removed")
          .otherwise("common").as("status"),
        coalesce(col("old_n"), lit(0L)).as("old_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"))
  }

  /** Segment rows (id, idx, seg) from fixed non-overlapping token spans
    * of `w` tokens — the C4-style granularity for sub-document dedup
    * when the text has no paragraph markup. Token array is projected to
    * a concrete column BEFORE the slicing lambda (shingleExpr's contract:
    * interpreted HOF lambdas re-evaluate captured outer EXPRESSIONS per
    * element; a column reference is a cheap read). Empty/whitespace-only
    * docs produce no segments.
    */
  def spanSegments(df: DataFrame, textCol: String, idCol: String, w: Int): DataFrame = {
    require(w > 0, s"span width must be positive, got $w")
    // n_total rides each row (r18): the per-doc segment count is in-row
    // knowledge here, and segmentDedup takes it from the row instead of
    // recounting the segment frame
    df.select(col(idCol).as("id"),
        expr(graft.pipeline.TextAnalysis.tokensExpr(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(col("id"),
        ceil(size(col("__tk")) / lit(w.toDouble)).cast("long").as("n_total"),
        posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(__tk) / ${w}.0) as int) - 1)," +
            s" i -> array_join(slice(__tk, i * $w + 1, $w), ' '))")).as(Seq("idx", "seg")))
  }

  /** Segment rows from splitting on a separator (paragraphs on "\n\n",
    * lines on "\n"). Blank segments are dropped, positions kept.
    */
  def paragraphSegments(df: DataFrame, textCol: String, idCol: String,
                        sep: String = "\n\n"): DataFrame = {
    val q = java.util.regex.Pattern.quote(sep)
    // n_total = the doc's NON-BLANK segment count, computed in-row (the
    // segmentDedup contract, as in spanSegments)
    df.select(col(idCol).as("id"),
        size(filter(split(col(textCol), q), s => trim(s) =!= "")).cast("long")
          .as("n_total"),
        posexplode(split(col(textCol), q)).as(Seq("idx", "seg")))
      .filter(trim(col("seg")) =!= "")
  }

  /** Sub-document exact dedup (the C4/Dolma move: duplicated PARAGRAPHS/
    * SPANS are removed corpus-wide even when whole documents differ).
    * Every occurrence of a normalized segment except the FIRST — smallest
    * (id, idx) lexicographically — is dropped, and documents are
    * reassembled from their surviving segments in order. Docs whose
    * segments are all dropped disappear (C4 behavior).
    *
    * Scale shape: winners come from ONE groupBy on the 16-byte md5 key,
    * and reassembly is one partial-aggregated groupBy(id); the result is
    * checkpointed (release via [[graft.core.Checkpoints.release]]).
    *
    * Every row of `segments` carries its doc's segment count in an
    * `n_total` column, as [[spanSegments]] and [[paragraphSegments]]
    * produce it. Output: (id, text, n_kept, n_total) — n_* count this
    * doc's segments.
    */
  private[pipeline] def segmentDedup(segments: DataFrame, sep: String = " "): DataFrame = {
    // r18 opt (guide §2.4/§8): the winner's OWN segment rides the
    // min-struct — (id, idx) is unique per row, so the fp-group min
    // picks exactly the first-occurrence row AND carries its text,
    // replacing the old fp-keyed join of the full text-carrying segment
    // frame against the winner table (one whole-corpus text shuffle).
    // Map-side combine reduces the fp exchange to ~one candidate row
    // per fp per task; reassembly then shuffles only the kept
    // (deduplicated) segments. The producer's in-row `n_total` spares a
    // totals aggregation + join, so the segment frame has ONE consumer —
    // a single scan, no persist.
    segments.withColumn("fp", md5(normText(col("seg"))))
      .groupBy("fp")
      .agg(min(struct(col("id"), col("idx"), col("seg"), col("n_total"))).as("w"))
      .select(col("w.id").as("id"), col("w.idx").as("idx"),
        col("w.seg").as("seg"), col("w.n_total").as("n_total"))
      .groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("seg")))),
          x => x.getField("seg")), sep).as("text"),
        count(lit(1)).as("n_kept"),
        // every row of a doc carries the same n_total; max is the
        // deterministic pick
        max(col("n_total")).as("n_total"))
      .localCheckpoint()
  }

  /** [[segmentDedup]] over fixed token spans of `w`. */
  def spanDedup(df: DataFrame, textCol: String, idCol: String, w: Int): DataFrame =
    segmentDedup(spanSegments(df, textCol, idCol, w))

  /** [[segmentDedup]] over separator-delimited paragraphs. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     sep: String = "\n\n"): DataFrame =
    segmentDedup(paragraphSegments(df, textCol, idCol, sep), sep)

  /** SemDeDup-style semantic near-dup pairs: embeddings assigned to
    * k-means cells ([[IvfIndex]]), exact cosine scored WITHIN cells only
    * — the cell structure bounds the pair explosion to Σ|cell|², the
    * semantic-dedup trick for web-scale corpora (vs [[embeddingDedup]]'s
    * stateless LSH bands: IVF cells follow the data's own cluster
    * structure, so at equal candidate budget they catch more true
    * semantic dups — at the price of the one-off k-means).
    *
    * Scale shape: `index.corpus` is already hash-partitioned by cell, so
    * the self-join shuffles nothing new; a skewed mega-cell is AQE-split.
    * Cell granularity is the recall/cost dial: SemDeDup's published
    * config is ~10⁴–10⁵ vectors/cell at 10⁹ scale.
    */
  def semanticPairs(index: IvfIndex.Index, threshold: Double): DataFrame = {
    val c = index.corpus
    val l = c.alias("l"); val r = c.alias("r")
    l.join(r, col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        Similarity.cosine(col("l.v"), col("r.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic dedup end-to-end: build the cell index (k-means or a
    * sampled train set via `sampleFraction`), find within-cell pairs at
    * `threshold`, and keep one representative per connected dup cluster
    * (min id; compose [[semanticPairs]] + [[clusterRepresentativesBy]]
    * yourself for quality-aware representatives).
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    nCells: Int, threshold: Double, seed: Long = 42L,
                    sampleFraction: Double = 1.0): DataFrame = {
    val idx = IvfIndex.build(df, vecCol, idCol, nCells, seed, sampleFraction)
    clusterSurvivors(df, semanticPairs(idx, threshold), idCol)
  }

  /** Embedding cosine near-dup via BANDED sign-LSH: `bands` independent
    * bucket groups of `planesPerBand` hyperplanes each; a pair is a
    * candidate if it collides in ANY band (union across bands drives the
    * miss probability to (1−p^r)^b — a single bucket group would miss a
    * large fraction of true near-dups). Candidates verified with exact
    * cosine. Shuffle profile: one join keyed on (band, bucket) — short
    * keys, AQE-splittable.
    */
  def embeddingDedup(df: DataFrame, vecCol: String, idCol: String,
                     threshold: Double, planesPerBand: Int = 8, bands: Int = 4,
                     seed: Long = 7L): DataFrame = {
    val dim = Similarity.dimOf(df, vecCol)
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        Similarity.hyperplaneBucket(col(vecCol), dim, planesPerBand, seed + b).as("bucket")))
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("v"), col("bb.band"), col("bb.bucket"))
    val l = bucketed.alias("l"); val r = bucketed.alias("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        Similarity.cosine(col("l.v"), col("r.v")).as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** Extension (training-data pipeline): pairwise source-overlap matrix by
    * exact (normalized) content — "how much of candidate source A is
    * already inside source B" is the admission question before paying to
    * curate A into the mixture (a CommonCrawl re-crawl is largely inside
    * the previous one; a curated subset can be wholly inside the raw dump
    * it came from). One row per ORDERED source pair (a, b), a ≠ b, that
    * shares ≥ 1 distinct content key — zero-overlap pairs are absent, so
    * the output is sparse, never a dense #sources² matrix:
    * (source_a, source_b, n_a, n_b, n_shared, containment = n_shared/n_a,
    * jaccard). Per-source totals count DISTINCT content (an internally
    * duplicated source shouldn't inflate its own denominator).
    *
    * Scale shape: rows collapse to distinct (source, key) in one hash
    * aggregate — `contentKey` defaults to the 16-byte md5 of the
    * normalized text ([[exact]]'s fingerprint), so hashes shuffle, not
    * bodies. The pair-up is a self-equi-join on the key whose per-key
    * fanout is ≤ #sources (bounded and small — this is a per-SOURCE
    * matrix, not a per-doc join), and the total frames broadcast back
    * onto the pair counts.
    */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
                    contentKey: Option[Column] = None): DataFrame = {
    val key = contentKey.getOrElse(md5(normText(col(textCol))))
    // NULL content keys (NULL-text docs) are excluded BEFORE the totals:
    // they can never match in the self-join, so keeping them would
    // inflate n_a/n_b and understate containment — an admission decision
    // ("A is wholly inside B") must not flip on junk rows (r14 review)
    val sk = df.select(col(sourceCol).as("source"), key.as("__k"))
      .filter(col("__k").isNotNull).distinct()
    val totals = sk.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sk.alias("a")
      .join(sk.alias("b"), col("a.__k") === col("b.__k") &&
        col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val ta = broadcast(totals.select(col("source").as("source_a"), col("n").as("n_a")))
    val tb = broadcast(totals.select(col("source").as("source_b"), col("n").as("n_b")))
    pairs.join(ta, "source_a").join(tb, "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") / col("n_a")).as("containment"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
  }
}
