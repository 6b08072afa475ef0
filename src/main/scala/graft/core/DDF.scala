package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Factor (R-style categorical) metadata for a column: ordered distinct
  * levels and their counts. Mirrors the reference's mutable column
  * classing (reference: flink/src/main/scala/io/ddf/flink/content/
  * SchemaHandler.scala:17-75) but stored as a sidecar map on the DDF
  * wrapper instead of a handler-graph — a plain `DataFrame` is the single
  * physical representation here.
  */
final case class FactorInfo(levels: Seq[String], counts: Map[String, Long])

/** A named, schema'd distributed table — the reference's DDF abstraction
  * (reference: flink/src/main/java/io/ddf/flink/FlinkDDF.java:10)
  * rebuilt as a thin wrapper over a Spark `DataFrame`.
  *
  * All compute delegates to operator modules in `graft.operators` /
  * `graft.stats`; this class only carries identity (name), the frame, and
  * the one genuinely stateful part of the reference: factor metadata and
  * the 2-step groupBy column stash (reference: AggregationHandler.scala:
  * 203-226).
  */
final class DDF(
    val manager: DDFManager,
    @volatile private var _df: DataFrame,
    @volatile private var _name: String
) {
  private val factors = TrieMap.empty[String, FactorInfo]
  /** Grouping columns stashed by the 2-step groupBy flow (SURVEY A6). */
  @volatile var pendingGroupCols: Seq[String] = Nil
  @volatile var isMutable: Boolean = false

  def df: DataFrame = _df
  def name: String = _name
  def spark: SparkSession = manager.spark

  def schema = _df.schema
  def columnNames: Seq[String] = _df.columns.toSeq
  def numColumns: Int = _df.columns.length
  def numRows: Long = _df.count()

  /** Re-register under a new name (reference: FlinkDDFManager.scala:112-115). */
  def setName(newName: String): this.type = {
    val old = _name
    manager.rename(old, newName)
    _name = newName
    _df.createOrReplaceTempView(newName)
    // drop the stale view: SQL against the old name must fail with
    // "table not found", not silently read the pre-rename frame
    if (old != newName) _df.sparkSession.catalog.dropTempView(old)
    this
  }

  /** In-place update when mutable, else produce a fresh registered DDF
    * (reference: core MutabilityHandler semantics, DemoSpec.scala:48-51).
    */
  private[graft] def updateOrDerive(newDf: DataFrame): DDF =
    if (isMutable) {
      _df = newDf
      newDf.createOrReplaceTempView(_name)
      this
    } else manager.register(newDf)

  /** Always derive a new registered DDF regardless of mutability. */
  private[graft] def derive(newDf: DataFrame): DDF = manager.register(newDf)

  // ---- factor metadata (SURVEY §2.5 T9 / §1.4) ----
  def setAsFactor(col: String): Unit = {
    val rows = _df.groupBy(col).count().collect()
    val counts = rows.map(r => Option(r.get(0)).map(_.toString).getOrElse("null") -> r.getLong(1)).toMap
    factors.put(col, FactorInfo(counts.keys.toSeq.sorted, counts))
  }
  def setFactorInfo(col: String, info: FactorInfo): Unit = factors.put(col, info)
  def factorInfo(col: String): Option[FactorInfo] = factors.get(col)
  def factorColumns: Seq[String] = factors.keys.toSeq.sorted
  def isFactor(col: String): Boolean = factors.contains(col)

  /** Duplicate the DDF including factor metadata
    * (reference: FlinkDDF.java:21-27 — `select * from name` + metadata copy).
    */
  def copy(): DDF = {
    val out = manager.register(_df.select(col("*")))
    factors.foreach { case (c, fi) => out.setFactorInfo(c, fi) }
    out
  }

  /** Tab-joined string rows (reference: SqlHandler.scala:243-246). */
  def collectStrings(): Seq[String] =
    _df.collect().toSeq.map(rowToTabString)

  private def rowToTabString(r: Row): String =
    (0 until r.length).map(i => Option(r.get(i)).map(_.toString).getOrElse("null")).mkString("\t")

  // ---- reference-style convenience API (delegates to operator modules) —
  // a ddf-flink user's call sites port 1:1 ----

  def sql2ddf(command: String): DDF = manager.sql2ddf(command, this)
  def sql(command: String): SqlResult = manager.sql(command, this)

  def project(cols: String*): DDF = graft.operators.Views.project(this, cols)
  def removeColumn(c: String): DDF = graft.operators.Views.removeColumns(this, Seq(c))
  def head(n: Int): Seq[Row] = graft.operators.Views.head(this, n)
  def top(n: Int, byCol: String, ascending: Boolean = false): DDF =
    graft.operators.Views.top(this, n, byCol, ascending)
  /** Top-k rows per group WITHOUT a window — the native bounded-heap
    * aggregate (see `Views.topKByGroup` for the determinism contract).
    */
  def topKByGroup(groupCols: Seq[String], orderCols: Seq[String], k: Int): DDF =
    derive(graft.operators.Views.topKByGroup(df, groupCols, orderCols, k))
  def getRandomSample(n: Int): DDF = graft.operators.Views.sampleExact(this, n)
  def getRandomSample(fraction: Double, withReplacement: Boolean, seed: Long): DDF =
    graft.operators.Views.sample(this, fraction, withReplacement, seed)

  def join(other: DDF, joinType: String = "inner", byColumns: Seq[String] = Nil,
           byLeft: Seq[String] = Nil, byRight: Seq[String] = Nil): DDF =
    graft.operators.Joins.join(this, other, joinType, byColumns, byLeft, byRight)
  def merge(other: DDF): DDF = graft.operators.Joins.merge(this, other)

  def aggregate(specs: String): Map[String, Seq[Any]] =
    graft.operators.Aggregations.aggregateToMap(this, specs)
  def aggregateOnColumn(fn: String, c: String): Any =
    graft.operators.Aggregations.aggregateOnColumn(this, fn, c)
  def groupBy(cols: Seq[String], aggSpecs: Seq[String]): DDF =
    graft.operators.Aggregations.groupBy(this, cols, aggSpecs)
  def groupBy(cols: Seq[String]): DDF =
    graft.operators.Aggregations.groupByStep1(this, cols)
  def agg(aggSpecs: Seq[String]): DDF =
    graft.operators.Aggregations.groupByStep2(this, aggSpecs)
  def xtabs(specs: String): DDF = graft.operators.Aggregations.xtabs(this, specs)
  def correlation(a: String, b: String): Double =
    graft.operators.Aggregations.correlation(this, a, b)

  def getSummary: Seq[graft.stats.Stats.ColumnSummary] = graft.stats.Stats.summary(this)
  def getFiveNumSummary(c: String): graft.stats.Stats.FiveNum = graft.stats.Stats.fiveNum(this, c)
  def getVectorQuantiles(c: String, ps: Seq[Double]): Seq[Double] =
    graft.stats.Stats.vectorQuantiles(this, c, ps)
  def getVectorMean(c: String): Double = graft.stats.Stats.vectorMean(this, c)
  def getVectorVariance(c: String): (Double, Double) = graft.stats.Stats.vectorVariance(this, c)
  def getVectorCor(a: String, b: String): Double = correlation(a, b)
  def getVectorCovariance(a: String, b: String): Double =
    graft.operators.Aggregations.covariance(this, a, b)
  def getVectorHistogram(c: String, numBins: Int): Seq[(Double, Double, Long)] =
    graft.stats.Stats.histogram(this, c, numBins)

  def binning(c: String, binningType: String, numBins: Int = 0,
              breaks: Seq[Double] = Nil, includeLowest: Boolean = false,
              right: Boolean = true): DDF = binningType.toUpperCase match {
    case "CUSTOM" => graft.operators.Binning.binningCustom(this, c, breaks, includeLowest, right)
    case "EQUALINTERVAL" =>
      graft.operators.Binning.binningEqualInterval(this, c, numBins, includeLowest, right)
    // the reference's "EQUAlFREQ" (sic) folds into this case via the
    // toUpperCase scrutinee — a literal lowercase-l alternative here
    // would be dead code
    case "EQUALFREQ" =>
      graft.operators.Binning.binningEqualFreq(this, c, numBins, includeLowest, right)
    case other => throw new IllegalArgumentException(s"Unknown binning type '$other'")
  }

  def dropNA(how: String = "any", thresh: Option[Int] = None, cols: Seq[String] = Nil): DDF =
    graft.operators.MissingData.dropNARows(this, how, thresh, cols)
  def fillNA(value: Any, cols: Seq[String] = Nil): DDF =
    graft.operators.MissingData.fillNAValue(this, value, cols)

  def transformUDF(colName: String, sqlExpr: String): DDF =
    graft.operators.Transforms.transformUDF(this, colName, sqlExpr)
  /** R mutate expressions, compiled (the reference's transformNativeRserve). */
  def transformR(rExpression: String): DDF =
    graft.operators.Transforms.transformR(this, rExpression)
  /** R keyval map-reduce, compiled (the reference's transformMapReduceNative). */
  def transformMapReduceNative(mapFuncDef: String, reduceFuncDef: String,
                               mapsideCombine: Boolean = true): DDF =
    graft.operators.Transforms.transformMapReduceR(this, mapFuncDef, reduceFuncDef, mapsideCombine)
  def transformScaleMinMax(cols: Seq[String] = Nil): DDF =
    graft.operators.Transforms.scaleMinMax(this, cols)
  def transformScaleStandard(cols: Seq[String] = Nil): DDF =
    graft.operators.Transforms.scaleStandard(this, cols)

  // ===== Training-data curation facade (pipeline extensions, SURVEY §8) —
  // the same fluent call-site style as the reference API, so a curation
  // chain reads ddf.c4Filter(...).dedupExact(...).dedupNearDup(...).
  // enrichText(...). Each delegates to the graft.pipeline operator that
  // carries the scale contract.
  /** Exact-dedup survivors; the result is materialized (a checkpoint:
    * free it with [[graft.core.Checkpoints.release]] when done).
    */
  def dedupExact(textCol: String, idCol: String): DDF =
    derive(graft.pipeline.Dedup.exactSurvivors(df, textCol, idCol))
  def dedupNearDup(textCol: String, idCol: String, threshold: Double = 0.8): DDF =
    derive(graft.pipeline.Dedup.clusterSurvivors(df,
      graft.pipeline.Dedup.minhashDedup(df, textCol, idCol, threshold), idCol))
  def enrichText(textCol: String): DDF =
    derive(graft.pipeline.TextAnalysis.enrich(df, textCol))
  /** All of c4Rules' rule knobs pass through: a corpus without
    * sentence-final punctuation (transcripts, logs, code) needs
    * `requireTerminalPunct = false` or the gate keeps nothing.
    */
  def c4Filter(textCol: String, idCol: String,
               minWords: Int = 5, minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
               maxWordLen: Int = 25,
               blacklist: Seq[String] = Seq("lorem ipsum", "javascript", "{"),
               requireTerminalPunct: Boolean = true): DDF = {
    val keep = graft.pipeline.TextAnalysis.c4Rules(df, textCol, idCol,
        minWords, minMeanLen, maxMeanLen, maxWordLen, blacklist, requireTerminalPunct)
      .filter(org.apache.spark.sql.functions.col("keep"))
      .select(org.apache.spark.sql.functions.col("id").as(idCol))
    derive(df.join(keep, Seq(idCol), "left_semi"))
  }
  /** Encode the corpus against its own frequency-ranked vocabulary —
    * the last transform before a training loader. See
    * `TextAnalysis.encodeTokens` for the scale shape. The result is
    * materialized (a checkpoint: free it with
    * [[graft.core.Checkpoints.release]] when done).
    */
  def tokenIds(textCol: String, idCol: String, minDocFreq: Long = 1L,
               oovId: Int = -1): DDF = {
    val ranked = graft.pipeline.TextAnalysis.rankVocabulary(
      graft.pipeline.TextAnalysis.vocabulary(df, textCol, idCol, minDocFreq))
    derive(graft.pipeline.TextAnalysis.encodeTokens(df, textCol, idCol, ranked, oovId))
  }
  /** Terminal step of a curation chain: write the corpus as parquet
    * plus a per-shard content manifest, so consumers can verify the
    * publish bit-for-bit (`Manifest.verifyManifest`).
    */
  def publish(path: String): DDF =
    derive(graft.sources.Manifest.writeWithManifest(df, path))
  /** The release datasheet for a curated corpus: per-source doc/token/
    * dup/quality/language counts in one query (`TextAnalysis.datacard`)
    * — the report a chain ends with next to [[publish]].
    */
  def datacard(textCol: String, idCol: String, sourceCol: String,
               qualityMin: Double = 0.5): DDF =
    derive(graft.pipeline.TextAnalysis.datacard(df, textCol, idCol,
      sourceCol, qualityMin))
  /** Soft dedup: keep every row, add a `weight` column sharing one unit
    * of weight across each near-dup cluster at `threshold`
    * (`Dedup.softDedupWeights` over the MinHash-LSH pair set) — the
    * downweight-instead-of-remove alternative to [[dedupNearDup]].
    */
  def dedupSoft(textCol: String, idCol: String, threshold: Double = 0.8): DDF =
    derive(graft.pipeline.Dedup.softDedupWeights(df,
      graft.pipeline.Dedup.minhashDedup(df, textCol, idCol, threshold), idCol))

  // ===== Round-10 surface: multi-level aggregation, time series,
  // tokenizer training, clustered layout.
  def cube(groupCols: Seq[String], aggSpecs: Seq[String]): DDF =
    graft.operators.Aggregations.cube(this, groupCols, aggSpecs)
  def groupingSets(groupCols: Seq[String], sets: Seq[Seq[String]],
                   aggSpecs: Seq[String]): DDF =
    graft.operators.Aggregations.groupingSets(this, groupCols, sets, aggSpecs)
  /** Fixed-interval resample + densify (see `TimeSeries.resample`);
    * `aggSpecs` use the `alias=fn(col)` grammar of [[aggregate]].
    */
  def resample(tsCol: String, keyCols: Seq[String], intervalSec: Long,
               aggSpecs: Seq[String]): DDF = {
    // full comma grammar, agg-only: "a=max(v), b=min(v)" is two specs —
    // a plain column or a truncated parse is refused, never dropped
    val parsed = graft.operators.Aggregations.parseAggOnly(aggSpecs)
      .map(a => a.alias -> graft.operators.Aggregations.aggColumn(a))
    derive(graft.operators.TimeSeries.resample(df, tsCol, keyCols, intervalSec, parsed))
  }
  def interpolate(bucketCol: String, keyCols: Seq[String], valueCol: String,
                  outCol: String = "interpolated"): DDF =
    derive(graft.operators.TimeSeries.interpolate(df, bucketCol, keyCols, valueCol, outCol))

  // ===== Round-15 surface: reshaping, event analytics, corpus novelty.
  /** Long→wide pivot with explicit values (see `Aggregations.pivot` for
    * why values are mandatory); `aggSpecs` use the `alias=fn(col)`
    * grammar of [[aggregate]].
    */
  def pivot(groupCols: Seq[String], pivotCol: String, pivotValues: Seq[String],
            aggSpecs: Seq[String]): DDF =
    graft.operators.Aggregations.pivot(this, groupCols, pivotCol, pivotValues, aggSpecs)
  /** Ordered-step conversion funnel (see `TimeSeries.funnel`). */
  def funnel(entityCol: String, tsCol: String, idCol: String,
             typeCol: String, steps: Seq[String]): DDF =
    derive(graft.operators.TimeSeries.funnel(df, entityCol, tsCol, idCol, typeCol, steps))
  /** Per-doc n-gram novelty vs the preceding corpus
    * (see `TextAnalysis.ngramNovelty`).
    */
  def ngramNovelty(textCol: String, idCol: String,
                   hashShingles: Boolean = true): DDF =
    derive(graft.pipeline.TextAnalysis.ngramNovelty(df, textCol, idCol, hashShingles))
  /** Train a BPE tokenizer over `textCol` (see `TextAnalysis.bpeTrain`;
    * `byteLevel = true` trains over UTF-8 bytes as hex-pair symbols so
    * digits/punctuation/non-Latin text participate).
    */
  def bpeTrain(textCol: String, nMerges: Int, minFreq: Long = 2L,
               byteLevel: Boolean = false): DDF =
    derive(graft.pipeline.TextAnalysis.bpeTrain(df, textCol, nMerges, minFreq,
      byteLevel))
  def bpeEncode(textCol: String, merges: Seq[(String, String)],
                byteLevel: Boolean = false): DDF =
    derive(graft.pipeline.TextAnalysis.bpeEncode(df, textCol, merges,
      byteLevel = byteLevel))
  /** Persist this DDF's merge table (a [[bpeTrain]] result) as the
    * single-parquet tokenizer artifact; reload with
    * `TextAnalysis.bpeLoad(spark, path)`.
    */
  def bpeSave(path: String): Unit =
    graft.pipeline.TextAnalysis.bpeSave(df, path)
  /** Z-order clustered publish (see `sources/Layout`): footer-stat
    * pruning on every clustered dimension for downstream readers, with
    * the SAME per-shard content manifest as [[publish]] — the clustered
    * layout is verifiable bit-for-bit (`Manifest.verifyManifest`).
    * Returns the shard-summary DDF, like [[publish]].
    */
  def publishZOrdered(path: String, zCols: Seq[String], numFiles: Int): DDF = {
    graft.sources.Layout.zorderWrite(df, zCols, path, numFiles)
    derive(graft.sources.Manifest.writeManifestFor(spark, path))
  }
  def scd2(keyCols: Seq[String], tsCol: String, attrCols: Seq[String],
           tieCols: Seq[String] = Nil): DDF =
    derive(graft.operators.History.scd2(df, keyCols, tsCol, attrCols, tieCols))
  /** Fold `changes` (another DDF carrying ts/op/tie columns) into this
    * frame as current state (see `History.cdcApply`).
    */
  def applyChanges(changes: DDF, keyCols: Seq[String], valueCols: Seq[String],
                   tsCol: String, opCol: String, tieCols: Seq[String] = Nil): DDF =
    derive(graft.operators.History.cdcApply(df, changes.df, keyCols, valueCols,
      tsCol, opCol, tieCols))
  /** Expectation report (see `operators/Validate`): (rule, violations,
    * checked) — gate a publish on `violations == 0`.
    */
  def validate(rules: Seq[graft.operators.Validate.Rule]): DDF =
    derive(graft.operators.Validate.report(df, rules))
  def jaccardJoin(textCol: String, idCol: String, threshold: Double): DDF =
    derive(graft.pipeline.SetJoin.exactJaccardJoin(df, textCol, idCol, threshold))
  /** Mergeable HLL column profile (see `stats/Sketches`): one row per
    * column with distinct-estimate + exact null/row/min/max. Persist the
    * raw `Sketches.profile` frame per shard and `mergeProfiles` instead
    * of rescanning the corpus.
    */
  def profileSketch(cols: Seq[String] = Nil, lgK: Int = 12): DDF =
    derive(graft.stats.Sketches.estimate(graft.stats.Sketches.profile(df, cols, lgK)))
  /** Mergeable heavy hitters over `c` (see `stats/Sketches.topKSketch`). */
  def heavyHitters(c: String, k: Int, maxItemsTracked: Int = 10000): DDF =
    derive(graft.stats.Sketches.topKSketch(df, c, k, maxItemsTracked))
  /** Exact per-column key-skew report: rows, ndv, hottest key + count,
    * skew ratio vs uniform (see `stats/Stats.skewReport`).
    */
  def skewReport(cols: Seq[String]): DDF =
    derive(graft.stats.Stats.skewReport(df, cols))
  /** Greedy budget-constrained selection: rows in `order` priority while
    * the running `costCol` total stays ≤ budget — "the best docs that
    * fit an N-token budget" (see `operators/Views.budgetSelect` for the
    * window-free two-pass shape and the total-order requirement).
    */
  def budgetSelect(order: Seq[org.apache.spark.sql.Column], costCol: String,
                   budget: Long): DDF =
    derive(graft.operators.Views.budgetSelect(df, order, costCol, budget))
  /** Per-group budget selection: each group's rows in `order` priority
    * while ITS running `costCol` total stays ≤ its budget — per-domain
    * token caps (see `operators/Views.budgetSelectByGroup` for the
    * slim-window shape and peer-inclusive tie semantics).
    */
  def budgetSelectByGroup(groupCol: String,
                          order: Seq[org.apache.spark.sql.Column],
                          costCol: String, budgets: Map[Any, Long],
                          defaultBudget: Long = 0L,
                          colossalThreshold: Long = 2000000L): DDF =
    derive(graft.operators.Views.budgetSelectByGroup(df, groupCol, order,
      costCol, budgets, defaultBudget, colossalThreshold))
  /** Downsample so this corpus's mix over `bucketCol` matches the mix
    * `target` exhibits (see `operators/Views.matchDistribution`).
    */
  def matchDistribution(bucketCol: String, keyCol: String, target: DDF): DDF =
    graft.operators.Views.matchDistribution(this, bucketCol, keyCol, target.df)
  /** DSIR importance weights of this (raw) corpus toward `target`'s
    * domain (see `pipeline/Dsir`).
    */
  def dsirWeights(target: DDF, textCol: String, idCol: String,
                  buckets: Int = 10000): DDF =
    derive(graft.pipeline.Dsir.importanceWeights(df, target.df, textCol, idCol, buckets))
  /** DSIR top-k selection toward `target`'s domain (deterministic, or
    * Gumbel-sampled with a seed — see `pipeline/Dsir.resample`).
    */
  def dsirResample(target: DDF, textCol: String, idCol: String, k: Int,
                   buckets: Int = 10000, gumbelSeed: Option[Long] = None): DDF =
    derive(graft.pipeline.Dsir.resample(df, target.df, textCol, idCol, k,
      buckets, gumbelSeed = gumbelSeed))
  /** Contamination of this corpus against every benchmark suite in
    * `benchmarks` at once (see `pipeline/TextAnalysis.contaminationMatrix`).
    */
  def contaminationMatrix(benchmarks: DDF, textCol: String, idCol: String,
                          benchIdCol: String, n: Int = 8): DDF =
    derive(graft.pipeline.TextAnalysis.contaminationMatrix(
      df, benchmarks.df, textCol, idCol, benchIdCol, n))
  /** The subset clean against ALL suites in `benchmarks`. */
  def decontaminatedAll(benchmarks: DDF, textCol: String, idCol: String,
                        benchIdCol: String, n: Int = 8): DDF =
    derive(graft.pipeline.TextAnalysis.decontaminatedAll(
      df, benchmarks.df, textCol, idCol, benchIdCol, n))
  /** Stratified-shuffle training order by score buckets (see
    * `pipeline/TextAnalysis.curriculumOrder`).
    */
  def curriculumOrder(scoreCol: String, idCol: String,
                      cutoffs: Seq[Double]): DDF =
    derive(graft.pipeline.TextAnalysis.curriculumOrder(df, scoreCol, idCol, cutoffs))
  /** Exact Levenshtein self-join — zero false negatives (see
    * `pipeline/SetJoin.editDistanceJoin`).
    */
  def editDistanceJoin(strCol: String, idCol: String, maxDist: Int): DDF =
    derive(graft.pipeline.SetJoin.editDistanceJoin(df, strCol, idCol, maxDist))
  /** Two-table edit-distance lookup: this DDF is the probe batch, `canon`
    * the reference table (see `pipeline/SetJoin.editDistanceLookup`).
    */
  def editDistanceLookup(strCol: String, idCol: String, canon: DDF,
                         canonStrCol: String, canonIdCol: String,
                         maxDist: Int): DDF =
    derive(graft.pipeline.SetJoin.editDistanceLookup(df, strCol, idCol,
      canon.df, canonStrCol, canonIdCol, maxDist))
  /** Sorted-neighborhood record-linkage self-join — the n·(window−1)
    * blocking heuristic (see `pipeline/SetJoin.sortedNeighborhoodJoin`
    * for the recall contract).
    */
  def sortedNeighborhoodJoin(keyCol: String, idCol: String,
                             window: Int, maxDist: Int): DDF =
    derive(graft.pipeline.SetJoin.sortedNeighborhoodJoin(df, keyCol, idCol,
      window, maxDist))
  /** Mergeable per-shard KLL quantile sketches of integer column `c`
    * (see `stats/Sketches.quantileAccumulate`; merge + estimate with
    * `Sketches.quantileMergeEstimate`).
    */
  def quantileSketch(c: String, shardCol: String, k: Int = 200): DDF =
    derive(graft.stats.Sketches.quantileAccumulate(df, c, shardCol, k))
  /** Token-set Jaccard retrieval over this corpus (see
    * `pipeline/Relevance.jaccardRetrieve`).
    */
  def jaccardRetrieve(textCol: String, idCol: String, queries: DDF,
                      queryIdCol: String, queryTextCol: String, k: Int): DDF =
    derive(graft.pipeline.Relevance.jaccardRetrieve(df, textCol, idCol,
      queries.df, queryIdCol, queryTextCol, k))
  /** Reciprocal-rank fusion of this ranking with `others` (see
    * `pipeline/Relevance.rrfFuse`).
    */
  def rrfFuse(others: Seq[DDF], k: Int): DDF =
    derive(graft.pipeline.Relevance.rrfFuse(df +: others.map(_.df), k))
  /** Drift report: this DDF (a `profileSketch`-shaped estimate table) as
    * the OLD version vs `newer` (see `stats/Sketches.profileDrift`).
    */
  def profileDrift(newer: DDF): DDF =
    derive(graft.stats.Sketches.profileDrift(df, newer.df))
  /** Disjoint union of overlapping per-key intervals (see
    * `operators/TimeSeries.intervalMerge`).
    */
  def intervalMerge(keyCols: Seq[String], startCol: String, endCol: String): DDF =
    derive(graft.operators.TimeSeries.intervalMerge(df, keyCols, startCol, endCol))

  // ===== round-14 additions: release management, classifier eval,
  // leakage-safe splits, signal normalization =====

  /** Release-over-release changeset vs `newer` — this DDF is the OLD
    * snapshot (see `operators/History.snapshotDiff`).
    */
  def snapshotDiff(newer: DDF, keyCols: Seq[String],
                   compareCols: Seq[String]): DDF =
    derive(graft.operators.History.snapshotDiff(df, newer.df, keyCols, compareCols))
  /** Pairwise source containment/jaccard matrix (see
    * `pipeline/Dedup.sourceOverlap`).
    */
  def sourceOverlap(textCol: String, sourceCol: String): DDF =
    derive(graft.pipeline.Dedup.sourceOverlap(df, textCol, sourceCol))
  /** Per-group Mann-Whitney AUC of a scored frame (see
    * `ml/MLSupport.aucByGroup`).
    */
  def aucByGroup(scoreCol: String, labelCol: String, groupCols: Seq[String],
                 scoreBuckets: Int = 0): DDF =
    derive(graft.ml.MLSupport.aucByGroup(df, scoreCol, labelCol, groupCols, scoreBuckets))
  /** Reliability buckets + per-bin ECE gap (see
    * `ml/MLSupport.calibrationBuckets`).
    */
  def calibration(scoreCol: String, labelCol: String, nBins: Int,
                  groupCols: Seq[String] = Nil): DDF =
    derive(graft.ml.MLSupport.calibrationBuckets(df, scoreCol, labelCol, nBins, groupCols))
  /** Entity-level purged temporal split (see
    * `operators/TimeSeries.entityTemporalSplit`).
    */
  def temporalSplit(entityCol: String, tsCol: String,
                    cutoff: java.sql.Timestamp, embargoMs: Long = 0L): DDF =
    derive(graft.operators.TimeSeries.entityTemporalSplit(df, entityCol, tsCol, cutoff, embargoMs))
  /** Midrank percentile normalization of signal columns (see
    * `stats/Stats.percentileRank`).
    */
  def percentileRank(cols: Seq[String]): DDF =
    derive(graft.stats.Stats.percentileRank(df, cols))
  /** One-pass frequency-weighted moments (see `stats/Stats.weightedSummary`). */
  def weightedSummary(weightCol: String, cols: Seq[String]): DDF =
    derive(graft.stats.Stats.weightedSummary(df, weightCol, cols))
  /** JL sign random projection of an embedding column (see
    * `pipeline/Similarity.randomProject`).
    */
  def randomProject(vecCol: String, outCol: String, outDim: Int,
                    seed: Long = 42L): DDF =
    derive(graft.pipeline.Similarity.randomProject(df, vecCol, outCol, outDim, seed))
  /** Contrastive hard negatives vs this DDF as the corpus (see
    * `pipeline/Similarity.hardNegatives`).
    */
  def hardNegatives(queries: DDF, vecCol: String, idCol: String,
                    queryIdCol: String, labelCol: String, k: Int): DDF =
    derive(graft.pipeline.Similarity.hardNegatives(df, queries.df, vecCol,
      idCol, queryIdCol, labelCol, k))
  /** Robust median/IQR scaling (see `operators/Transforms.scaleRobust`). */
  def transformScaleRobust(cols: Seq[String] = Nil, exact: Boolean = false): DDF =
    graft.operators.Transforms.scaleRobust(this, cols, exact)
  /** Frequency-ranked categorical ids (see `operators/Transforms.indexEncode`). */
  def indexEncode(c: String, outCol: String): DDF =
    graft.operators.Transforms.indexEncode(this, c, outCol)

  // ===== round-15 additions: URL / domain curation =====

  /** Canonicalized URL column (see `pipeline/UrlCuration.urlNormalize`). */
  def urlNormalize(urlCol: String, outCol: String = "url_norm"): DDF =
    derive(graft.pipeline.UrlCuration.urlNormalize(df, urlCol, outCol))
  /** Public-suffix registered domain of a host column (see
    * `pipeline/UrlCuration.registeredDomain`).
    */
  def registeredDomain(hostCol: String,
                       suffixes: Seq[String] =
                         graft.pipeline.UrlCuration.defaultSuffixes): DDF =
    derive(graft.pipeline.UrlCuration.registeredDomain(df, hostCol, suffixes))
  /** Exact dedup groups on the canonical URL (see
    * `pipeline/UrlCuration.urlDedup`).
    */
  def urlDedup(urlCol: String, idCol: String): DDF =
    derive(graft.pipeline.UrlCuration.urlDedup(df, urlCol, idCol))
}
