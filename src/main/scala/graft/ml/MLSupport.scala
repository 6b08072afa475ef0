package graft.ml

import graft.core.DDF
import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML capability parity (SURVEY §2.12; reference:
  * flink/src/main/scala/io/ddf/flink/ml/FlinkMLSupporter.scala +
  * ReflectHelper.scala — 110 LoC of reflection plumbing that disappears
  * on Spark: `spark.ml` has a uniform fit/transform API).
  *
  * `train(name, …)` keys mirror the reference's config-driven algorithm
  * table (ddf-conf/ddf.ini:74-77): svm / mlr / als / kmeans. `applyModel`
  * appends the reference's `yPredict` column. The reference's declared-
  * but-unimplemented metrics (r2score, rmse, roc — README.md:80) are
  * provided via Spark evaluators.
  */
object MLSupport {

  final case class TrainedModel(name: String, model: Transformer,
                                featureCols: Seq[String], labelCol: Option[String])

  private def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame =
    featureCols match {
      // a single column that already IS an ml Vector (e.g. from
      // array_to_vector over an embedding array) passes straight through
      case Seq(c) if df.schema(c).dataType == org.apache.spark.ml.linalg.SQLDataTypes.VectorType =>
        if (c == "features") df else df.withColumn("features", col(c))
      case _ =>
        new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("features")
          .transform(df)
    }

  /** Algorithm lookup table (reference: FlinkMLSupporter.scala:26-36). */
  def train(ddf: DDF, name: String, featureCols: Seq[String],
            labelCol: String = "", params: Map[String, Any] = Map.empty): TrainedModel = {
    val df = ddf.df
    name.toLowerCase match {
      case "kmeans" =>
        val k = params.getOrElse("k", 3).toString.toInt
        val est = new KMeans().setK(k)
          .setSeed(params.getOrElse("seed", 42L).toString.toLong)
          .setInitMode(params.getOrElse("initMode", "k-means||").toString)
          .setFeaturesCol("features")
        TrainedModel(name, est.fit(assemble(df, featureCols)), featureCols, None)
      case "svm" =>
        val est = new LinearSVC().setFeaturesCol("features").setLabelCol(labelCol)
          .setMaxIter(params.getOrElse("maxIter", 20).toString.toInt)
        TrainedModel(name, est.fit(assemble(df, featureCols)), featureCols, Some(labelCol))
      case "mlr" | "linear_regression" =>
        val est = new LinearRegression().setFeaturesCol("features").setLabelCol(labelCol)
        TrainedModel(name, est.fit(assemble(df, featureCols)), featureCols, Some(labelCol))
      case "als" =>
        // ALS doubles its RDD lineage every iteration; without a
        // checkpoint dir its own checkpointInterval=10 is silently
        // skipped and deserialization overflows the stack around ~20
        // iters (observed with graft.tools' ALS probe main, deleted after
        // c5df852: `git show c5df852:src/main/scala/graft/tools/`).
        // Mandatory for iterative ALS at any scale — set one if the
        // session has none; Spark deletes it when the JVM exits.
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(
            org.apache.spark.sql.graftbridge.Bridge.shutdownDeletedTempDir("graft_als_ckpt"))
        val est = new ALS()
          .setUserCol(params.getOrElse("userCol", "user").toString)
          .setItemCol(params.getOrElse("itemCol", "item").toString)
          .setRatingCol(params.getOrElse("ratingCol", "rating").toString)
          .setRank(params.getOrElse("rank", 10).toString.toInt)
          .setMaxIter(params.getOrElse("maxIter", 10).toString.toInt)
          .setRegParam(params.getOrElse("regParam", 0.1).toString.toDouble)
          .setSeed(params.getOrElse("seed", 42L).toString.toLong)
        TrainedModel(name, est.fit(df), Nil, None)
      case other => throw new IllegalArgumentException(s"Unknown algorithm '$other'")
    }
  }

  /** `applyModel` → DDF with `yPredict` (reference: FlinkMLSupporter.scala:
    * 42-56 appends the prediction column).
    */
  /** Reference 3-arg signature (FlinkMLSupporter.scala:42-56):
    * `hasLabels` declares whether the scoring frame still carries the
    * training label column — validated here (spark.ml's transform doesn't
    * need the label, so the flag is a contract check, not a code path).
    */
  def applyModel(ddf: DDF, m: TrainedModel, hasLabels: Boolean,
                 includeFeatures: Boolean): DDF = {
    if (hasLabels) m.labelCol.foreach(l => require(ddf.df.columns.contains(l),
      s"hasLabels=true but column '$l' is absent"))
    applyModel(ddf, m, includeFeatures)
  }

  def applyModel(ddf: DDF, m: TrainedModel, includeFeatures: Boolean = true): DDF = {
    val assembled = if (m.featureCols.nonEmpty) assemble(ddf.df, m.featureCols) else ddf.df
    // drop the assembler's scratch vector only when WE created it — a
    // user column that happens to be named "features" (the single-vector
    // passthrough shape) is the caller's data, not scratch (r14 review)
    val scratch =
      if (assembled.columns.contains("features") && !ddf.df.columns.contains("features"))
        Seq("features", "rawPrediction")
      else Seq("rawPrediction")
    val out = m.model.transform(assembled)
      .withColumnRenamed("prediction", "yPredict")
      .drop(scratch: _*)
    val pruned = if (includeFeatures) out else out.drop(m.featureCols: _*)
    ddf.derive(pruned)
  }

  /** Closed-form ridge regression on TWO integer-valued features — the
    * deterministic twin of the quality-classifier training step (the
    * iterative SVM/LinearRegression optimizers are engine-RNG/fp-order
    * dependent and thus spec-only; this one is oracle-exact end-to-end).
    *
    * Determinism contract (the ml05 oracle replicates every step):
    * 1. all nine sufficient statistics are EXACT integer sums
    *    (decimal(38,0) — order-independent, one distributed aggregate);
    * 2. the normal-equation solve is ONE fixed double expression over
    *    those exact sums, written token-for-token identically in the
    *    DuckDB oracle (identical IEEE-754 operation order ⇒ identical
    *    bits);
    * 3. weights are rounded to integer MILLI-units via floor(w·1000+0.5)
    *    (= Java's round for every sign, unlike SQL round()'s
    *    half-away-from-zero), so downstream scoring
    *    `w1m·x1 + w2m·x2 + bm` is pure int64 arithmetic — bit-identical
    *    on any engine, no fp margin analysis needed at the threshold.
    *    Measured rounding margins at sf0.01: w·1000 sits 0.44/0.38/0.08
    *    from the nearest half-integer vs ~1e-9 cross-engine fp noise.
    *
    * Features/label must be integer-valued (token counts, bucket counts);
    * |x| and |x·y| must fit a long per row (fine for any count data).
    */
  final case class RidgeWeights(w1Milli: Long, w2Milli: Long, bMilli: Long)

  def ridgeClosedForm2(df: DataFrame, x1Col: String, x2Col: String, yCol: String,
                       lambda: Double): RidgeWeights = {
    def dsum(e: org.apache.spark.sql.Column) = sum(e.cast("decimal(38,0)"))
    val x1 = col(x1Col).cast("long"); val x2 = col(x2Col).cast("long")
    val y = col(yCol).cast("long")
    val r = df.agg(count(lit(1)).as("n"),
      dsum(x1).as("sx1"), dsum(x2).as("sx2"), dsum(y).as("sy"),
      dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"), dsum(x2 * x2).as("s22"),
      dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"),
      count(x1).as("nx1"), count(x2).as("nx2"), count(y).as("ny")).first()
    val n = r.getLong(0).toDouble
    require(n > 0, "ridgeClosedForm2: empty input")
    // fail loud on NULL cells: count(*) counts every row but the decimal
    // sums skip null terms, so a partially-null column would silently
    // skew the centered moments instead of erroring
    require(r.getLong(9) == r.getLong(0) && r.getLong(10) == r.getLong(0) &&
        r.getLong(11) == r.getLong(0),
      s"ridgeClosedForm2: NULL cells in input ($x1Col/$x2Col/$yCol non-null counts " +
        s"${r.getLong(9)}/${r.getLong(10)}/${r.getLong(11)} vs ${r.getLong(0)} rows) — fillNA first")
    def d(i: Int) = r.getDecimal(i).doubleValue()
    val (sx1, sx2, sy) = (d(1), d(2), d(3))
    val (s11, s12, s22, s1y, s2y) = (d(4), d(5), d(6), d(7), d(8))
    // centered moments + 2×2 solve — ONE expression, mirrored in SQL
    val c11 = s11 - sx1 * sx1 / n
    val c12 = s12 - sx1 * sx2 / n
    val c22 = s22 - sx2 * sx2 / n
    val c1y = s1y - sx1 * sy / n
    val c2y = s2y - sx2 * sy / n
    val det = (c11 + lambda) * (c22 + lambda) - c12 * c12
    require(det != 0.0, "ridgeClosedForm2: singular normal equations (use lambda > 0)")
    val w1 = ((c22 + lambda) * c1y - c12 * c2y) / det
    val w2 = ((c11 + lambda) * c2y - c12 * c1y) / det
    val b = sy / n - w1 * (sx1 / n) - w2 * (sx2 / n)
    RidgeWeights(math.round(w1 * 1000), math.round(w2 * 1000), math.round(b * 1000))
  }

  /** Deterministic Lloyd k-means from EXPLICIT initial centroids — ML6's
    * oracle-exact twin (reference: FlinkMLSupporter.scala routes "kmeans"
    * to the engine's RNG-initialized solver, which no second engine can
    * replicate; `train("kmeans")` keeps that behavior, this is the
    * reproducible path, the same fixed-centroid move as the a03 IVF
    * oracle). Each round assigns every vector to its argmin-L2 centroid
    * (ties → higher cell, [[graft.pipeline.IvfIndex.nearestCell]]'s
    * order) and recomputes each centroid as the per-dimension mean,
    * rounded to `roundDecimals` so the engine's partial-sum order cannot
    * leak into the next round's centroid literals; a cell that lost all
    * its points keeps its previous centroid (the standard Lloyd
    * fallback). Returns (final assignment frame `(id, v, cell)`, final
    * centroids).
    *
    * Scale shape: each round is one codegen'd inlined-argmax pass over
    * the corpus plus one (cell, pos)-keyed partial-agg groupBy; the only
    * driver materialization is the k×dim centroid matrix (config-size,
    * the same bound as IvfIndex centroid handling — NOT data-scale).
    */
  def lloydKMeans(df: DataFrame, vecCol: String, idCol: String,
                  init: Array[Array[Double]], rounds: Int,
                  roundDecimals: Int = 6): (DataFrame, Array[Array[Double]]) = {
    require(init.nonEmpty, "lloydKMeans: need at least one initial centroid")
    require(rounds >= 0, s"lloydKMeans: rounds must be >= 0, got $rounds")
    val dim = init.head.length
    require(dim > 0 && init.forall(_.length == dim),
      "lloydKMeans: centroids must be non-empty and all the same dimension")
    val vecs = df.select(col(idCol).as("id"),
      expr(s"transform(`$vecCol`, x -> cast(x as double))").as("v"))
    def assign(c: Array[Array[Double]]): DataFrame =
      vecs.withColumn("cell", graft.pipeline.IvfIndex.nearestCell(col("v"), c))
    var cents = init
    var r = 0
    while (r < rounds) {
      val means = assign(cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .collect().map(row => (row.getInt(0), row.getInt(1)) -> row.getDouble(2)).toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (means.contains((c, 0)))
          Array.tabulate(dim)(p => BigDecimal(means((c, p)))
            .setScale(roundDecimals, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else old
      }
      r += 1
    }
    (assign(cents), cents)
  }

  /** Binary confusion matrix at a threshold (reference:
    * FlinkMLSupporter.scala:71-96): counts of (label≥t, pred≥t) pairs via
    * one groupBy — no driver loop.
    */
  def confusionMatrix(scored: DataFrame, labelCol: String, predCol: String,
                      threshold: Double): Map[(Boolean, Boolean), Long] =
    scored.groupBy((col(labelCol) >= threshold).as("t"), (col(predCol) >= threshold).as("p"))
      .agg(count(lit(1)).as("n")).collect()
      .map { r =>
        // a NULL label/prediction groups under a null key and getBoolean
        // would NPE with no context — name the columns (r14 review, the
        // correlation guard)
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"confusionMatrix: NULL values in '$labelCol'/'$predCol' — " +
            "filter or fill them before evaluating")
        (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)
      }.toMap

  private def requireNumericId(ddf: DDF, idCol: String, who: String): Unit =
    require(ddf.df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$who: id column '$idCol' must be numeric " +
        s"(got ${ddf.df.schema(idCol).dataType.simpleString}) — a string id " +
        "would hash as NULL and silently route every row to one side")

  /** Random-split CV folds (reference: CrossValidation.scala:39-65),
    * keeping the reference's (k, trainFraction, seed) contract but
    * deciding membership by the deterministic xor-fold hash of
    * `idCol + seed + i` (Views.xorFold — the q07/q08 arithmetic) instead
    * of engine RNG: each of the k splits holds ≈trainFraction of the
    * rows in train, splits are independent across i, and membership is
    * reproducible across runs, engines, and incremental reprocessing —
    * the property that makes CV results auditable on a 100 TB corpus.
    * The train threshold is the exact integer floor(trainFraction·10⁶)
    * against a 10⁶-bucket hash (same shape as Views.hashSample).
    */
  def cvRandom(ddf: DDF, k: Int, trainFraction: Double, idCol: String,
               seed: Long): Seq[(DataFrame, DataFrame)] = {
    require(trainFraction > 0.0 && trainFraction < 1.0,
      s"trainFraction must be in (0, 1), got $trainFraction")
    requireNumericId(ddf, idCol, "cvRandom")
    val cut = math.floor(trainFraction * 1000000L).toLong
    (0 until k).map { i =>
      val h = graft.operators.Views.xorFold(
        col(idCol) + lit(seed + i), 1000000L)
      (ddf.df.filter(h < cut), ddf.df.filter(h >= cut))
    }
  }

  /** K-fold CV — the reference's disjoint-band strategy
    * (CrossValidation.scala:56-65): k bands that partition the data,
    * fold i testing on band i and training on the rest. Band membership
    * is fold(id) = xorFold(id + seed, k) — deterministic and
    * cross-engine-reproducible (see [[cvRandom]]) rather than the
    * reference's per-row RNG, with the same statistical shape
    * (≈uniform bands, exact partition).
    */
  def cvKFold(ddf: DDF, k: Int, idCol: String, seed: Long): Seq[(DataFrame, DataFrame)] = {
    require(k >= 2, s"k must be >= 2, got $k")
    requireNumericId(ddf, idCol, "cvKFold")
    val fold = graft.operators.Views.xorFold(col(idCol) + lit(seed), k.toLong)
    (0 until k).map { i =>
      (ddf.df.filter(fold =!= i.toLong), ddf.df.filter(fold === i.toLong))
    }
  }

  def r2Score(scored: DataFrame, labelCol: String): Double =
    new RegressionEvaluator().setLabelCol(labelCol).setPredictionCol("yPredict")
      .setMetricName("r2").evaluate(scored)
  def rmse(scored: DataFrame, labelCol: String): Double =
    new RegressionEvaluator().setLabelCol(labelCol).setPredictionCol("yPredict")
      .setMetricName("rmse").evaluate(scored)
  def rocAuc(scored: DataFrame, labelCol: String, rawCol: String): Double =
    new BinaryClassificationEvaluator().setLabelCol(labelCol).setRawPredictionCol(rawCol)
      .setMetricName("areaUnderROC").evaluate(scored)

  /** Extension (training-data pipeline): distributed per-group ROC AUC as a
    * DataFrame — the eval loop for a quality classifier sliced by source /
    * language / snapshot ([[rocAuc]] returns one driver-side scalar and
    * can't slice). Mann-Whitney formulation with standard tie handling
    * (tied scores contribute 0.5): AUC = Σ_s npos(s)·(cumneg(<s) +
    * ½·nneg(s)) ÷ (P·N) over the DISTINCT scores s of each group.
    *
    * Scale shape: pass 1 collapses rows to (group, score) with map-side
    * combine, so the per-group window that orders scores runs over the
    * distinct-score frame, not the corpus — for quantized classifier
    * scores that is bounded regardless of corpus size. For continuous
    * scores set `scoreBuckets` > 0 to floor scores onto a fixed grid
    * first (the standard histogram-AUC trick: exact when the classifier
    * emits ≤ that many distinct values, an ≤1/buckets-resolution
    * approximation otherwise) — with it the cardinality entering the
    * window is ≤ scoreBuckets per group, so even a single global group
    * (groupCols = Nil) stays cheap. Labels must be exactly 0 or 1, and
    * scores non-NULL/non-NaN; any other value fails the job
    * (raise_error) rather than silently skewing the statistic — a NULL
    * score (failed inference) would otherwise sort below every real
    * score and bias the rank sum, a NaN above it. Groups with no
    * positives or no negatives get a NULL auc (undefined), with
    * n_pos/n_neg still reported.
    */
  def aucByGroup(df: DataFrame, scoreCol: String, labelCol: String,
                 groupCols: Seq[String], scoreBuckets: Int = 0): DataFrame = {
    require(scoreBuckets >= 0, s"scoreBuckets must be >= 0, got $scoreBuckets")
    val g = groupCols.map(col)
    val sRaw = col(scoreCol).cast("double")
    val s0 = when(sRaw.isNull || isnan(sRaw), raise_error(lit(
      s"aucByGroup: scoreCol '$scoreCol' has NULL/NaN scores — filter or " +
        "impute failed-inference rows first"))).otherwise(sRaw)
    val sc = if (scoreBuckets > 0) floor(s0 * scoreBuckets) / scoreBuckets else s0
    val lab = col(labelCol).cast("bigint")
    val byScore = df
      .groupBy((g :+ sc.as("__s")): _*)
      .agg(
        sum(when(lab === 1L, 1L).otherwise(0L)).as("__np"),
        sum(when(lab === 0L, 1L).otherwise(0L)).as("__nn"),
        sum(when(lab === 0L || lab === 1L, 0L).otherwise(1L)).as("__bad"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val contrib = byScore.withColumn("__c",
      col("__np").cast("double") *
        (coalesce(sum(col("__nn")).over(w), lit(0L)).cast("double")
          + lit(0.5) * col("__nn").cast("double")))
    contrib.groupBy(g: _*)
      .agg(sum("__c").as("__num"), sum("__np").as("__p"),
        sum("__nn").as("__n"), sum("__bad").as("__b"))
      .select(g ++ Seq(
        when(col("__b") > 0L, raise_error(concat(lit(
          s"aucByGroup: labelCol '$labelCol' must be 0/1; found "),
          col("__b"), lit(" other-valued rows in a group"))))
          .otherwise(when(col("__p") === 0L || col("__n") === 0L, lit(null))
            .otherwise(col("__num") / (col("__p") * col("__n")).cast("double")))
          .as("auc"),
        col("__p").as("n_pos"), col("__n").as("n_neg")): _*)
  }

  /** Extension (training-data pipeline): reliability buckets for a
    * probability-calibrated classifier — the per-bin (confidence,
    * empirical accuracy, count) table behind a reliability diagram and
    * the Expected Calibration Error (Naeini et al., AAAI'15 — equal-width
    * binning). Scores must lie in [0,1] and be non-NULL/non-NaN (anything
    * else fails the job);
    * bin i covers [i/nBins, (i+1)/nBins) with the final bin closed at 1.
    * Empty bins are absent from the output (count is the weight, so they
    * carry none). ECE = Σ_i n_i/N·|conf_i − acc_i| is one further
    * aggregation over the returned frame — left to the caller so the
    * per-bin table (the thing you plot and slice) stays the primary
    * artifact.
    *
    * Scale shape: one groupBy over ≤ nBins+groups keys with map-side
    * combine — no window, no sort, one shuffle of O(bins) rows.
    */
  def calibrationBuckets(df: DataFrame, scoreCol: String, labelCol: String,
                         nBins: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val s0 = col(scoreCol).cast("double")
    val lab = col(labelCol).cast("double")
    // NULL/NaN first: they'd pass the range guard under 3-valued logic
    // and emit a junk NULL bin that NULLs any downstream ECE sum
    val checked = when(s0.isNull || isnan(s0) || s0 < 0.0 || s0 > 1.0,
      raise_error(concat(
        lit(s"calibrationBuckets: scoreCol '$scoreCol' must be in [0,1], got "),
        coalesce(s0.cast("string"), lit("NULL"))))).otherwise(s0)
    val bin = least(floor(checked * nBins), lit(nBins - 1L)).cast("bigint")
    // labels get the same loud guard as scores (mirrors aucByGroup): a
    // NULL or non-0/1 label silently counted as 'incorrect' would skew
    // accuracy/ECE undetected — fail the job instead
    val labChecked = when(lab.isNull || (lab =!= 0.0 && lab =!= 1.0),
      raise_error(concat(
        lit(s"calibrationBuckets: labelCol '$labelCol' must be 0 or 1, got "),
        coalesce(lab.cast("string"), lit("NULL"))))).otherwise(lab)
    val g = groupCols.map(col)
    df.groupBy((g :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("n"),
        avg(checked).as("confidence"),
        avg(labChecked).as("accuracy"))
      .withColumn("gap", abs(col("confidence") - col("accuracy")))
  }
}
