package graft.sources

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Content manifest for parquet corpora — the reproducibility/audit
  * layer a training-data publish needs: after writing a curated corpus,
  * record per-shard row counts and an order-independent content hash,
  * so any later consumer (or a re-run of the pipeline) can verify the
  * corpus is bit-for-bit the one that was published without trusting
  * file sizes or mtimes.
  *
  * Scale stance: the verification scan is one distributed pass
  * (xxhash64 per row folded with bit_xor per file — commutative, so no
  * ordering requirement and full map-side aggregation); only the
  * per-FILE summary (#files rows, not #rows) ever reaches the driver.
  * The manifest itself is a single JSON file beside the data.
  */
object Manifest {

  val ManifestFile = "_graft_manifest.json"

  /** Per-file (path, rows, xor- AND sum-folded xxhash64 of all
    * columns). The path is RELATIVE to the corpus root — the trailing
    * `depth` hive partition dirs plus the basename — so the manifest
    * survives a directory move or bucket rename, and files in different
    * partition dirs never collide (two tasks each holding two partition
    * values write the SAME basename under different dirs — a
    * basename-only key silently merges them). TWO commutative folds because
    * each alone has a blind spot: xor cancels on even multiplicities
    * (shard [a,a] → 0 ← [b,b]), sum is weaker against crafted
    * collisions — together a tamper must preserve both. The sum runs in
    * decimal(38,0) so it never overflows (2⁶⁴·rows ≪ 10³⁸) and is
    * serialized as a STRING in the manifest (JSON numbers would lose
    * precision past 2⁵³).
    */
  private def shardSummary(back: DataFrame, depth: Int): DataFrame = {
    val cols = back.columns.map(col)
    val segs = split(input_file_name(), "/")
    back
      .withColumn("__file",
        concat_ws("/", slice(segs, size(segs) - lit(depth), lit(depth + 1))))
      .withColumn("__h", xxhash64(cols: _*))
      .groupBy("__file")
      .agg(count(lit(1)).as("rows"), expr("bit_xor(__h)").as("content_hash"),
        sum(col("__h").cast("decimal(38,0)")).cast("string").as("content_sum"))
      .select(col("__file").as("file"), col("rows"), col("content_hash"),
        col("content_sum"))
  }

  /** Write `df` to `path` as parquet, then scan it back and write a
    * manifest JSON recording per-shard rows + content hashes and the
    * corpus totals. Returns the shard summary. `partitionCols` publishes
    * hive-style value directories (shard-by-key publish); the read-back
    * scan restores the partition columns, so they are hashed into the
    * content folds like any other column.
    */
  def writeWithManifest(df: DataFrame, path: String,
                        partitionCols: Seq[String] = Nil): DataFrame = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    // An EMPTY frame under partitionBy writes no data files at all, so
    // the published dir would be unreadable (parquet schema inference
    // has nothing to read) and every downstream step — the manifest
    // read-back, profiles, consumers — would die on
    // UNABLE_TO_INFER_SCHEMA. An over-filtered pipeline must still
    // publish a VALID, verifiable corpus: emit one explicit 0-row shard
    // carrying the full schema (partition columns ride as ordinary
    // columns — with no hive dirs present the reader takes the file
    // schema whole).
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var hasData = false
    while (!hasData && files.hasNext) {
      val n = files.next().getPath.getName
      hasData = !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData)
      df.sparkSession.createDataFrame(
          df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .coalesce(1).write.mode("append").parquet(path)
    // the placeholder shard lands at the CORPUS ROOT (no hive dirs), so
    // the manifest key depth must be 0 there — keeping partitionCols.size
    // would slice directories ABOVE the corpus root into the file key and
    // break verify-after-move (r14 review)
    writeManifestFor(df.sparkSession, path, if (hasData) partitionCols.size else 0)
  }

  /** Compute and store the manifest for an ALREADY-written parquet dir —
    * the manifest half of [[writeWithManifest]], for writers that control
    * their own layout (e.g. `Layout.zorderWrite`). Returns the per-shard
    * summary frame.
    */
  def writeManifestFor(spark: SparkSession, path: String,
                       partitionDepth: Int = 0): DataFrame = {
    val back = spark.read.parquet(path)
    val summary = shardSummary(back, partitionDepth)
    // the inferred data columns, without the ones partition discovery adds
    val dataSchema = back.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.dataSchema
    }.get
    // one row per FILE — config-sized
    storeManifest(spark, path, summary.collect(), "file", partitionDepth, dataSchema)
    summary
  }

  private val json = JsonMapper.builder().build()

  /** Write the manifest JSON of the collected per-file entries (file name
    * under `fileCol`, plus `rows`, `content_hash` and `content_sum`) to the
    * corpus's [[ManifestFile]]: the corpus totals, the data schema (the
    * columns the files hold, without the partition columns, as
    * `StructType.json`), then the shards by file.
    */
  private def storeManifest(spark: SparkSession, path: String, entries: Array[Row],
                            fileCol: String, partitionDepth: Int,
                            dataSchema: StructType): Unit = {
    val doc = json.createObjectNode()
      .put("total_rows", entries.map(_.getAs[Long]("rows")).sum)
      .put("corpus_hash", entries.map(_.getAs[Long]("content_hash")).foldLeft(0L)(_ ^ _))
      .put("corpus_sum", entries.map(r => BigInt(r.getAs[String]("content_sum"))).sum.toString)
      .put("partition_depth", partitionDepth)
    doc.set[JsonNode]("schema", json.readTree(dataSchema.json))
    val shards = doc.putArray("shards")
    entries.sortBy(_.getAs[String](fileCol)).foreach { r =>
      shards.addObject()
        .put("file", r.getAs[String](fileCol))
        .put("rows", r.getAs[Long]("rows"))
        .put("content_hash", r.getAs[Long]("content_hash"))
        .put("content_sum", r.getAs[String]("content_sum"))
    }
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((json.writeValueAsString(doc) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** [[writeWithManifest]] + stored column profile from ONE read-back
    * scan (r18, guide §6 one-pass I/O): the manifest's per-file
    * aggregation carries the per-column profile aggregates (HLL sketch,
    * null count, min/max) alongside the content folds, so the published
    * corpus is scanned once where write-then-profile scanned it twice.
    * The profile parquet stores one row per (file, column) —
    * [[mergedProfile]] merges per-file rows exactly as it merges
    * per-corpus rows (HLL union + exact-field sums/min/max), so every
    * profile consumer is unchanged. Returns (per-file shard summary,
    * MERGED profile) — both built from the already-collected entries,
    * so consuming them costs no further corpus scan.
    */
  def writeWithManifestAndProfile(df: DataFrame, path: String,
                                  partitionCols: Seq[String] = Nil,
                                  lgK: Int = 12): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var hasData = false
    while (!hasData && files.hasNext) {
      val n = files.next().getPath.getName
      hasData = !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) {
      // the writeWithManifest empty-corpus contract: one explicit 0-row
      // root shard so the dir stays readable; the per-file aggregation
      // sees no rows, so the profile falls back to the global (0-row)
      // shape writeProfileFor would store
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .coalesce(1).write.mode("append").parquet(path)
      val summary = writeManifestFor(spark, path, 0)
      val prof = writeProfileFor(spark, path, lgK = lgK)
      return (summary, prof)
    }
    val depth = partitionCols.size
    // read back with the data schema just written: inferring it runs a
    // footer job outside any SQL execution. The partition columns come
    // from the directory names, typed as a plain read types them, so the
    // columns the content hash folds keep a plain read's order and types
    // (data columns, then partition columns, all nullable).
    val dataSchema = StructType(
      df.schema.filterNot(f => partitionCols.contains(f.name)).map(_.copy(nullable = true)))
    val back = spark.read.schema(dataSchema).parquet(path)
    val cs = back.columns.toSeq
    val byName = back.schema.fields.map(f => f.name -> f.dataType).toMap
    val segs = split(input_file_name(), "/")
    val profAggs = cs.flatMap { c =>
      val numeric = byName(c).isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(
        hll_sketch_agg(col(c).cast("string"), lgK).as(s"__hll_$c"),
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_$c"),
        (if (numeric) min(col(c).cast("double")) else lit(null).cast("double")).as(s"__minn_$c"),
        (if (numeric) max(col(c).cast("double")) else lit(null).cast("double")).as(s"__maxn_$c"),
        (if (numeric) lit(null).cast("string") else min(col(c).cast("string"))).as(s"__mins_$c"),
        (if (numeric) lit(null).cast("string") else max(col(c).cast("string"))).as(s"__maxs_$c"))
    }
    val entries = back
      .withColumn("__file",
        concat_ws("/", slice(segs, size(segs) - lit(depth), lit(depth + 1))))
      .withColumn("__h", xxhash64(cs.map(col): _*))
      .groupBy("__file")
      .agg(count(lit(1)).as("rows"),
        (Seq(expr("bit_xor(__h)").as("content_hash"),
          sum(col("__h").cast("decimal(38,0)")).cast("string").as("content_sum")) ++
          profAggs): _*)
      .collect()
    storeManifest(spark, path, entries, "__file", depth, dataSchema)
    // per-(file, column) profile rows in Sketches.profile's exact schema
    import org.apache.spark.sql.types._
    val profSchema = StructType(Seq(
      StructField("col_name", StringType), StructField("ndv_sketch", BinaryType),
      StructField("null_count", LongType), StructField("row_count", LongType),
      StructField("min_num", DoubleType), StructField("max_num", DoubleType),
      StructField("min_str", StringType), StructField("max_str", StringType)))
    val profRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    entries.foreach { r =>
      cs.foreach { c =>
        profRows.add(org.apache.spark.sql.Row(
          c, r.getAs[Array[Byte]](s"__hll_$c"), r.getAs[Long](s"__nulls_$c"),
          r.getAs[Long]("rows"),
          r.getAs[java.lang.Double](s"__minn_$c"), r.getAs[java.lang.Double](s"__maxn_$c"),
          r.getAs[String](s"__mins_$c"), r.getAs[String](s"__maxs_$c")))
      }
    }
    val profile = spark.createDataFrame(profRows, profSchema)
    profile.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(path, ProfileDir).toString)
    val summary = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row]({
        val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
        entries.foreach(r => l.add(org.apache.spark.sql.Row(
          r.getAs[String]("__file"), r.getAs[Long]("rows"),
          r.getAs[Long]("content_hash"), r.getAs[String]("content_sum"))))
        l
      }),
      StructType(Seq(StructField("file", StringType), StructField("rows", LongType),
        StructField("content_hash", LongType), StructField("content_sum", StringType))))
    (summary, graft.stats.Sketches.mergeProfiles(Seq(profile)))
  }

  val ProfileDir = "_graft_profile"

  /** Write the mergeable column-profile table (stats/Sketches) next to
    * an already-published corpus: one scan of `path`, profile parquet at
    * `<path>/_graft_profile/` (underscore prefix → invisible to corpus
    * reads). This is the shard half of the no-rescan stats contract:
    * profile each published shard-dir once, answer corpus-wide stats by
    * [[mergedProfile]] over the profile tables alone.
    */
  def writeProfileFor(spark: SparkSession, path: String,
                      cols: Seq[String] = Nil, lgK: Int = 12): DataFrame = {
    val prof = graft.stats.Sketches.profile(spark.read.parquet(path), cols, lgK)
    prof.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(path, ProfileDir).toString)
    readProfile(spark, path)
  }

  /** The stored profile of one published corpus dir. */
  def readProfile(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(new org.apache.hadoop.fs.Path(path, ProfileDir).toString)

  /** Corpus-wide statistics across any number of published dirs —
    * merges the stored profile tables, never rescans the corpora.
    */
  def mergedProfile(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "mergedProfile: no paths given")
    graft.stats.Sketches.estimate(
      graft.stats.Sketches.mergeProfiles(paths.map(p => readProfile(spark, p))))
  }

  /** Drift report between two PUBLISHED corpus versions: merge each
    * side's stored shard profiles, compare (stats/Sketches.profileDrift)
    * — corpus-change audit that never rescans either corpus.
    */
  def profileDrift(spark: SparkSession, oldPaths: Seq[String],
                   newPaths: Seq[String]): DataFrame =
    graft.stats.Sketches.profileDrift(
      mergedProfile(spark, oldPaths), mergedProfile(spark, newPaths))

  /** Re-scan `path` (with the manifest's stored data schema, see
    * [[read]]) and compare against its stored manifest. Returns a
    * per-shard status frame (file, manifest_rows, actual_rows,
    * manifest_hash, actual_hash, ok) — a full-outer join, so shards
    * that VANISHED since publish and shards that APPEARED both surface
    * (with nulls on the missing side and ok = false).
    */
  def verifyManifest(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val doc = readManifest(spark, path)
    // Manifests written before partitioned publish lack partition_depth —
    // depth-0 by construction.
    val depth = doc.path("partition_depth").asInt(0)
    val stored = doc.path("shards").asScala.toSeq.map(s =>
        (s.path("file").asText, s.path("rows").asLong, s.path("content_hash").asLong,
          s.path("content_sum").asText))
      .toDF("file", "manifest_rows", "manifest_hash", "manifest_sum")
    val actual = shardSummary(readWith(spark, path, doc), depth)
      .withColumnRenamed("rows", "actual_rows")
      .withColumnRenamed("content_hash", "actual_hash")
      .withColumnRenamed("content_sum", "actual_sum")
    stored.join(actual, Seq("file"), "full_outer")
      .withColumn("ok",
        col("manifest_rows") === col("actual_rows") &&
          col("manifest_hash") === col("actual_hash") &&
          col("manifest_sum") === col("actual_sum"))
      .withColumn("ok", coalesce(col("ok"), lit(false)))
  }

  /** Read a published corpus with the data schema its manifest stored, so
    * no schema-inference job runs; the partition columns come from
    * directory discovery, as in a plain read. A manifest written before
    * the schema was stored falls back to inference.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readWith(spark, path, readManifest(spark, path))

  private def readWith(spark: SparkSession, path: String, doc: JsonNode): DataFrame =
    if (doc.has("schema"))
      spark.read.schema(DataType.fromJson(doc.get("schema").toString).asInstanceOf[StructType])
        .parquet(path)
    else spark.read.parquet(path)

  /** The corpus's manifest document, parsed on the driver (no
    * spark.read.json job).
    */
  private def readManifest(spark: SparkSession, path: String): JsonNode = {
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $ManifestFile under $path")
    val in = fs.open(p)
    try json.readTree(in) finally in.close()
  }
}
