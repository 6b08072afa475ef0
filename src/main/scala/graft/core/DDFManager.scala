package graft.core

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.concurrent.TrieMap
import java.util.concurrent.atomic.AtomicLong

/** Result of `sql(...)`: rows rendered as tab-joined strings
  * (reference: flink SqlHandler.scala:217-248 `SqlResult`).
  */
final case class SqlResult(schema: StructType, rows: Seq[String])

/** The engine entry point: owns the SparkSession and the name → DDF
  * catalog (reference: FlinkDDFManager.scala:19; registry usage at
  * SqlHandler.scala:34,66,154). Unlike the reference there is no
  * handler-composition or representation graph — a `DataFrame` is the one
  * representation, and Catalyst is the optimizer.
  */
final class DDFManager(val spark: SparkSession) {

  // the native Catalyst functions (vector_cosine, word_shingles,
  // bounded_top_k, …) are part of the engine's SQL surface — register
  // them with the session up front (idempotent) so dialect queries can
  // use them without a separate opt-in call
  graft.functions.GraftFunctions.ensureRegistered(spark)

  private val registry = TrieMap.empty[String, DDF]
  private val nameSeq = new AtomicLong(0)

  /** Generated names follow the reference's `tbl<suffix>` convention
    * (reference: AggregationHandler.scala:87-88) but are sequential, not
    * random — deterministic runs matter more than opacity.
    */
  def freshName(): String = s"tbl_${nameSeq.incrementAndGet()}"

  def register(df: DataFrame, name: String = null): DDF = {
    val n = Option(name).getOrElse(freshName())
    val ddf = new DDF(this, df, n)
    df.createOrReplaceTempView(n)
    registry.put(n, ddf)
    ddf
  }

  private[core] def rename(oldName: String, newName: String): Unit =
    registry.remove(oldName).foreach(d => registry.put(newName, d))

  def getDDFByName(name: String): DDF =
    registry.getOrElse(name, throw new IllegalArgumentException(s"No DDF named '$name'"))
  def getOrNull(name: String): DDF = registry.get(name).orNull
  def listDDFs(): Seq[String] = registry.keys.toSeq.sorted
  def removeDDF(name: String): Unit = {
    registry.remove(name)
    spark.catalog.dropTempView(name)
  }

  // ---- SQL front-door (dialect: CREATE / LOAD / SELECT, @this) ----

  /** Execute a dialect statement, returning tab-joined string rows
    * (reference: SqlHandler.scala:217-248).
    */
  def sql(command: String): SqlResult = {
    val ddf = sql2ddf(command)
    SqlResult(ddf.schema, ddf.collectStrings())
  }

  /** Execute a dialect statement, returning a registered DDF
    * (reference: SqlHandler.scala:64-104).
    */
  def sql2ddf(command: String): DDF = graft.sql.Dialect.run(this, command)

  /** `@this` substitution for DDF-scoped SQL (reference: ddf-core
    * TableNameReplacer, wired at SqlHandler.scala:169-175).
    */
  def sql2ddf(command: String, self: DDF): DDF =
    sql2ddf(command.replace("@this", self.name))
  def sql(command: String, self: DDF): SqlResult =
    sql(command.replace("@this", self.name))

  // ---- ingestion ----

  /** Read a delimited text file with auto-named columns V1..Vn
    * (reference: FlinkDDFManager.scala:30-92).
    *
    * `sampleInference = false` (default): Spark's full-scan CSV inference —
    * more robust (it sees every row), kept as the Spark-first default.
    * `sampleInference = true`: reference-exact 5-row voting — sample the
    * first 5 lines and vote each column's type with the reference's
    * regexes (utils/Utils.java:97-150; getColumnInfo FlinkDDFManager.scala:
    * 62-91). The two diverge when a column's type changes after row 5:
    * the reference (and this mode) keeps the 5-row vote and nulls
    * unparseable later cells.
    */
  def loadFile(path: String, sep: String = ",", sampleInference: Boolean = false): DDF = {
    val reader = spark.read
      .option("sep", sep)
      .option("nullValue", "NA")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    val df =
      if (!sampleInference) {
        val inferred = reader.option("inferSchema", "true").csv(path)
        inferred.toDF(inferred.columns.indices.map(i => s"V${i + 1}"): _*)
      } else {
        // first 5 lines in file order (reference sampleSize = 5,
        // FlinkDDFManager.scala:36-40)
        val sample = spark.read.textFile(path).limit(5).collect().toSeq
        require(sample.nonEmpty, s"cannot infer schema of empty file $path")
        // java String.split semantics (drops trailing empties) — same call
        // the reference makes on its sample rows
        val cells = sample.map(_.split(java.util.regex.Pattern.quote(sep)))
        val n = cells.head.length
        val fields = (0 until n).map { i =>
          StructField(s"V${i + 1}",
            DDFManager.voteType(cells.map(r => if (i < r.length) r(i) else null)))
        }
        // read everything as string, then cast per voted type: Spark's CSV
        // boolean parser accepts only true/false, but the reference's vote
        // admits T/F cells — cast explicitly so those survive; cells that
        // fail the cast (e.g. a type change after row 5) become null
        import org.apache.spark.sql.functions.{col, expr}
        val raw = reader
          .schema(StructType(fields.map(f => StructField(f.name, StringType))))
          .csv(path)
        raw.select(fields.map { f =>
          f.dataType match {
            case BooleanType => expr(
              s"""CASE WHEN lower(${f.name}) IN ('t', 'true') THEN true
                 |WHEN lower(${f.name}) IN ('f', 'false') THEN false END""".stripMargin)
              .as(f.name)
            case StringType => col(f.name)
            // try_cast: ANSI mode (Spark 4 default) makes a plain cast
            // THROW on malformed cells; the reference nulls them instead
            case dt => expr(s"try_cast(${f.name} AS ${dt.sql})").as(f.name)
          }
        }: _*)
      }
    register(df)
  }

  /** Read a parquet table and register it under `name`. */
  def loadParquet(path: String, name: String): DDF =
    register(spark.read.parquet(path), name)

  /** Read a JSONL (newline-delimited JSON) table — the lingua franca of
    * text-corpus distribution — with inferred schema, registered under
    * `name`. Spark's reader is distributed and column-pruning, so
    * downstream projections prune at the scan.
    */
  def loadJson(path: String, name: String): DDF =
    register(spark.read.json(path), name)

  /** [[loadJson]] with a declared schema (skips inference; extra JSON
    * fields are dropped, missing ones null).
    */
  def loadJson(path: String, name: String, schema: StructType): DDF =
    register(spark.read.schema(schema).json(path), name)

  /** Read an ORC table and register it under `name` (same pushdown and
    * pruning properties as parquet).
    */
  def loadOrc(path: String, name: String): DDF =
    register(spark.read.orc(path), name)

  /** Declared-schema empty table (reference: SqlHandler.scala:54-61). */
  def createTable(name: String, schema: StructType): DDF =
    register(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), name)

  // ---- persistence (SURVEY S4) ----

  /** Persist a DDF as parquet under `rootDir/namespace/name`; returns the
    * path. The catalog IS the directory layout (reference semantics:
    * PersistenceHandlerSpec.scala:16-38 lists namespaces and their
    * items) — no side manifest to drift, and the Hadoop FS API makes
    * the same listing work on HDFS/S3 on a cluster.
    */
  def persist(ddf: DDF, rootDir: String, namespace: String = "default"): String = {
    val path = s"$rootDir/$namespace/${ddf.name}"
    ddf.df.write.mode("overwrite").parquet(path)
    path
  }
  def unpersist(path: String, name: String): DDF = loadParquet(path, name)

  /** Publish-grade persist — S4 composed with the p04 manifest machinery:
    * same catalog layout as [[persist]], but written through
    * [[graft.sources.Manifest.writeWithManifest]], so the stored item carries
    * per-shard row counts and content hashes alongside the data.
    */
  def persistVerified(ddf: DDF, rootDir: String, namespace: String = "default"): String = {
    val path = s"$rootDir/$namespace/${ddf.name}"
    graft.sources.Manifest.writeWithManifest(ddf.df, path)
    path
  }

  /** Unpersist that refuses a tampered or incomplete catalog item: every
    * manifest shard must verify (rows + xor hash + sum fold) before the
    * frame is handed back. The failure names the offending shard files —
    * the verify frame is config-sized (one row per file), so the collect
    * is not a data-path collect.
    */
  def unpersistVerified(path: String, name: String): DDF = {
    import org.apache.spark.sql.functions.col
    val bad = graft.sources.Manifest.verifyManifest(spark, path)
      .filter(!col("ok")).select("file").collect().map(_.getString(0))
    require(bad.isEmpty, s"unpersistVerified: ${bad.length} shard(s) fail " +
      s"integrity under $path: ${bad.mkString(", ")}")
    loadParquet(path, name)
  }

  /** Namespaces currently holding persisted items (reference
    * listNamespaces): the visible subdirectories of `rootDir`. Empty when
    * nothing was ever persisted.
    */
  def listNamespaces(rootDir: String): Seq[String] = listVisibleDirs(rootDir)

  /** Item names persisted under a namespace (reference listItems). */
  def listPersisted(rootDir: String, namespace: String = "default"): Seq[String] =
    listVisibleDirs(s"$rootDir/$namespace")

  private def listVisibleDirs(dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }
}

object DDFManager {

  /** Reference-exact per-column type vote over a sample
    * (reference: flink/src/main/java/io/ddf/flink/utils/Utils.java:97-150
    * `determineType`, doPreferDouble = true): null/"NA"/"Na"/blank cells
    * are ignored; all-ignored → string; digits (with ','-grouping) →
    * int, with a '.' → double; t/f/true/false (any case) → boolean;
    * anything else → string.
    */
  private[core] def voteType(vector: Seq[String]): DataType = {
    var isNumber = true; var isInteger = true; var isLogical = true; var allNA = true
    vector.foreach { s =>
      if (s == null || s.startsWith("NA") || s.startsWith("Na") || s.matches("^\\s*$")) {
        // ignore — doesn't vote
      } else {
        allNA = false
        if (isNumber) {
          if (!s.matches("(^|^-)((\\d+(,\\d+)*)|(\\d*))\\.?\\d+$")) isNumber = false
          else if (isInteger && s.matches("(^|^-)\\d*\\.{1}\\d+$")) isInteger = false
        }
        if (isLogical && !s.toLowerCase.matches("^t|f|true|false$")) isLogical = false
      }
    }
    if (allNA) StringType
    else if (isNumber) { if (isInteger) IntegerType else DoubleType }
    else if (isLogical) BooleanType
    else StringType
  }
  /** Entries in Spark's per-JVM cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). The
    * cache is an LRU keyed on the generated source, so a session whose
    * working set of distinct code bodies exceeds it evicts every entry
    * before its next use: each repeated plan shape is compiled by Janino
    * again, loaded as a new class and JIT-compiled again. Measured
    * working sets: the analyst_sql benchmark workload needs ~172 bodies,
    * curation_build ~218, and one `graft.Verify` pass over all 291
    * registry queries at sf0.001 compiles ~4 280 distinct bodies (7 750
    * compiles at the default). The bound leaves ~1.9× headroom over the
    * registry. An entry holds ~30 KB of heap (its source is the key), so
    * a full cache costs ~240 MB; entries exist only once compiled.
    */
  val CodegenCacheEntries = 8192

  /** Build a scale-ready local session: AQE on, one shuffle partition
    * per core (the cluster deployment overrides via spark-submit conf),
    * UTC session time, a codegen cache sized by [[CodegenCacheEntries]].
    * The one session recipe of the engine's mains, tools and tests.
    */
  def localSession(cores: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def apply(spark: SparkSession): DDFManager = new DDFManager(spark)
}
