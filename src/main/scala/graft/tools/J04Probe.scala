package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe (r17 optimization round): stage-by-stage wall times of the
  * k ≥ 3 positional-q-gram edit-distance join on j04's corpus shape —
  * replicates SetJoin's internals stage by stage so the dominant cost is
  * attributable. Not part of the driver contract.
  */
object J04Probe {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[j04probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    r
  }
  def mat(df: DataFrame): Long = df.select(xxhash64(df.columns.map(col): _*).as("h"))
    .agg(expr("bit_xor(h)")).count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DDFManager.localSession(32)
    val q = 4; val k = 3
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    // editCorpus replica (EntryPipelineBQ): 4 variants per base key
    val base = cust.select((col("c_custkey") * 4).as("k0"),
      substring(md5(concat(lit("j04:"), col("c_custkey"))), 1, 20).as("b"))
    val corpus = base.select(explode(array((0 to 3).map(lit(_)): _*)).as("r"), col("k0"), col("b"))
      .select((col("k0") + col("r")).as("id"),
        when(col("r") === 0, col("b")).otherwise(
          concat(substring(col("b"), 1, 5), lit("z"), substring(col("b"), 7, 100))).as("str"))
    // NOTE: not byte-identical to editCorpus (planted substitutions differ)
    // — same shape/cardinality, which is what the timing needs
    val strs = corpus.filter(col("str").isNotNull)
      .withColumn("len", length(col("str")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (round <- 1 to 2) {
      println(s"--- round $round")
      val n = time("count strings")(strs.count())
      val stopF = math.max(16.0, 0.05 * n)
      def posGrams(s: DataFrame): DataFrame =
        s.select(col("id"), col("len"),
          posexplode(expr(s"transform(sequence(1, greatest(len - ${q - 1}, 0)), " +
            s"i -> substring(str, i, $q))")).as(Seq("pos", "gram")))
      val grams = posGrams(strs)
      time("posGrams materialize")(mat(grams))
      val freq = grams.groupBy("gram").agg(count_distinct(col("id")).as("gf"))
      time("gram freq")(mat(freq))
      val rare = grams.join(freq.filter(col("gf") <= stopF), "gram")
        .select("id", "len", "pos", "gram")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("rare classify+persist")(rare.count())
      val ra = rare.select(col("id").as("id_a"), col("len").as("la"),
        col("pos").as("pa"), col("gram").as("ga"))
      val rb = rare.select(col("id").as("id_b"), col("len").as("lb"),
        col("pos").as("pb"), col("gram").as("gb"))
      val joined = ra.join(rb,
          col("ga") === col("gb") && col("id_a") < col("id_b") &&
            abs(col("la") - col("lb")) <= k && abs(col("pa") - col("pb")) <= k)
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("matches"))
      time("rare self-join + pair agg")(mat(joined))
      val stats = strs.select(col("id"), greatest(col("len") - (q - 1), lit(0)).as("nn"))
        .join(rare.groupBy("id").agg(count(lit(1)).as("r")), Seq("id"), "left")
        .withColumn("r", coalesce(col("r"), lit(0L)))
        .withColumn("d", col("nn") - col("r"))
      val sa = stats.select(col("id").as("id_a"), col("nn").as("na"), col("d").as("da"))
      val sb = stats.select(col("id").as("id_b"), col("nn").as("nb"), col("d").as("db"))
      val gramCands = joined.join(sa, "id_a").join(sb, "id_b")
        .filter(col("matches") >=
          greatest(greatest(col("na"), col("nb")) - (q * k) - least(col("da"), col("db")), lit(1L)))
        .select("id_a", "id_b")
      time("count-filter cands")(mat(gramCands))
      val va = strs.select(col("id").as("id_a"), col("str").as("stra"))
      val vb = strs.select(col("id").as("id_b"), col("str").as("strb"))
      val out = gramCands.distinct()
        .join(va, "id_a").join(vb, "id_b")
        .withColumn("dist", levenshtein(col("stra"), col("strb"), k))
        .filter(col("dist").between(0, k))
      time("verify levenshtein")(mat(out))
      rare.unpersist(blocking = false)
    }
    strs.unpersist(blocking = false)
    spark.stop()
  }
}
