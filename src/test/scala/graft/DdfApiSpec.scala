package graft

import graft.core.DDFManager

/** Reference-style call-site parity: the convenience methods on DDF mirror
  * ddf-flink's DDF surface, so a reference user's code ports 1:1.
  */
class DdfApiSpec extends SparkTestBase {

  private lazy val m = DDFManager(spark)

  private def fixture() = {
    import spark.implicits._
    m.register(Seq(
      (2008, 1, 10.0, "WN"), (2008, 2, -3.0, "AA"), (2009, 1, 25.0, "WN"),
      (2009, 2, 7.0, "DL"), (2010, 1, 55.0, "WN")
    ).toDF("year", "month", "delay", "carrier"))
  }

  test("reference-style chain through DDF methods") {
    val ddf = fixture()
    assert(ddf.project("year", "delay").numColumns == 2)
    assert(ddf.removeColumn("month").numColumns == 3)
    assert(ddf.head(2).size == 2)
    assert(ddf.top(2, "delay").df.collect().head.getDouble(2) == 55.0)

    val agg = ddf.aggregate("year, count(*)")
    assert(agg("2008") == Seq(2L))
    assert(ddf.aggregateOnColumn("max", "year") == 2010)
    assert(ddf.groupBy(Seq("carrier")).agg(Seq("n=count(*)")).numRows == 3)
    assert(ddf.xtabs("carrier, n=count(*)").numRows == 3)

    val s = ddf.getSummary.find(_.column == "delay").get
    assert(s.count == 5 && s.max == 55.0)
    assert(ddf.getVectorMean("delay") == 18.8)
    assert(ddf.getVectorQuantiles("delay", Seq(0.5)).head == 10.0)
    assert(ddf.getVectorHistogram("delay", 2).map(_._3).sum == 5)
    assert(ddf.getVectorCor("year", "delay") > 0)

    val binned = ddf.copy().binning("delay", "CUSTOM", breaks = Seq(0.0, 20.0, 60.0),
      includeLowest = true)
    assert(binned.numRows == 4) // -3.0 dropped
    assert(binned.isFactor("delay"))

    assert(ddf.copy().transformUDF("dbl", "delay * 2").numColumns == 5)
    val scaled = ddf.copy().transformScaleMinMax(Seq("delay"))
    assert(scaled.df.agg(org.apache.spark.sql.functions.max("delay"))
      .first().getDouble(0) == 1.0)

    val j = ddf.join(fixture(), "inner", byColumns = Seq("year", "month"))
    assert(j.numRows == 5)
    assert(ddf.merge(fixture()).numRows == 10)

    val res = ddf.sql("select carrier, count(*) as n from @this group by carrier order by carrier")
    assert(res.rows == Seq("AA\t1", "DL\t1", "WN\t3"))
  }

  test("dropNA/fillNA via DDF methods") {
    import spark.implicits._
    val ddf = m.register(Seq(Some(1.0), None, Some(3.0)).toDF("x"))
    assert(ddf.dropNA().numRows == 2)
    assert(ddf.fillNA(0.0).df.filter("x = 0.0").count() == 1)
  }

  test("curation facade chains: c4Filter -> dedupExact -> dedupNearDup -> enrichText") {
    import spark.implicits._
    val docs = m.register(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank."),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank."), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog near the river tonight."), // near dup
      (4L, "an entirely different sentence about distributed query engines runs here."),
      (5L, "no punct so c4 drops this one entirely for missing terminal marks")
    ).toDF("doc_id", "text"))
    val out = docs.c4Filter("text", "doc_id")
      .dedupExact("text", "doc_id")
      .dedupNearDup("text", "doc_id", threshold = 0.5)
      .enrichText("text")
    val ids = out.df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L), s"got $ids") // 5 fails c4, 2 exact-dups, 3 near-dups
    assert(out.columnNames.contains("quality") && out.columnNames.contains("lang_pred"))
  }

  test("round-14 facade: dedupSoft weights + datacard report") {
    import spark.implicits._
    val docs = m.register(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank.", "web"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank.", "web"), // dup of 1
      (3L, "an entirely different sentence about distributed query engines runs here.", "web"),
      (4L, "ein ganz anderer satz der auf deutsch ist und die sprache wechselt.", "books")
    ).toDF("doc_id", "text", "source"))
    val soft = docs.dedupSoft("text", "doc_id", threshold = 0.9)
    assert(soft.df.count() == 4, "soft dedup keeps every row")
    val w = soft.df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    assert(w(1L) == 0.5 && w(2L) == 0.5, s"dup pair shares one unit: $w")
    assert(w(3L) == 1.0 && w(4L) == 1.0)
    val card = docs.datacard("text", "doc_id", "source", qualityMin = 0.0)
      .df.orderBy("source").collect()
    assert(card.map(_.getAs[String]("source")).toSeq == Seq("books", "web"))
    assert(card(1).getAs[Long]("n_docs") == 3 && card(1).getAs[Long]("n_dup_docs") == 1)
  }

  test("round-10 facade: cube / resample+interpolate / bpe / publishZOrdered") {
    import spark.implicits._
    val ddf = fixture()
    val c = ddf.cube(Seq("year"), Seq("n=count(*)"))
    // 3 years + grand total
    assert(c.numRows == 4 && c.columnNames.contains("gid"))
    val gs = ddf.groupingSets(Seq("year", "carrier"), Seq(Seq("year"), Nil),
      Seq("mx=max(delay)"))
    assert(gs.numRows == 4)

    val ev = m.register(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 4.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:10:00"), 8.0)
    ).toDF("k", "ts", "v"))
    val rs = ev.resample("ts", Seq("k"), 3600L, Seq("v=max(v)"))
    assert(rs.numRows == 3, "densified to 3 hourly buckets")
    // full comma grammar: both aggs computed, none silently dropped
    val rs2 = ev.resample("ts", Seq("k"), 3600L, Seq("a=max(v), b=min(v)"))
    assert(rs2.columnNames.containsSlice(Seq("a", "b")))
    intercept[IllegalArgumentException](
      ev.resample("ts", Seq("k"), 3600L, Seq("k, a=max(v)")))
    val li = rs.interpolate("bucket", Seq("k"), "v")
    assert(li.df.orderBy("bucket").collect()(1).getAs[Double]("interpolated") == 6.0)

    val docs = m.register(Seq((1L, "aa ab aa ab aa")).toDF("id", "text"))
    val merges = docs.bpeTrain("text", nMerges = 1, minFreq = 2L)
    assert(merges.df.first().getAs[String]("merged") == "aa")
    assert(docs.bpeEncode("text", Seq(("a", "a"))).df
      .first().getSeq[String](2).toList == List("aa", "a", "b", "aa", "a", "b", "aa"))

    withTempDir("ddf_zpub") { dir =>
      ddf.publishZOrdered(s"$dir/z", Seq("year", "month"), numFiles = 2)
      assert(spark.read.parquet(s"$dir/z").count() == 5)
    }
  }

  test("round-11 facade: editDistanceLookup / jaccardRetrieve+rrfFuse / profileDrift / byte BPE") {
    import spark.implicits._
    val canon = m.register(Seq((1L, "alpha"), (2L, "alphb"), (3L, "zz"))
      .toDF("id", "s"))
    val probes = m.register(Seq((10L, "alpha")).toDF("id", "s"))
    val hits = probes.editDistanceLookup("s", "id", canon, "s", "id", maxDist = 1)
    assert(hits.df.collect().map(_.getLong(1)).toSet == Set(1L, 2L))

    val docs = m.register(Seq((1L, "apple banana"), (2L, "apple cherry"))
      .toDF("doc_id", "text"))
    val qs = m.register(Seq((1L, "apple cherry")).toDF("qid", "qtext"))
    val jc = docs.jaccardRetrieve("text", "doc_id", qs, "qid", "qtext", k = 2)
    val fused = jc.rrfFuse(Seq(jc), k = 1)
    assert(fused.df.first().getAs[Long]("id") == 2L)

    val oldP = m.register(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")).profileSketch()
    val newP = m.register(Seq((1L, 1.0), (2L, 9.0), (3L, 2.0)).toDF("id", "v"))
      .profileSketch()
    val drift = oldP.profileDrift(newP).df.collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Boolean]("range_widened")).toMap
    assert(drift("v") && drift("id"))

    val b = m.register(Seq((1L, "año 42 año 42")).toDF("id", "text"))
    assert(b.bpeTrain("text", nMerges = 1, minFreq = 2L, byteLevel = true)
      .df.first().getAs[String]("merged") == "3432")
  }

  test("round-10 facade: scd2 / applyChanges / validate / jaccardJoin") {
    import spark.implicits._
    val snaps = m.register(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "b")
    ).toDF("k", "t", "tier"))
    assert(snaps.scd2(Seq("k"), "t", Seq("tier")).numRows == 2)

    val base = m.register(Seq((1L, 10.0)).toDF("k", "v"))
    val ch = m.register(Seq((1L, 99.0,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "U")).toDF("k", "v", "t", "op"))
    val cur = base.applyChanges(ch, Seq("k"), Seq("v"), "t", "op")
    assert(cur.df.first().getDouble(1) == 99.0)

    import graft.operators.Validate
    val rep = base.validate(Seq(Validate.notNull("v"), Validate.inRange("v", 0, 5)))
    assert(rep.df.filter(org.apache.spark.sql.functions.col("violations") > 0).count() == 1)

    val docs = m.register(Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text"))
    assert(docs.jaccardJoin("text", "id", 0.5).numRows == 1)
  }

  test("round-10 facade: profileSketch / heavyHitters") {
    import spark.implicits._
    val ddf = m.register(Seq(("x", 1), ("x", 2), ("y", 3), (null, 4))
      .toDF("g", "v"))
    val prof = ddf.profileSketch().df.collect()
      .map(r => r.getString(0) -> r).toMap
    assert(prof("g").getAs[Long]("null_count") == 1L)
    assert(prof("g").getAs[Long]("ndv_estimate") == 2L)
    assert(prof("v").getAs[Double]("max_num") == 4.0)
    assert(ddf.heavyHitters("g", k = 1).df.first().getString(0) == "x")
  }

  test("round-14 facade: diff / overlap / eval / split / normalize chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // snapshotDiff + sourceOverlap
    val old = m.register(Seq((1L, "a"), (2L, "b")).toDF("id", "txt"))
    val nw = m.register(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "txt"))
    val diff = old.snapshotDiff(nw, Seq("id"), Seq("txt"))
    assert(diff.df.select("change").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("added", "changed"))
    val corpus = m.register(Seq(("A", "x"), ("B", "x"), ("B", "y")).toDF("src", "text"))
    assert(corpus.sourceOverlap("text", "src").numRows == 2)
    // aucByGroup + calibration + percentileRank + weightedSummary
    val scored = m.register(Seq(("g", 0.9, 1), ("g", 0.1, 0)).toDF("grp", "s", "l"))
    assert(scored.aucByGroup("s", "l", Seq("grp")).df.first().getDouble(1) == 1.0)
    assert(scored.calibration("s", "l", 4).numRows == 2)
    val pr = scored.percentileRank(Seq("s")).df
    assert(pr.columns.contains("s_pr"))
    val ws = scored.weightedSummary("l", Seq("s")).df.first()
    assert(ws.getDouble(2) == 1.0) // w_total = sum of labels
    // temporalSplit
    val ev = m.register(Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 01:00:00"))).toDF("uid", "ts"))
    val split = ev.temporalSplit("uid", "ts",
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    assert(split.df.select("split").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("test", "train"))
    // randomProject + hardNegatives
    val emb = m.register(Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1)).toDF("vid", "vec", "lab"))
    assert(emb.randomProject("vec", "p", 2).df.columns.contains("p"))
    val hn = emb.hardNegatives(
      m.register(emb.df.filter(col("vid") === 1L).withColumnRenamed("vid", "qid")),
      "vec", "vid", "qid", "lab", k = 1)
    assert(hn.df.first().getLong(1) == 2L)
    // transformScaleRobust + indexEncode
    val sc = m.register((1 to 8).map(_.toDouble).toDF("v"))
      .transformScaleRobust(Seq("v"), exact = true)
    assert(math.abs(sc.df.agg(avg("v")).first().getDouble(0)) < 1e-9)
    val enc = m.register(Seq("p", "p", "q").toDF("c")).indexEncode("c", "cid")
    assert(enc.df.filter(col("c") === "p").first().getLong(1) == 0L)
  }

  test("round-15 facade: url normalize / registered domain / url dedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = m.register(Seq(
      (1L, "HTTPS://Blog.Example.COM:443/a?utm_source=f&id=1"),
      (2L, "https://blog.example.com/a?id=1#top"),
      (3L, "https://Other.org/b")).toDF("id", "url"))
    val normed = docs.urlNormalize("url")
    assert(normed.df.filter(col("id") === 1L).first().getString(2) ==
      "https://blog.example.com/a?id=1")
    val dom = normed
      .derive(normed.df.withColumn("host",
        graft.pipeline.UrlCuration.hostOf(col("url"))))
      .registeredDomain("host")
    assert(dom.df.filter(col("id") === 1L).first()
      .getAs[String]("registered_domain") == "example.com")
    val dd = docs.urlDedup("url", "id")
    assert(dd.numRows == 2, "ids 1 and 2 collapse to one canonical URL")
  }
}
