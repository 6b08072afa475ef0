package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: dedup, similarity, text analysis,
  * multimodal plumbing.
  */
class PipelineSpec extends SparkTestBase {

  private def docs() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
      (3L, "completely different text about spark query engines and distributed joins"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "another unrelated document mentioning columnar storage formats parquet orc")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps one representative per identical text") {
    val d = Dedup.exact(docs(), "text", "doc_id")
    assert(d.count() == 4) // 1&4 merged
    val dupGroup = d.filter(col("n_dups") === 2).collect()
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keep_id") == 1L)
    assert(Dedup.exactSurvivors(docs(), "text", "doc_id").count() == 4)
  }

  test("exactSurvivors: one aggregate over one scan of the input, no join back") {
    withTempDir("graft_exact_plan") { dir =>
      docs().write.parquet(s"$dir/docs")
      val in = spark.read.parquet(s"$dir/docs")
      var out: org.apache.spark.sql.DataFrame = null
      val rec = graft.tools.Profile.record(spark) {
        out = Dedup.exactSurvivors(in, "text", "doc_id")
      }
      try {
        val nodes = rec.executions.flatMap(_.nodes).map(_.name)
        assert(nodes.count(_.startsWith("Scan")) == 1, nodes.mkString(", "))
        assert(!nodes.exists(_.contains("Join")), nodes.mkString(", "))
        assert(out.columns.toSeq == Seq("doc_id", "text"))
        assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 5L))
      } finally graft.core.Checkpoints.release(out)
    }
  }

  test("clusterRepresentativesBy keeps the max-score member, ties to max id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val scores = Seq((1L, 0.1), (2L, 0.9), (3L, 0.5), (4L, 0.2), (5L, 0.2))
      .toDF("doc_id", "score")
    val reps = Dedup.clusterRepresentativesBy(
        Dedup.dupClusters(pairs), scores, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 2L, 4L -> 5L),
      "cluster {1,2,3}: best score 2; cluster {4,5}: tie -> higher id")
  }

  test("incrementalExact: new batch dedups against the index without rescan") {
    import spark.implicits._
    val index = Dedup.exact(docs(), "text", "doc_id").select("fingerprint")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // already indexed (dup of 1)
      (11L, "a genuinely new document about stream processing"),
      (12L, "a genuinely new document about stream processing"), // in-batch dup of 11
      (13L, "another new document entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, index, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("keep_id")).toSet
    assert(out == Set(11L, 13L), "known doc dropped; in-batch dup collapsed to min id")
  }

  test("corpusDiff: added/removed/common by content, id-insensitive, null-safe") {
    import spark.implicits._
    val old = Seq((1L, Some("kept doc")), (2L, Some("dropped doc")),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val neu = Seq((10L, Some("kept doc")), (11L, Some("brand new doc")),
      (12L, Option.empty[String]), (13L, Option.empty[String])).toDF("doc_id", "text")
    val diff = Dedup.corpusDiff(old, neu, "text")
      .collect().map(r => (Option(r.getString(0)),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // re-id'd identical content is common; null text matches null text
    assert(diff.values.toSeq.sorted ==
      Seq(("added", 0L, 1L), ("common", 1L, 1L), ("common", 1L, 2L), ("removed", 1L, 0L)))
    assert(diff(None) == ("common", 1L, 2L), "null content diffed with counts")
  }

  test("paragraph/span dedup: first occurrence wins, docs reassemble in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "shared paragraph text\n\nunique to one"),
      (2L, "unique to two\n\nshared paragraph text"),   // loses the shared para
      (3L, "shared paragraph text")                      // fully duplicated -> vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_total"))).toMap
    assert(out(1L) == ("shared paragraph text\n\nunique to one", 2L, 2L))
    assert(out(2L) == ("unique to two", 1L, 2L))
    assert(!out.contains(3L), "doc with all segments duplicated disappears")
    // span flavor: 2-token spans, dup span of doc 1 dropped from doc 2
    val sp = Dedup.spanDedup(Seq(
        (1L, "alpha beta gamma delta"),
        (2L, "alpha beta epsilon zeta")).toDF("doc_id", "text"),
      "text", "doc_id", w = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(sp(1L) == "alpha beta gamma delta")
    assert(sp(2L) == "epsilon zeta")
  }

  test("semanticDecontaminate: flags near-eval vectors, max is over the whole eval set") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),    // exact eval dup -> cosine 1
      (11L, Array(0.9f, 0.44f)),   // near eval 2 -> ~0.9 vs (0.7,0.7)
      (12L, Array(-1.0f, 0.0f))    // opposite -> clean
    ).toDF("vec_id", "embedding")
    val eval = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(corpus, "embedding", "vec_id", eval, 0.95)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("max_eval_cosine"), r.getAs[Boolean]("contaminated"))).toMap
    assert(out(10L)._2 && out(10L)._1 > 0.999)
    assert(!out(11L)._2 && out(11L)._1 > 0.9)  // max picked the closer eval vector
    assert(!out(12L)._2 && out(12L)._1 < 0.1)
    // NULL embedding classifies as NOT contaminated (never vanishes from
    // both partitions); empty eval set fails loudly
    val withNull = corpus.unionAll(
      Seq((13L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val nullRow = Similarity.semanticDecontaminate(withNull, "embedding", "vec_id", eval, 0.95)
      .filter(col("id") === 13L).collect().head
    assert(!nullRow.getAs[Boolean]("contaminated") && nullRow.isNullAt(1))
    intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(corpus, "embedding", "vec_id", eval.limit(0), 0.95)
    }
  }

  test("unigramLogProb: hand-computed corpus-unigram means") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logp"))).toMap
    // vocab: a=2, b=1, c=1, N=4
    val d1 = (2 * math.log(2.0 / 4) + math.log(1.0 / 4)) / 3
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - d1) < 1e-12)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - math.log(1.0 / 4)) < 1e-12)
    // token-less docs stay in the output as (id, 0, NULL) — coverage
    val withEmpty = df.unionAll(Seq((3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val rows = TextAnalysis.unigramLogProb(withEmpty, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    assert(rows(3L).getAs[Long]("n_tokens") == 0L && rows(3L).isNullAt(2))
    assert(rows(4L).getAs[Long]("n_tokens") == 0L && rows(4L).isNullAt(2))
  }

  test("bigramLogProb: hand-computed interpolated add-1 bigram means") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_bigrams"),
          if (r.isNullAt(2)) Double.NaN else r.getAs[Double]("avg_logp2"))).toMap
    // C1: a=3 b=2 c=1, N=6; C2: "a b"=2, "b a"=1
    val lpAB = math.log((2 + 1.0 * 2 / 6) / (3 + 1.0)) // P(b|a)
    val lpBA = math.log((1 + 1.0 * 3 / 6) / (2 + 1.0)) // P(a|b)
    assert(got(1L)._1 == 2L && math.abs(got(1L)._2 - (lpAB + lpBA) / 2) < 1e-12)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - lpAB) < 1e-12)
    // single-token doc: no bigrams → (0, NULL), coverage kept
    assert(got(3L)._1 == 0L && got(3L)._2.isNaN)
  }

  test("incrementalExactBloom: identical result to incrementalExact; empty index passes all") {
    import spark.implicits._
    val index = Dedup.exact(docs(), "text", "doc_id").select("fingerprint")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // indexed dup
      (11L, "a genuinely new document about stream processing"),
      (12L, "a genuinely new document about stream processing"), // in-batch dup of 11
      (13L, "another new document entirely")
    ).toDF("doc_id", "text")
    val plain = Dedup.incrementalExact(batch, index, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val bloom = Dedup.incrementalExactBloom(batch, index, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(bloom == plain, "Bloom prefilter must be result-invariant")
    assert(bloom.map(_._2) == Set(11L, 13L))
    // empty index: every batch fingerprint survives (after in-batch collapse)
    val empty = index.limit(0)
    assert(Dedup.incrementalExactBloom(batch, empty, "text", "doc_id")
      .collect().map(_.getLong(1)).toSet == Set(10L, 11L, 13L))
  }

  test("semanticPairs/semanticDedup: within-cell near-dups found, cross-cell ignored") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.02f)),   // near-dup of 1, same cell
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.02f, 0.999f)),   // near-dup of 3, same cell
      (5L, Array(-1.0f, 0.0f))      // isolated
    ).toDF("vec_id", "embedding")
    val idx = IvfIndex.buildFromCentroids(vecs, "embedding", "vec_id",
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val pairs = Dedup.semanticPairs(idx, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)),
      "one verified pair per cell; nothing across cells")
    // end-to-end: k-means build over the same data, keep min-id reps
    val kept = Dedup.semanticDedup(vecs, "embedding", "vec_id",
        nCells = 2, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(5L) && kept.size == 3,
      "one rep per near-dup group plus the singleton")
  }

  test("diversitySample: per-cell cap, determinism, coverage of every occupied cell") {
    import spark.implicits._
    // 3 clusters with skewed sizes: 30 near x-axis, 6 near y-axis, 2 near -x
    val vecs = ((0 until 30).map(i => (i.toLong, Array(1.0f, i / 1000.0f))) ++
      (100 until 106).map(i => (i.toLong, Array(i / 1000.0f, 1.0f))) ++
      Seq((200L, Array(-1.0f, 0.01f)), (201L, Array(-1.0f, 0.02f)))).toDF("vec_id", "embedding")
    val idx = IvfIndex.buildFromCentroids(vecs, "embedding", "vec_id",
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0)))
    val s1 = IvfIndex.diversitySample(idx, perCell = 5)
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1)))
    val byCell = s1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCell(0) == 5, s"skewed cell capped at 5, got ${byCell(0)}")
    assert(byCell(1) == 5 && byCell(2) == 2,
      s"under-cap cells keep everything: $byCell")
    // deterministic: a re-run selects the identical rows
    val s2 = IvfIndex.diversitySample(idx, perCell = 5)
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(s1.sortBy(_._1).sameElements(s2.sortBy(_._1)), "hash-rank selection is a pure function")
    // hash-rank, not first-n-by-id: the capped cell is not just ids 0-4
    assert(s1.filter(_._2 == 0).map(_._1).toSet != (0L until 5L).toSet,
      "selection ranks by key hash, not raw id order")
  }

  test("IvfIndex save/load: bit-identical search, tamper detection, raw-tier optionality") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val cents = vecs.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val idx = IvfIndex.buildFromCentroids(vecs, "embedding", "vec_id", cents)
    val queries = vecs.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid")
    def search(i: IvfIndex.Index) =
      IvfIndex.topK(i, queries, "embedding", "qid", k = 5, nprobe = 2)
        .select("query_id", "id", "cosine", "rk").orderBy("query_id", "rk")
        .collect().toSeq
    val before = search(idx)
    withTempDir("graft_ivf_sl") { tmp =>
      IvfIndex.save(idx, s"$tmp/ivf")
      val loaded = IvfIndex.load(spark, s"$tmp/ivf")
      assert(loaded.centroids.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq,
        "centroids survive the round trip in cell order")
      assert(loaded.rawVecs.nonEmpty, "float tier restored")
      assert(search(loaded) == before, "search-after-load ≡ search-before-save")
      // quantized sidecar is STORED, not re-derived
      val q = spark.read.parquet(s"$tmp/ivf/quantized")
      assert(q.columns.sorted.toSeq == Seq("cell", "id", "q8") && q.count() == 100)
      // r16 advice: the loaded index CARRIES the stored tier and
      // topKQuantized serves it — a fresh build re-derives inline
      assert(loaded.quantized.nonEmpty, "loaded index carries the int8 tier")
      assert(idx.quantized.isEmpty, "fresh build derives the sidecar inline")
      assert(loaded.quantized.get.inputFiles.exists(_.contains("/quantized/")),
        "the sidecar the loaded index serves scans the stored artifact")
      def qsearch(i: IvfIndex.Index) =
        IvfIndex.topKQuantized(i, queries, "embedding", "qid",
          k = 5, nprobe = 2, shortlist = 10)
          .select("query_id", "id", "rk").orderBy("query_id", "rk")
          .collect().toSeq
      assert(qsearch(loaded) == qsearch(idx),
        "quantized search over the stored tier ≡ the in-session derivation")
      // a silently corrupted shard must fail the load loudly
      val corpusDir = new java.io.File(s"$tmp/ivf/corpus")
      val shard = java.nio.file.Files.walk(corpusDir.toPath).iterator()
      var victim: java.nio.file.Path = null
      while (shard.hasNext) {
        val p = shard.next()
        if (p.toString.endsWith(".parquet")) victim = p
      }
      java.nio.file.Files.delete(victim)
      val err = intercept[IllegalArgumentException] {
        IvfIndex.load(spark, s"$tmp/ivf")
      }
      assert(err.getMessage.contains("manifest verification"))
      // an index published without the float tier still loads (re-rank
      // falls back to the corpus frame, as topKQuantized documents)
      val bare = IvfIndex.Index(cents, idx.corpus, None)
      IvfIndex.save(bare, s"$tmp/ivf2")
      val loaded2 = IvfIndex.load(spark, s"$tmp/ivf2")
      assert(loaded2.rawVecs.isEmpty)
      assert(search(loaded2) == before, "corpus-tier search matches too")
    }
  }

  test("knnClassify: majority vote over ranked neighbors, ties to smallest label, k-bound respected") {
    import spark.implicits._
    // neighbor frame shaped like a topK result: (query_id, id, rk)
    val nn = Seq(
      (10L, 1L, 1), (10L, 2L, 2), (10L, 3L, 3),            // labels 7,7,5 → 7 by votes
      (20L, 1L, 1), (20L, 3L, 2), (20L, 4L, 3),            // labels 7,5,5 → 5 by votes
      (30L, 1L, 1), (30L, 3L, 2),                          // 7 vs 5, 1-1 tie → smallest (5)
      (40L, 1L, 1), (40L, 2L, 2), (40L, 3L, 3), (40L, 4L, 4) // rk 4 ignored at k=3
    ).toDF("query_id", "id", "rk")
    val labels = Seq((1L, 7), (2L, 7), (3L, 5), (4L, 5)).toDF("id", "label")
    val full = Similarity.knnClassify(nn, labels, "id", "label", k = 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(full.size == 4)
    assert(full(10L) == ((7, 2L)))
    assert(full(20L) == ((5, 2L)))
    assert(full(30L) == ((5, 1L)), "vote tie breaks to the smallest label")
    assert(full(40L) == ((7, 2L)), "rank 4 neighbor excluded at k=3")
    // non-numeric label refused (tie-break negates the label)
    val bad = Seq((1L, "x")).toDF("id", "label")
    intercept[IllegalArgumentException] {
      Similarity.knnClassify(nn, bad, "id", "label", k = 3)
    }
  }

  test("centroidOutliers: planted outlier ranks first; exact/approx centroids agree; scale-shape pins") {
    import spark.implicits._
    // two labels, 8 tight vectors each + one planted far vector per label
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i + d) % 3) }
    val a = Array(1.0f, 0.0f, 0.0f, 0.1f)
    val b = Array(0.0f, 1.0f, 0.1f, 0.0f)
    val rows =
      (0 until 8).map(i => (i.toLong, "la", jitter(a, i))) ++
        Seq((8L, "la", Array(-1.0f, 0.2f, 0.0f, 0.0f))) ++ // planted la outlier
        (10 until 18).map(i => (i.toLong, "lb", jitter(b, i))) ++
        Seq((18L, "lb", Array(0.1f, -1.0f, 0.0f, 0.0f)))   // planted lb outlier
    val df = rows.toDF("id", "label", "v").repartition(5)
    val out = Similarity.centroidOutliers(df, "v", "id", "label", k = 3, exact = true)
    assert(out.columns.toSeq == Seq("label", "id", "dist", "rk"))
    val top = out.filter(col("rk") === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == Map("la" -> 8L, "lb" -> 18L), s"planted outliers must rank first: $top")
    // approx (associative-sum) centroids: same ranking on well-separated data
    val approx = Similarity.centroidOutliers(df, "v", "id", "label", k = 3)
    assert(approx.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet ==
      out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet)
    // scale pins: centroid join-back broadcasts; ranking is the bounded
    // top-k aggregate, never a window; no data-scale sort
    val plan = approx.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$plan")
    assert(plan.contains("bounded_top_k"), s"ranking must be the heap aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no window over the corpus:\n$plan")
  }

  test("softDedupWeights: cluster members share one unit of weight; singletons keep 1.0") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val w = Dedup.softDedupWeights(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(6L) == 1.0, "no-pair row keeps full weight")
    Seq(1L, 2L, 3L).foreach(id => assert(math.abs(w(id) - 1.0 / 3) < 1e-12))
    Seq(4L, 5L).foreach(id => assert(w(id) == 0.5))
    // total corpus weight = #clusters + #singletons (dedup mass conservation)
    assert(math.abs(w.values.sum - 3.0) < 1e-12)
    // refuses to clobber an existing weight column
    intercept[IllegalArgumentException] {
      Dedup.softDedupWeights(docs.withColumn("weight", lit(2.0)), pairs, "doc_id")
    }
  }

  test("incremental dedup: NULL text is one content value, not a forever-redelivered row") {
    import spark.implicits._
    val index = Dedup.exact(Seq((1L, Option.empty[String]), (2L, Some("real doc")))
      .toDF("doc_id", "text"), "text", "doc_id").select("fingerprint")
    val batch = Seq((10L, Option.empty[String]), (11L, Some("fresh doc")))
      .toDF("doc_id", "text")
    // the indexed NULL fingerprint must match the batch NULL (null-safe key)
    val plain = Dedup.incrementalExact(batch, index, "text", "doc_id")
      .collect().map(_.getAs[Long]("keep_id")).toSet
    assert(plain == Set(11L), s"null-text batch row must dedup against the indexed null, got $plain")
    val bloom = Dedup.incrementalExactBloom(batch, index, "text", "doc_id")
      .collect().map(_.getAs[Long]("keep_id")).toSet
    assert(bloom == plain)
    // and with no NULL in the index, the null-text row is delivered once
    val freshIdx = Dedup.exact(Seq((2L, "real doc")).toDF("doc_id", "text"),
      "text", "doc_id").select("fingerprint")
    assert(Dedup.incrementalExactBloom(batch, freshIdx, "text", "doc_id")
      .collect().map(_.getAs[Long]("keep_id")).toSet == Set(10L, 11L))
    // ALL-null index: the bloom aggregate returns no sketch, but the
    // null-safe anti-join must still drop the null batch row
    val nullIdx = Dedup.exact(Seq((3L, Option.empty[String])).toDF("doc_id", "text"),
      "text", "doc_id").select("fingerprint")
    assert(Dedup.incrementalExactBloom(batch, nullIdx, "text", "doc_id")
      .collect().map(_.getAs[Long]("keep_id")).toSet == Set(11L))
  }

  test("incrementalExactBloom refuses to build a saturated sketch past the session caps") {
    import spark.implicits._
    val index = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val known = Dedup.exact(index, "text", "doc_id").select("fingerprint")
    val batch = Seq((200L, "new doc")).toDF("doc_id", "text")
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.incrementalExactBloom(batch, known, "text", "doc_id")
      }
      assert(e.getMessage.contains("maxNumItems"))
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("minhash-LSH finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashDedup(docs(), "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L))) // near/exact dups surface
    assert(pairs.contains((1L, 4L))) // exact dup always jaccard 1.0
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(3L, 5L) })
  }
  test("portable minhash path finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashDedup(docs(), "text", "doc_id", threshold = 0.5,
      portable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always jaccard 1.0
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(3L, 5L) })
    // portable affine minhashes stay inside the prime's range
    val sig = Dedup.minhashSignaturesPortable(
      Dedup.shingled(docs(), "text", "doc_id"), k = 8).collect()
    assert(sig.forall(r => (1 to 8).forall { i =>
      val v = r.getLong(i); v >= 0L && v < 1000000007L
    }))
  }

  test("minhashRecallEval: complete truth, count consistency, vacuous edges") {
    import spark.implicits._
    // disjoint vocabularies per planted pair so truth is exactly the
    // design: (1,2) identical (jr 1), (3,4) near (last word differs),
    // (5,6) faint overlap (a couple of shared shingles, jr ~0.1 —
    // "true" at threshold 0.05 but far below the banding collision knee)
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val near = "red orange yellow green blue indigo violet crimson amber teal"
    val faintA = "k1 k2 k3 shared one two three k4 k5 k6 k7 k8 k9 k10"
    val faintB = "m1 m2 m3 shared one two three m4 m5 m6 m7 m8 m9 m10"
    val corpus = Seq(
      (1L, base), (2L, base),
      (3L, near + " extra tail"), (4L, near.replace("teal", "olive") + " extra tail"),
      (5L, faintA), (6L, faintB),
      (7L, "completely unrelated vocabulary nothing in common at all")
    ).toDF("doc_id", "text")
    val r = Dedup.minhashRecallEval(corpus, "text", "doc_id", threshold = 0.05)
      .collect()
    assert(r.length == 1)
    val row = r.head
    val (nDocs, nTrue, nCand, nHit) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nDocs == 7)
    assert(nTrue == 3, s"planted truth pairs: got $nTrue") // (1,2) (3,4) (5,6)
    assert(nHit <= nTrue && nHit <= nCand)
    assert(nHit >= 1) // the identical pair always collides on every band
    assert(row.getDouble(4) == nHit.toDouble / nTrue)
    assert(row.getDouble(5) == (if (nCand == 0) 1.0 else nHit.toDouble / nCand))
    // the faint pair is exactly what banding at k=32/bands=8 is tuned to
    // miss at jr ~0.1 (collision prob 1-(1-j^4)^8 ≈ 0.1%) — recall < 1
    // is the metric DISCRIMINATING, deterministic for this fixed corpus
    assert(row.getDouble(4) < 1.0, s"expected the faint pair missed, got $row")
    // vacuous edges: empty corpus → recall = precision = 1.0
    val empty = Dedup.minhashRecallEval(corpus.filter(col("doc_id") < 0),
      "text", "doc_id", threshold = 0.5).collect().head
    assert(empty.getLong(1) == 0 && empty.getDouble(4) == 1.0 && empty.getDouble(5) == 1.0)
    intercept[IllegalArgumentException] {
      Dedup.minhashRecallEval(corpus, "text", "doc_id", threshold = 0.0)
    }
    // r13 verdict ask: the eval-slice-only contract is ENFORCED — an
    // over-cap input fails before any pair work, and force overrides
    val overCap = intercept[IllegalArgumentException] {
      Dedup.minhashRecallEval(corpus, "text", "doc_id", threshold = 0.5,
        maxDocs = 5L)
    }
    assert(overCap.getMessage.contains("EVAL-slice"), overCap.getMessage)
    val forced = Dedup.minhashRecallEval(corpus, "text", "doc_id",
      threshold = 0.5, maxDocs = 5L, force = true).collect().head
    assert(forced.getLong(0) == 7)
  }

  test("jaccard on pairs: identical docs = 1.0") {
    import spark.implicits._
    val pairs = Seq((1L, 4L), (1L, 3L)).toDF("id1", "id2")
    val j = Dedup.jaccardOnPairs(pairs, docs(), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 3L)) < 0.2)
  }

  test("simhash: identical → distance 0; near-dup within small hamming") {
    val d = Dedup.simhashDedup(docs(), "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(d((1L, 4L)) == 0)
    assert(d.contains((1L, 2L)))
  }

  test("simhash banding honors maxHamming via pigeonhole chunking (round-2 verdict)") {
    import spark.implicits._
    // 10 differing bits spread across all four of the OLD fixed 16-bit
    // chunks — the old banding could only see pairs at Hamming ≤ 3
    val bits = Seq(0, 7, 17, 23, 33, 39, 49, 55, 60, 63)
    val fps = Seq((1L, 0L), (2L, bits.map(1L << _).reduce(_ | _))).toDF("id", "fp")
    val found = Dedup.simhashCandidatesFromFingerprints(fps, maxHamming = 12).collect()
    assert(found.length == 1, "pair at Hamming 10 must be found when maxHamming = 12")
    assert(found.head.getLong(0) == 1L && found.head.getLong(1) == 2L)
    assert(found.head.getInt(2) == 10)
    // at maxHamming = 3 the same pair is (correctly) not a near-dup
    assert(Dedup.simhashCandidatesFromFingerprints(fps, maxHamming = 3).collect().isEmpty)
  }
  test("portableHash60 is the documented pair of mod-prime char folds") {
    import spark.implicits._
    // "ab": fold31 = (0·31+97)·31+98 = 3105; fold131 = (0·131+97)·131+98
    // = 12805; packed = 3105 + 12805·2^30 (both folds far below their
    // primes, so the mod never fires here)
    val got = Seq("ab").toDF("t")
      .select(Dedup.portableHash60(org.apache.spark.sql.functions.col("t")))
      .head().getLong(0)
    assert(got == 3105L + 12805L * (1L << 30))
  }
  test("simhash portable 60-bit path finds the planted near-duplicate") {
    val d = Dedup.simhashDedup(docs(), "text", "doc_id", maxHamming = 8,
      tokenHash = Dedup.portableHash60, nBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(d((1L, 4L)) == 0, "identical docs at distance 0 under portable hash")
    // fingerprints stay within 60 bits
    val fps = Dedup.simhashFingerprints(docs(), "text", "doc_id",
      Dedup.portableHash60, nBits = 60).collect()
    assert(fps.forall(r => (r.getLong(1) >>> 60) == 0L))
  }

  test("embedding cosine dedup + similarity primitives") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),  // near 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDedup(vecs, "embedding", "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force ANN: top-1 neighbor of a vector is itself") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.withColumnRenamed("vec_id", "qid")
    val top = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", "qid", 2)
    val top1 = top.filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("LSH ANN returns subset of brute-force candidates with sane scores") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val corpus = (1L to 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.limit(3).withColumnRenamed("vec_id", "qid")
    val lsh = Similarity.lshTopK(corpus, queries, "embedding", "vec_id", "qid", 5, planes = 4)
    assert(lsh.count() > 0)
    // self always lands in its own bucket → top hit cosine == 1
    val self = lsh.filter(col("rk") === 1).collect()
    assert(self.forall(r => r.getDouble(2) > 0.99))
  }

  test("indexed multi-probe LSH: superset of exact-bucket candidates, recall never worse, equi-join plan") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val corpus = (1L to 300L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.limit(5).withColumnRenamed("vec_id", "qid")
    val idx = Similarity.buildLshIndex(corpus, "embedding", "vec_id", planes = 4)
    val truth = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", "qid", 5)
    val mp0 = Similarity.lshTopKIndexed(idx, queries, "embedding", "qid", 5, multiProbe = 0)
    val mp1 = Similarity.lshTopKIndexed(idx, queries, "embedding", "qid", 5, multiProbe = 1)
    val mp2 = Similarity.lshTopKIndexed(idx, queries, "embedding", "qid", 5, multiProbe = 2)
    // mp0 through the index ≡ the stateless lshTopK (same planes/seed)
    val stateless = Similarity.lshTopK(corpus, queries, "embedding", "vec_id", "qid", 5, planes = 4)
    assert(mp0.collect().toSet == stateless.collect().toSet)
    // candidate sets grow monotonically with the probe radius, so recall
    // can only improve; no candidate is scored twice (distinct rk per id)
    val r0 = IvfIndex.recallAt(mp0, truth, 5)
    val r1 = IvfIndex.recallAt(mp1, truth, 5)
    val r2 = IvfIndex.recallAt(mp2, truth, 5)
    assert(r1 >= r0 && r2 >= r1, s"recall must not degrade with probes: $r0 / $r1 / $r2")
    // at 4 planes, Hamming ≤ 2 probes 1+4+6 = 11 of 16 buckets — on this
    // corpus that must lift recall strictly above exact-bucket
    assert(r2 > r0, s"multi-probe gained nothing: $r0 vs $r2")
    assert(mp1.groupBy("query_id", "id").count().filter(col("count") > 1).isEmpty,
      "probe buckets are distinct — no candidate may be scored twice")
    // scale shape: candidate generation is an equi-join on the bucket key
    val plan = mp2.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"probe join must be keyed on bucket, got:\n$plan")
  }

  test("dupClusters: connected components label by min id; survivors") {
    import spark.implicits._
    // components: {1,2,3} (chain), {7,8}, singleton 9 not in pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val cl = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val all = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "d"), (8L, "e"), (9L, "f"))
      .toDF("doc_id", "text")
    val surv = Dedup.clusterSurvivors(all, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 7L, 9L))
  }

  test("annRecall: per-query hit fractions; a fully-missed query still gets a row") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1)).toDF("query_id", "id", "rk")
    val approx = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 12L, 3), // 2 of 3 hit
      (2L, 20L, 1), (2L, 21L, 2),               // 2 of 2 hit
      (1L, 11L, 9)                              // rank 9 > k: excluded
      ).toDF("query_id", "id", "rk")            // query 3: no rows at all
    val r = graft.pipeline.Similarity.annRecall(approx, exact, k = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((2L, 3L, 2.0 / 3)))
    assert(r(2L) == ((2L, 2L, 1.0)))
    assert(r(3L) == ((0L, 1L, 0.0)))
  }

  test("IVF ANN: self is top-1, recall@5 vs brute force is high") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // 8 well-separated cluster centers, 25 points each
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5))
    val pts = for (c <- centers.indices; j <- 0 until 25) yield {
      val id = c * 25L + j
      (id, centers(c).map(x => (x + rng.nextGaussian() * 0.3).toFloat))
    }
    val corpus = pts.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .withColumnRenamed("vec_id", "qid")
    val idx = IvfIndex.build(corpus, "embedding", "vec_id", nCells = 8)
    val ann = IvfIndex.topK(idx, queries, "embedding", "qid", k = 5, nprobe = 2)
    val self = ann.filter(col("rk") === 1).collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1))) // top-1 = itself
    val truth = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", "qid", 5)
    val recall = IvfIndex.recallAt(ann, truth, 5)
    assert(recall > 0.9, s"recall@5 = $recall")

    // int8-shortlist tier: with a shortlist comfortably above k the
    // exact re-rank must reproduce topK's result id-for-id (quantization
    // can only perturb the shortlist BOUNDARY, not the re-ranked order)
    val q8 = IvfIndex.topKQuantized(idx, queries, "embedding", "qid",
      k = 5, nprobe = 2, shortlist = 15)
    val exactIds = ann.select("query_id", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val q8Ids = q8.select("query_id", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(q8Ids == exactIds,
      s"quantized-shortlist search diverged from exact IVF: ${q8Ids.diff(exactIds)}")
    // degenerate shortlist = k still returns k well-formed rows per query
    val tight = IvfIndex.topKQuantized(idx, queries, "embedding", "qid",
      k = 5, nprobe = 2, shortlist = 5)
    assert(tight.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
    intercept[IllegalArgumentException](
      IvfIndex.topKQuantized(idx, queries, "embedding", "qid",
        k = 5, nprobe = 2, shortlist = 4))
  }
  test("IVF from fixed centroids: each seed vector assigns to its own cell") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val pts = (0L until 60L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val corpus = pts.toDF("vec_id", "embedding")
    // centroid j = vector j: s_self − s_c = ‖v−c‖²/2 ≥ 0, so with distinct
    // vectors every seed must land in its own cell
    val centroids = pts.take(8).map(_._2.map(_.toDouble)).toArray
    val idx = IvfIndex.buildFromCentroids(corpus, "embedding", "vec_id", centroids)
    val seedCells = idx.corpus.filter(col("id") < 8).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert((0L until 8L).forall(i => seedCells(i) == i.toInt))
  }

  test("IVF append: incremental index equals a rebuild over the union") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val pts = (0L until 80L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val centroids = pts.take(8).map(_._2.map(_.toDouble)).toArray
    val old = pts.filter(_._1 % 4 != 0).toDF("vec_id", "embedding")
    val batch = pts.filter(_._1 % 4 == 0).toDF("vec_id", "embedding")
    val appended = IvfIndex.append(
      IvfIndex.buildFromCentroids(old, "embedding", "vec_id", centroids),
      batch, "embedding", "vec_id")
    val rebuilt = IvfIndex.buildFromCentroids(
      pts.toDF("vec_id", "embedding"), "embedding", "vec_id", centroids)
    val a = appended.corpus.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = rebuilt.corpus.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "append must be bit-identical to rebuild under frozen centroids")
    // cellStats sums to the full corpus and batch rows joined their cells
    val n = IvfIndex.cellStats(appended).agg(sum("n")).first().getLong(0)
    assert(n == 80L)
  }

  test("text analysis: tokens, lang, quality, fingerprints") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "le chat de la maison et le chien est grand"),
      (3L, "xyzzy qwerty")
    ).toDF("id", "text")
    val e = TextAnalysis.enrich(df, "text")
    val byId = e.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).getAs[Long]("token_count") == 8)
    assert(byId(1L).getAs[String]("lang_pred") == "en")
    assert(byId(2L).getAs[String]("lang_pred") == "fr")
    assert(byId(3L).getAs[String]("lang_pred") == "und")
    val q = byId(1L).getAs[Double]("quality")
    assert(q > 0.0 && q <= 1.0)
    // fingerprint is whitespace/case-insensitive
    val f2 = TextAnalysis.fingerprintMd5("text")
    val a = Seq((1L, "Hello  World"), (2L, "hello world")).toDF("id", "text")
      .select(f2).distinct().count()
    assert(a == 1)
  }

  test("repetition metrics: hand-computed Gopher-style fractions") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b"), // 4 toks 2 distinct; bigrams [aa,aa,ab] top 2/3; trigrams [aaa,aab] distinct
      (2L, "x y"),     // 1 bigram → top 1.0; no trigrams
      (3L, "z"),       // no bigrams at all
      (4L, "")         // no tokens at all
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(m(1L).getAs[Long]("token_count") == 4)
    assert(m(1L).getAs[Double]("dup_word_frac") == 0.5)
    assert(math.abs(m(1L).getAs[Double]("top_bigram_frac") - 2.0 / 3.0) < 1e-15)
    assert(m(1L).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(m(2L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(m(2L).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(m(3L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(m(4L).getAs[Long]("token_count") == 0)
    assert(m(4L).getAs[Double]("dup_word_frac") == 0.0)
  }

  test("decontaminate flags n-gram overlap with the benchmark set") {
    import spark.implicits._
    val bench = Seq((100L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zzz one two three four five six seven eight yyy"), // carries one bench 8-gram
      (2L, "totally unrelated words about storage engines and columnar formats kept"),
      (3L, "too short to shingle") // < 8 tokens → no shingles, never flagged
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(corpus, bench, "text", "doc_id", n = 8)
    val byId = out.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId.size == 3)
    assert(byId(1L).getAs[Boolean]("contaminated"))
    assert(byId(1L).getAs[Long]("overlap_shingles") == 1L)
    assert(!byId(2L).getAs[Boolean]("contaminated"))
    assert(!byId(3L).getAs[Boolean]("contaminated"))
    // clean-subset convenience drops exactly the flagged doc
    val clean = TextAnalysis.decontaminated(corpus, bench, "text", "doc_id", n = 8)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // scale guard: the benchmark join must never be a cartesian product
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("contaminationMatrix: one corpus pass against many suites; report zero-fills") {
    import spark.implicits._
    val benches = Seq(
      ("mmlu", "one two three four five six seven eight nine ten"),
      ("gsm",  "alpha beta gamma delta epsilon zeta eta theta iota"),
      ("clean_suite", "completely disjoint benchmark text with unique words only")
    ).toDF("bench_id", "text")
    val corpus = Seq(
      (1L, "zzz one two three four five six seven eight yyy"),      // hits mmlu ×1
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota pad"), // hits gsm ×2
      (3L, "one two three four five six seven eight nine pad " +
           "alpha beta gamma delta epsilon zeta eta theta"),          // hits both ×2/×1
      (4L, "no overlap with any benchmark suite in this document at all")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.contaminationMatrix(corpus, benches,
        "text", "doc_id", "bench_id", n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m == Map((1L, "mmlu") -> 1L, (2L, "gsm") -> 2L,
      (3L, "mmlu") -> 2L, (3L, "gsm") -> 1L), s"got $m")

    val rep = TextAnalysis.contaminationReport(corpus, benches,
        "text", "doc_id", "bench_id", n = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep == Map("mmlu" -> ((2L, 3L)), "gsm" -> ((2L, 3L)),
      "clean_suite" -> ((0L, 0L))), s"got $rep")

    val clean = TextAnalysis.decontaminatedAll(corpus, benches,
      "text", "doc_id", "bench_id", n = 8)
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(4L))

    // scale guards: bench side broadcasts; no cartesian anywhere
    val plan = TextAnalysis.contaminationMatrix(corpus, benches,
      "text", "doc_id", "bench_id", n = 8).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("curriculumOrder: cutoff buckets, round-robin interleave, deterministic") {
    import spark.implicits._
    val docs = ((1L to 12L).map(i => (i, i * 10.0)) :+ (99L, Double.NaN))
      .toDF("doc_id", "score")
      .withColumn("score", when($"doc_id" === 99L, lit(null)).otherwise($"score"))
    val out = TextAnalysis.curriculumOrder(docs, "score", "doc_id",
      cutoffs = Seq(35.0, 75.0))
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    // null-scored doc dropped
    assert(rows.size == 12 && !rows.contains(99L))
    // bucket = #cutoffs below score: 10-30→0, 40-70→1, 80-120→2
    assert((1L to 3L).forall(rows(_)._1 == 0))
    assert((4L to 7L).forall(rows(_)._1 == 1))
    assert((8L to 12L).forall(rows(_)._1 == 2))
    // ord keys are distinct and interleave: sorted by ord, the first
    // three docs cover all three buckets (round-robin while none is dry)
    val byOrd = out.orderBy("ord").select("bucket").as[Int].collect()
    assert(byOrd.take(3).toSet == Set(0, 1, 2), byOrd.take(6).toList)
    assert(out.select("ord").distinct().count() == 12)
    // ord encodes (pos, bucket)
    rows.values.foreach { case (b, p, o) => assert(o == p * 3 + b) }
    // deterministic across partition layouts
    val again = TextAnalysis.curriculumOrder(docs.repartition(7), "score",
        "doc_id", cutoffs = Seq(35.0, 75.0))
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(again == rows)
    // the data-scale window is partitioned by (bucket, SUB-bucket) —
    // never one partition per coarse bucket (single-task trap)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bucket") && plan.contains("__sb"), plan)
    // two-pass offsets ≡ the naive one-window-per-bucket construction
    // (forced by subBuckets=1: one cell per bucket IS the naive window)
    val naive = TextAnalysis.curriculumOrder(docs, "score", "doc_id",
        Seq(35.0, 75.0), subBuckets = 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    assert(naive == rows)
    intercept[IllegalArgumentException](
      TextAnalysis.curriculumOrder(docs, "score", "doc_id", Seq(75.0, 35.0)))
  }

  test("redactPII masks emails, IBANs, cards, phones, IPv6 and IPv4; leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+spam@sub.example.co.uk today"),
      (2L, "call 25-989-741-2988 or 123 456 7890 1234"),
      (3L, "server at 192.168.0.1 responded"),
      (4L, "no pii here, just 42 words and 3.14"),
      (5L, "version 1.2.3.4.5 is not an ip boundary case"),
      (6L, "iban GB29NWBK60161331926819 and GB29 NWBK 6016 1331 9268 19 listed"),
      (7L, "pay 4111 1111 1111 1111 or 4012-8888-8888-188 now"),
      (8L, "host 2001:0db8:85a3:0000:0000:8a2e:0370:7334 and fe80::1%eth0 and ::1 up"),
      (9L, "std::vector stays; meeting at 12:30:45 stays; but face:: goes")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.redactPII(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "write to <EMAIL> today")
    assert(out(2L) == "call <PHONE> or <PHONE>")
    assert(out(3L) == "server at <IP> responded")
    assert(out(4L) == "no pii here, just 42 words and 3.14")
    // 1.2.3.4.5: the first four octets match the IPv4 shape — the \b
    // boundary is between '4' and '.', so the match is allowed; pin the
    // actual behavior so a pattern change is a conscious decision
    assert(out(5L) == "version <IP>.5 is not an ip boundary case")
    assert(out(6L) == "iban <IBAN> and <IBAN> listed",
      "compact and space-grouped IBAN forms")
    // CARD must run before PHONE: the phone pass would shred a
    // separator-grouped card into '<digits><PHONE>' debris
    assert(out(7L) == "pay <CARD> or <CARD> now", "16- and 15-digit cards")
    assert(out(8L) == "host <IPV6> and <IPV6>%eth0 and <IPV6> up",
      "full, compressed (zone left behind), and loopback forms")
    // the documented over-match: a trailing 'hex::' token is claimed;
    // '::' needs hex on a side, and colon-separated times are untouched
    assert(out(9L) == "std::vector stays; meeting at 12:30:45 stays; but <IPV6> goes")
  }

  test("vocabulary: document and term frequencies with minDocFreq floor") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark spark flink"),
      (2L, "spark beam"),
      (3L, "flink beam beam")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, "text", "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("spark") == (2L, 3L), "2 docs, 3 occurrences")
    assert(v("flink") == (2L, 2L))
    assert(v("beam") == (2L, 3L))
    val floored = TextAnalysis.vocabulary(df, "text", "doc_id", minDocFreq = 3)
    assert(floored.count() == 0, "no token reaches 3 documents")
  }

  test("chunkByTokens: overlapping windows cover every token exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 toks → 3 chunks (4, ov 1)
      (2L, "a b"),                             // fits in one chunk
      (3L, "")                                 // no tokens → no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(df, "text", "doc_id", maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("chunk")))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(doc1.map(_._4).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(doc1.map(_._3).toSeq == Seq(4L, 4L, 4L))
    // reassembly property: drop the overlap prefix of every chunk after
    // the first; concatenation must equal the original token stream
    val reassembled = doc1.zipWithIndex.flatMap { case ((_, _, _, c), i) =>
      val toks = c.split(" ").toSeq
      if (i == 0) toks else toks.drop(1)
    }
    assert(reassembled.toSeq == (1 to 10).map(i => s"t$i"))
    assert(out.count(_._1 == 2L) == 1 && out.filter(_._1 == 2L).head._4 == "a b")
    assert(!out.exists(_._1 == 3L))
  }

  test("packChunks: greedy token-budget packing, oversize isolated, deterministic") {
    import spark.implicits._
    val chunks = Seq(
      (1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 3L),
      (1L, 4L, 9L), (1L, 5L, 2L), (1L, 6L, 15L),
      (2L, 0L, 5L) // different doc → different bucket → different seq_id space
    ).toDF("id", "chunk_id", "n_tokens")
    val packed = TextAnalysis.packChunks(chunks, budgetTokens = 10, nBuckets = 4)
      .collect().map(r => ((r.getAs[Long]("id"), r.getAs[Long]("chunk_id")),
        r.getAs[Long]("seq_id"))).toMap
    val d1 = (0L to 6L).map(c => packed((1L, c)))
    // greedy over sizes 4,4,4,3,9,2,15 with budget 10:
    // {4,4} | {4,3} | {9} | {2} | {15}
    assert(d1(0) == d1(1) && d1(2) == d1(3))
    assert(Seq(d1(0), d1(2), d1(4), d1(5), d1(6)).distinct.length == 5)
    // every bin's total fits the budget unless it is a lone oversize chunk
    val sums = chunks.collect().map(r => (packed((r.getLong(0), r.getLong(1))), r.getLong(2)))
      .groupBy(_._1).map { case (_, g) => g.map(_._2).sum -> g.length }
    assert(sums.forall { case (tot, cnt) => tot <= 10 || cnt == 1 })
    // doc 2 lives in another bucket's seq_id space
    assert(!d1.contains(packed((2L, 0L))))
    // pure function of the data
    val again = TextAnalysis.packChunks(chunks, budgetTokens = 10, nBuckets = 4)
      .collect().map(r => ((r.getAs[Long]("id"), r.getAs[Long]("chunk_id")),
        r.getAs[Long]("seq_id"))).toMap
    assert(again == packed)
  }

  test("mixtureSample: bucketed two-pass equals the naive prefix; budgets hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 3 sources × 60 docs with varying token counts; budgets cut each
    // source mid-stream
    val docs = (0 until 180).map { i =>
      val src = s"s${i % 3}"
      (i.toLong, src, Seq.fill(1 + i % 7)("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val weights = Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)
    val budget = 300L
    def run(nBuckets: Int, parts: Int) = TextAnalysis.mixtureSample(
        docs.repartition(parts), "text", "doc_id", "source",
        weights, budget, salt = "t", nBuckets = nBuckets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // naive single-window prefix — the semantic definition
    val naive = {
      val t = docs
        .withColumn("n", TextAnalysis.tokenCount("text"))
        .withColumn("h", graft.pipeline.Dedup.portableFold(
          concat(col("doc_id").cast("string"), lit(":t"))))
      val cum = sum(col("n")).over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
      val budgets = weights.map { case (s, w) => s -> (budget * w).toLong }
      val budgetOf = typedLit(budgets)
      t.withColumn("cum", cum)
        .filter(col("cum") <= coalesce(budgetOf(col("source")), lit(0L)))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // equivalence across bucket counts AND input partitionings — the
    // boundary-bucket resolution must not depend on physical layout
    assert(run(1, 3) == naive)
    assert(run(8, 5) == naive)
    assert(run(1024, 2) == naive) // more buckets than docs: all boundaries
    // per-source token budget is never exceeded
    val kept = TextAnalysis.mixtureSample(docs, "text", "doc_id", "source",
      weights, budget, salt = "t", nBuckets = 8)
    val bySource = kept.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("s0") <= 150 && bySource("s1") <= 90 && bySource("s2") <= 60)
    // weight-0 source (absent from the map) is dropped entirely
    val partial = TextAnalysis.mixtureSample(docs, "text", "doc_id", "source",
      Map("s0" -> 1.0), budget, salt = "t", nBuckets = 8)
    assert(partial.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("s0"))
  }

  test("mixtureUpsample: full epochs + partial prefix fill the budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // source s0: 10 docs × 4 tokens = 40 total; budget 100 → 2 full
    // epochs + a 20-token partial. s1: 10 docs × 4 = 40; budget 30 →
    // 0 full epochs + a 30-token prefix (the plain-sample degenerate).
    val docs = (0 until 20).map(i =>
      (i.toLong, if (i < 10) "s0" else "s1", "a b c d")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.mixtureUpsample(docs, "text", "doc_id", "source",
      Map("s0" -> 1.0, "s1" -> 0.3), totalTokens = 100, salt = "u", nBuckets = 8)
    val rows = out.select("doc_id", "source", "epoch", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val s0 = rows.filter(_._2 == "s0"); val s1 = rows.filter(_._2 == "s1")
    // s0: every doc appears in epochs 0 and 1; partial epoch 2 carries
    // exactly 20 tokens = 5 docs
    assert(s0.count(_._3 == 0) == 10 && s0.count(_._3 == 1) == 10)
    assert(s0.filter(_._3 == 2).map(_._4).sum == 20)
    assert(s0.map(_._3).max == 2)
    // s1: no full epoch; prefix carries 28 tokens (7 docs of 4 — the
    // next doc would cross 30)
    assert(s1.forall(_._3 == 0))
    assert(s1.map(_._4).sum == 28)
    // per-source delivered tokens never exceed the budget
    assert(s0.map(_._4).sum <= 100 && s1.map(_._4).sum <= 30)
    // deterministic
    val again = TextAnalysis.mixtureUpsample(docs.repartition(7), "text", "doc_id",
      "source", Map("s0" -> 1.0, "s1" -> 0.3), totalTokens = 100, salt = "u", nBuckets = 8)
      .select("doc_id", "source", "epoch", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("multimodal: payload metadata + batched feature extraction shape") {
    import spark.implicits._
    val df = Seq((1L, "some text payload"), (2L, "other payload")).toDF("id", "text")
    val withBin = Multimodal.withBinaryPayload(df, "text", "text/plain")
    val meta = withBin.select("meta.byte_len", "meta.modality").collect()
    assert(meta.forall(_.getString(1) == "text/plain"))
    assert(meta.map(_.getLong(0)).toSet == Set(17L, 13L))
    val feats = Multimodal.extractFeatures(withBin, "id", "payload", partitions = 2)
    val rows = feats.collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Seq[Float]]("features").length == 8))
    val frames = Multimodal.sampleFrames(withBin, "id", "payload", chunkBytes = 5, everyK = 2)
    assert(frames.count() > 2)
  }

  test("multimodal: loadBinaryDir reads files distributed with glob and size cap") {
    withTempDir("graft_bin") { d =>
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.write(dir.resolve("a.img"), "image bytes here".getBytes)
      java.nio.file.Files.write(dir.resolve("b.img"), "tiny".getBytes)
      java.nio.file.Files.write(dir.resolve("skip.txt"), "not an image".getBytes)
      val out = Multimodal.loadBinaryDir(spark, dir.toString, "image", "*.img", maxBytes = 10)
      val rows = out.collect()
      assert(rows.length == 1, "glob excludes .txt; size cap excludes the 16-byte file")
      assert(rows.head.getAs[org.apache.spark.sql.Row]("meta")
        .getAs[String]("modality") == "image")
      assert(new String(rows.head.getAs[Array[Byte]]("payload")) == "tiny")
      // payloads feed the standard plumbing unchanged
      val feats = Multimodal.extractFeatures(
        out.withColumn("id", lit(1L)), "id", "payload")
      assert(feats.count() == 1)
    }
  }

  test("multimodal: capPayloads caps bytes and refreshes the content hash") {
    import spark.implicits._
    val df = Seq((1L, "a payload comfortably longer than ten bytes"), (2L, "short"))
      .toDF("id", "text")
    val withBin = Multimodal.withBinaryPayload(df, "text", "image/fake")
    val out = Multimodal.capPayloads(withBin, "id", "payload", maxBytes = 10)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("byte_len") == 10L)
    assert(out(2L).getAs[Long]("byte_len") == 5L) // already under target: unchanged
    // hash is of the NEW bytes (stale hashes would poison exact dedup)
    val origHash = withBin.filter(col("id") === 1L).select("meta.content_hash")
      .collect().head.getString(0)
    assert(out(1L).getAs[String]("content_hash") != origHash)
    assert(out(2L).getAs[String]("content_hash") ==
      withBin.filter(col("id") === 2L).select("meta.content_hash").first().getString(0))
  }

  /** A 4×2 test image with exactly-known pixels: row 0 = red, green,
    * blue, white; row 1 = black, grey(128), red, blue. Encoded with the
    * given ImageIO format name; decode must round-trip these pixels
    * exactly for lossless formats.
    */
  private def fixtureImageBytes(format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array(
      Array(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF),
      Array(0x000000, 0x808080, 0xFF0000, 0x0000FF))
    for (y <- 0 until 2; x <- 0 until 4) img.setRGB(x, y, px(y)(x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, bos), s"no $format writer")
    bos.toByteArray
  }

  test("multimodal: real PNG/BMP decode — pinned exact pixel statistics") {
    import spark.implicits._
    // hand-computed from the fixture pixels (n=8):
    //   sumR = 255+0+0+255 + 0+128+255+0   = 893
    //   sumG = 0+255+0+255 + 0+128+0+0     = 638
    //   sumB = 0+0+255+255 + 0+128+0+255   = 893
    val expMeanR = (893.0 / 8).toFloat
    val expMeanG = (638.0 / 8).toFloat
    val expMeanB = (893.0 / 8).toFloat
    for (fmt <- Seq("png", "bmp")) {
      val df = Seq((1L, fixtureImageBytes(fmt))).toDF("id", "payload")
      val f = Multimodal.extractFeatures(df, "id", "payload")
        .collect().head.getAs[scala.collection.Seq[Float]]("features")
      assert(f(0) == 4f && f(1) == 2f && f(2) == 2f, s"$fmt dims: $f")
      assert(f(3) == expMeanR && f(4) == expMeanG && f(5) == expMeanB,
        s"$fmt channel means: $f")
      // per-mille luma sums, exact ints: 76245 (red) + 149685 (green) +
      // 29070 (blue) + 255000 (white) + 0 + 128000 (grey) + 76245 + 29070
      // = 743315 → mean 743315/8/1000 on the 0..255 luma scale
      assert(f(6) == (743315.0 / 8 / 1000).toFloat && f(7) > 0f, s"$fmt luma: $f")
    }
    // same image, two lossless containers → identical features
    val fp = Multimodal.payloadFeatures(fixtureImageBytes("png"))
    val fb = Multimodal.payloadFeatures(fixtureImageBytes("bmp"))
    assert(fp.toSeq == fb.toSeq, "PNG and BMP decode to identical pixels")
  }

  test("multimodal: non-image payloads take exact byte-statistics features") {
    // "AAAB" = bytes {65,65,65,66}: mean 65.25, std sqrt(.1875),
    // entropy of {3/4, 1/4} = 0.811278, printable 1, zero 0,
    // distinct 2/256, top 3/4
    val f = Multimodal.payloadFeatures("AAAB".getBytes("UTF-8"))
    assert(f(0) == 4f)
    assert(f(1) == 65.25f)
    assert(math.abs(f(2) - math.sqrt(0.1875).toFloat) < 1e-6f)
    assert(math.abs(f(3) - 0.8112781f) < 1e-6f)
    assert(f(4) == 1f && f(5) == 0f)
    assert(f(6) == 2f / 256f && f(7) == 0.75f)
    // empty payload: all-zero features, no div-by-zero
    assert(Multimodal.payloadFeatures(Array.empty[Byte]).toSeq ==
      Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))
  }

  test("multimodal: resizeImages — nearest-neighbor pixels exact; non-images pass through") {
    import spark.implicits._
    val df = Seq(
      (1L, fixtureImageBytes("png")),
      (2L, "not an image at all".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.resizeImages(df, "id", "payload", targetW = 2, targetH = 1)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // nearest-neighbor 4×2 → 2×1: srcX = x·4/2 ∈ {0,2}, srcY = 0
    // → pixels (0,0)=red and (2,0)=blue, exactly
    assert(out(1L).getAs[Boolean]("decoded"))
    val resized = Multimodal.decodeImage(
      out(1L).getAs[Array[Byte]]("payload")).get
    assert(resized.getWidth == 2 && resized.getHeight == 1)
    assert((resized.getRGB(0, 0) & 0xFFFFFF) == 0xFF0000)
    assert((resized.getRGB(1, 0) & 0xFFFFFF) == 0x0000FF)
    // metadata describes the NEW bytes
    assert(out(1L).getAs[Long]("byte_len") ==
      out(1L).getAs[Array[Byte]]("payload").length.toLong)
    // undecodable payload passes through unchanged, flagged
    assert(!out(2L).getAs[Boolean]("decoded"))
    assert(new String(out(2L).getAs[Array[Byte]]("payload"), "UTF-8") ==
      "not an image at all")
    // deterministic: a re-run produces byte-identical resized payloads
    val again = Multimodal.resizeImages(df, "id", "payload", 2, 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(java.util.Arrays.equals(again(1L), out(1L).getAs[Array[Byte]]("payload")))
  }

  test("multimodal: dHash recovers designed gradient bits; banding complete at maxHamming < bands") {
    import spark.implicits._
    // 9×8 gray image walking ±8 from 128 along the bits of a known
    // pattern → dHash must equal the pattern exactly (the m05 trick)
    def mkImg(p: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8) {
        var v = 128
        img.setRGB(0, y, (v << 16) | (v << 8) | v)
        for (x <- 0 until 8) {
          v += (if (((p >>> (y * 8 + x)) & 1L) == 1L) 8 else -8)
          img.setRGB(x + 1, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val p0 = 0x3C5A96E187D24B0FL
    val hash = Multimodal.dHash(Multimodal.decodeImage(mkImg(p0)).get)
    assert(hash == p0, f"dHash mismatch: got $hash%016x want $p0%016x")
    // a 2×-scaled rendition of the same gradient hashes identically
    // (the perceptual property: NN resample picks the same gradient signs)
    val big = Multimodal.resizeImage(Multimodal.decodeImage(mkImg(p0)).get, 18, 16)
    assert(Multimodal.dHash(Multimodal.decodeImage(big).get) == p0)
    // distances: d(1,2)=1, d(2,3)=popcount(1^7)=2, d(1,3)=3 — the first
    // two pass maxHamming = 2, the last must be rejected
    val df = Seq((1L, mkImg(p0)), (2L, mkImg(p0 ^ 1L)), (3L, mkImg(p0 ^ 7L)),
      (4L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val hashes = Multimodal.imageDHashes(df, "id", "payload")
    assert(hashes.filter(!col("decoded")).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(4L))
    val pairs = Multimodal.nearDupImagePairs(hashes.filter(col("decoded")), "id",
        maxHamming = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L), (2L, 3L, 2L)), s"got $pairs")
    // guard: banding incomplete at maxHamming >= bands must be refused
    intercept[IllegalArgumentException](
      Multimodal.nearDupImagePairs(hashes, "id", maxHamming = 4, bands = 4))
  }

  test("multimodal: string ids (the loadBinaryDir path key) survive pair/cap ops") {
    import spark.implicits._
    // r14 review: cast("long") nulled string ids, so nearDupImagePairs
    // returned ZERO pairs for path-keyed corpora and capPayloads
    // corrupted the id column — both now keep the caller's id type
    val hashes = Seq(("dir/a.png", 100L), ("dir/b.png", 101L), ("dir/z.png", 9999L))
      .toDF("path", "dhash")
    val pairs = Multimodal.nearDupImagePairs(hashes, "path", "dhash",
        maxHamming = 2, bands = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("dir/a.png", "dir/b.png")), s"got $pairs")
    val pay = Seq(("k/x", "payload bytes"), ("k/y", "tiny")).toDF("path", "text")
    val capped = Multimodal.capPayloads(
      Multimodal.withBinaryPayload(pay, "text", "text/plain"), "path", "payload", 5)
    assert(capped.select("id").collect().map(_.getString(0)).toSet == Set("k/x", "k/y"))
    assert(capped.select("byte_len").collect().map(_.getLong(0)).forall(_ <= 5))
    // imageDHashes stays numeric-id (executor getLong) but now fails
    // driver-side with the column name instead of a deep executor error
    val err = intercept[IllegalArgumentException](
      Multimodal.imageDHashes(pay.select(col("path"),
        col("text").cast("binary").as("payload")), "path", "payload"))
    assert(err.getMessage.contains("must be numeric"), err.getMessage)
    // sampleFrames: a NULL payload fails loudly like the codec siblings
    val withNull = Seq((1L, Some("bytes")), (2L, None))
      .toDF("id", "text")
      .select(col("id"), col("text").cast("binary").as("payload"))
    val ex = intercept[Exception](
      Multimodal.sampleFrames(withNull, "id", "payload", chunkBytes = 2, everyK = 1)
        .collect())
    assert(ex.getMessage.contains("null payload"), ex.getMessage)
  }

  test("multimodal: real WAV decode — pinned exact sample statistics") {
    // mono 16-bit: samples {100,100,-300,-300,300} → mean -20, meanAbs
    // 220, peak 300, sign runs ++--+ → 2 zero crossings
    val mono = Multimodal.encodeWav(Array[Short](100, 100, -300, -300, 300), 8000f)
    val fm = Multimodal.payloadFeatures(mono)
    assert(fm.toSeq == Seq(8000f, 1f, 5f, 16f, -20f, 220f, 300f, 2f), fm.toSeq)

    // stereo interleaved {L,R,L,R} = {1000,500,-1000,500}: crossings are
    // per channel (L: 1, R: 0) — an interleaved count would see 2
    val st = Multimodal.encodeWav(Array[Short](1000, 500, -1000, 500), 44100f, channels = 2)
    val fs = Multimodal.payloadFeatures(st)
    assert(fs.toSeq == Seq(44100f, 2f, 2f, 16f, 250f, 750f, 1000f, 1f), fs.toSeq)

    // 8-bit WAV is PCM_UNSIGNED on disk; decode must convert to signed:
    // unsigned {228, 28} ⇔ signed {+100, -100}
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array[Byte](228.toByte, 28.toByte)), fmt8, 2)
    val bos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos8)
    val f8 = Multimodal.payloadFeatures(bos8.toByteArray)
    assert(f8.toSeq == Seq(8000f, 1f, 2f, 8f, 0f, 100f, 100f, 1f), f8.toSeq)

    // AIFF and AU containers decode to the same samples as WAV (big-
    // endian on disk — pins the endianness branch of the unpacker)
    for (t <- Seq(javax.sound.sampled.AudioFileFormat.Type.AIFF,
                  javax.sound.sampled.AudioFileFormat.Type.AU)) {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val samples = Array[Short](100, 100, -300, -300, 300)
      val be = new Array[Byte](10)
      for (i <- samples.indices) {
        be(2 * i) = ((samples(i) >> 8) & 0xFF).toByte
        be(2 * i + 1) = (samples(i) & 0xFF).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(be), fmt, 5)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, t, bos)
      val f = Multimodal.payloadFeatures(bos.toByteArray)
      assert(f.toSeq == Seq(8000f, 1f, 5f, 16f, -20f, 220f, 300f, 2f), s"$t: ${f.toSeq}")
    }

    // dispatch: WAV → audio path, PNG → image path, text → byte stats
    assert(Multimodal.decodeAudio(mono).isDefined)
    assert(Multimodal.decodeImage(mono).isEmpty)
    assert(Multimodal.decodeAudio(fixtureImageBytes("png")).isEmpty)
    assert(Multimodal.decodeAudio("plain text".getBytes("UTF-8")).isEmpty)

    // distributed path carries the same numbers
    import spark.implicits._
    val row = Multimodal.extractFeatures(
        Seq((7L, mono)).toDF("id", "payload"), "id", "payload")
      .collect().head
    assert(row.getAs[Long]("id") == 7L)
    assert(row.getAs[scala.collection.Seq[Float]]("features").toSeq ==
      Seq(8000f, 1f, 5f, 16f, -20f, 220f, 300f, 2f))
  }

  test("encodeTokens: frequency-ranked ids in document order, OOV marked, empty docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a a c b a"),     // a:3 b:2 c:1
      (2L, "a b zzz"),         // zzz below minDocFreq → OOV
      (3L, "   "),             // no tokens → absent from output
      (4L, "c c b")
    ).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, "text", "doc_id", minDocFreq = 2)
    val ranked = TextAnalysis.rankVocabulary(vocab).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // term counts: a=4 (docs 1,2), b=4 (docs 1,2,4), c=3 but doc_freq(c)=2 ok
    // rank by (term_count desc, token): a=4,b=4 tie → a:0, b:1; c:2
    assert(ranked == Map("a" -> 0, "b" -> 1, "c" -> 2), s"got $ranked")
    val out = TextAnalysis.encodeTokens(docs, "text", "doc_id",
        TextAnalysis.rankVocabulary(vocab))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[scala.collection.Seq[Int]]("token_ids").toSeq)).toMap
    assert(out.keySet == Set(1L, 2L, 4L), "empty doc 3 must be absent")
    assert(out(1L) == (6L, Seq(1, 0, 0, 2, 1, 0)), s"got ${out(1L)}")
    assert(out(2L) == (3L, Seq(0, 1, -1)), "zzz must encode as OOV -1")
    assert(out(4L) == (3L, Seq(2, 2, 1)))
    // malformed ranked-vocab frame fails fast
    intercept[IllegalArgumentException] {
      TextAnalysis.encodeTokens(docs, "text", "doc_id", docs)
    }
  }

  test("encodeTokens: the dictionary broadcast is destroyed once the ids are checkpointed") {
    import spark.implicits._
    // a token no other broadcast in the session holds
    val marker = org.apache.spark.unsafe.types.UTF8String.fromString("qzxvbroadcastmarker")
    val docs = Seq((1L, "qzxvbroadcastmarker a b"), (2L, "a qzxvbroadcastmarker"))
      .toDF("doc_id", "text")
    val ranked = TextAnalysis.rankVocabulary(TextAnalysis.vocabulary(docs, "text", "doc_id"))
    val out = TextAnalysis.encodeTokens(docs, "text", "doc_id", ranked)
    try {
      // Broadcast.destroy removes the driver's blocks asynchronously
      def held = org.apache.spark.graftbridge.DriverBlocks.broadcastValues().count {
        case m: java.util.HashMap[_, _] => m.containsKey(marker)
        case _ => false
      }
      val deadline = System.nanoTime() + 10000000000L
      while (held > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(held == 0, s"$held driver broadcast block(s) still hold the dictionary")
      assert(out.count() == 2) // the checkpoint holds the rows without it
    } finally graft.core.Checkpoints.release(out)
  }

  test("encodeTokens: broadcast-dict path ≡ join path (r18 gate)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a a c b a"), (2L, "a b zzz"), (3L, "   "), (4L, "c c b"),
      (5L, "zzz zzz"), (6L, (1 to 40).map(i => s"t$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ranked = TextAnalysis.rankVocabulary(
      TextAnalysis.vocabulary(docs, "text", "doc_id", minDocFreq = 2))
    def run(): Map[Long, (Long, Seq[Int])] =
      TextAnalysis.encodeTokens(docs, "text", "doc_id", ranked)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getAs[scala.collection.Seq[Int]]("token_ids").toSeq)).toMap
    val dictPath = run() // default gate: dict path
    val old = spark.conf.getOption("graft.encodeDictMaxRows")
    spark.conf.set("graft.encodeDictMaxRows", "0") // force the join path
    try {
      val joinPath = run()
      assert(dictPath == joinPath, s"dict=$dictPath join=$joinPath")
    } finally old match {
      case Some(v) => spark.conf.set("graft.encodeDictMaxRows", v)
      case None => spark.conf.unset("graft.encodeDictMaxRows")
    }
  }

  test("sourceOverlap: containment and jaccard per ordered pair, sparse zeros") {
    import spark.implicits._
    val corpus = Seq(
      ("A", "doc one"), ("A", "doc two"), ("A", "doc three"), ("A", "doc four"),
      ("B", "doc one"), ("B", "doc two"), ("B", "only in b"),
      ("B", "DOC   one"),     // normalizes into "doc one" → distinct-counted once
      ("C", "nothing shared") // zero-overlap source → absent from output
    ).toDF("source", "text")
    val out = Dedup.sourceOverlap(corpus, "text", "source")
      .orderBy("source_a", "source_b").collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("A", "B"), ("B", "A")))
    val ab = out(0)
    // A: 4 distinct, B: 3 distinct (the re-cased dup collapses), shared 2
    assert(ab.getLong(2) == 4 && ab.getLong(3) == 3 && ab.getLong(4) == 2)
    assert(math.abs(ab.getDouble(5) - 0.5) < 1e-12)        // 2/4 of A in B
    assert(math.abs(ab.getDouble(6) - 2.0 / 5.0) < 1e-12)  // 2/(4+3-2)
    val ba = out(1)
    assert(math.abs(ba.getDouble(5) - 2.0 / 3.0) < 1e-12)  // 2/3 of B in A
    // NULL-text docs are excluded from totals — they can never match, so
    // counting them would understate containment (r14 review)
    val withNull = corpus.union(Seq(("A", null.asInstanceOf[String]),
      ("B", null.asInstanceOf[String])).toDF("source", "text"))
    val out2 = Dedup.sourceOverlap(withNull, "text", "source")
      .orderBy("source_a", "source_b").collect()
    assert(out2(0).getLong(2) == 4 && out2(0).getLong(3) == 3,
      "totals unchanged by NULL-text rows")
  }

  test("hardNegatives: every slot a different label, ranked by cosine") {
    import spark.implicits._
    // axis-aligned vectors: label 0 along +x with decreasing purity,
    // label 1 along +y — negatives of the x-query rank by x-component
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.4f), 1),   // hard negative (closest to +x)
      (3L, Array(0.5f, 0.8f), 1),
      (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.95f, 0.1f), 0)   // same label → never a negative
    ).toDF("id", "vec", "label")
    val queries = corpus.filter(col("id") === 1L)
      .select(col("id").as("qid"), col("vec"), col("label"))
    val out = Similarity.hardNegatives(corpus, queries, "vec", "id", "qid",
        "label", k = 2)
      .orderBy("rk").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L), "ranked hard→easy")
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2))
    // k larger than the negative pool returns the whole pool, no padding
    val all = Similarity.hardNegatives(corpus, queries, "vec", "id", "qid",
      "label", k = 10).collect()
    assert(all.length == 3 && all.forall(_.getLong(1) != 5L))
    // NULL labels fail loudly — 3VL would silently drop those pairs and
    // a NULL-labeled query would mine zero negatives (r14 review)
    val nullLab = Seq((9L, Array(0.5f, 0.5f), null.asInstanceOf[Integer]))
      .toDF("id", "vec", "label")
    intercept[Exception] {
      Similarity.hardNegatives(corpus.union(nullLab), queries,
        "vec", "id", "qid", "label", k = 1).collect()
    }
  }

  test("manifest: a shard object with reordered keys still verifies") {
    import spark.implicits._
    import graft.sources.Manifest
    withTempDir("graft_manifest_keys") { dir =>
      val corpus = s"$dir/corpus"
      Manifest.writeWithManifest(
        (1L to 200L).map(i => (i, s"doc $i")).toDF("id", "text").repartition(3), corpus)
      // rewrite every shard object with its keys in reverse order: JSON
      // objects are unordered, so the manifest means the same thing
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val file = new java.io.File(corpus, Manifest.ManifestFile)
      val doc = mapper.readTree(file).asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode]
      val shards = doc.get("shards").asInstanceOf[
        com.fasterxml.jackson.databind.node.ArrayNode]
      (0 until shards.size).foreach { i =>
        val s = shards.get(i)
        val reordered = mapper.createObjectNode()
        Seq("content_sum", "content_hash", "rows", "file")
          .foreach(k => reordered.set[com.fasterxml.jackson.databind.JsonNode](k, s.get(k)))
        shards.set(i, reordered)
      }
      mapper.writeValue(file, doc)
      new java.io.File(corpus, s".${Manifest.ManifestFile}.crc").delete()
      val v = Manifest.verifyManifest(spark, corpus)
      assert(v.count() == 3 && v.filter(!col("ok")).count() == 0,
        v.collect().mkString("\n"))
    }
  }

  test("manifest: partition values with quote, backslash, space and é verify clean") {
    import spark.implicits._
    import graft.sources.Manifest
    withTempDir("graft_manifest_esc") { dir =>
      val corpus = s"$dir/corpus"
      val keys = Seq("say \"hi\"", "back\\slash", "two words", "café")
      val df = (0 until 120).map(i => (i.toLong, keys(i % keys.size), s"doc $i"))
        .toDF("id", "src", "text")
      Manifest.writeWithManifest(df, corpus, partitionCols = Seq("src"))
      val dataFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(corpus))
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))
        .count()
      val v = Manifest.verifyManifest(spark, corpus)
      assert(v.count() == dataFiles && dataFiles >= keys.size,
        s"${v.count()} manifest shards for $dataFiles data files")
      assert(v.filter(!col("ok")).count() == 0, v.collect().mkString("\n"))
    }
  }

  test("manifest: a manifest in the original hand-written format still verifies") {
    import spark.implicits._
    import graft.sources.Manifest
    withTempDir("graft_manifest_v1") { dir =>
      val corpus = s"$dir/corpus"
      val summary = Manifest.writeWithManifest(
        (1L to 300L).map(i => (i, s"doc $i")).toDF("id", "text").repartition(2), corpus)
        .collect()
      // the format the manifest writer emitted by string interpolation
      val shards = summary.sortBy(_.getAs[String]("file")).map { r =>
        s"""{"file":"${r.getAs[String]("file")}","rows":${r.getAs[Long]("rows")},""" +
          s""""content_hash":${r.getAs[Long]("content_hash")},""" +
          s""""content_sum":"${r.getAs[String]("content_sum")}"}"""
      }
      val text = shards.mkString(
        s"""{"total_rows":300,"corpus_hash":${summary.map(_.getAs[Long]("content_hash")).reduce(_ ^ _)},""" +
          s""""corpus_sum":"${summary.map(r => BigInt(r.getAs[String]("content_sum"))).sum}",""" +
          s""""partition_depth":0,"shards":[""", ",", "]}\n")
      val file = new java.io.File(corpus, Manifest.ManifestFile)
      java.nio.file.Files.writeString(file.toPath, text)
      new java.io.File(corpus, s".${Manifest.ManifestFile}.crc").delete()
      val v = Manifest.verifyManifest(spark, corpus)
      assert(v.count() == 2 && v.filter(!col("ok")).count() == 0,
        v.collect().mkString("\n"))
    }
  }

  test("verifyManifest and Manifest.read use the stored schema: no inference job") {
    import spark.implicits._
    import graft.sources.Manifest
    val df = (0 until 180).map(i => (i.toLong, s"doc ${i % 40}", (i % 3).toLong))
      .toDF("id", "text", "shard").repartition(3)
    withTempDir("graft_manifest_schema") { dir =>
      val publishers = Seq[(String, String => Unit)](
        "flat" -> (p => Manifest.writeWithManifest(df, p)),
        "sharded" -> (p => Manifest.writeWithManifest(df, p, partitionCols = Seq("shard"))),
        "profiled" -> (p => Manifest.writeWithManifestAndProfile(df, p, Seq("shard"))))
      for ((name, publish) <- publishers) {
        val corpus = s"$dir/$name"
        publish(corpus)
        var bad = -1L
        var rows: Seq[org.apache.spark.sql.Row] = Nil
        val rec = graft.tools.Profile.record(spark) {
          bad = Manifest.verifyManifest(spark, corpus).filter(!col("ok")).count()
          rows = Manifest.read(spark, corpus).select("id", "text", "shard").collect().toSeq
        }
        val inferred = rec.outside.map(_._1).filter(_.startsWith("parquet at Manifest.scala"))
        assert(inferred.isEmpty, s"$name: jobs outside any SQL execution: $inferred")
        assert(bad == 0L, name)
        // the stored-schema read holds the same rows as an inferring read
        val plain = spark.read.parquet(corpus).select("id", "text", "shard").collect().toSeq
        assert(rows.sortBy(_.getLong(0)) == plain.sortBy(_.getLong(0)), name)
      }
    }
  }

  test("writeWithManifestAndProfile: verifies, profiles as writeProfileFor does, infers no schema") {
    import spark.implicits._
    import graft.sources.Manifest
    // a long partition column with small values: a plain read types it
    // int, and the content hash must fold it the same way on both sides
    val df = (0 until 240).map(i => (i.toLong, if (i % 7 == 0) None else Some(s"doc ${i % 50}"),
        i * 0.5, (i % 3).toLong))
      .toDF("id", "text", "score", "shard").repartition(3)
    def estimates(prof: org.apache.spark.sql.DataFrame) =
      graft.stats.Sketches.estimate(prof).collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    withTempDir("graft_manifest_prof") { dir =>
      for ((name, parts) <- Seq("flat" -> Nil, "sharded" -> Seq("shard"))) {
        val corpus = s"$dir/$name"
        var prof: org.apache.spark.sql.DataFrame = null
        val rec = graft.tools.Profile.record(spark) {
          prof = Manifest.writeWithManifestAndProfile(df, corpus, partitionCols = parts)._2
        }
        val inferred = rec.outside.map(_._1).filter(_.startsWith("parquet at Manifest.scala"))
        assert(inferred.isEmpty, s"$name: jobs outside any SQL execution: $inferred")
        val v = Manifest.verifyManifest(spark, corpus)
        assert(v.count() >= 3 && v.filter(!col("ok")).count() == 0,
          s"$name: ${v.collect().mkString("\n")}")
        val merged = estimates(prof)
        assert(merged == estimates(Manifest.writeProfileFor(spark, corpus)), name)
      }
    }
  }
}
