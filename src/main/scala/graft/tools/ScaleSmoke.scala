package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling smoke for the headline dedup/retrieval family: blow the sf0.1
  * tables up 1×→10× (10× ≈ sf1) and fit the scaling exponent b of
  * t ≈ a·factor^b per operator from min-of-N (SPARK_GRAFT_RUNS, default 3) wall times at factors
  * 1/2/5/10. Linear scaling is b ≈ 1 (plus parallel-slack flattening
  * b < 1 while 32 cores absorb the growth); anything approaching 2 is a
  * pair-explosion bug. Results are recorded in SCALE.md §"Measured
  * scaling". Dev tool — not part of the driver contract.
  *
  * Corpus construction mirrors production growth, not degenerate
  * replication: each text replica is a NEAR-duplicate of its siblings
  * (dup-heavy, stresses candidate generation); embedding replicas get a
  * deterministic per-replica orthogonal-ish perturbation and the IVF
  * centroid count grows with the corpus (16·f) — the production contract
  * that cells bound the within-cell pair explosion as data grows.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(32)
    import spark.implicits._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseDocs = docs.count()
    val baseVecs = emb.count()

    def blowDocs(f: Int): DataFrame = (0 until f).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        concat(col("text"), lit(" v" + i)).as("text")))
      .reduce(_ unionAll _)

    // replica i is the CYCLIC SHIFT of the embedding by i components:
    // norm- and distribution-preserving, but rotated random vectors are
    // ~orthogonal to their originals — so the dup RATE stays constant as
    // the corpus grows (each replica contributes the base corpus's pair
    // structure, shifted; cross-replica pairs stay below threshold).
    // A near-dup perturbation instead makes every replica pair with all
    // its siblings — output grows f², and the measurement reads output
    // explosion, not operator scaling.
    def blowEmb(f: Int): DataFrame = (0 until f).map { i =>
      // shift modulo dim: past f = dim (64) a raw shift of i makes the
      // slice length negative and the job dies executor-side; replicas
      // i and i+dim then share a rotation (distinct ids, exact-dup
      // vectors) — harmless for cell/caps ops, and the pair-structure
      // ops (a05) are measured at f ≤ 10 where rotations stay unique
      val s = i % 64
      val rot =
        if (s == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${s + 1}, size(embedding) - $s), " +
          s"slice(embedding, 1, $s))")
      emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), rot.as("embedding"))
    }.reduce(_ unionAll _)

    // r15: messy crawl URL from a doc id (the w-family's SparkEntry
    // recipe with the registrant universe pinned at 5000 sites × 6
    // suffixes — docs/domain grow with f, domains don't)
    def syntheticCrawlUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val scheme = when(id % 3 === 0, "HTTPS").when(id % 3 === 1, "http")
        .otherwise("https")
      val tld = when(id % 7 === 0, "Co.UK")
        .when(id % 7 === 1 || id % 7 === 2, "example.COM")
        .when(id % 7 === 3, "GitHub.IO").when(id % 7 === 4, "blogspot.com")
        .when(id % 7 === 5, "org").otherwise("net.au")
      val port = when(id % 5 === 0, ":443").when(id % 5 === 1, ":8080")
        .otherwise("")
      val path = when(id % 4 === 0, "").when(id % 4 === 1, "/")
        .otherwise(concat(lit("/Articles/"), (id % 100000).cast("string")))
      val query = when(id % 6 === 0,
          concat(lit("?utm_source=feed&id="), (id % 50000).cast("string")))
        .when(id % 6 === 1,
          concat(lit("?id="), (id % 50000).cast("string"), lit("&utm_campaign=x&ref=tw")))
        .when(id % 6 === 2, "?gclid=abc123")
        .when(id % 6 === 3, "?a=1&b=2").otherwise("")
      val frag = when(id % 8 === 0, "#Section-2").otherwise("")
      concat(scheme, lit("://Site-"), (id % 5000).cast("string"), lit("."),
        tld, port, path, query, frag).as("url")
    }

    val queries = Seq((1L, "spark join"), (2L, "window stream"), (3L, "hash filter scan"))
      .toDF("qid", "qtext")

    // --- round-6 additions: codec, interval-join, featurization paths ---
    // synthetic binary corpora are GENERATED EXECUTOR-SIDE (spark.range →
    // map), then parqueted like the text corpora; codecs are the real
    // javax.imageio / javax.sound chains the m02/m03 queries pin.
    def pngBytes(id: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val c = ((id * 37 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def wavBytes(id: Long): Array[Byte] =
      graft.pipeline.Multimodal.encodeWav(
        Array.tabulate[Short](2048)(i => (((id * 31 + i * 7) % 8192) - 4096).toShort), 8000f)

    // events blown with per-replica user_id offsets: per-key event density
    // stays constant, so interval-join output grows linearly (f² would be
    // replica-collision artifact, not operator scaling)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.SparkEntry.loadEvents(spark, sfDir)
    def blowEvents(f: Int): DataFrame = (0 until f).map(i =>
      events.select((col("event_id") + lit(i * 1000000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * 10000000L)).as("user_id"),
        col("event_type"), col("value")))
      .reduce(_ unionAll _)

    // (name, factor => result-count thunk). The blown corpus is WRITTEN
    // TO PARQUET and read back — production inputs come from storage;
    // leaving the f-way union as lineage instead re-computes it inside
    // every downstream job and over-charges multi-job operators (d11
    // measured 25.5 s from lineage vs 9.8 s from storage at f=10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_smoke").toString
    def ops(f: Int): Seq[(String, () => Long)] = {
      lazy val d = {
        blowDocs(f).write.mode("overwrite").parquet(s"$tmp/docs_$f")
        spark.read.parquet(s"$tmp/docs_$f")
      }
      lazy val e = {
        blowEmb(f).write.mode("overwrite").parquet(s"$tmp/emb_$f")
        spark.read.parquet(s"$tmp/emb_$f")
      }
      lazy val imgs = {
        spark.range(5000L * f).map(id => (id, pngBytes(id))).toDF("id", "payload")
          .write.mode("overwrite").parquet(s"$tmp/img_$f")
        spark.read.parquet(s"$tmp/img_$f")
      }
      lazy val wavs = {
        spark.range(5000L * f).map(id => (id, wavBytes(id))).toDF("id", "payload")
          .write.mode("overwrite").parquet(s"$tmp/wav_$f")
        spark.read.parquet(s"$tmp/wav_$f")
      }
      // m05 corpus: 9×8 gradient-walk PNGs whose dHash IS mix64(id/4) —
      // groups of 4 consecutive ids are exact dups, cross-group hashes
      // are random 64 bits (near-collisions vanishingly rare), so the
      // true-pair output grows LINEARLY (6 pairs/group); the shared-
      // gradient 32×32 corpus above would instead make every image a
      // near-dup of every other and measure output volume, not the filter
      lazy val dimgs = {
        spark.range(5000L * f).map { id =>
          var z = id / 4 + 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          val p = z ^ (z >>> 31)
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
          (id, bos.toByteArray)
        }.toDF("id", "payload")
          .write.mode("overwrite").parquet(s"$tmp/dimg_$f")
        spark.read.parquet(s"$tmp/dimg_$f")
      }
      lazy val ev = {
        blowEvents(f).write.mode("overwrite").parquet(s"$tmp/ev_$f")
        spark.read.parquet(s"$tmp/ev_$f")
      }
      // blow fact AND part-dimension keys so the derived partsupp
      // (distinct partkey×suppkey pairs) grows linearly too — the whole
      // 6-way join tree scales, not just the probe side. Registered once
      // per factor (lazy): min-of-N times the QUERY, not the blow+write.
      lazy val tpchViews: Unit = {
        def blow(df: DataFrame, offs: Map[String, Long]): DataFrame =
          (0 until f).map(i => df.select(df.columns.map(c =>
            offs.get(c).map(o => (col(c) + lit(i * o)).as(c)).getOrElse(col(c))): _*))
            .reduce(_ unionAll _)
        Seq(
          ("lineitem", Map("l_orderkey" -> 1000000000L, "l_partkey" -> 1000000L)),
          ("orders", Map("o_orderkey" -> 1000000000L)),
          ("part", Map("p_partkey" -> 1000000L))
        ).foreach { case (t, offs) =>
          blow(spark.read.parquet(s"$sfDir/$t.parquet"), offs)
            .write.mode("overwrite").parquet(s"$tmp/${t}_$f")
          spark.read.parquet(s"$tmp/${t}_$f").createOrReplaceTempView(t)
        }
        Seq("supplier", "nation", "region").foreach(t =>
          spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t))
      }
      lazy val liBudgetBase: Long = {
        tpchViews
        spark.table("lineitem")
          .agg(sum(col("l_quantity").cast("long"))).first().getLong(0)
      }
      def liSlim = spark.table("lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
      val liOrder = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      def budgetSelectRow(bud: Long): Long =
        graft.operators.Views.budgetSelect(liSlim, liOrder, "l_quantity", bud).count()
      def budgetWindowRow(bud: Long): Long = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(liOrder: _*).rowsBetween(Long.MinValue, 0)
        liSlim.withColumn("__c", sum(col("l_quantity").cast("long")).over(w))
          .filter(col("__c") <= bud).count()
      }
      // per-group variant (q94): 400 synthetic sources + a ~170-byte
      // payload column. The reference per-group window is already
      // partitioned (no single-task funnel), so the contrast measured
      // here is the full-width payload riding the window exchange+sort
      // vs budgetSelectByGroup's slim (group, keys, cost) projection +
      // cutoff join-back. The action CONSUMES the payload (sums its
      // bytes) — a bare count() would let Catalyst prune the payload
      // out of BOTH plans and measure neither shape's real cost.
      // payload width dial: SPARK_GRAFT_Q94_PAYLOAD repeats of a 12-char
      // unit (default 14 ≈ 170 B metadata-ish rows; 140 ≈ 1.7 KB
      // document-body-ish rows — the regime the operator exists for)
      val q94Repeat = sys.env.getOrElse("SPARK_GRAFT_Q94_PAYLOAD", "14").toInt
      def liGrouped = spark.table("lineitem")
        .select(concat(lit("s"), pmod(col("l_orderkey"), lit(400)).cast("string")).as("src"),
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_quantity"),
          repeat(concat(col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate").cast("string")), q94Repeat).as("payload"))
      def budgetGroupRow(defBud: Long): Long =
        graft.operators.Views.budgetSelectByGroup(liGrouped, "src", liOrder,
          "l_quantity", Map.empty, defBud)
          .agg(sum(length(col("payload")))).first().getLong(0)
      def budgetGroupWindowRow(defBud: Long): Long = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(liOrder: _*)
        liGrouped.withColumn("__c", sum(col("l_quantity").cast("long")).over(w))
          .filter(col("__c") <= defBud)
          .agg(sum(length(col("payload")))).first().getLong(0)
      }
      // r14 (r13 verdict ask #6): the FEW-COLOSSAL-GROUPS layout — the
      // whole corpus split over TWO sources (f=100: 2 × 30 M rows).
      // Same payload-consuming action as the 400-source rows.
      def liTwoGroups = spark.table("lineitem")
        .select(concat(lit("s"), pmod(col("l_orderkey"), lit(2)).cast("string")).as("src"),
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_quantity"),
          repeat(concat(col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate").cast("string")), q94Repeat).as("payload"))
      def budgetColossalRow(defBud: Long, threshold: Long): Long =
        graft.operators.Views.budgetSelectByGroup(liTwoGroups, "src", liOrder,
          "l_quantity", Map.empty, defBud, colossalThreshold = threshold)
          .agg(sum(length(col("payload")))).first().getLong(0)
      Seq(
        // r15: URL curation — normalize is a pure per-row expression
        // chain (expect scan-bound/flat); the composed cap pays the
        // registered-domain broadcast probes + the per-domain budget
        // selection. Domain cardinality stays FIXED (5000·6 registrants)
        // as the corpus blows — the production shape: docs/domain grow,
        // the registrant universe doesn't.
        "url_normalize(w01)" -> (() => {
          val u = d.select(col("doc_id"), syntheticCrawlUrl(col("doc_id")))
          // the filter CONSUMES url_norm — a bare count would prune it
          graft.pipeline.UrlCuration.urlNormalize(u, "url")
            .filter(col("url_norm").isNotNull).count()
        }),
        "url_domain_cap(w03)" -> (() => {
          val u = d.select(col("doc_id"), length(col("text")).as("n_chars"),
            syntheticCrawlUrl(col("doc_id")))
          val dom = graft.pipeline.UrlCuration.registeredDomain(
            u.withColumn("host", graft.pipeline.UrlCuration.hostOf(col("url"))),
            "host")
          graft.operators.Views.budgetSelectByGroup(
            dom.withColumn("__cost", lit(1L)), "registered_domain",
            Seq(col("n_chars").desc, col("doc_id").asc), "__cost",
            budgets = Map.empty, defaultBudget = 5L).count()
        }),
        // r14 batch-3: release diff, source admission, classifier eval,
        // JL projection
        "snapshot_diff(c15)" -> (() => {
          // two releases derived from the same blown corpus (drop %5 /
          // revise %11 on the new side) — output stays delta-sized
          val old = d.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
          val nw = d.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [v2]")))
              .otherwise(col("text")).as("text"))
          graft.operators.History.snapshotDiff(old, nw,
            Seq("doc_id"), Seq("text")).count()
        }),
        "source_overlap(d17)" -> (() => {
          // production shape: corpus grows with f, source count doesn't
          // (20 + the aggregator that re-tags a quarter of every replica)
          val base = d.select(
            concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string"))
              .as("source"), col("text"))
          val aug = base.unionByName(d.filter(col("doc_id") % 4 === 0)
            .select(lit("crawl_dup").as("source"), col("text")))
          graft.pipeline.Dedup.sourceOverlap(aug, "text", "source").count()
        }),
        "auc_by_group(ml09)" -> (() => {
          // 200k·f scored rows, 32 groups, 1000 distinct quantized scores:
          // the ordering window runs over ≤1000 rows/group at ANY f
          val scored = spark.range(200000L * f).select(
            pmod(col("id"), lit(32)).as("g"),
            (pmod(col("id") * 2654435761L, lit(1000)) / lit(1000.0)).as("score"),
            pmod(col("id") * 31L, lit(2)).cast("int").as("label"))
          graft.ml.MLSupport.aucByGroup(scored, "score", "label", Seq("g")).count()
        }),
        "random_project(a16)" -> (() => {
          // the filter CONSUMES proj — a bare count would prune the kernel
          graft.pipeline.Similarity.randomProject(e, "embedding", "proj", 16)
            .filter(element_at(col("proj"), 1).isNotNull).count()
        }),
        "minhash_dedup(d02)" -> (() =>
          graft.pipeline.Dedup.minhashDedup(d, "text", "doc_id", threshold = 0.5).count()),
        "incr_minhash(d11)" -> (() => {
          val old = d.filter(col("doc_id") % 2 === 0)
          val batch = d.filter(col("doc_id") % 2 === 1)
          val index = graft.pipeline.Dedup.bandRows(
            graft.pipeline.Dedup.minhashSignaturesFromShingles(
              graft.pipeline.Dedup.shingled(old, "text", "doc_id")))
          val kept = graft.pipeline.Dedup.incrementalMinhashKept(batch, index,
            "text", "doc_id", threshold = 0.5)
          kept.count()
        }),
        "span_dedup(t09)" -> (() =>
          graft.pipeline.Dedup.spanDedup(d, "text", "doc_id", w = 6).count()),
        // round 15: corpus-order novelty — the postings shuffle is the
        // cost; the hashed-key path is the scale path (t23)
        "ngram_novelty(t22)" -> (() =>
          graft.pipeline.TextAnalysis.ngramNovelty(d, "text", "doc_id").count()),
        // round 14: distinct-n diversity — the (group, gram) partial agg
        // absorbs within-slice repetition map-side, so the shuffle
        // carries near-distinct grams; expect the t22/t10 linear family
        "distinct_ngrams(t26)" -> (() => {
          val src = d.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")))
          graft.pipeline.TextAnalysis.distinctNgrams(src, "text", "source",
            Seq(1, 2, 3)).count()
        }),
        // round 14: the datacard aggregate (one corpus shuffle on
        // (source, fp)) and the hashed-NB classifier (one (id, bucket)
        // aggregate + broadcast weight join) — both should track the
        // d01/t10 linear family; source synthesized 20-way from the id
        "datacard(p10)" -> (() => {
          val src = d.withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")))
          graft.pipeline.TextAnalysis.datacard(src, "text", "doc_id", "source")
            .agg(sum("n_tokens")).first().getLong(0)
        }),
        "nb_quality(t24)" -> (() => {
          val out = graft.pipeline.TextAnalysis.nbQualityScore(d, "text", "doc_id",
            isPos = col("doc_id") % 5 === 0, dim = 256)
          // force the log-odds fold, not just the row count
          out.agg(sum(when(col("pred_hq"), 1L).otherwise(0L))).first().getLong(0)
        }),
        // round 14: cluster-balanced diversity sample — cells grow 16·f
        // (constant expected cell size), cap 50/cell, so output grows
        // linearly and the cost should track the assignment pass
        "diversity_sample(a12)" -> (() => {
          val centroids = e.filter(col("vec_id") < 16L * f).orderBy("vec_id")
            .select("embedding").collect()
            .map(_.getSeq[Float](0).toArray.map(_.toDouble))
          val idx = graft.pipeline.IvfIndex.buildFromCentroids(e, "embedding", "vec_id", centroids)
          graft.pipeline.IvfIndex.diversitySample(idx, perCell = 50).count()
        }),
        // round 15: int8-shortlist IVF — cells grow 16·f like a05, so
        // probed-cell volume per query stays constant; cost should track
        // the index build (assign+quantize = one corpus pass), not f²
        "ivf_int8(a11)" -> (() => {
          val centroids = e.filter(col("vec_id") < 16L * f).orderBy("vec_id")
            .select("embedding").collect()
            .map(_.getSeq[Float](0).toArray.map(_.toDouble))
          val idx = graft.pipeline.IvfIndex.buildFromCentroids(e, "embedding", "vec_id", centroids)
          val qs = e.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid")
          graft.pipeline.IvfIndex.topKQuantized(idx, qs, "embedding", "qid",
            k = 10, nprobe = 4, shortlist = 20).count()
        }),
        "bm25_retrieve(c06)" -> (() =>
          graft.pipeline.Relevance.bm25Retrieve(d, "text", "doc_id",
            queries, "qid", "qtext", k = 10).count()),
        "tfidf(c01)" -> (() =>
          graft.pipeline.Relevance.tfidfTopTerms(d, "text", "doc_id", k = 3).count()),
        "semantic_dedup(a05)" -> (() => {
          // cells grow with the corpus: 16·f centroids keep E[cell size]
          // constant — the scale contract that bounds within-cell pairs
          val centroids = e.filter(col("vec_id") < 16L * f).orderBy("vec_id")
            .select("embedding").collect()
            .map(_.getSeq[Float](0).toArray.map(_.toDouble))
          val idx = graft.pipeline.IvfIndex.buildFromCentroids(e, "embedding", "vec_id", centroids)
          graft.pipeline.Dedup.semanticPairs(idx, threshold = 0.35).count()
        }),
        "image_decode(m02)" -> (() => {
          // the m02 chain: decode → resize → re-encode → decode → stats;
          // the agg over a feature forces every image through both codecs
          val feats = graft.pipeline.Multimodal.extractFeatures(
            graft.pipeline.Multimodal.resizeImages(imgs, "id", "payload", 16, 16),
            "id", "payload")
          feats.agg(sum(col("features")(4))).first(); feats.count()
        }),
        "audio_decode(m03)" -> (() => {
          val feats = graft.pipeline.Multimodal.extractFeatures(wavs, "id", "payload")
          feats.agg(sum(col("features")(5))).first(); feats.count()
        }),
        "frame_sample(m04)" -> (() => {
          val fr = graft.pipeline.Multimodal.sampleFrames(
            graft.pipeline.Multimodal.withBinaryPayload(d, "text", "video"),
            "doc_id", "payload", chunkBytes = 64, everyK = 2)
          // sum of frame lengths forces the substring bytes, not just counts
          fr.agg(sum(octet_length(col("frame_bytes")))).first().getLong(0)
        }),
        "interval_join(e02)" -> (() => {
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"), col("value"))
          graft.streaming.EventStreams.intervalJoin(clicks, purchases, Seq("user_id"),
            "click_ts", "purchase_ts", lowerMs = 0L, upperMs = 30 * 60 * 1000L).count()
        }),
        "hashed_features(t11)" -> (() => {
          val hf = graft.pipeline.TextAnalysis.hashedTokenFeatures(
            d, "text", "doc_id", dim = 1 << 16)
          hf.agg(sum(size(col("indices")))).first().getLong(0)
        }),
        "tpch_q9(q80)" -> (() => { tpchViews; spark.sql(graft.EntryShared.tpchQ9Sql).count() }),
        "mixture_sample(c08)" -> (() => {
          // budget scales with the corpus so the kept fraction stays
          // constant — measures the two-pass machinery, not a shrinking
          // output
          val srcs = (0 until 20).map(s => s"src$s" -> 0.05).toMap
          graft.pipeline.TextAnalysis.mixtureSample(
            d.withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20)))),
            "text", "doc_id", "source", srcs,
            totalTokens = 30000L * f, nBuckets = 256).count()
        }),
        "token_ids(t14)" -> (() => {
          val ranked = graft.pipeline.TextAnalysis.rankVocabulary(
            graft.pipeline.TextAnalysis.vocabulary(d, "text", "doc_id", minDocFreq = 5))
          val enc = graft.pipeline.TextAnalysis.encodeTokens(d, "text", "doc_id", ranked)
          enc.agg(sum(size(col("token_ids")))).first().getLong(0)
        }),
        // --- round-10 additions: time series, history, graph, tokenizer
        // training, validation — the new families' scaling evidence ---
        "resample(ts01)" -> (() =>
          graft.operators.TimeSeries.resample(ev, "ts", Seq("user_id"), 21600L,
            Seq("s" -> sum(col("value").cast("decimal(18,2)")))).count()),
        "scd2(h01)" -> (() =>
          graft.operators.History.scd2(ev, Seq("user_id"), "ts",
            Seq("event_type"), Seq("event_id")).count()),
        "cdc_apply(h02)" -> (() => {
          tpchViews
          val base = spark.read.parquet(s"$sfDir/customer.parquet")
            .select(col("c_custkey").as("k"), col("c_acctbal").as("v"))
          val ch = spark.table("orders").select(col("o_custkey").as("k"),
            col("o_totalprice").as("v"), col("o_orderdate").as("t"),
            when(col("o_orderstatus") === "P", "D").otherwise("U").as("op"),
            col("o_orderkey").as("seq"))
          graft.operators.History.cdcApply(base, ch, Seq("k"), Seq("v"),
            "t", "op", Seq("seq")).count()
        }),
        "pagerank(g01)" -> (() => {
          tpchViews
          val li = spark.table("lineitem")
          val fwd = li.select(concat(lit("p"), col("l_partkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
          val pr = graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 5)
          val n = pr.count(); pr.unpersist(blocking = false); n
        }),
        "topk_group(q90)" -> (() => {
          // native bounded-heap top-3 lineitems per part
          tpchViews
          graft.operators.Views.topKByGroup(
            spark.table("lineitem")
              .select("l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber"),
            Seq("l_partkey"), Seq("l_extendedprice", "l_orderkey"), k = 3).count()
        }),
        "topk_group_window(ref)" -> (() => {
          // the window formulation of the SAME query — the comparison row
          // that quantifies what the bounded-heap aggregate saves
          tpchViews
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("l_partkey")
            .orderBy(col("l_extendedprice").desc, col("l_orderkey").desc)
          spark.table("lineitem")
            .select("l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber")
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= 3).count()
        }),
        "topk_lowcard(q90)" -> (() => {
          // the case the aggregate exists for: THREE groups — the window
          // form degenerates to 3 sort tasks over the whole corpus while
          // the bounded heap stays fully parallel in the map phase
          tpchViews
          graft.operators.Views.topKByGroup(
            spark.table("lineitem")
              .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
            Seq("l_returnflag"), Seq("l_extendedprice", "l_orderkey"), k = 3).count()
        }),
        "topk_lowcard_window(ref)" -> (() => {
          tpchViews
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag")
            .orderBy(col("l_extendedprice").desc, col("l_orderkey").desc)
          spark.table("lineitem")
            .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
            .withColumn("__rk", row_number().over(w))
            .filter(col("__rk") <= 3).count()
        }),
        // --- round 13 (r12 verdict ask #4): budgetSelect through the
        // decades, both budget regimes, vs the naive GLOBAL running-sum
        // window it replaces. Budgets scale with the corpus (a fixed
        // fraction of total quantity) so the kept fraction — and thus the
        // comparison — is regime-stable across factors. The shared
        // `liBudgetBase` total is computed once per factor outside the
        // min-of-N (first-run cost, excluded by the min like the corpus
        // writes). The window rows funnel the WHOLE corpus through one
        // un-partitioned sort task; budgetSelect's range exchange carries
        // only (price, orderkey, linenumber, qty) and its pass 2 reads
        // one boundary partition.
        "budget_select(q92)" -> (() => {
          tpchViews; budgetSelectRow(liBudgetBase * 3 / 10)
        }),
        "budget_select_window(ref)" -> (() => {
          tpchViews; budgetWindowRow(liBudgetBase * 3 / 10)
        }),
        "budget_tight(q92)" -> (() => {
          tpchViews; budgetSelectRow(liBudgetBase / 100)
        }),
        "budget_tight_window(ref)" -> (() => {
          tpchViews; budgetWindowRow(liBudgetBase / 100)
        }),
        "budget_by_group(q94)" -> (() => {
          tpchViews; budgetGroupRow(liBudgetBase * 3 / 10 / 400)
        }),
        "budget_by_group_window(ref)" -> (() => {
          tpchViews; budgetGroupWindowRow(liBudgetBase * 3 / 10 / 400)
        }),
        // --- round 14 (r13 verdict ask #6): the colossal-group regime.
        // The auto row uses the DEFAULT threshold (2 M rows/group): at
        // f=1 (0.3 M/group) both groups stay on the window path, at
        // f≥10 they auto-route through the shared range-exchange scan —
        // the decade ladder shows the detector switching. The (ref) row
        // pins the same layout to the per-group window (threshold
        // MaxValue): its TWO sort tasks each swallow half the corpus.
        "budget_colossal(q94auto)" -> (() => {
          tpchViews; budgetColossalRow(liBudgetBase * 3 / 10 / 2, 2000000L)
        }),
        "budget_colossal_window(ref)" -> (() => {
          tpchViews; budgetColossalRow(liBudgetBase * 3 / 10 / 2, Long.MaxValue)
        }),
        // distribution matching (c12) vs the naive whole-bucket window at
        // THREE buckets (l_returnflag) — the low-cardinality straggler
        // case the r13 boundary rewrite exists for. Target mix = the
        // small-quantity slice's returnflag mix.
        "match_distribution(c12)" -> (() => {
          tpchViews
          val li = spark.table("lineitem")
            .select((col("l_orderkey") * 8 + col("l_linenumber")).as("key"),
              col("l_returnflag").as("bucket"))
          val tgt = spark.table("lineitem").filter(col("l_quantity") <= 10)
            .select(col("l_returnflag").as("bucket"))
          val m = new graft.core.DDFManager(spark)
          graft.operators.Views.matchDistribution(
            m.register(li), "bucket", "key", tgt).df.count()
        }),
        "match_distribution_window(ref)" -> (() => {
          tpchViews
          val li = spark.table("lineitem")
            .select((col("l_orderkey") * 8 + col("l_linenumber")).as("key"),
              col("l_returnflag").as("bucket"))
          val tgt = spark.table("lineitem").filter(col("l_quantity") <= 10)
            .select(col("l_returnflag").as("bucket"))
          val tc = tgt.groupBy("bucket").count().collect()
            .map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
          val dc = li.groupBy("bucket").count().collect()
            .map(r => r.getString(0) -> BigInt(r.getLong(1))).toMap
          val shared = dc.keySet.intersect(tc.keySet).toSeq
          val t = shared.iterator.map(tc).sum
          val mSize = shared.iterator.map(b => dc(b) * t / tc(b)).min
          val quota = typedLit(shared.map(b => b -> (mSize * tc(b) / t).toLong).toMap)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("bucket"))
            .orderBy(graft.operators.Views.xorFold(col("key"), 1000000007L), col("key"))
          li.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= quota(col("bucket"))).count()
        }),
        "pagerank_weighted(g04)" -> (() => {
          // g01's graph with shipment-count weights — measures the
          // weighted contribution arithmetic on the same join+agg shape
          tpchViews
          val li = spark.table("lineitem")
          val fwd = li.groupBy(concat(lit("p"), col("l_partkey")).as("src"),
              concat(lit("s"), col("l_suppkey")).as("dst"))
            .agg(count(lit(1)).as("w"))
          val edges = fwd.unionByName(
            fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          val pr = graft.operators.Graph.pageRankWeighted(
            edges, "src", "dst", "w", iterations = 5)
          val n = pr.count(); pr.unpersist(blocking = false); n
        }),
        "kcore(g05)" -> (() => {
          // cliques GROW with f (robust core, constant peel depth);
          // the unraveling lattice stays FIXED at 150 nodes so the
          // cascade depth (~10 rounds) is constant and the exponent
          // measures the per-round alive-join scan, not iteration count
          // (cascade depth is graph-geometry, not data-size — an
          // operator contract documented in the scaladoc)
          val n = 20000L * f
          val ids = spark.range(n).toDF("id")
          val cl = ids.withColumn("g", expr("id div 10"))
          val cliqueEdges = cl.as("x")
            .join(cl.select(col("id").as("id2"), col("g")).as("y"),
              col("x.g") === col("y.g") && col("x.id") < col("id2"))
            .select(col("x.id").as("src"), col("id2").as("dst"))
          val lat = spark.range(n, n + 150).toDF("id")
          val off = Seq(3L, 5L, 8L).toDF("o")
          val latEdges = lat.crossJoin(broadcast(off))
            .select(col("id").as("src"), (col("id") + col("o")).as("dst"))
            .filter(col("dst") < n + 150)
          graft.operators.Graph.kCore(
            cliqueEdges.unionByName(latEdges), "src", "dst", k = 6,
            maxIter = 40).count()
        }),
        "triangles(g02)" -> (() => {
          // offset graph (7/11/18 — two triangle families per anchor):
          // 3N edges, ~2N triangles, so output is linear and the wedge
          // join's degree-orientation bound is what the exponent measures
          val ids = spark.range(20000L * f).toDF("k")
          val off = Seq(7L, 11L, 18L).toDF("o")
          val cand = ids.crossJoin(broadcast(off))
            .select(col("k").as("src"), (col("k") + col("o")).as("dst"))
          val edges = cand.join(ids.select(col("k").as("dst")), "dst")
          graft.operators.Graph.triangleCount(edges, "src", "dst").count()
        }),
        "image_neardup(m05)" -> (() => {
          val hashes = graft.pipeline.Multimodal.imageDHashes(dimgs, "id", "payload")
          graft.pipeline.Multimodal.nearDupImagePairs(hashes, "id",
            maxHamming = 2, bands = 4).count()
        }),
        "bpe_encode_scale(t20)" -> (() => {
          // production-vocabulary encoder: 500 synthetic byte-pair
          // merges (chained low-byte pairs — heavily applicable, so the
          // per-word merge loop does real passes) over the blown corpus;
          // per-row CPU, no shuffle — the expected shape is flat-to-
          // linear like the codec rows
          val merges = (0 until 250).map { i =>
            (f"${97 + i % 26}%02X", f"${97 + (i * 7 + 1) % 26}%02X")
          } ++ (0 until 250).map { i =>
            (f"${97 + i % 26}%02X${97 + (i * 7 + 1) % 26}%02X",
              f"${97 + (i * 11 + 2) % 26}%02X")
          }
          graft.pipeline.TextAnalysis.bpeEncodeAtScale(d, "text", merges,
              byteLevel = true)
            .agg(sum(size(col("bpe_tokens")))).first().getLong(0)
        }),
        "quantile_profile(sk05)" -> (() => {
          tpchViews
          val shards = graft.stats.Sketches.quantileAccumulate(
            spark.table("lineitem").withColumn("__shard", pmod(col("l_orderkey"), lit(8))),
            "l_orderkey", "__shard")
          graft.stats.Sketches.quantileMergeEstimate(shards,
            Seq(0.25, 0.5, 0.75)).count()
        }),
        "skew_report(sk04)" -> (() => {
          tpchViews
          graft.stats.Stats.skewReport(spark.table("lineitem"),
            Seq("l_returnflag", "l_suppkey")).count()
        }),
        "bpe_train(t15)" -> (() =>
          graft.pipeline.TextAnalysis.bpeTrain(d, "text", nMerges = 6, minFreq = 1L)
            .count()),
        "validate(v01)" -> (() => {
          tpchViews
          graft.operators.Validate.report(spark.table("lineitem"), Seq(
            graft.operators.Validate.inRange("l_discount", 0.0, 0.05),
            graft.operators.Validate.oneOf("l_returnflag", Seq("A", "N")),
            graft.operators.Validate.ForeignKey(Seq("l_orderkey"),
              spark.table("orders"), Seq("o_orderkey")))).count()
        }),
        // --- round-10 session additions ---
        "dsir_weights(ds01)" -> (() => {
          // the target domain stays FIXED (a domain sample doesn't grow
          // with the raw corpus) while raw blows with f — the production
          // shape: the ratio table is corpus-size-independent
          val target = d.filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000000L)
          graft.pipeline.Dsir.importanceWeights(
            d.filter(col("doc_id") % 7 =!= 0), target, "text", "doc_id").count()
        }),
        "contam_matrix(t17)" -> (() => {
          // suites stay FIXED (eval benches don't grow with the corpus)
          val benches = d.filter(col("doc_id") % 37 === 0 && col("doc_id") < 1000000L)
            .select(concat(lit("b"), (col("doc_id") % 3).cast("string")).as("bench_id"),
              col("text"))
          graft.pipeline.TextAnalysis.contaminationMatrix(
            d.filter(col("doc_id") % 37 =!= 0), benches,
            "text", "doc_id", "bench_id", n = 3).count()
        }),
        "curriculum(c10)" -> (() =>
          graft.pipeline.TextAnalysis.curriculumOrder(
            d.select(col("doc_id"),
              graft.pipeline.TextAnalysis.tokenCount("text").cast("double").as("score")),
            "score", "doc_id", cutoffs = Seq(30.0, 60.0, 90.0)).count()),
        "sketch_profile(sk01)" -> (() => {
          tpchViews
          graft.stats.Sketches.estimate(graft.stats.Sketches.profile(
            spark.table("lineitem"),
            Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))).count()
        }),
        "edit_dist_join(j03)" -> (() => {
          // names derived from the BLOWN keys with a DATA-DERIVED stride
          // (a fixed stride smaller than the key span replicates ids →
          // identical names → dup fan-out through the verify join, and
          // the measurement reads collision artifacts — the round-10
          // first cut hardcoded 1500 against the 15,000-key sf0.1
          // table). Dense numeric ids still make distance-1 pairs per
          // key GROW with range width (more digit positions active) —
          // the wall is output-bound; filter health = per-pair cost
          val base = spark.read.parquet(s"$sfDir/customer.parquet")
            .select(col("c_custkey"))
          val span = base.agg(max(col("c_custkey"))).first().getLong(0) + 1L
          val blown = (0 until f).map(i =>
              base.select((col("c_custkey") + lit(i * span)).as("k")))
            .reduce(_ unionAll _)
            .select(col("k"), format_string("Customer#%09d", col("k")).as("name"))
          // k=1 → the FastSS deletion-neighborhood path (the constant
          // name prefix defeats substring signatures — see
          // SetJoin.editCandidates)
          graft.pipeline.SetJoin.editDistanceJoin(blown, "name", "k", maxDist = 1)
            .count()
        }),
        "sorted_neighborhood(j09)" -> (() => {
          // same blown zero-padded name corpus as j03: SNM's candidate
          // budget is n·(window−1) BY CONSTRUCTION, so the expected
          // shape is the sort's n·log n plus a linear verify — the
          // contrast row to j03's output-bound complete join on the
          // identical corpus
          val base = spark.read.parquet(s"$sfDir/customer.parquet")
            .select(col("c_custkey"))
          val span = base.agg(max(col("c_custkey"))).first().getLong(0) + 1L
          val blown = (0 until f).map(i =>
              base.select((col("c_custkey") + lit(i * span)).as("k")))
            .reduce(_ unionAll _)
            .select(col("k"), format_string("Customer#%09d", col("k")).as("name"))
          graft.pipeline.SetJoin.sortedNeighborhoodJoin(blown, "name", "k",
            window = 10, maxDist = 1).count()
        }),
        "edit_dist_join_k3(j04)" -> (() => {
          // the k ≥ 3 PassJoin path's POSITIVE-case measurement: j04's
          // md5-derived 20-char 16-letter corpus — no constant region,
          // groups of 4 siblings at planted distances 0–3 so true pairs
          // (6/group) grow LINEARLY with the corpus (an algebraic base
          // recipe leaks shift/negation collisions and goes
          // output-quadratic). Filter health = the per-verified-pair
          // cost derived from the row.
          val n = 15000L * f
          val corpus = spark.range(n)
            .select(col("id").as("k"), expr("id div 4").as("g"),
              expr("id % 4").as("r"))
            .withColumn("s0", expr("translate(substring(md5(concat('b', " +
              "cast(g AS string))), 1, 20), '0123456789abcdef', 'abcdefghijklmnop')"))
            .withColumn("s1", expr("CASE WHEN r > 0 THEN concat(" +
              "substring(s0, 1, pmod(g*7, 20)), chr(97 + pmod(g, 16)), " +
              "substring(s0, pmod(g*7, 20) + 2, 100)) ELSE s0 END"))
            .withColumn("s2", expr("CASE WHEN r > 1 THEN concat(" +
              "substring(s1, 1, pmod(g*7 + 5, 20)), chr(97 + pmod(g + 5, 16)), " +
              "substring(s1, pmod(g*7 + 5, 20) + 2, 100)) ELSE s1 END"))
            .withColumn("s3", expr("CASE WHEN r > 2 THEN concat(" +
              "substring(s2, 1, pmod(g*7 + 10, 20)), chr(97 + pmod(g + 10, 16)), " +
              "substring(s2, pmod(g*7 + 10, 20) + 2, 100)) ELSE s2 END"))
            .select(col("k"), col("s3").as("name"))
          graft.pipeline.SetJoin.editDistanceJoin(corpus, "name", "k", maxDist = 3)
            .count()
        }),
        "edit_lookup_k3(j06)" -> (() => {
          // the LOOKUP production shape: the probe batch stays FIXED
          // (today's ingest doesn't grow with the canon) while the
          // canonical corpus blows with f — cost should track the canon
          // side's segment and probe rows, not the probe count
          def strCol(idCol: String) = Seq(
            ("s0", "translate(substring(md5(concat('b', cast(g AS string))), " +
              "1, 20), '0123456789abcdef', 'abcdefghijklmnop')"),
            ("s1", "CASE WHEN r > 0 THEN concat(substring(s0, 1, pmod(g*7, 20)), " +
              "chr(97 + pmod(g, 16)), substring(s0, pmod(g*7, 20) + 2, 100)) ELSE s0 END"),
            ("s2", "CASE WHEN r > 1 THEN concat(substring(s1, 1, pmod(g*7 + 5, 20)), " +
              "chr(97 + pmod(g + 5, 16)), substring(s1, pmod(g*7 + 5, 20) + 2, 100)) ELSE s1 END"),
            ("s3", "CASE WHEN r > 2 THEN concat(substring(s2, 1, pmod(g*7 + 10, 20)), " +
              "chr(97 + pmod(g + 10, 16)), substring(s2, pmod(g*7 + 10, 20) + 2, 100)) ELSE s2 END"))
          val canon = strCol("k").foldLeft(
              spark.range(15000L * f).select(col("id").as("k"),
                expr("id div 4").as("g"), expr("id % 4").as("r"))) {
              case (df, (c, e)) => df.withColumn(c, expr(e))
            }.select(col("k"), col("s3").as("name"))
          val probes = spark.range(15000L).filter(col("id") % 5 === 0)
            .select(col("id").as("pk"), expr("id div 4").as("g"))
            .withColumn("s0", expr("translate(substring(md5(concat('b', " +
              "cast(g AS string))), 1, 20), '0123456789abcdef', 'abcdefghijklmnop')"))
            .withColumn("pname", expr("concat(substring(s0, 1, pmod(g*3 + 7, 20)), " +
              "chr(97 + pmod(g + 3, 16)), substring(s0, pmod(g*3 + 7, 20) + 2, 100))"))
            .select("pk", "pname")
          graft.pipeline.SetJoin.editDistanceLookup(probes, "pname", "pk",
            canon, "name", "k", maxDist = 3).count()
        }),
        // ---- r17 (verdict ask #5): decades for the r16 families ----
        // ht01: pure per-row expression chain — the sum(length) sink
        // defeats column pruning (count() alone would skip the text)
        "html_to_text(ht01)" -> (() => {
          val html = d.select(concat(
            lit("<html><head><title>T&amp;x</title><style>p{m:1}</style>" +
              "<script>var q=\"<b>s</b>\";</script></head><body><!-- c -->" +
              "<h1>H&nbsp;1</h1><p class=\"big\">"), col("text"),
            lit(" &lt;q&gt; &#38;</p></body></html>")).as("html"))
          graft.pipeline.HtmlExtract.htmlToText(html, "html")
            .agg(sum(length(col("text")))).first().getLong(0)
        }),
        // ht06: dual-capture anchor extraction + scan-local explode
        "anchor_extract(ht06)" -> (() => {
          val pages = d.select(syntheticCrawlUrl(col("doc_id")).as("url"),
            concat(lit("<html><body><a href=\""),
              syntheticCrawlUrl(col("doc_id") * 7 + 3),
              lit("\">click <b>here</b> now</a><a href='/rel/"),
              (col("doc_id") % 97).cast("string"),
              lit("'>two words</a><a href=unq>u</a></body></html>")).as("html"))
          graft.pipeline.HtmlExtract.anchorExtract(pages, "html", "url").count()
        }),
        // w07: config-sized rule table broadcast onto a growing corpus —
        // cost should track the URL count (per-pair regex probes against
        // ~3 rules/host), never |corpus|x|rules|
        "robots_filter(w07)" -> (() => {
          val rules = spark.range(300L)
            .select(concat(lit("site-"), (col("id") % 100).cast("string"),
                lit(".example.com")).as("host"),
              when(col("id") % 3 === 0, "allow").otherwise("disallow").as("rule"),
              when(col("id") % 3 === 0,
                  concat(lit("/Articles/"), (col("id") % 10).cast("string")))
                .when(col("id") % 3 === 1, lit("/Articles/"))
                .otherwise(lit("*gclid*")).as("pattern"))
          val urls = d.select(col("doc_id"),
            syntheticCrawlUrl(col("doc_id")).as("url"))
          graft.pipeline.UrlCuration.robotsFilter(urls, "url", rules).count()
        }),
        // w08: the corpus-scaling half of the authority build — links →
        // hosts → broadcast registered-domain map on both endpoints →
        // distinct domain edges. (PageRank itself runs on the
        // config-sized domain graph and is factor-invariant.)
        "authority_edges(w08)" -> (() => {
          val pages = d.select(syntheticCrawlUrl(col("doc_id")).as("src_url"),
            concat(lit("<html><body><a href=\""),
              syntheticCrawlUrl(col("doc_id") * 7 + 3),
              lit("\">x</a><a href=\""),
              syntheticCrawlUrl(col("doc_id") * 13 + 5),
              lit("\">y</a></body></html>")).as("html"))
          val links = graft.pipeline.HtmlExtract.linkExtract(pages, "html", "src_url")
          val hosts = links.filter(col("resolved").isNotNull)
            .select(graft.pipeline.UrlCuration.hostOf(col("src_url")).as("sh"),
              graft.pipeline.UrlCuration.hostOf(col("resolved")).as("dh"))
            .filter(col("sh").isNotNull && col("dh").isNotNull)
          val hmap = graft.pipeline.UrlCuration.registeredDomain(
              hosts.select(col("sh").as("host"))
                .unionAll(hosts.select(col("dh").as("host"))).distinct(),
              "host",
              Seq("com", "org", "uk", "io", "au", "co.uk", "net.au",
                "github.io", "blogspot.com"))
            .select(col("host"), col("registered_domain"))
          hosts
            .join(broadcast(hmap.withColumnRenamed("host", "sh")
              .withColumnRenamed("registered_domain", "sd")), Seq("sh"))
            .join(broadcast(hmap.withColumnRenamed("host", "dh")
              .withColumnRenamed("registered_domain", "dd")), Seq("dh"))
            .select("sd", "dd").filter(col("sd") =!= col("dd"))
            .distinct().count()
        }),
        // t29: line-frequency rewrite — 16-byte frequency exchange +
        // broadcast common set + the one payload regroup by id
        "drop_lines(t29)" -> (() => {
          val docs2 = d.select(col("doc_id"), concat_ws("\n",
            lit("NAV HOME ABOUT"),
            concat(lit("body "), substring(col("text"), 1, 60)),
            when(col("doc_id") % 3 === 0, "subscribe to our newsletter")
              .otherwise(concat(lit("para "), (col("doc_id") % 5000).cast("string"))),
            lit("  (c) 2024 example corp  ")).as("text"))
          graft.pipeline.TextAnalysis.dropCommonLines(docs2, "text", "doc_id",
              dfThreshold = 20L)
            .agg(sum(col("n_dropped"))).first().getLong(0)
        }),
        // s13: the per-epoch batch core of the raw-HTML streaming ingest
        // (canonical-aware key + index anti-probe); the MemoryStream
        // harness itself is epoch bookkeeping, not corpus work
        "html_ingest_core(s13)" -> (() => {
          val pages = d.select(col("doc_id"),
            syntheticCrawlUrl(col("doc_id")).as("url"),
            concat(lit("<html><head><link rel=\"canonical\" href=\"https://canon-"),
              (col("doc_id") % 1000).cast("string"), lit(".example.com/c/"),
              (col("doc_id") % 97).cast("string"),
              lit("\"></head><body>b</body></html>")).as("html"))
          val keyed = pages.select(col("doc_id"),
            graft.pipeline.HtmlExtract.canonicalizedUrl(col("url"), col("html"))
              .as("curl"))
          graft.pipeline.UrlCuration.incrementalUrlDedup(
            keyed, spark.emptyDataFrame.select(lit("").as("fingerprint")).limit(0),
            "curl", "doc_id").count()
        }),
        // ---- r17 crawl-layer additions ----
        // ht09/ht10: WARC record split -> status/content-type cut ->
        // HTML-to-text — all per-row expression work; the sum(length)
        // sink defeats pruning
        "warc_wet(ht10)" -> (() => {
          val files = d.select(col("doc_id"), concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            syntheticCrawlUrl(col("doc_id")),
            lit("\r\nContent-Type: application/http;msgtype=response\r\n\r\n"),
            when(col("doc_id") % 7 === 2, lit("HTTP/1.1 404 Not Found\r\n"))
              .otherwise(lit("HTTP/1.1 200 OK\r\n")),
            lit("Content-Type: text/html; charset=utf-8\r\n\r\n" +
              "<html><body><p>"), col("text"),
            lit(" &amp; more</p></body></html>\r\n\r\n" +
              "WARC/1.0\r\nWARC-Type: metadata\r\n" +
              "Content-Type: application/warc-fields\r\n\r\n" +
              "fetchTimeMs: 9\r\n\r\n")).as("warc"))
          val resp = graft.pipeline.Warc.htmlResponses(files, "warc", "doc_id")
            .filter(col("status") === 200)
          resp.select(graft.pipeline.HtmlExtract.htmlToTextCol(col("html")).as("t"))
            .agg(sum(length(col("t")))).first().getLong(0)
        }),
        // w09: robots.txt bodies -> rule table. Hosts grow with f
        // (bodies stay KiB-sized — the production shape); the per-host
        // line windows must distribute, never pile on one key
        "robots_parse(w09)" -> (() => {
          val bodies = spark.range(20000L * f).select(
            concat(lit("h-"), col("id").cast("string"),
              lit(".example.com")).as("host"),
            concat(lit("User-agent: other-bot\nDisallow: /\n\n"),
              when(col("id") % 3 === 0,
                  lit("User-agent: graftbot\nDisallow: /tmp/\nAllow: /tmp/ok\n"))
                .otherwise(lit("")),
              lit("User-agent: *\nDisallow: /private/\n" +
                "Sitemap: https://sm.example.com/x.xml\nnoise\n")).as("body"))
          graft.pipeline.UrlCuration.robotsParse(
            bodies, "host", "body", agent = "graftbot-img").count()
        }),
        // w11: frontier scheduling over the FIXED 5000-site universe —
        // per-host load grows with f, the bounded-heap cap (100) holds
        // the shuffle constant-per-host; cost must track the scan
        "frontier_schedule(w11)" -> (() => {
          val frontier = d.select(syntheticCrawlUrl(col("doc_id")).as("url"),
            (col("doc_id") % 1000).cast("double").as("prio"))
          graft.pipeline.UrlCuration.frontierSchedule(frontier, "url", "prio",
            crawlDelayMs = 250L, maxPerHost = 100).count()
        }),
        // w12: redirect chains over a growing fetch log (30% 3xx) —
        // maxHops+1 key joins, each bounded by the log and edge sizes
        "redirect_resolve(w12)" -> (() => {
          def rurl(k: org.apache.spark.sql.Column) =
            concat(lit("https://rd-"), (k % 50000).cast("string"),
              lit(".example.com/p/"), k.cast("string"))
          val id = col("doc_id")
          val log = d.select(rurl(id).as("url"),
            when(id % 10 === 1, 301).when(id % 10 === 3, 302)
              .when(id % 10 === 5, 307).otherwise(200).as("status"),
            when(id % 10 === 1, concat(lit("../hop/"), id.cast("string")))
              .when(id % 10 === 3 || id % 10 === 5, rurl(id + 2))
              .otherwise(lit(null).cast("string")).as("location"))
          graft.pipeline.UrlCuration.resolveRedirects(
            log, "url", "status", "location", maxHops = 3).count()
        }),
        // ht11: the HOF-based main-content chain (transform/filter are
        // CodegenFallback — measure what the interpreted projection
        // costs; the sum(length) sink defeats pruning)
        "main_content(ht11)" -> (() => {
          val pages = d.select(concat(
            lit("<html><head><title>T</title></head><body>" +
              "<nav><a href=\"/a\">Home</a> <a href=\"/b\">About</a></nav>" +
              "<div><h1>H</h1><p>"), col("text"),
            lit(" tail words for the gate.</p><p>Tiny.</p></div>" +
              "<footer>© corp · <a href=\"/t\">Terms of Service</a> · " +
              "<a href=\"/p\">Privacy Policy Pages</a></footer>" +
              "</body></html>")).as("html"))
          pages.select(graft.pipeline.HtmlExtract.mainContentCol(col("html"))
              .as("m"))
            .agg(sum(length(col("m")))).first().getLong(0)
        }),
        // g06: HITS over edges growing with f on the FIXED 5000-host
        // universe (nodes bounded, edge joins grow) — 3 iterations
        "hits(g06)" -> (() => {
          val ed = d.select(
            concat(lit("h"), (col("doc_id") % 5000).cast("string")).as("src"),
            concat(lit("h"), ((col("doc_id") * 7 + 3) % 5000).cast("string"))
              .as("dst"))
          val out = graft.operators.Graph.hits(ed, "src", "dst", iterations = 3)
          val n = out.count(); out.unpersist(blocking = false); n
        }),
        // w13: revisit estimation over a fetch log growing with f
        // (10 fetches per URL — URLs grow, per-URL window stays tiny)
        "revisit(w13)" -> (() => {
          val h = d.select(
            concat(lit("https://rv-"), expr("doc_id div 10").cast("string"),
              lit(".example.com/p")).as("url"),
            (lit(1700000000L) + (col("doc_id") % 10) * 3600L)
              .cast("double").as("ts"),
            concat(lit("h"), floor((col("doc_id") % 10) /
              (lit(1) + pmod(expr("doc_id div 10"), lit(4))))
              .cast("long").cast("string")).as("hash"))
          graft.pipeline.UrlCuration.revisitSchedule(
            h, "url", "ts", "hash", 600.0, 2592000.0).count()
        }),
        // w14: apportionment over a weight table growing with f — the
        // remainder bump must ride the range exchange, never one sort
        "crawl_quota(w14)" -> (() => {
          val wts = d.select(
            concat(lit("dom-"), col("doc_id").cast("string")).as("key"),
            (pmod(col("doc_id") * 37L, lit(1000L)) + 1L).as("w"))
          graft.operators.Views.apportionBudget(
            wts, "key", "w", 1000000L).count()
        }))
    }

    // SPARK_GRAFT_OPS=m02,e02 narrows by substring for local iteration
    val onlyOps = sys.env.get("SPARK_GRAFT_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def opSelected(name: String): Boolean = onlyOps.forall(_.exists(name.contains))
    // SPARK_GRAFT_FACTORS=1,10,100 overrides the decade ladder — the
    // round-10 third-decade runs (f=100 ≈ sf10, 500 k docs) use this with
    // a narrowed op set; the blown corpus still round-trips through
    // parquet, so f=100 writes ~10× sf1's bytes once per op set
    val factors = sys.env.get("SPARK_GRAFT_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 5, 10))
    // times(op)(factor) = min-of-N seconds
    val times = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[Int, Double]]
    for (f <- factors; (name, thunk) <- ops(f) if opSelected(name)) {
      var best = Double.MaxValue
      var rows = 0L
      val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
      for (_ <- 1 to runs) {
        val t0 = System.nanoTime()
        rows = thunk()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      times.getOrElseUpdate(name, scala.collection.mutable.Map.empty)(f) = best
      println(f"[smoke] factor=$f%-2d docs=${baseDocs * f}%-6d vecs=${baseVecs * f}%-6d " +
        f"op=$name%-20s rows=$rows%-8d min=$best%6.2f s")
      spark.sharedState.cacheManager.clearCache()
    }

    // least-squares slope of log t over log f = the scaling exponent
    // (needs ≥2 distinct factors; a single-factor run just prints times)
    println(s"\n[smoke] scaling exponents (t ~ a * factor^b, min-of-N at " +
      s"f=${factors.mkString("/")}):")
    times.toSeq.sortBy(_._1).foreach { case (name, byF) =>
      val pts = factors.map(f => (math.log(f.toDouble), math.log(byF(f))))
      val n = pts.length
      val times_ = factors.map(f => f"f=$f:${byF(f)}%.2fs").mkString("  ")
      if (n < 2) println(f"[smoke]   $name%-20s b=  n/a   " + times_)
      else {
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val sxx = pts.map(p => p._1 * p._1).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        println(f"[smoke]   $name%-20s b=$b%5.2f   " + times_)
      }
    }
    spark.stop()
    // the blown-corpus copies are gigabytes at f=10 — don't accrete them
    // across dev runs (best-effort; dev tool)
    Cleanup.deleteRecursively(tmp)
  }
}
