package graft.perfbench

import graft.{EntryShared, SparkEntry}
import graft.core.DDFManager
import graft.operators.{Aggregations, Binning, Graph, Joins, Views}
import graft.pipeline.{Dedup, IvfIndex, SetJoin, TextAnalysis}
import graft.sources.Manifest
import graft.sql.Dialect
import graft.stats.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a step sees: the session, the corpus, a scratch dir, the tracer
  * and the invocation's DDF session (built by [[Workload.openSession]]).
  * With `checkDir` set, the sink writes each final frame there for the
  * oracle check and digests what it wrote.
  */
final class Ctx(val spark: SparkSession, val dir: String, val scratch: String,
                val t: Tracer) {
  var m: DDFManager = _
  var checkDir: Option[String] = None
}

/** One step of a workload. Every call into a graft layer sits inside
  * `c.t.op(<layer>)`; the step returns its final frames by name, still
  * lazy, and the runner drives each through the `sink` op. Each name is
  * checked against `oracles(name)`.
  */
final case class Step(name: String, body: Ctx => Seq[(String, DataFrame)])

/** A workload: its steps, the oracle of each final frame, and the corpus
  * properties its reason for existing depends on. Its corpus (which
  * tables, how many replicas) is generated by perfbench/corpus.py.
  */
final case class Workload(name: String, steps: Seq[Step], oracles: Map[String, String],
                          properties: Ctx => Seq[(String, Double)]) {

  /** The analyst's DDF session: a manager with every corpus table loaded. */
  def openSession(c: Ctx): Unit =
    c.m = c.t.op("core.DDFManager") {
      val m = DDFManager(c.spark)
      Workloads.corpusTables(c.dir).foreach(tb => m.loadParquet(s"${c.dir}/$tb.parquet", tb))
      m
    }
}

/** The workloads. Each step replays the composition of the
  * registry query it is named after (see the `graft.Entry*Q` files) with
  * the layer calls made here, so the registry's DuckDB oracle checks its
  * output unchanged.
  */
object Workloads {
  import EntryShared._

  def corpusTables(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  private def oracle(q: String): (String, String) = q -> SparkEntry.oracleSql(q)
  private def one(name: String)(f: Ctx => DataFrame): Step = Step(name, c => Seq(name -> f(c)))

  // ---------------------------------------------------------------- analyst_sql
  // The paper's own API over the TPC-H tables, plus a triangle count over
  // the customer-key graph. It only reads. Every table fits under the
  // broadcast threshold (its trace records the bytes of each), so the
  // SQL joins are broadcast joins; the triangle count's cost is set by
  // its wedge self-join's fan-out, not by input size. No text pipeline
  // runs, so a pipeline optimisation must predict no change here.

  private def sqlStep(q: String, sql: String): Step =
    one(q)(c => c.t.op("sql.Dialect")(Dialect.run(c.m, sql).df))

  private val analystSteps: Seq[Step] = Seq(
    sqlStep("q80_tpch_q9", tpchQ9Sql),
    one("q21_join_multikey") { c =>
      val (li, agg) = c.t.op("core.DDFManager") {
        val li = c.m.getDDFByName("lineitem")
        (li, c.m.register(li.df.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("n_parts"))))
      }
      c.t.op("operators.Joins")(Joins.join(li, agg, "inner",
          byLeft = Seq("l_orderkey", "l_linenumber"),
          byRight = Seq("l_orderkey", "l_linenumber")))
        .df.select(col("l.l_orderkey"), col("l.l_linenumber"), col("r.n_parts"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    one("q95_pivot") { c =>
      c.t.op("operators.Aggregations")(Aggregations.pivot(c.m.getDDFByName("lineitem"),
        Seq("l_linenumber"), "l_returnflag", Seq("A", "N", "R"),
        Seq("qty=sum(l_quantity)", "mx=max(l_extendedprice)")))
        .df.orderBy("l_linenumber")
    },
    one("q41_quantiles") { c =>
      val li = c.m.getDDFByName("lineitem").df
      val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val rows = for (cn <- Seq("l_quantity", "l_extendedprice");
                      (p, v) <- ps.zip(c.t.op("stats.Stats")(Stats.quantiles(li, cn, ps, exact = true))))
        yield (cn, p, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      import c.spark.implicits._
      rows.toDF("col_name", "p", "q").orderBy("col_name", "p")
    },
    one("q50_binning_custom") { c =>
      c.t.op("operators.etl")(Binning.binningCustom(c.m.getDDFByName("lineitem"), "l_quantity",
          qBreaks, includeLowest = true, right = true))
        .df.groupBy("l_quantity").agg(count(lit(1)).as("n"))
        .withColumnRenamed("l_quantity", "bin").orderBy("bin")
    })

  /** Bytes of each join side against the broadcast threshold. */
  private def joinSideBytes(c: Ctx): Seq[(String, Double)] = {
    val threshold = c.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val bytes = corpusTables(c.dir).map { tb =>
      s"bytes.$tb" -> c.m.getDDFByName(tb).df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
    }
    bytes :+ ("bytes.broadcast_threshold" -> org.apache.spark.network.util.JavaUtils.byteStringAsBytes(threshold).toDouble)
  }

  // ------------------------------------------------------------- curation_build
  // ROADMAP item 2's p01 chain, continued to a published corpus, plus the
  // two near-duplicate matchers that are not text dedup: an edit-distance
  // join over entity names at k=3 and an int8 IVF search over embeddings.
  // The only workload that writes, checkpoints and broadcasts a
  // dictionary; its documents come in near-dup sibling groups (one per
  // base document).

  val QualityGate = 0.55
  val NearDupThreshold = 0.7
  val MinDocFreq = 5L
  /** About half the ~26 k tokens of the near-dup-free documents, so the
    * budget cut falls inside the data.
    */
  val TokenBudget = 12000L

  /** p01's frames up to the near-dup drop: (survivors, near-dup-free). */
  private def curated(c: Ctx): (DataFrame, DataFrame) = {
    val docs = c.t.op("core.DDFManager")(c.m.getDDFByName("documents").df)
    val enr = c.t.op("pipeline.TextAnalysis")(TextAnalysis.enrich(docs, "text"))
      .select("doc_id", "lang", "text", "token_count", "quality")
    val qual = enr.filter(col("quality") >= QualityGate)
    val surv = c.t.op("pipeline.Dedup")(Dedup.exactSurvivors(qual, "text", "doc_id"))
    val pairs = c.t.op("pipeline.Dedup")(Dedup.minhashDedup(surv, "text", "doc_id",
      threshold = NearDupThreshold, portable = true))
    val dups = pairs.select(col("id2").as("doc_id")).distinct()
    (surv, surv.join(dups, Seq("doc_id"), "left_anti"))
  }

  private val curationSteps: Seq[Step] = Seq(
    Step("curation_chain", { c =>
      val (_, nodup) = curated(c)
      val encoded = c.t.op("pipeline.TextAnalysis") {
        val ranked = TextAnalysis.rankVocabulary(
          TextAnalysis.vocabulary(nodup, "text", "doc_id", minDocFreq = MinDocFreq))
        TextAnalysis.encodeTokens(nodup, "text", "doc_id", ranked)
      }
      val picked = c.t.op("operators.Views")(Views.budgetSelect(encoded,
        Seq(col("n_tokens").desc, col("id").asc), "n_tokens", TokenBudget))
      val path = s"${c.scratch}/publish"
      // publish, verify, and open the published corpus for reading back
      val published = c.t.op("sources.Manifest") {
        Manifest.writeWithManifestAndProfile(picked.select(col("id").as("doc_id"),
          col("n_tokens"), concat_ws(",", col("token_ids")).as("token_ids")), path)
        val bad = Manifest.verifyManifest(c.spark, path)
          .agg(coalesce(sum(when(col("ok"), 0L).otherwise(1L)), lit(0L))).first().getLong(0)
        require(bad == 0L, s"manifest verification failed for $bad shard(s)")
        c.spark.read.parquet(path)
      }
      Seq("curation_publish" -> published.orderBy("doc_id"))
    }))

  /** The registry's p01 oracle CTEs up to the near-dup drop, continued
    * with t14's encoding over the near-dup-free survivors and q92's
    * running-sum budget cut.
    */
  private val curationPublishOracle: String =
    s"""WITH enr AS (SELECT doc_id, lang, text,
       |    ${duckTokenCount("text")} AS token_count,
       |    ${duckQuality("text")} AS quality
       |  FROM documents),
       |qual AS (SELECT * FROM enr WHERE quality >= $QualityGate),
       |reps AS (SELECT min(doc_id) AS doc_id FROM qual
       |  GROUP BY md5(${duckNorm("text")})),
       |surv AS (SELECT q.* FROM qual q JOIN reps USING (doc_id)),
       |${duckMinhashCtes("surv")},
       |dups AS (SELECT DISTINCT id2 AS doc_id FROM mpairs WHERE jr >= $NearDupThreshold),
       |nodup AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
       |dt AS (SELECT doc_id, ${duckToks("text")} AS toks FROM nodup),
       |v0 AS (SELECT doc_id, unnest(toks) AS token FROM dt),
       |g AS (SELECT token, doc_id, count(*) AS c FROM v0 GROUP BY 1, 2),
       |v AS (SELECT token, sum(c) AS term_count FROM g GROUP BY token
       |      HAVING count(*) >= $MinDocFreq),
       |r AS (SELECT token,
       |    cast(row_number() OVER (ORDER BY term_count DESC, token) - 1 AS int) AS tid
       |  FROM v),
       |ex AS (SELECT doc_id, i AS pos, toks[i] AS token
       |  FROM dt, unnest(range(1, len(toks) + 1)) AS u(i)),
       |j AS (SELECT doc_id, pos, coalesce(r.tid, -1) AS tid
       |  FROM ex LEFT JOIN r USING (token)),
       |enc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |    string_agg(tid::varchar, ',' ORDER BY pos) AS token_ids
       |  FROM j GROUP BY doc_id),
       |sel AS (SELECT *, sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM enc)
       |SELECT doc_id, n_tokens, token_ids FROM sel WHERE cum <= $TokenBudget
       |ORDER BY doc_id""".stripMargin

  /** Near-dup share, vocabulary size against the dictionary gate, and the
    * near-dup stage's pair yield (confirmed ÷ LSH candidate pairs, from
    * the public candidate API with the portable path's band signature).
    */
  private def curationProperties(c: Ctx): Seq[(String, Double)] = {
    val (surv, nodup) = curated(c)
    val nSurv = surv.count().toDouble
    val vocab = TextAnalysis.vocabulary(nodup, "text", "doc_id").count().toDouble
    val sh = Dedup.shingled(surv, "text", "doc_id")
    val cand = Dedup.minhashCandidatesFromSignatures(Dedup.minhashSignaturesPortable(sh),
      bandSig = cs => concat_ws(",", cs: _*))
    val nCand = cand.count().toDouble
    graft.core.Checkpoints.release(cand)
    val confirmed = Dedup.minhashDedup(surv, "text", "doc_id",
      threshold = NearDupThreshold, portable = true).count().toDouble
    Seq("docs.exact_survivors" -> nSurv,
      "docs.near_dup_free" -> nodup.count().toDouble,
      "near_dup_share" -> (1.0 - nodup.count() / nSurv),
      "vocabulary.distinct_tokens" -> vocab,
      "vocabulary.dictionary_gate" -> 2000000.0,
      "dedup.candidate_pairs" -> nCand,
      "dedup.confirmed_pairs" -> confirmed,
      "pipeline.Dedup.pair_yield" -> (if (nCand == 0) 0.0 else confirmed / nCand))
  }

  private val triangleStep: Step =
    one("g02_triangle_count") { c =>
      val ids = c.t.op("core.DDFManager")(c.m.getDDFByName("customer").df)
        .select(col("c_custkey").as("k"))
      import c.spark.implicits._
      val off = Seq(7L, 11L, 18L).toDF("o")
      val cand = ids.crossJoin(broadcast(off))
        .select(col("k").as("src"), (col("k") + col("o")).as("dst"))
      val edges = cand.join(ids.select(col("k").as("dst")), "dst")
      c.t.op("operators.Graph")(Graph.triangleCount(edges, "src", "dst")).orderBy("node")
    }

  private val matchSteps: Seq[Step] = Seq(
    one("j04_edit_distance_join_k3") { c =>
      val cust = c.t.op("core.DDFManager")(c.m.getDDFByName("customer").df)
      c.t.op("pipeline.SetJoin")(SetJoin.editDistanceJoin(editCorpus(cust), "name", "k",
        maxDist = 3, q = 4)).orderBy("id_a", "id_b")
    },
    one("a11_ivf_int8_rerank") { c =>
      val all = c.t.op("core.DDFManager")(c.m.getDDFByName("embeddings").df)
      // the frozen centroids are the index's build input: their collect
      // is charged to the index build
      val idx = c.t.op("pipeline.IvfIndex") {
        val centroids = all.filter(col("vec_id") < 16).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        IvfIndex.buildFromCentroids(all, "embedding", "vec_id", centroids)
      }
      val queries = all.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid")
      c.t.op("pipeline.IvfIndex")(IvfIndex.topKQuantized(idx, queries, "embedding", "qid",
          k = 10, nprobe = 4, shortlist = 20))
        .select(col("query_id"), col("id"), round(col("cosine"), 6).as("cosine"), col("rk"))
        .orderBy("query_id", "rk")
    })

  private def customerKeys(c: Ctx): Seq[(String, Double)] =
    Seq("customer_keys" -> c.m.getDDFByName("customer").df.count().toDouble)

  private def matchProperties(c: Ctx): Seq[(String, Double)] =
    Seq("edit_corpus_strings" -> editCorpus(c.m.getDDFByName("customer").df).count().toDouble,
      "embeddings" -> c.m.getDDFByName("embeddings").df.count().toDouble)

  val all: Seq[Workload] = Seq(
    Workload("analyst_sql", analystSteps :+ triangleStep,
      Seq("q80_tpch_q9", "q21_join_multikey", "q95_pivot", "q41_quantiles",
        "q50_binning_custom", "g02_triangle_count").map(oracle).toMap,
      c => joinSideBytes(c) ++ customerKeys(c)),
    Workload("curation_build", curationSteps ++ matchSteps,
      Map("curation_publish" -> curationPublishOracle) ++
        Seq("j04_edit_distance_join_k3", "a11_ivf_int8_rerank").map(oracle),
      c => curationProperties(c) ++ matchProperties(c)))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
