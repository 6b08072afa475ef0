package graft

import graft.core.{DDF, DDFManager}
import graft.operators._
import graft.stats.{Sketches, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import EntryShared._

/** SparkEntry query rows — curation rows: mixtures/budgets (c), DSIR (ds), time series (ts), history (h), validation (v). Split from SparkEntry.scala by family
  * (r15 verdict ask #7); composed into the pinned registry by
  * [[SparkEntry.queries]].
  */
private[graft] object EntryCurationQ {

  // =====================================================================
  // Round-4 curation operators: relevance scoring, mixture rebalancing,
  // heuristic filtering, embedding quantization
  // =====================================================================

  val qs: Seq[Q] = Seq(
    Q("c01_tfidf_topterms",
      (s, d) => {
        val m = mgr(s, d)
        // top-3 TF-IDF keyterms per document. Rank-boundary margin vs the
        // oracle's ln(): measured at sf0.01 — min non-tie score gap at the
        // rank-3/4 boundary is 2.6e-3 and min distance of score·1e6 to a
        // rounding boundary is 1.1e-2, vs cross-engine ln() noise ~1e-16.
        pipeline.Relevance.tfidfTopTerms(m.getDDFByName("documents").df,
            "text", "doc_id", k = 3)
          .select(col("id"), col("rk"), col("token"), col("tf"), col("doc_freq"),
            round(col("score"), 6).as("score"))
          .orderBy("id", "rk")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
              |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n FROM documents),
              |sc AS (SELECT doc_id, token, tf, doc_freq,
              |    tf * (ln((n.n + 1.0) / (doc_freq + 1.0)) + 1.0) AS score
              |  FROM tf JOIN dfq USING (token), n),
              |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, token) AS rk FROM sc)
              |SELECT doc_id AS id, rk, token, tf, doc_freq, round(score, 6) AS score
              |FROM r WHERE rk <= 3 ORDER BY id, rk""".stripMargin)),

    Q("c02_bm25",
      (s, d) => {
        val m = mgr(s, d)
        // BM25 of every doc against a 3-term query; per-doc totals fold
        // term scores in token order on BOTH sides (bit-stable float sum)
        pipeline.Relevance.bm25(m.getDDFByName("documents").df, "text", "doc_id",
            Seq("spark", "query", "join"))
          .select(col("id"), col("terms_hit"), round(col("bm25"), 6).as("bm25"))
          .orderBy("id")
      },
      // literals are spelled as the same ARITHMETIC both sides ((1.2+1.0),
      // not 2.2) so each engine constant-folds the identical IEEE ops
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |dl AS (SELECT doc_id, ${duckTokenCount("text")} AS dl FROM documents),
              |stats AS (SELECT count(*) AS n, (SELECT sum(dl) FROM dl)::DOUBLE / count(*) AS avgdl
              |  FROM documents),
              |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
              |  WHERE token IN ('spark', 'query', 'join') GROUP BY 1, 2),
              |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
              |ts AS (SELECT doc_id, token,
              |    ln(1.0 + (n::DOUBLE - doc_freq + 0.5) / (doc_freq + 0.5))
              |      * (tf * (1.2 + 1.0))
              |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS sc
              |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id), stats)
              |SELECT doc_id AS id, count(*) AS terms_hit,
              |  round(list_reduce(list_prepend(0.0, list(sc ORDER BY token)),
              |    (acc, x) -> acc + x), 6) AS bm25
              |FROM ts GROUP BY doc_id ORDER BY id""".stripMargin)),

    Q("c03_temperature_sample",
      (s, d) => {
        val m = mgr(s, d)
        // power=2 (T=0.5) mixture sharpening over the lang column —
        // quotas are exact integer floor(200·c²/Σc²), selection is the
        // q07/q08 xor-fold hash rank, so the oracle reproduces both
        Views.temperatureResample(m.getDDFByName("documents"), "lang", "doc_id",
            power = 2, targetTotal = 200)
          .df.select("doc_id", "lang").orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
             |tot AS (SELECT sum(c * c) AS t FROM c),
             |q AS (SELECT lang, (200 * c * c) // t AS quota FROM c, tot),
             |h AS (SELECT doc_id, lang,
             |    (doc_id % 1000000000) * 2654435761 AS p FROM documents),
             |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |    ORDER BY xor(p, p >> 31) % 1000000007, doc_id) AS rn FROM h)
             |SELECT doc_id, lang FROM r JOIN q USING (lang)
             |WHERE rn <= quota ORDER BY doc_id""".stripMargin)),

    Q("c12_match_distribution",
      (s, d) => {
        val m = mgr(s, d)
        // histogram matching (round 13): reshape the corpus's lang mix
        // to the mix exhibited by the src0-2 slice. Quotas are exact
        // BigInt arithmetic (M = min ⌊cd·T/ct⌋, quota = ⌊M·ct/T⌋) and
        // selection is the q07/q08 xor-fold rank, so the oracle
        // reproduces both to the row.
        val docs = m.getDDFByName("documents")
        val target = docs.df.filter(col("source").isin("src0", "src1", "src2"))
        Views.matchDistribution(docs, "lang", "doc_id", target)
          .df.select("doc_id", "lang").orderBy("doc_id")
      },
      Some("""WITH tgt AS (SELECT lang, count(*) AS ct FROM documents
             |    WHERE source IN ('src0','src1','src2') GROUP BY 1),
             |dc AS (SELECT lang, count(*) AS cd FROM documents GROUP BY 1),
             |j AS (SELECT dc.lang AS lang, cd, ct FROM dc JOIN tgt USING (lang)),
             |tot AS (SELECT sum(ct) AS t FROM j),
             |mm AS (SELECT min(cd * t // ct) AS m FROM j, tot),
             |q AS (SELECT lang, (m * ct // t) AS quota FROM j, tot, mm),
             |h AS (SELECT doc_id, lang,
             |    (doc_id % 1000000000) * 2654435761 AS p FROM documents),
             |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |    ORDER BY xor(p, p >> 31) % 1000000007, doc_id) AS rn FROM h)
             |SELECT doc_id, lang FROM r JOIN q USING (lang)
             |WHERE rn <= quota ORDER BY doc_id""".stripMargin)),

    Q("c13_curation_audit",
      (s, d) => {
        val m = mgr(s, d)
        // per-doc disposition through the standard curation chain (round
        // 13): quality rules → exact dedup → near-dup → decontamination,
        // each stage judged among the PREVIOUS stage's survivors (the
        // order the pipeline actually runs) — the "why was my doc
        // dropped" explainability report a corpus owner asks for.
        // Stage configurations are the gate-proven ones (c04's rules,
        // d07's portable minhash at 0.5, p05's %37 bench suites at n=3),
        // so the oracle assembles from their proven fragments.
        val docs = m.getDDFByName("documents").df
        val rulePassIds = pipeline.TextAnalysis.c4Rules(docs, "text", "doc_id",
            minWords = 30, minMeanLen = 3.0, maxMeanLen = 4.5, maxWordLen = 25,
            requireTerminalPunct = false)
          .filter(col("keep")).select(col("id").as("doc_id"))
        val rulePass = docs.join(rulePassIds, Seq("doc_id"), "left_semi")
        val exactSurv = pipeline.Dedup.exactSurvivors(rulePass, "text", "doc_id")
        val ndLosers = pipeline.Dedup.minhashDedup(exactSurv, "text", "doc_id",
            threshold = 0.5, portable = true)
          .select(col("id2").as("doc_id")).distinct()
        val ndSurv = exactSurv.join(ndLosers, Seq("doc_id"), "left_anti")
        val benches = docs.filter(col("doc_id") % 37 === 0)
          .select(concat(lit("b"), (col("doc_id") % 3).cast("string")).as("bench_id"),
            col("text"))
        val clean = pipeline.TextAnalysis.decontaminatedAll(
          ndSurv, benches, "text", "doc_id", "bench_id", n = 3)
        docs.select("doc_id")
          .join(rulePassIds.withColumn("__rp", lit(true)), Seq("doc_id"), "left")
          .join(exactSurv.select("doc_id").withColumn("__es", lit(true)),
            Seq("doc_id"), "left")
          .join(ndSurv.select("doc_id").withColumn("__ns", lit(true)),
            Seq("doc_id"), "left")
          .join(clean.select("doc_id").withColumn("__cl", lit(true)),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("__rp").isNull, "rules")
              .when(col("__es").isNull, "exact_dup")
              .when(col("__ns").isNull, "near_dup")
              .when(col("__cl").isNull, "contaminated")
              .otherwise("kept").as("disposition"))
          .orderBy("doc_id")
      },
      // each stage's membership set replayed from its own gate's proven
      // SQL (c04 keep expression; p05's min-id dedup + shingle-union
      // contamination; d07's portable minhash stack over the exact
      // survivors), then one CASE walks the chain in pipeline order
      Some(s"""WITH t AS (SELECT doc_id AS id, text, ${duckToks("text")} AS tk
              |  FROM documents),
              |rl AS (SELECT id FROM t WHERE len(tk) >= 30
              |  AND (CASE WHEN len(tk) = 0 THEN 0.0
              |       ELSE list_sum(list_transform(tk, x -> length(x))) / len(tk)::DOUBLE END)
              |      BETWEEN 3.0 AND 4.5
              |  AND coalesce(list_max(list_transform(tk, x -> length(x))), 0) <= 25
              |  AND NOT contains(lower(text), 'lorem ipsum')
              |  AND NOT contains(lower(text), 'javascript')
              |  AND NOT contains(lower(text), '{')),
              |rp AS (SELECT d.* FROM documents d JOIN rl ON rl.id = d.doc_id),
              |reps AS (SELECT min(doc_id) AS doc_id FROM rp
              |  GROUP BY md5(${duckNorm("text")})),
              |es AS (SELECT rp.* FROM rp JOIN reps USING (doc_id)),
              |${duckMinhashCtes("es")},
              |ndl AS (SELECT DISTINCT id2 AS doc_id FROM mpairs WHERE jr >= 0.5),
              |ns AS (SELECT * FROM es
              |  WHERE doc_id NOT IN (SELECT doc_id FROM ndl)),
              |ntk AS (SELECT doc_id, ${duckToks("text")} AS tk FROM ns),
              |csh AS (SELECT doc_id, ${duckNgrams("tk", 3)} AS shs FROM ntk),
              |cex AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM csh),
              |btk AS (SELECT doc_id, ${duckToks("text")} AS tk FROM documents
              |  WHERE doc_id % 37 = 0),
              |bshs AS (SELECT doc_id, ${duckNgrams("tk", 3)} AS shs FROM btk),
              |bex AS (SELECT DISTINCT unnest(shs) AS s FROM bshs),
              |contam AS (SELECT DISTINCT e.doc_id FROM cex e JOIN bex USING (s))
              |SELECT d.doc_id,
              |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM rp) THEN 'rules'
              |       WHEN d.doc_id NOT IN (SELECT doc_id FROM es) THEN 'exact_dup'
              |       WHEN d.doc_id IN (SELECT doc_id FROM ndl) THEN 'near_dup'
              |       WHEN d.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
              |       ELSE 'kept' END AS disposition
              |FROM documents d ORDER BY d.doc_id""".stripMargin)),

    Q("c04_c4_rules",
      (s, d) => {
        val m = mgr(s, d)
        // bounds chosen to SPLIT this corpus (mean word length spans
        // 3.7–5.3, token counts 20–90): every rule flips on real rows.
        // The synthetic text has no sentence punctuation, so
        // terminal_punct is reported but excluded from keep (the
        // non-prose config). Rule boundaries are exact-integer ratios —
        // no cross-engine float margin to measure.
        pipeline.TextAnalysis.c4Rules(m.getDDFByName("documents").df, "text", "doc_id",
            minWords = 30, minMeanLen = 3.0, maxMeanLen = 4.5, maxWordLen = 25,
            requireTerminalPunct = false)
          .orderBy("id")
      },
      Some(s"""WITH t AS (SELECT doc_id AS id, text, ${duckToks("text")} AS tk
              |  FROM documents)
              |SELECT id,
              |  len(tk) >= 30 AS enough_words,
              |  (CASE WHEN len(tk) = 0 THEN 0.0
              |   ELSE list_sum(list_transform(tk, x -> length(x))) / len(tk)::DOUBLE END)
              |    BETWEEN 3.0 AND 4.5 AS mean_word_len_ok,
              |  coalesce(list_max(list_transform(tk, x -> length(x))), 0) <= 25 AS no_long_word,
              |  regexp_matches(rtrim(text), '[.!?"]$$') AS terminal_punct,
              |  (NOT contains(lower(text), 'lorem ipsum')
              |   AND NOT contains(lower(text), 'javascript')
              |   AND NOT contains(lower(text), '{')) AS no_blacklist,
              |  (len(tk) >= 30
              |   AND (CASE WHEN len(tk) = 0 THEN 0.0
              |        ELSE list_sum(list_transform(tk, x -> length(x))) / len(tk)::DOUBLE END)
              |       BETWEEN 3.0 AND 4.5
              |   AND coalesce(list_max(list_transform(tk, x -> length(x))), 0) <= 25
              |   AND NOT contains(lower(text), 'lorem ipsum')
              |   AND NOT contains(lower(text), 'javascript')
              |   AND NOT contains(lower(text), '{')) AS keep
              |FROM t ORDER BY id""".stripMargin)),

    Q("c14_gopher_rules",
      (s, d) => {
        val m = mgr(s, d)
        // Gopher rules need formatting signals the synthetic corpus
        // lacks (it is single-line, symbol-free, all-alpha), so every
        // 5th doc gets a deterministic bullet/ellipsis/symbol suffix —
        // identically in the oracle — and the thresholds are tuned so
        // every rule flips on real rows (the c04 philosophy): symbols
        // 6/(nw+17) vs 0.05, bullets 3/6 vs 0.4, ellipses 2/6 vs 0.3,
        // alpha (nw+12)/(nw+17) vs 0.96; word count and stopwords split
        // the corpus naturally. All boundaries are exact-integer ratios.
        val docs = m.getDDFByName("documents").df
        val aug = docs.withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\n- alpha beta\n- gamma delta" +
              "\n* epsilon zeta\nthis line trails off..." +
              "\n# head ### tail...")))
            .otherwise(col("text")))
        pipeline.TextAnalysis.gopherRules(aug, "text", "doc_id",
            minWords = 50, maxWords = 100000,
            minMeanLen = 3.0, maxMeanLen = 4.5,
            maxSymbolRatio = 0.05, maxBulletRatio = 0.4,
            maxEllipsisRatio = 0.3, minAlphaRatio = 0.96,
            minStopwords = 2)
          .orderBy("id")
      },
      Some(s"""WITH docs2 AS (SELECT doc_id AS id,
              |    CASE WHEN doc_id % 5 = 0 THEN text
              |      || chr(10) || '- alpha beta' || chr(10) || '- gamma delta'
              |      || chr(10) || '* epsilon zeta'
              |      || chr(10) || 'this line trails off...'
              |      || chr(10) || '# head ### tail...'
              |    ELSE text END AS text
              |  FROM documents),
              |t AS (SELECT id, text, ${duckToks("text")} AS tk,
              |    list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS ln
              |  FROM docs2),
              |m AS (SELECT id,
              |    len(tk)::BIGINT AS nw, len(ln)::BIGINT AS nl,
              |    (CASE WHEN len(tk) = 0 THEN 0.0
              |     ELSE list_sum(list_transform(tk, x -> length(x))) / len(tk)::DOUBLE END)
              |      AS meanlen,
              |    ((length(text) - length(replace(text, '#', '')))
              |      + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS syms,
              |    len(list_filter(ln, l ->
              |      list_contains(['-', '*', '•'], substring(ltrim(l), 1, 1))))::BIGINT AS bullets,
              |    len(list_filter(ln, l -> ends_with(rtrim(l), '...')))::BIGINT AS ellipses,
              |    len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))::BIGINT AS alphas,
              |    len(list_filter(tk, x -> list_contains(
              |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], x)))::BIGINT AS sw
              |  FROM t),
              |f AS (SELECT id, nw AS n_words,
              |    nw BETWEEN 50 AND 100000 AS word_count_ok,
              |    meanlen BETWEEN 3.0 AND 4.5 AS mean_word_len_ok,
              |    (nw = 0 OR syms::DOUBLE / nw::DOUBLE <= 0.05) AS symbol_ratio_ok,
              |    (nl = 0 OR bullets::DOUBLE / nl::DOUBLE <= 0.4) AS bullet_ratio_ok,
              |    (nl = 0 OR ellipses::DOUBLE / nl::DOUBLE <= 0.3) AS ellipsis_ratio_ok,
              |    (nw = 0 OR alphas::DOUBLE / nw::DOUBLE >= 0.96) AS alpha_ratio_ok,
              |    sw >= 2 AS stopword_ok
              |  FROM m)
              |SELECT *, word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
              |    AND bullet_ratio_ok AND ellipsis_ratio_ok AND alpha_ratio_ok
              |    AND stopword_ok AS keep
              |FROM f ORDER BY id""".stripMargin)),

    Q("c15_snapshot_diff",
      (s, d) => {
        val m = mgr(s, d)
        // release-over-release corpus diff: the "old" release drops every
        // 7th doc, the "new" one drops every 5th and revises every 11th —
        // snapshotDiff reports only the delta (added/removed/changed),
        // both text versions riding along for audit
        val docs = m.getDDFByName("documents").df
        val old = docs.filter(col("doc_id") % 7 =!= 0)
          .select("doc_id", "text", "source")
        val nw = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [v2]")))
              .otherwise(col("text")).as("text"),
            col("source"))
        operators.History.snapshotDiff(old, nw, Seq("doc_id"),
            Seq("text", "source"))
          .orderBy("doc_id")
      },
      Some("""WITH old AS (SELECT doc_id, text, source FROM documents
             |    WHERE doc_id % 7 != 0),
             |nw AS (SELECT doc_id,
             |    CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]' ELSE text END
             |      AS text, source
             |  FROM documents WHERE doc_id % 5 != 0),
             |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN n.doc_id IS NULL THEN 'removed'
             |         WHEN (o.text IS DISTINCT FROM n.text)
             |           OR (o.source IS DISTINCT FROM n.source) THEN 'changed'
             |    END AS change,
             |    o.text AS old_text, n.text AS text,
             |    o.source AS old_source, n.source AS source
             |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
             |SELECT doc_id, change, old_text, text, old_source, source
             |FROM j WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin)),

    Q("d10_incremental_minhash",
      (s, d) => {
        val m = mgr(s, d)
        // production ingest shape: docs < 250 are the "existing corpus"
        // (their band rows are the persisted index); docs >= 250 arrive
        // as a new batch — in-batch verify + index probe, no corpus
        // rescan. Portable hashes so DuckDB replicates every stage
        // (signatures are per-doc, so banding the batch alone equals
        // banding everything and filtering — the oracle exploits that).
        val docs = m.getDDFByName("documents").df
        val old = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
        val index = pipeline.Dedup.bandRows(
          pipeline.Dedup.minhashSignaturesPortable(
            pipeline.Dedup.shingled(old, "text", "doc_id")),
          32, 8, cs => concat_ws(",", cs: _*))
        val kept = pipeline.Dedup.incrementalMinhashKept(batch, index,
          "text", "doc_id", threshold = 0.5, portable = true)
        kept.select(col("doc_id")).orderBy("doc_id")
      },
      Some(s"""WITH ${duckMinhashCtes("documents")},
              |losers AS (SELECT DISTINCT id2 FROM mpairs
              |  WHERE jr >= 0.5 AND id1 >= 250 AND id2 >= 250),
              |surv AS (SELECT doc_id FROM documents WHERE doc_id >= 250
              |  AND doc_id NOT IN (SELECT id2 FROM losers)),
              |xdup AS (SELECT DISTINCT s.doc_id FROM msig s
              |  JOIN msig i ON s.band = i.band AND s.sig = i.sig
              |  WHERE s.doc_id IN (SELECT doc_id FROM surv) AND i.doc_id < 250)
              |SELECT doc_id FROM surv
              |WHERE doc_id NOT IN (SELECT doc_id FROM xdup)
              |ORDER BY doc_id""".stripMargin)),

    Q("d11_incremental_minhash_fast",
      (s, d) => {
        val m = mgr(s, d)
        // d10's xxhash64 twin — the codegen'd 100 TB path, benched;
        // engine-specific hashes → rows-only (same split as d02/d07)
        val docs = m.getDDFByName("documents").df
        val old = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
        val index = pipeline.Dedup.bandRows(
          pipeline.Dedup.minhashSignaturesFromShingles(
            pipeline.Dedup.shingled(old, "text", "doc_id")))
        val kept = pipeline.Dedup.incrementalMinhashKept(batch, index,
          "text", "doc_id", threshold = 0.5)
        kept.select(col("doc_id")).orderBy("doc_id")
      },
      None),

    Q("c05_leakage_safe_split",
      (s, d) => {
        val m = mgr(s, d)
        // cluster-aware train/val/test: members of a near-dup cluster
        // (the d06 oracle-able edge set) get the SAME split; singletons
        // hash on their own id. 8/1/1 weights out of 10 buckets.
        val universe = m.getDDFByName("embeddings").df
          .filter(col("vec_id") < 200).select(col("vec_id"))
        pipeline.Dedup.leakageSafeSplit(universe, embeddingPairs(m), "vec_id",
            Seq(("train", 8), ("val", 1), ("test", 1)))
          .select(col("vec_id"), col("split")).orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE
              |$duckClusterCtes,
              |u AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
              |lbl AS (SELECT u.vec_id, coalesce(c.cluster_id, u.vec_id) AS lab
              |        FROM u LEFT JOIN c ON c.id = u.vec_id),
              |hh AS (SELECT vec_id, (lab % 1000000000) * 2654435761 AS p FROM lbl),
              |b AS (SELECT vec_id, xor(p, p >> 31) % 10 AS bucket FROM hh)
              |SELECT vec_id, CASE WHEN bucket >= 9 THEN 'test'
              |  WHEN bucket >= 8 THEN 'val' ELSE 'train' END AS split
              |FROM b ORDER BY vec_id""".stripMargin)),

    Q("a04_quantize_roundtrip",
      (s, d) => {
        val m = mgr(s, d)
        // int8 round-trip fidelity per vector: scale + cosine(original,
        // dequantized). Rounding is floor(x/scale + 0.5) on both sides —
        // engine round() builtins disagree on ties
        val q = pipeline.Similarity.quantizeInt8(col("embedding"))
        m.getDDFByName("embeddings").df
          .withColumn("__q", q)
          .select(col("vec_id"),
            round(col("__q.scale"), 9).as("scale"),
            round(pipeline.Similarity.cosine(
              expr("transform(embedding, x -> cast(x as double))"),
              pipeline.Similarity.dequantize(col("__q"))), 6).as("cos_roundtrip"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |    greatest(coalesce(list_max(list_transform(v, x -> abs(x))), 0.0), 0.0)
             |      / 127.0 AS scale FROM e),
             |qq AS (SELECT vec_id, v, scale,
             |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
             |    ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS codes FROM s),
             |d AS (SELECT vec_id, v, scale,
             |    list_transform(codes, c -> c * scale) AS dv FROM qq)
             |SELECT vec_id, round(scale, 9) AS scale,
             |  round(list_dot_product(v, dv)
             |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dv, dv))), 6)
             |    AS cos_roundtrip
             |FROM d ORDER BY vec_id""".stripMargin)),

    Q("d12_incremental_bloom",
      (s, d) => {
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
        // same ingest shape as d08 on a different split; the Bloom
        // prefilter is result-invariant (no false negatives; false
        // positives resolved by the exact anti-join), so the oracle is
        // the plain incremental-dedup SQL
        val index = pipeline.Dedup.exact(docs.filter(col("doc_id") % 3 === 0),
          "text", "doc_id").select("fingerprint")
        pipeline.Dedup.incrementalExactBloom(docs.filter(col("doc_id") % 3 =!= 0),
            index, "text", "doc_id", fpp = 0.01)
          .orderBy("fingerprint")
      },
      Some(s"""WITH fp AS (SELECT doc_id, md5(${duckNorm("text")}) AS fingerprint
              |  FROM documents),
              |idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 = 0),
              |batch AS (SELECT fingerprint, min(doc_id) AS keep_id FROM fp
              |  WHERE doc_id % 3 != 0 GROUP BY 1)
              |SELECT fingerprint, keep_id FROM batch
              |WHERE fingerprint NOT IN (SELECT fingerprint FROM idx)
              |ORDER BY fingerprint""".stripMargin)),

    Q("a05_semantic_dedup",
      (s, d) => {
        val m = mgr(s, d)
        val all = m.getDDFByName("embeddings").df
        // fixed centroids (first 16 vectors) as in a03 — assignment,
        // within-cell pairing, and the cosine threshold are then exactly
        // replicable in the oracle. Margins measured at sf0.01: min
        // |cosine − 0.35| over the 7,781 within-cell pairs = 3.6e-4;
        // min assignment gap best→2nd cell = 2.3e-4 (fp noise ~1e-15)
        val centroids = all.filter(col("vec_id") < 16).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        val idx = pipeline.IvfIndex.buildFromCentroids(all, "embedding", "vec_id", centroids)
        pipeline.Dedup.semanticPairs(idx, threshold = 0.35)
          .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
          .orderBy("id1", "id2")
      },
      Some(s"""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              |            FROM embeddings),
              |cents AS (SELECT vec_id AS cell, v AS cv FROM dv WHERE vec_id < 16),
              |assigned AS (SELECT id, v, cell FROM (
              |    SELECT d.vec_id AS id, d.v, c.cell,
              |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
              |        list_dot_product(d.v, c.cv) - list_dot_product(c.cv, c.cv) / 2.0 DESC,
              |        c.cell DESC) AS rn
              |    FROM dv d CROSS JOIN cents c) WHERE rn = 1)
              |SELECT a.id AS id1, b.id AS id2, round($duckCos, 6) AS cosine
              |FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
              |WHERE $duckCos >= 0.35
              |ORDER BY id1, id2""".stripMargin)),

    Q("a20_semantic_dedup_scaled",
      (s, d) => {
        val m = mgr(s, d)
        val all = m.getDDFByName("embeddings").df
        // the production 16·f contract (r15 verdict ask #5): the cell
        // count grows with the corpus — one centroid per ~125 vectors,
        // floored at 16 — so within-cell pair volume stays LINEAR in
        // corpus size instead of quadratic. At the oracle scale factors
        // (500-2,000 vectors) K floors at 16, identical semantics to
        // a05; at the bench's 10×-blown sf1 corpus (20,000 vectors)
        // K = 160 and the assignment takes the broadcast-join path
        // (past the 48-cell inline cutover) — the shape a real corpus
        // owner runs, and the bench row that replaced a05's
        // JIT-shelf-bound degenerate kernel in the sf1 tier (a05 stays in
        // the registry; `graft.tools.Profile --scale 10` runs it). The shelf was
        // measured with graft.tools' a05 probe main, deleted after c5df852:
        // `git show c5df852:src/main/scala/graft/tools/`. Centroids are
        // the first K vectors by vec_id, exactly replicable in SQL.
        val n = all.count()
        val k = math.max(16L, n / 125L)
        val centroids = all.filter(col("vec_id") < k).orderBy("vec_id")
          .select("embedding").collect()
          .map(_.getSeq[Float](0).toArray.map(_.toDouble))
        val idx = pipeline.IvfIndex.buildFromCentroids(all, "embedding", "vec_id", centroids)
        pipeline.Dedup.semanticPairs(idx, threshold = 0.35)
          .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
          .orderBy("id1", "id2")
      },
      Some(s"""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              |            FROM embeddings),
              |cents AS (SELECT vec_id AS cell, v AS cv FROM dv
              |          WHERE vec_id < (SELECT greatest(16, count(*) // 125)
              |                          FROM embeddings)),
              |assigned AS (SELECT id, v, cell FROM (
              |    SELECT d.vec_id AS id, d.v, c.cell,
              |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
              |        list_dot_product(d.v, c.cv) - list_dot_product(c.cv, c.cv) / 2.0 DESC,
              |        c.cell DESC) AS rn
              |    FROM dv d CROSS JOIN cents c) WHERE rn = 1)
              |SELECT a.id AS id1, b.id AS id2, round($duckCos, 6) AS cosine
              |FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
              |WHERE $duckCos >= 0.35
              |ORDER BY id1, id2""".stripMargin)),

    Q("c06_bm25_retrieve",
      (s, d) => {
        val m = mgr(s, d)
        import s.implicits._
        // batch retrieval: top-5 docs per query for a 3-query table; the
        // per-(query, doc) totals fold term scores in token order on both
        // sides (bit-stable), ranks break float ties by id
        val queries = Seq((1L, "spark join"), (2L, "window stream"),
          (3L, "hash filter scan")).toDF("query_id", "qtext")
        pipeline.Relevance.bm25Retrieve(m.getDDFByName("documents").df,
            "text", "doc_id", queries, "query_id", "qtext", k = 5)
          .select(col("query_id"), col("id"), round(col("bm25"), 6).as("bm25"),
            col("terms_hit"), col("rk"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH ${duckBm25Ctes(5)}
              |SELECT query_id, id, round(bm25, 6) AS bm25, terms_hit, rk
              |FROM bmrank ORDER BY query_id, rk""".stripMargin)),

    Q("c11_hybrid_rrf",
      (s, d) => {
        val m = mgr(s, d)
        import s.implicits._
        // hybrid retrieval: BM25 and token-set-Jaccard rankings (top-10
        // each) fused by reciprocal rank — the standard two-retriever
        // stack. Both component rankings are independently bit-stable
        // (c06's BM25 fold; Jaccard is one double division of exact
        // ints), and the fused score 1/(60+r1) + 1/(60+r2) is a fixed
        // expression tree, so the whole hybrid is hash-exact.
        val queries = Seq((1L, "spark join"), (2L, "window stream"),
          (3L, "hash filter scan")).toDF("query_id", "qtext")
        val docs = m.getDDFByName("documents").df
        val bm = pipeline.Relevance.bm25Retrieve(docs, "text", "doc_id",
          queries, "query_id", "qtext", k = 10)
        val jc = pipeline.Relevance.jaccardRetrieve(docs, "text", "doc_id",
          queries, "query_id", "qtext", k = 10)
        pipeline.Relevance.rrfFuse(Seq(bm, jc), k = 5)
          .select(col("query_id"), col("id"), round(col("rrf"), 6).as("rrf"),
            col("rk"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH ${duckBm25Ctes(10)},
              |ddt AS (SELECT doc_id, unnest(list_distinct(${duckToks("text")})) AS token
              |  FROM documents),
              |dsz AS (SELECT doc_id, count(*) AS dn FROM ddt GROUP BY 1),
              |qsz AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY 1),
              |jint AS (SELECT qt.query_id, ddt.doc_id AS id, count(*) AS inter
              |  FROM qt JOIN ddt USING (token) GROUP BY 1, 2),
              |jrank AS (SELECT query_id, id, row_number() OVER (
              |    PARTITION BY query_id
              |    ORDER BY inter::DOUBLE / (qn + dn - inter) DESC, id) AS rk
              |  FROM jint JOIN qsz USING (query_id)
              |  JOIN dsz ON dsz.doc_id = jint.id),
              |jtop AS (SELECT query_id, id, rk FROM jrank WHERE rk <= 10),
              |f AS (SELECT coalesce(b.query_id, j.query_id) AS query_id,
              |    coalesce(b.id, j.id) AS id,
              |    coalesce(1.0 / (60 + b.rk), 0.0)
              |      + coalesce(1.0 / (60 + j.rk), 0.0) AS rrf
              |  FROM bmrank b FULL OUTER JOIN jtop j
              |    ON b.query_id = j.query_id AND b.id = j.id)
              |SELECT query_id, id, round(rrf, 6) AS rrf, rk FROM (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |    ORDER BY rrf DESC, id) AS rk FROM f)
              |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    Q("d13_corpus_diff",
      (s, d) => {
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
        // two overlapping corpus versions: content-level added/removed/
        // common audit (ids don't matter, fingerprints do)
        pipeline.Dedup.corpusDiff(
            docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 200),
            "text")
          .orderBy("fingerprint")
      },
      // join + status are NULL-SAFE (IS NOT DISTINCT FROM / count
      // nullability), mirroring corpusDiff's <=> semantics — a NULL-text
      // doc on either side must diff as ONE 'common'/'added'/'removed'
      // row, not two mislabeled ones
      Some(s"""WITH fp AS (SELECT doc_id, md5(${duckNorm("text")}) AS f FROM documents),
              |o AS (SELECT f, count(*) AS old_n FROM fp WHERE doc_id < 300 GROUP BY 1),
              |n AS (SELECT f, count(*) AS new_n FROM fp WHERE doc_id >= 200 GROUP BY 1)
              |SELECT coalesce(n.f, o.f) AS fingerprint,
              |  CASE WHEN old_n IS NULL THEN 'added'
              |       WHEN new_n IS NULL THEN 'removed' ELSE 'common' END AS status,
              |  coalesce(old_n, 0)::BIGINT AS old_n,
              |  coalesce(new_n, 0)::BIGINT AS new_n
              |FROM n FULL OUTER JOIN o ON n.f IS NOT DISTINCT FROM o.f
              |ORDER BY fingerprint""".stripMargin)),

    Q("a06_semantic_decontaminate",
      (s, d) => {
        val m = mgr(s, d)
        val all = m.getDDFByName("embeddings").df
        // eval suite = first 20 vectors, corpus = the rest. Threshold
        // margin measured at sf0.01: min |max_cos − 0.4| = 1.3e-4 over
        // 480 corpus rows (4 contaminated); max is order-independent,
        // so no fold caveat
        pipeline.Similarity.semanticDecontaminate(
            all.filter(col("vec_id") >= 20), "embedding", "vec_id",
            all.filter(col("vec_id") < 20), threshold = 0.4)
          .select(col("id"), round(col("max_eval_cosine"), 6).as("max_eval_cosine"),
            col("contaminated"))
          .orderBy("id")
      },
      Some("""WITH dv AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             |            FROM embeddings),
             |ev AS (SELECT v AS evv FROM dv WHERE vec_id < 20),
             |c AS (SELECT d.vec_id AS id,
             |    max(list_dot_product(d.v, evv) /
             |        (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(evv, evv)))) AS mc
             |  FROM (SELECT * FROM dv WHERE vec_id >= 20) d CROSS JOIN ev GROUP BY 1)
             |SELECT id, round(mc, 6) AS max_eval_cosine, mc >= 0.4 AS contaminated
             |FROM c ORDER BY id""".stripMargin)),

    Q("c07_weighted_sample",
      (s, d) => {
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents")
        // length-weighted soft downsampling: keep probability
        // min(1, 1.2 · token_count/100), decided by the q07 xor-fold
        // hash. The weight derives from an EXACT INTEGER count through
        // one double division — both engines perform the identical IEEE
        // ops, so the floored threshold agrees BY CONSTRUCTION (a
        // rounded-precision float weight could flip rows at integer
        // boundaries of scale·w·10⁶ — see weightedSample's caveat)
        val scored = m.register(docs.df.withColumn("w",
          least(pipeline.TextAnalysis.tokenCount("text").cast("double") / lit(100.0),
            lit(1.0))))
        Views.weightedSample(scored, "doc_id", "w", scale = 1.2)
          .df.select(col("doc_id"), col("w"))
          .orderBy("doc_id")
      },
      // ::DOUBLE on the literals: DuckDB would otherwise divide
      // BIGINT/DECIMAL in exact decimal arithmetic and round ONCE where
      // Spark rounds per-op — forcing doubles reproduces Spark's exact
      // IEEE sequence
      Some(s"""WITH s AS (SELECT doc_id,
              |    least(${duckTokenCount("text")} / (100.0::DOUBLE), 1.0::DOUBLE) AS w
              |  FROM documents)
              |SELECT doc_id, w FROM s
              |WHERE xor((doc_id % 1000000000) * 2654435761,
              |          ((doc_id % 1000000000) * 2654435761) >> 31) % 1000000
              |      < floor(least(1.0::DOUBLE, (1.2::DOUBLE) * w) * (1000000.0::DOUBLE))
              |ORDER BY doc_id""".stripMargin)),

    Q("c08_mixture_sample",
      (s, d) => {
        val m = mgr(s, d)
        // data-mixture step: fill a 2000-token budget at 40/30/20/10%
        // from four sources, deterministic hash-order prefix per source.
        // The engine runs the BUCKETED two-pass (driver sees only
        // source×bucket sums); the oracle is the naive single-window
        // prefix — passing hash-exact proves the two formulations pick
        // identical rows (PipelineSpec pins the same equivalence on a
        // fixture).
        pipeline.TextAnalysis.mixtureSample(
            m.getDDFByName("documents").df, "text", "doc_id", "source",
            Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
            totalTokens = 2000, salt = "ep1", nBuckets = 64)
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |    len(${duckToks("text")})::BIGINT AS n_tokens,
              |    list_reduce(list_prepend(0::BIGINT,
              |      list_transform(regexp_split_to_array(doc_id::VARCHAR || ':ep1', ''),
              |        c -> coalesce(ascii(c), 0)::BIGINT)),
              |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
              |  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
              |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
              |SELECT doc_id, source, n_tokens FROM c
              |WHERE cum <= CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 600
              |  WHEN 'src2' THEN 400 ELSE 200 END
              |ORDER BY doc_id""".stripMargin)),

    Q("c09_mixture_upsample",
      (s, d) => {
        val m = mgr(s, d)
        // upsampling mix: each source's ~1300-token corpus fills a
        // 2000-token budget → 1 full epoch + a partial prefix epoch.
        // epoch is part of the output contract (repeat index for
        // downstream epoch-salted shuffles).
        pipeline.TextAnalysis.mixtureUpsample(
            m.getDDFByName("documents").df, "text", "doc_id", "source",
            Map("src0" -> 0.5, "src1" -> 0.5),
            totalTokens = 4000, salt = "ep1", nBuckets = 64)
          .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
          .orderBy("doc_id", "epoch")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |    len(${duckToks("text")})::BIGINT AS n_tokens,
              |    list_reduce(list_prepend(0::BIGINT,
              |      list_transform(regexp_split_to_array(doc_id::VARCHAR || ':ep1', ''),
              |        c -> coalesce(ascii(c), 0)::BIGINT)),
              |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
              |  FROM documents WHERE source IN ('src0', 'src1')),
              |tot AS (SELECT source, sum(n_tokens)::BIGINT AS tot FROM t GROUP BY 1),
              |f AS (SELECT source, tot,
              |    (CASE WHEN tot > 0 THEN 2000 // tot ELSE 0 END)::BIGINT AS k,
              |    (2000 - CASE WHEN tot > 0 THEN 2000 // tot ELSE 0 END * tot)::BIGINT AS rem
              |  FROM tot),
              |e AS (SELECT t.doc_id, t.source, t.n_tokens,
              |    unnest(range(0, f.k)) AS epoch FROM t JOIN f USING (source)),
              |c AS (SELECT t.*, f.k, f.rem,
              |    sum(n_tokens) OVER (PARTITION BY t.source ORDER BY h, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM t JOIN f USING (source)),
              |p AS (SELECT doc_id, source, n_tokens, k AS epoch FROM c WHERE cum <= rem)
              |SELECT doc_id, source, n_tokens, epoch::BIGINT AS epoch FROM e
              |UNION ALL SELECT doc_id, source, n_tokens, epoch::BIGINT FROM p
              |ORDER BY doc_id, epoch""".stripMargin)),

    Q("c10_curriculum_order",
      (s, d) => {
        // curriculum / stratified-shuffle training order: docs bucketed
        // by token count against fixed cutoffs (cutoff COMPUTATION is
        // Stats.quantiles' gated domain — q41/q84), pseudo-random
        // portable-fold order within bucket, buckets interleaved
        // round-robin into ord. Fully deterministic → whole construction
        // replayed in DuckDB.
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"),
            pipeline.TextAnalysis.tokenCount("text").cast("double").as("score"))
        pipeline.TextAnalysis.curriculumOrder(docs, "score", "doc_id",
            cutoffs = Seq(30.0, 60.0, 90.0))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH s AS (SELECT doc_id,
              |    len(${duckToks("text")})::DOUBLE AS score FROM documents),
              |b AS (SELECT doc_id, score,
              |    (CASE WHEN score > 90 THEN 3 WHEN score > 60 THEN 2
              |          WHEN score > 30 THEN 1 ELSE 0 END) AS bucket FROM s),
              |f AS (SELECT *, list_reduce(list_prepend(0::BIGINT,
              |      list_transform(regexp_split_to_array(doc_id::VARCHAR, ''),
              |        c -> coalesce(ascii(c), 0)::BIGINT)),
              |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM b),
              |r AS (SELECT doc_id, score, bucket,
              |    (row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1)::BIGINT AS pos
              |  FROM f)
              |SELECT doc_id, score, bucket, pos, pos * 4 + bucket AS ord
              |FROM r ORDER BY doc_id""".stripMargin)),

    Q("ds01_dsir_weights",
      (s, d) => {
        // DSIR importance weights (Dsir.importanceWeights): raw docs
        // scored by log p_target − log p_raw under hashed unigram+bigram
        // bag models. doc_id % 7 == 0 plays the target domain. Weights
        // are hash-exact portable: buckets from the portable fold, the
        // per-doc float sum folded in bucket order (t10 pattern), ln()
        // args built identically on both engines.
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
        pipeline.Dsir.importanceWeights(
            docs.filter(col("doc_id") % 7 =!= 0),
            docs.filter(col("doc_id") % 7 === 0),
            "text", "doc_id", buckets = 4096)
          .select(col("id").as("doc_id"), col("n_feats"),
            round(col("weight"), 6).as("weight"))
          .orderBy("doc_id")
      },
      // round(coalesce(x,0),6) == coalesce(round(x,6),0.0), so rounding
      // at the end over the shared full_w stack is the original query
      Some(s"""WITH $duckDsirW
              |SELECT doc_id, n_feats, round(weight, 6) AS weight
              |FROM full_w ORDER BY doc_id""".stripMargin)),

    Q("ds02_dsir_resample",
      (s, d) => {
        // the selection half of DSIR: deterministic top-k by importance
        // (weight DESC, doc_id) — rankable in DuckDB because the weights
        // themselves are bit-identical across engines (ds01), so the cut
        // lands on the same documents. Gumbel-noise draw stays spec-only
        // (DsirSpec) — it's seed-deterministic but adds a second float
        // transcendental per row to the cross-engine surface.
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
        pipeline.Dsir.resample(
            docs.filter(col("doc_id") % 7 =!= 0),
            docs.filter(col("doc_id") % 7 === 0),
            "text", "doc_id", k = 25, buckets = 4096)
          .select(col("id").as("doc_id"), col("n_feats"),
            round(col("weight"), 6).as("weight"))
          .orderBy(col("weight").desc, col("doc_id"))
      },
      Some(s"""WITH $duckDsirW,
              |sel AS (SELECT doc_id, n_feats, weight FROM full_w
              |  WHERE n_feats > 0
              |  ORDER BY weight DESC, doc_id LIMIT 25)
              |SELECT doc_id, n_feats, round(weight, 6) AS weight
              |FROM sel ORDER BY weight DESC, doc_id""".stripMargin)),

    Q("t09_span_dedup",
      (s, d) => {
        val m = mgr(s, d)
        // sub-document dedup at 6-token span granularity (the fixture has
        // no paragraph markup); winner selection and reassembly are exact
        // string/int work — hash-exact oracle
        pipeline.Dedup.spanDedup(m.getDDFByName("documents").df,
            "text", "doc_id", w = 6)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${duckToks("text")} AS tk FROM documents),
              |spans AS (SELECT doc_id, i - 1 AS idx,
              |    array_to_string(tk[(i-1)*6+1:i*6], ' ') AS seg
              |  FROM toks, unnest(range(1, cast(ceil(len(tk) / 6.0) AS INT) + 1)) AS t(i)
              |  WHERE len(tk) > 0),
              |fp AS (SELECT doc_id, idx, seg, md5(seg) AS f FROM spans),
              |w1 AS (SELECT f, min(doc_id) AS wid FROM fp GROUP BY f),
              |w2 AS (SELECT fp.f, w1.wid, min(fp.idx) AS widx
              |  FROM fp JOIN w1 ON fp.f = w1.f AND fp.doc_id = w1.wid GROUP BY 1, 2),
              |kept AS (SELECT fp.doc_id, fp.idx, fp.seg
              |  FROM fp JOIN w2 ON fp.f = w2.f AND fp.doc_id = w2.wid AND fp.idx = w2.widx),
              |tot AS (SELECT doc_id, count(*) AS n_total FROM spans GROUP BY 1)
              |SELECT k.doc_id, string_agg(k.seg, ' ' ORDER BY k.idx) AS text,
              |  count(*) AS n_kept, any_value(t.n_total) AS n_total
              |FROM kept k JOIN tot t USING (doc_id)
              |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin)),

    Q("t10_unigram_logprob",
      (s, d) => {
        val m = mgr(s, d)
        // corpus-unigram LM quality signal; per-doc totals fold term
        // contributions in token order (bit-stable float sum, as c02)
        pipeline.TextAnalysis.unigramLogProb(m.getDDFByName("documents").df,
            "text", "doc_id")
          .select(col("id").as("doc_id"), col("n_tokens"),
            round(col("avg_logp"), 6).as("avg_logp"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
              |vocab AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY 1),
              |n AS (SELECT sum(cnt) AS n FROM vocab),
              |lp AS (SELECT doc_id, token,
              |    tf, tf * ln(cnt::DOUBLE / n::DOUBLE) AS lp
              |  FROM tf JOIN vocab USING (token), n)
              |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
              |  round(list_reduce(list_prepend(0.0, list(lp ORDER BY token)),
              |    (acc, x) -> acc + x) / sum(tf), 6) AS avg_logp
              |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("t13_bigram_logprob",
      (s, d) => {
        val m = mgr(s, d)
        // corpus-bigram LM with interpolated add-1 smoothing: one order
        // of context beyond t10 — the deterministic CCNet-perplexity
        // analog at bigram order; per-doc fold in bigram order
        pipeline.TextAnalysis.bigramLogProb(m.getDDFByName("documents").df,
            "text", "doc_id")
          .select(col("id").as("doc_id"), col("n_bigrams"),
            round(col("avg_logp2"), 6).as("avg_logp2"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${duckToks("text")} AS t FROM documents),
              |bgx AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
              |    i -> t[i] || ' ' || t[i+1])) AS bg FROM toks),
              |tf2 AS (SELECT doc_id, bg, count(*)::BIGINT AS tf2 FROM bgx GROUP BY 1, 2),
              |c2 AS (SELECT bg, sum(tf2)::BIGINT AS c2 FROM tf2 GROUP BY 1),
              |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
              |c1 AS (SELECT token, count(*)::BIGINT AS c1 FROM tok GROUP BY 1),
              |nn AS (SELECT count(*) AS n FROM tok),
              |lp AS (SELECT doc_id, bg, tf2,
              |    tf2 * ln((c2 + 1.0 * c1b.c1::DOUBLE / nn.n::DOUBLE)
              |             / (c1a.c1 + 1.0)) AS lp
              |  FROM tf2 JOIN c2 USING (bg)
              |  JOIN c1 c1a ON split_part(bg, ' ', 1) = c1a.token
              |  JOIN c1 c1b ON split_part(bg, ' ', 2) = c1b.token, nn),
              |sc AS (SELECT doc_id, sum(tf2)::BIGINT AS n_bigrams,
              |    round(list_reduce(list_prepend(0.0, list(lp ORDER BY bg)),
              |      (acc, x) -> acc + x) / sum(tf2), 6) AS avg_logp2
              |  FROM lp GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, avg_logp2
              |FROM documents d LEFT JOIN sc USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    Q("t27_ccnet_buckets",
      (s, d) => {
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
        // CCNet head/middle/tail: t10's corpus-unigram LM score bucketed
        // PER LANGUAGE at the 1/3 and 2/3 nearest-rank boundaries (higher
        // avg_logp = more probable = head). Buckets are rank-determined —
        // the boundary is a selected data value, and docs tied at it land
        // together — so a sub-round-6 float wobble in the score cannot
        // flip membership across engines.
        val scored = pipeline.TextAnalysis.unigramLogProb(docs, "text", "doc_id")
          .select(col("id").as("doc_id"), col("avg_logp"))
          .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        Stats.bucketByGroupQuantiles(scored, "avg_logp", "lang",
            Seq(1.0 / 3, 2.0 / 3), Seq("tail", "middle", "head"))
          .select(col("doc_id"), col("lang"),
            round(col("avg_logp"), 6).as("avg_logp"), col("bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
              |vocab AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY 1),
              |nt AS (SELECT sum(cnt) AS n FROM vocab),
              |lp AS (SELECT doc_id, token, tf,
              |    tf * ln(cnt::DOUBLE / n::DOUBLE) AS lp
              |  FROM tf JOIN vocab USING (token), nt),
              |sc AS (SELECT doc_id,
              |    list_reduce(list_prepend(0.0, list(lp ORDER BY token)),
              |      (acc, x) -> acc + x) / sum(tf) AS avg_logp
              |  FROM lp GROUP BY doc_id),
              |j AS (SELECT s.doc_id, d.lang, s.avg_logp
              |  FROM sc s JOIN documents d USING (doc_id)),
              |r AS (SELECT doc_id, lang, avg_logp,
              |    row_number() OVER (PARTITION BY lang ORDER BY avg_logp) AS rn,
              |    count(*) OVER (PARTITION BY lang) AS n FROM j),
              |b AS (SELECT lang,
              |    max(CASE WHEN rn = greatest(ceil(round((1.0/3) * n, 9))::BIGINT, 1)
              |        THEN avg_logp END) AS c1,
              |    max(CASE WHEN rn = greatest(ceil(round((2.0/3) * n, 9))::BIGINT, 1)
              |        THEN avg_logp END) AS c2
              |  FROM r GROUP BY lang)
              |SELECT j.doc_id, j.lang, round(j.avg_logp, 6) AS avg_logp,
              |  CASE WHEN j.avg_logp <= b.c1 THEN 'tail'
              |       WHEN j.avg_logp <= b.c2 THEN 'middle'
              |       ELSE 'head' END AS bucket
              |FROM j JOIN b USING (lang) ORDER BY j.doc_id""".stripMargin)),

    Q("t28_char_entropy",
      (s, d) => {
        val m = mgr(s, d)
        // code-point Shannon entropy (bits) — the model-free gibberish/
        // compressibility gate, as the native codegen'd char_entropy
        // (registered SQL function). Term-fold order differs between the
        // engines (ascending code point vs group order) — pure float
        // association noise ~1e-15 on ~4-bit entropies, 9 orders under
        // the round(6) grid.
        m.getDDFByName("documents").df
          .select(col("doc_id").as("id"),
            expr("round(char_entropy(text), 6)").as("entropy"))
          .orderBy("id")
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
             |  FROM documents),
             |cnt AS (SELECT doc_id, c, count(*)::DOUBLE AS k FROM ch GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1)
             |SELECT doc_id AS id,
             |  round(-sum((k / n) * log2(k / n)), 6) AS entropy
             |FROM cnt JOIN tot USING (doc_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t29_drop_common_lines",
      (s, d) => {
        val m = mgr(s, d)
        // corpus-frequency LINE filtering (r16) — the CCNet-style
        // boilerplate REWRITE t12 only scores: lines synthesized so a
        // nav line and a footer (df = corpus) and a newsletter banner
        // (df ≈ corpus/3) all exceed the threshold and vanish, while
        // the body line and the 'para N' lines (df ≈ 7 per value at the
        // gate scales) survive; the empty line is structure and is kept
        // verbatim. Trimmed-form matching is exercised by the footer's
        // padding.
        val id = col("doc_id")
        val txt = concat_ws("\n",
          lit("NAV HOME ABOUT"),
          concat(lit("body "), substring(col("text"), 1, 40)),
          lit(""),
          when(id % 3 === 0, "subscribe to our newsletter")
            .otherwise(concat(lit("para "), (id % 50).cast("string"))),
          lit("  (c) 2024 example corp  "))
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), txt.as("text"))
        pipeline.TextAnalysis.dropCommonLines(docs, "text", "doc_id",
            dfThreshold = 20L)
          .orderBy("id")
      },
      Some("""WITH t AS (SELECT doc_id, 'NAV HOME ABOUT' || chr(10) ||
             |    'body ' || substr(text, 1, 40) || chr(10) || chr(10) ||
             |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
             |         ELSE 'para ' || (doc_id % 50)::VARCHAR END || chr(10) ||
             |    '  (c) 2024 example corp  ' AS txt FROM documents),
             |ln AS (SELECT doc_id, unnest(string_split(txt, chr(10))) AS line,
             |    unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS pos
             |  FROM t),
             |k AS (SELECT *, trim(line) AS kk FROM ln),
             |dfc AS (SELECT kk, count(DISTINCT doc_id) AS c FROM k
             |  WHERE kk <> '' GROUP BY kk),
             |j AS (SELECT k.doc_id, k.pos, k.line, k.kk, coalesce(d.c, 0) AS c
             |  FROM k LEFT JOIN dfc d ON k.kk = d.kk)
             |SELECT doc_id AS id,
             |  coalesce(array_to_string(list(line ORDER BY pos)
             |    FILTER (WHERE NOT (kk <> '' AND c > 20)), chr(10)), '')
             |    AS text_clean,
             |  count(*)::BIGINT AS n_lines,
             |  sum(CASE WHEN kk <> '' AND c > 20 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_dropped
             |FROM j GROUP BY doc_id ORDER BY id""".stripMargin)),

    Q("t30_paragraph_dedup",
      (s, d) => {
        val m = mgr(s, d)
        // corpus-wide first-occurrence paragraph dedup (r17, Lee et al.
        // 2021 at paragraph granularity) — the KEEP-ONCE complement of
        // t29's drop-everywhere: a 7-class intro paragraph and (on
        // id%3==0 docs) a 5-class closing paragraph survive only at
        // their lexicographically-first (id, pos) corpus position; the
        // per-doc body paragraph is unique and always survives. The
        // oracle elects winners by TRIMMED TEXT (value-identical to the
        // engine's 8-byte xxhash64 keys modulo 2^-64 collisions, the
        // t29 precedent) with the (id, pos) pair encoded as
        // id*1000000+pos — same order as the engine's struct min for
        // in-bound positions.
        val id = col("doc_id")
        val txt = concat(
          lit("common intro "), (id % 7).cast("string"), lit(".\n\n"),
          substring(col("text"), 1, 60), lit(" para "), id.cast("string"),
          when(id % 3 === 0, concat(lit("\n\nshared closing "),
            (id % 5).cast("string"), lit("."))).otherwise(lit("")))
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), txt.as("text"))
        pipeline.TextAnalysis.dropDuplicateParagraphs(docs, "text", "doc_id")
          .orderBy("id")
      },
      Some("""WITH t AS (SELECT doc_id, 'common intro ' ||
             |    (doc_id % 7)::VARCHAR || '.' || chr(10) || chr(10) ||
             |    substr(text, 1, 60) || ' para ' || doc_id::VARCHAR ||
             |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || chr(10) ||
             |      'shared closing ' || (doc_id % 5)::VARCHAR || '.'
             |      ELSE '' END AS txt
             |  FROM documents),
             |pr AS (SELECT doc_id AS id,
             |    unnest(generate_series(1, len(string_split_regex(txt,
             |      '\n{2,}')))) - 1 AS pos,
             |    unnest(string_split_regex(txt, '\n{2,}')) AS para
             |  FROM t),
             |k AS (SELECT id, pos, para, trim(para) AS kk FROM pr
             |  WHERE trim(para) <> ''),
             |win AS (SELECT kk, min(id * 1000000 + pos) AS w FROM k
             |  GROUP BY kk),
             |fl AS (SELECT k.id, k.pos, k.para,
             |    (k.id * 1000000 + k.pos = win.w) AS keep
             |  FROM k JOIN win ON k.kk = win.kk)
             |SELECT d.doc_id AS id,
             |  coalesce(array_to_string(list(fl.para ORDER BY fl.pos)
             |    FILTER (WHERE fl.keep), chr(10) || chr(10)), '')
             |    AS text_clean,
             |  count(fl.pos)::BIGINT AS n_paras,
             |  coalesce(sum(CASE WHEN NOT fl.keep THEN 1 ELSE 0 END),
             |    0)::BIGINT AS n_dropped
             |FROM (SELECT DISTINCT doc_id FROM documents) d
             |LEFT JOIN fl ON fl.id = d.doc_id
             |GROUP BY d.doc_id ORDER BY id""".stripMargin)),

    Q("t11_hashed_features",
      (s, d) => {
        val m = mgr(s, d)
        // the hashing-trick featurization behind model-based quality
        // filtering: bucket = portableFold(token) mod 64, per-doc counts
        // as a sparse (indices, vals) pair — dictionary-free, so an
        // incremental batch featurizes identically at any corpus scale.
        // RULE (round-5 red cell): oracle query outputs must be
        // SCALAR-typed columns only — the driver's pandas checker cannot
        // sort/hash array cells (TypeError: unhashable ndarray), so the
        // sparse vector is serialized as csv strings, the move d10
        // already uses for its band signatures. vals are integral counts
        // by construction, so the csv goes through bigint (no float
        // formatting to disagree on).
        pipeline.TextAnalysis.hashedTokenFeatures(
            m.getDDFByName("documents").df.filter(col("doc_id") < 200),
            "text", "doc_id", dim = 64)
          .withColumnRenamed("id", "doc_id")
          .select(col("doc_id"),
            concat_ws(",", expr("transform(indices, i -> cast(i as string))"))
              .as("indices_csv"),
            concat_ws(",", expr("transform(vals, v -> cast(cast(v as bigint) as string))"))
              .as("vals_csv"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ex AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents WHERE doc_id < 200),
              |h AS (SELECT doc_id,
              |    (list_reduce(list_prepend(0::BIGINT,
              |       list_transform(regexp_split_to_array(token, ''),
              |         c -> coalesce(ascii(c), 0)::BIGINT)),
              |     (acc, x) -> (acc * 31 + x) % 1000000007) % 64)::INT AS bucket
              |  FROM ex),
              |c AS (SELECT doc_id, bucket, count(*)::BIGINT AS cnt
              |  FROM h GROUP BY 1, 2),
              |g AS (SELECT doc_id,
              |    string_agg(bucket::VARCHAR, ',' ORDER BY bucket) AS indices_csv,
              |    string_agg(cnt::VARCHAR, ',' ORDER BY bucket) AS vals_csv
              |  FROM c GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(g.indices_csv, '') AS indices_csv,
              |  coalesce(g.vals_csv, '') AS vals_csv
              |FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
              |LEFT JOIN g USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    Q("t24_nb_quality",
      (s, d) => {
        val m = mgr(s, d)
        // hashed Naive Bayes quality classifier, trained on a source
        // split (src0-3 = the "high-quality seed", everything else the
        // crawl negative) and applied to the whole corpus in one job —
        // the fastText-classifier analog of LLM curation stacks. Per-doc
        // log-odds fold in bucket order (bit-stable float sum, as t10);
        // ln rounded at 6 per the t10 precedent.
        pipeline.TextAnalysis.nbQualityScore(m.getDDFByName("documents").df,
            "text", "doc_id",
            isPos = col("source").isin("src0", "src1", "src2", "src3"), dim = 64)
          .select(col("id").as("doc_id"), col("n_tokens"),
            round(col("logodds"), 6).as("logodds"), col("pred_hq"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |fb AS (SELECT doc_id,
              |    (list_reduce(list_prepend(0::BIGINT,
              |       list_transform(regexp_split_to_array(token, ''),
              |         c -> coalesce(ascii(c), 0)::BIGINT)),
              |     (acc, x) -> (acc * 31 + x) % 1000000007) % 64)::INT AS b
              |  FROM tok),
              |db AS (SELECT doc_id, b, count(*)::BIGINT AS cnt FROM fb GROUP BY 1, 2),
              |lab AS (SELECT doc_id, source IN ('src0','src1','src2','src3') AS pos
              |  FROM documents),
              |cb AS (SELECT b,
              |    sum(CASE WHEN pos THEN cnt ELSE 0 END)::BIGINT AS cp,
              |    sum(CASE WHEN pos THEN 0 ELSE cnt END)::BIGINT AS cn
              |  FROM db JOIN lab USING (doc_id) GROUP BY b),
              |tots AS (SELECT sum(cp)::BIGINT AS tp, sum(cn)::BIGINT AS tn FROM cb),
              |w AS (SELECT b, ln((cp + 1.0::DOUBLE) / (tp + 64.0::DOUBLE))
              |    - ln((cn + 1.0::DOUBLE) / (tn + 64.0::DOUBLE)) AS lw FROM cb, tots),
              |per AS (SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
              |    list_reduce(list_prepend(0.0::DOUBLE, list(cnt * lw ORDER BY b)),
              |      (acc, x) -> acc + x) / sum(cnt) AS lo
              |  FROM db JOIN w USING (b) GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
              |  round(p.lo, 6) AS logodds, p.lo > 0.0 AS pred_hq
              |FROM documents d LEFT JOIN per p USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    Q("t25_pareto_sample",
      (s, d) => {
        val m = mgr(s, d)
        // the documented GPT-3 curation rule: keep a doc iff a Pareto
        // draw beats 1 − sigmoid(quality log-odds) — most high scorers
        // kept, a long tail of low scorers still admitted (no hard cliff
        // at the classifier boundary). The uniform driving the draw is
        // hash-derived from the doc id, so the kept set is a pure
        // function of (ids, scores) — replayable and engine-portable.
        val scored = pipeline.TextAnalysis.nbQualityScore(
          m.getDDFByName("documents").df, "text", "doc_id",
          isPos = col("source").isin("src0", "src1", "src2", "src3"), dim = 64)
        pipeline.TextAnalysis.paretoQualitySample(scored, "id", "logodds", alpha = 9.0)
          .select(col("id").as("doc_id"),
            round(col("q"), 6).as("q"), round(col("pareto"), 6).as("pareto"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents),
              |fb AS (SELECT doc_id,
              |    (list_reduce(list_prepend(0::BIGINT,
              |       list_transform(regexp_split_to_array(token, ''),
              |         c -> coalesce(ascii(c), 0)::BIGINT)),
              |     (acc, x) -> (acc * 31 + x) % 1000000007) % 64)::INT AS b
              |  FROM tok),
              |db AS (SELECT doc_id, b, count(*)::BIGINT AS cnt FROM fb GROUP BY 1, 2),
              |lab AS (SELECT doc_id, source IN ('src0','src1','src2','src3') AS pos
              |  FROM documents),
              |cb AS (SELECT b,
              |    sum(CASE WHEN pos THEN cnt ELSE 0 END)::BIGINT AS cp,
              |    sum(CASE WHEN pos THEN 0 ELSE cnt END)::BIGINT AS cn
              |  FROM db JOIN lab USING (doc_id) GROUP BY b),
              |tots AS (SELECT sum(cp)::BIGINT AS tp, sum(cn)::BIGINT AS tn FROM cb),
              |w AS (SELECT b, ln((cp + 1.0::DOUBLE) / (tp + 64.0::DOUBLE))
              |    - ln((cn + 1.0::DOUBLE) / (tn + 64.0::DOUBLE)) AS lw FROM cb, tots),
              |per AS (SELECT doc_id,
              |    list_reduce(list_prepend(0.0::DOUBLE, list(cnt * lw ORDER BY b)),
              |      (acc, x) -> acc + x) / sum(cnt) AS lo
              |  FROM db JOIN w USING (b) GROUP BY doc_id),
              |pq AS (SELECT doc_id,
              |    1.0::DOUBLE / (1.0::DOUBLE + exp(-lo)) AS q,
              |    pow((list_reduce(list_prepend(0::BIGINT,
              |        list_transform(regexp_split_to_array(doc_id::VARCHAR, ''),
              |          c -> coalesce(ascii(c), 0)::BIGINT)),
              |      (acc, x) -> (acc * 31 + x) % 1000000007) % 1000003 + 1.0::DOUBLE)
              |        / 1000004.0::DOUBLE,
              |      ${-1.0 / 9.0}) - 1.0::DOUBLE AS pareto
              |  FROM per WHERE lo IS NOT NULL)
              |SELECT doc_id, round(q, 6) AS q, round(pareto, 6) AS pareto
              |FROM pq WHERE pareto > 1.0::DOUBLE - q
              |ORDER BY doc_id""".stripMargin)),

    Q("t12_boilerplate",
      (s, d) => {
        val m = mgr(s, d)
        // corpus-frequency boilerplate scoring: a doc is flagged when
        // most of its 3-gram shingles occur in > dfThreshold documents
        pipeline.TextAnalysis.boilerplateScore(
            m.getDDFByName("documents").df, "text", "doc_id",
            dfThreshold = 5L, maxRatio = 0.5)
          .orderBy("id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, unnest(${duckShingles("text")}) AS sh
              |  FROM documents),
              |dfc AS (SELECT sh, count(*)::BIGINT AS dfc FROM sh GROUP BY sh),
              |sc AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
              |    cast(sum(CASE WHEN dfc > 5 THEN 1 ELSE 0 END) as bigint) AS n_common
              |  FROM sh s JOIN dfc USING (sh) GROUP BY s.doc_id)
              |SELECT d.doc_id AS id,
              |  coalesce(n_shingles, 0) AS n_shingles,
              |  coalesce(n_common, 0) AS n_common,
              |  CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0
              |       ELSE coalesce(n_common, 0)::DOUBLE / n_shingles END AS boiler_ratio,
              |  (CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0
              |        ELSE coalesce(n_common, 0)::DOUBLE / n_shingles END) <= 0.5 AS keep
              |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY id""".stripMargin))
  )
}
