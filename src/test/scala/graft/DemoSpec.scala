package graft

import org.apache.spark.sql.functions._

/** The README's user-facing curation story — the fluent facade chain
  * `ddf.c4Filter(...).dedupExact(...).dedupNearDup(...).enrichText(...)`
  * (core/DDF.scala) — run end-to-end on the driver's documents fixture
  * and pinned against the direct pipeline-operator composition, so the
  * facade's wiring cannot rot independently of the operators it fronts.
  */
class DemoSpec extends SparkTestBase {

  test("curation facade chain == direct operator composition on the documents fixture") {
    val m = new graft.core.DDFManager(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val nDocs = docs.count()

    // the driver fixture's synthetic text has no sentence-final
    // punctuation, so the demo disables that one rule — exactly the
    // knob a transcript/log corpus needs
    val out = m.register(docs)
      .c4Filter("text", "doc_id", requireTerminalPunct = false)
      .dedupExact("text", "doc_id")
      .dedupNearDup("text", "doc_id", threshold = 0.7)
      .enrichText("text")

    // the same stages called directly on the pipeline operators
    val keep = graft.pipeline.TextAnalysis.c4Rules(docs, "text", "doc_id",
        requireTerminalPunct = false)
      .filter(col("keep")).select(col("id").as("doc_id"))
    val c4 = docs.join(keep, Seq("doc_id"), "left_semi")
    val exact = graft.pipeline.Dedup.exactSurvivors(c4, "text", "doc_id")
    val near = graft.pipeline.Dedup.clusterSurvivors(exact,
      graft.pipeline.Dedup.minhashDedup(exact, "text", "doc_id", threshold = 0.7), "doc_id")
    val enr = graft.pipeline.TextAnalysis.enrich(near, "text")

    // identical rows, not just identical counts: compare the per-doc
    // enrichment payload the README demo actually shows
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang_pred", "token_count", "fingerprint")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
    val facadeRows = snap(out.df)
    assert(facadeRows == snap(enr), "facade chain must equal the operator composition")

    // pipeline shape: each stage only ever removes documents, and the
    // chain keeps a meaningful corpus (the p01-family invariant)
    val (nC4, nExact, nNear) = (c4.count(), exact.count(), near.count())
    assert(nC4 <= nDocs && nExact <= nC4 && nNear <= nExact,
      s"stages must be monotone: $nDocs -> $nC4 -> $nExact -> $nNear")
    assert(facadeRows.size == nNear)
    assert(nNear > 0, "the demo chain must not annihilate the corpus")
    // enrichment must COVER the surviving corpus (same contract as t01)
    assert(out.df.filter(col("lang_pred").isNull).count() == 0)
  }

  test("facade: tokenIds encodes the corpus; publish writes a verifiable manifest") {
    val m = new graft.core.DDFManager(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val enc = m.register(docs).tokenIds("text", "doc_id", minDocFreq = 5)
    // every doc with tokens is encoded; ids cover [−1, vocabSize)
    assert(enc.df.count() > 0)
    val vocabSize = graft.pipeline.TextAnalysis.vocabulary(
      docs, "text", "doc_id", minDocFreq = 5).count()
    val idBounds = enc.df
      .select(org.apache.spark.sql.functions.explode(col("token_ids")).as("tid"))
      .agg(org.apache.spark.sql.functions.min("tid"),
        org.apache.spark.sql.functions.max("tid")).first()
    assert(idBounds.getInt(0) >= -1 && idBounds.getInt(1) < vocabSize)

    withTempDir("graft_demo_pub") { tmp =>
      val dir = s"$tmp/out"
      val pub = m.register(docs).c4Filter("text", "doc_id", requireTerminalPunct = false)
        .publish(dir)
      assert(pub.df.agg(org.apache.spark.sql.functions.sum("rows")).first().getLong(0) ==
        spark.read.parquet(dir).count())
      val verify = graft.sources.Manifest.verifyManifest(spark, dir)
      assert(verify.filter(!col("ok")).count() == 0, "fresh publish must verify clean")
    }
  }
}
