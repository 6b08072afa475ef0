package graft

import graft.pipeline.Dsir
import org.apache.spark.sql.functions._

class DsirSpec extends SparkTestBase {
  import spark.implicits._

  // target domain: legal-ish; raw: mixed legal / cooking / empty
  private def target = Seq(
    (100L, "the court held that the contract was void"),
    (101L, "the plaintiff appealed the judgment of the court"),
    (102L, "the contract terms bind the parties")
  ).toDF("doc_id", "text")

  private def raw = Seq(
    (1L, "the court found the contract enforceable"),
    (2L, "whisk the eggs and fold in the flour"),
    (3L, "simmer the sauce until thick"),
    (4L, "the judgment of the court was appealed by the plaintiff"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("importanceWeights: domain docs outrank off-domain; empty doc gets 0") {
    val w = Dsir.importanceWeights(raw, target, "text", "doc_id", buckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(w(5L) == ((0L, 0.0)), s"empty doc: ${w(5L)}")
    // every legal doc must outweigh every cooking doc
    for (legal <- Seq(1L, 4L); cook <- Seq(2L, 3L))
      assert(w(legal)._2 > w(cook)._2,
        s"doc $legal (${w(legal)._2}) should outrank doc $cook (${w(cook)._2})")
    // n_feats = unigrams + bigrams
    assert(w(1L)._1 == 6L + 5L)
  }

  test("weights are deterministic across partition layouts (ordered fold)") {
    val a = Dsir.importanceWeights(raw.repartition(1), target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = Dsir.importanceWeights(raw.repartition(7), target.repartition(3),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b, s"$a vs $b")
  }

  test("resample: deterministic top-k picks the domain docs; gumbel is seed-stable") {
    val top = Dsir.resample(raw, target, "text", "doc_id", k = 2)
      .select("id").as[Long].collect().toSet
    assert(top == Set(1L, 4L), s"got $top")

    val g1 = Dsir.resample(raw, target, "text", "doc_id", k = 3,
      gumbelSeed = Some(42L)).select("id").as[Long].collect().toSeq
    val g2 = Dsir.resample(raw, target, "text", "doc_id", k = 3,
      gumbelSeed = Some(42L)).select("id").as[Long].collect().toSeq
    assert(g1 == g2, "same seed must redraw the same sample")
    // different seeds CAN differ; just assert the draw is a valid subset
    // of the SCOREABLE docs (empty doc 5 is excluded from selection)
    assert(g1.toSet.subsetOf(Set(1L, 2L, 3L, 4L)) && g1.size == 3)
  }

  test("bucketCounts is mergeable: shard sums == whole-corpus counts") {
    val whole = Dsir.bucketCounts(raw, "text", "doc_id")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sharded = Dsir.bucketCounts(raw.filter($"doc_id" <= 2), "text", "doc_id")
      .unionAll(Dsir.bucketCounts(raw.filter($"doc_id" > 2), "text", "doc_id"))
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(whole == sharded)
  }

  test("plan: scoring is join-free and shuffle-free (r17 per-row weights)") {
    // the result is a checkpoint, so the scoring plan is read from the
    // AQE-final plan of the checkpoint's SQL execution.
    // r17 opt: the per-doc weight is one compiled in-row pass over the
    // doc's bucket pairs with a config-sized log-ratio reference array —
    // the scoring stage must carry NO join and NO exchange at all (the
    // old shape broadcast-joined the ratio table and re-grouped by id).
    var out: org.apache.spark.sql.DataFrame = null
    val rec = graft.tools.Profile.record(spark) {
      out = Dsir.importanceWeights(raw, target, "text", "doc_id")
    }
    graft.core.Checkpoints.release(out)
    val scoring = rec.executions.filter(_.plan.contains("bucket_weight_sum"))
    assert(scoring.size == 1, rec.executions.map(_.plan).mkString("\n"))
    val names = scoring.head.nodes.map(_.name)
    assert(!names.exists(n => n.contains("Join") || n.contains("Exchange")),
      scoring.head.plan)
  }

  test("guards: bad buckets/alpha/k, empty corpora") {
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, target, "text", "doc_id", buckets = 0))
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, target, "text", "doc_id", alpha = 0.0))
    intercept[IllegalArgumentException](
      Dsir.resample(raw, target, "text", "doc_id", k = 0))
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, raw.filter($"doc_id" < 0), "text", "doc_id"))
  }

  test("the ratio broadcast is destroyed once the weights are checkpointed") {
    // a bucket count no other broadcast array in the session has
    val buckets = 4099
    val out = Dsir.importanceWeights(raw, target, "text", "doc_id", buckets = buckets)
    try {
      // Broadcast.destroy removes the driver's blocks asynchronously
      def held = org.apache.spark.graftbridge.DriverBlocks.broadcastValues().count {
        case a: Array[Double] => a.length == buckets
        case _ => false
      }
      val deadline = System.nanoTime() + 10000000000L
      while (held > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(held == 0, s"$held driver broadcast block(s) still hold the ratio array")
      assert(out.count() == 5) // the checkpoint holds the rows without it
    } finally graft.core.Checkpoints.release(out)
  }

  test("empty-corpus failure releases the tokenized cache (r15 persist audit)") {
    // the loud require path is a session-survivable user error — the
    // persisted (id, bucket, tf) frame must not leak past it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, raw.filter($"doc_id" < 0), "text", "doc_id"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }
}
