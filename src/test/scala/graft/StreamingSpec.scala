package graft

import graft.streaming.{CurationStreams, EventStreams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming extension: the SAME transform must produce
  * identical results on a batch frame and on a streaming source.
  */
class StreamingSpec extends SparkTestBase {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def sampleRows: Seq[EventStreams.EventRow] = Seq(
    EventStreams.EventRow(1, ts(0), 10, "click", 1.0),
    EventStreams.EventRow(2, ts(5), 10, "click", 2.0),
    EventStreams.EventRow(3, ts(20), 11, "view", 3.0),
    EventStreams.EventRow(4, ts(40), 10, "click", 4.0),
    EventStreams.EventRow(5, ts(55), 11, "view", 5.0))

  test("tumblingCounts: streaming result equals batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batchDf = sampleRows.toDF()
    val expected = EventStreams.tumblingCounts(batchDf, "30 minutes")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val stream = MemoryStream[EventStreams.EventRow]
    stream.addData(sampleRows: _*)
    val q = EventStreams.tumblingCounts(stream.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("psiMonitor: streaming equals batch; identity window reads ~0; clamping") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform over [0, 10); window 10:00 repeats it (psi ~ 0),
    // window 11:00 is shifted far right incl. out-of-range values
    val ref = (0 until 100).map(i => (i % 10).toDouble).toDF("value")
    val spec = graft.stats.Stats.histogramSpec(ref, "value", nBins = 5)
    assert(spec.pct.toSeq == Seq.fill(5)(0.2))
    def row(id: Long, hourTen: Boolean, v: Double) = EventStreams.EventRow(
      id, if (hourTen) ts(id.toInt % 60) else Timestamp.valueOf("2024-01-01 11:05:00"),
      10, "x", v)
    val rows = (0 until 50).map(i => row(i, hourTen = true, (i % 10).toDouble)) ++
      (50 until 60).map(i => row(i, hourTen = false, 999.0))
    val batch = EventStreams.psiMonitor(rows.toDF(), "value", spec,
      windowLen = "1 hour", alertThreshold = 0.25)
    val byWindow = batch.collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(byWindow.size == 2)
    val (nTen, psiTen, driftTen) = byWindow(Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(nTen == 50L && psiTen < 1e-9 && !driftTen, s"identity window: $psiTen")
    val (nEl, psiEl, driftEl) = byWindow(Timestamp.valueOf("2024-01-01 11:00:00"))
    // 999.0 clamps into the top bin: all mass on one bin vs uniform ref
    assert(nEl == 10L && psiEl > 0.25 && driftEl, s"shifted window: $psiEl")

    val stream = MemoryStream[EventStreams.EventRow]
    stream.addData(rows: _*)
    val q = EventStreams.psiMonitor(stream.toDF(), "value", spec,
        windowLen = "1 hour", alertThreshold = 0.25)
      .writeStream.format("memory").queryName("psi_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("psi_test").collect()
        .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(got == byWindow, "stream must equal batch bit-for-bit")
    } finally q.stop()
  }

  test("sessionize: gap splits sessions per user") {
    import spark.implicits._
    val ev = sampleRows.toDS()
    val sessions = EventStreams.sessionize(ev, gapMs = 30 * 60 * 1000L).collect()
    // user 10: events at :00 :05 :40 → gap 35min splits → 2 sessions
    // user 11: events at :20 :55 → gap 35min splits → 2 sessions
    assert(sessions.count(_.user_id == 10) == 2)
    assert(sessions.count(_.user_id == 11) == 2)
    val first10 = sessions.filter(_.user_id == 10).minBy(_.session_start.getTime)
    assert(first10.n_events == 2)
  }

  test("sessionize (window) == sessionizeTyped (stateful fold) on every field") {
    import spark.implicits._
    val ev = sampleRows.toDS()
    val key = (s: EventStreams.SessionOut) =>
      (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)
    val win = EventStreams.sessionize(ev, gapMs = 30 * 60 * 1000L).collect().map(key).toSet
    val typed = EventStreams.sessionizeTyped(ev, gapMs = 30 * 60 * 1000L).collect().map(key).toSet
    assert(win == typed && win.nonEmpty)
  }

  test("dedupedIngest: cross-batch content dedup against an epoch-partitioned index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ingest") { tmp =>
      val dir = s"$tmp/idx"
      val stream = MemoryStream[(Long, String)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.CurationStreams.dedupedIngest(
          stream.toDF().toDF("doc_id", "text"), "text", "doc_id", dir,
          (df, epoch) => sunk.synchronized {
            sunk ++= df.select("doc_id").collect().map(r => epoch -> r.getLong(0))
          })
        .start()
      try {
        stream.addData((1L, "alpha document"), (2L, "beta document"), (3L, "alpha document"))
        q.processAllAvailable()
        stream.addData((4L, "alpha document"), (5L, "gamma document"))
        q.processAllAvailable()
      } finally q.stop()
      // in-batch dup (3) collapses to min id; cross-batch dup (4) dropped
      assert(sunk.map(_._2).toSet == Set(1L, 2L, 5L), s"got $sunk")
      // index holds exactly one fingerprint per distinct content
      val idx = spark.read.parquet(dir)
      assert(idx.select("fingerprint").distinct().count() == 3)
      // epoch partitioning survives (replay-overwrite unit)
      assert(idx.columns.contains("epoch"))
    }
  }

  test("urlDedupIngest: canonical-URL dedup across batches; non-URLs never delivered") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_urlingest") { tmp =>
      val dir = s"$tmp/idx"
      val stream = MemoryStream[(Long, String)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.CurationStreams.urlDedupIngest(
          stream.toDF().toDF("doc_id", "url"), "url", "doc_id", dir,
          (df, epoch) => sunk.synchronized {
            sunk ++= df.select("doc_id").collect().map(r => epoch -> r.getLong(0))
          })
        .start()
      try {
        stream.addData(
          (1L, "https://A.com/x?utm_source=f"),
          (2L, "HTTPS://a.COM:443/x#frag"),   // same resource as 1 (in-batch)
          (3L, "https://b.org/y"),
          (4L, "not a url"))                  // excluded, never delivered
        q.processAllAvailable()
        stream.addData(
          (5L, "https://a.com/x?fbclid=z"),   // same resource again (cross-batch)
          (6L, "https://c.net/z"))
        q.processAllAvailable()
      } finally q.stop()
      assert(sunk.map(_._2).toSet == Set(1L, 3L, 6L), s"got $sunk")
      // one fingerprint per canonical resource, epoch-partitioned
      val idx = spark.read.parquet(dir)
      assert(idx.select("fingerprint").distinct().count() == 3)
      assert(idx.columns.contains("epoch"))
    }
  }

  test("htmlIngest: canonical-aware dedup keys on rel=canonical; survivors deliver extracted text") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_htmlingest") { tmp =>
      val dir = s"$tmp/idx"
      val stream = MemoryStream[(Long, String, String)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
      val q = graft.streaming.CurationStreams.htmlIngest(
          stream.toDF().toDF("doc_id", "url", "html"), "html", "url", "doc_id", dir,
          (df, epoch) => sunk.synchronized {
            sunk ++= df.select("doc_id", "text").collect()
              .map(r => (epoch, r.getLong(0), r.getString(1)))
          })
        .start()
      try {
        stream.addData(
          // 1 and 2 are DIFFERENT fetched urls declaring the SAME
          // canonical — only the canonical-aware key collapses them
          (1L, "https://m.ex.com/p?sid=9",
            """<link rel="canonical" href="https://ex.com/p"><p>A &amp; B</p>"""),
          (2L, "https://ex.com/p?utm_source=f",
            """<link rel="canonical" href="https://ex.com/p"><p>dup</p>"""),
          (3L, "https://other.org/q", "<p>no canonical</p>"))
        q.processAllAvailable()
        stream.addData(
          // cross-batch: same canonical as 1/2 under yet another url
          (4L, "https://ex.com/p/print", """<link rel=canonical href=/p><p>x</p>"""),
          (5L, "https://new.net/r", "<p>fresh</p>"))
        q.processAllAvailable()
      } finally q.stop()
      assert(sunk.map(_._2).toSet == Set(1L, 3L, 5L), s"got $sunk")
      // the delivered payload is EXTRACTED text, not markup
      assert(sunk.find(_._2 == 1L).get._3 == "A & B")
      val idx = spark.read.parquet(dir)
      assert(idx.select("fingerprint").distinct().count() == 3)
      assert(idx.columns.contains("epoch"))
    }
  }

  test("aggMaintain: rollup equals the direct aggregate; replay overwrites its partial") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_rollup") { tmp =>
      val dir = s"$tmp/r"
      val spec = "g, n=count(*), sv=sum(v), mx=max(v)"
      val stream = MemoryStream[(String, Double)]
      val q = graft.streaming.CurationStreams.aggMaintain(
        stream.toDF().toDF("g", "v"), spec, dir).start()
      val e0 = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0))
      val e1 = Seq(("a", 4.0), ("c", 7.0))
      try {
        stream.addData(e0: _*); q.processAllAvailable()
        stream.addData(e1: _*); q.processAllAvailable()
      } finally q.stop()
      val roll = graft.streaming.CurationStreams.readRollup(spark, dir, spec)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(roll == Map("a" -> ((3L, 7.0, 4.0)), "b" -> ((1L, 10.0, 10.0)),
        "c" -> ((1L, 7.0, 7.0))), s"got $roll")
      // store is O(epochs × groups), not event-sized
      val stored = spark.read.parquet(dir)
      assert(stored.count() == 4, "two epochs x two groups of partials")
      // replaying an epoch (same batch, same epoch id) overwrites its own
      // partition bit-identically — the at-least-once foreachBatch contract
      graft.operators.Aggregations.aggregateDf(e1.toDF("g", "v"), spec)
        .withColumn("epoch", lit(1L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch").parquet(dir)
      val roll2 = graft.streaming.CurationStreams.readRollup(spark, dir, spec)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(roll2 == roll, "replay must not change the rollup")
      // unmergeable specs refuse at WIRING time, before any epoch runs
      intercept[IllegalArgumentException] {
        graft.streaming.CurationStreams.aggMaintain(
          MemoryStream[(String, Double)].toDF().toDF("g", "v"),
          "g, m=mean(v)", dir + "2")
      }
    }
  }

  test("nearDupIngest: cross-batch NEAR-dup dedup against an epoch-partitioned band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_ndingest") { tmp =>
      val dir = s"$tmp/bandidx"
      // last-word variants: 12/14 word-3-shingles shared, Jaccard ~0.85 —
      // same fixture shape CurationSpec's incrementalMinhash test pins
      val base = "the quick brown fox jumps over the lazy dog near the river bank today"
      val stream = MemoryStream[(Long, String)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.CurationStreams.nearDupIngest(
          stream.toDF().toDF("doc_id", "text"), "text", "doc_id", dir,
          (df, epoch) => sunk.synchronized {
            sunk ++= df.select("doc_id").collect().map(r => epoch -> r.getLong(0))
          },
          threshold = 0.5)
        .start()
      try {
        // batch 1: 2 is a near-dup of 1 (last word changed); 10 is distinct
        stream.addData((1L, base), (2L, base.replace("today", "tonight")),
          (10L, "completely different text about spark partitions and shuffles this year"))
        q.processAllAvailable()
        // batch 2: 3 is a near-dup of the SURVIVOR of batch 1 (index hit);
        // 11 is new
        stream.addData((3L, base.replace("today", "tonite")),
          (11L, "yet another unrelated document on columnar storage formats right here"))
        q.processAllAvailable()
      } finally q.stop()
      assert(sunk.map(_._2).toSet == Set(1L, 10L, 11L), s"got $sunk")
      // the band index holds rows only for survivors, epoch-partitioned
      val idx = spark.read.parquet(dir)
      assert(idx.columns.toSet == Set("id", "band", "sig", "epoch"))
      assert(idx.select("id").distinct().collect().map(_.getLong(0)).toSet
        == Set(1L, 10L, 11L))
    }
  }

  test("dedupedIngest: crash mid-epoch + checkpoint restart replays bit-identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_restart") { base =>
      val idxDir = base.toString + "/idx"
      val ckpt = base.toString + "/ckpt"
      val stream = MemoryStream[(Long, String)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      @volatile var failNext = false
      def writer() = graft.streaming.CurationStreams.dedupedIngest(
          stream.toDF().toDF("doc_id", "text"), "text", "doc_id", idxDir,
          (df, epoch) => {
            val ids = df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
            sunk.synchronized { sunk += epoch -> ids }
            if (failNext) {
              failNext = false
              // the worst crash window: sink delivered, index write never ran
              throw new RuntimeException("injected crash after sink, before index write")
            }
          })
        .option("checkpointLocation", ckpt)

      // epoch 0 commits cleanly
      val q1 = writer().start()
      stream.addData((1L, "alpha document"), (2L, "beta document"))
      q1.processAllAvailable(); q1.stop()

      // epoch 1 crashes mid-epoch (after sink, before index write)
      failNext = true
      stream.addData((3L, "alpha document"), (4L, "gamma document"))
      val q2 = writer().start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      // ...and (worse) the crash left PARTIAL index rows in our epoch's
      // partition — the replay must overwrite them, not probe them
      Seq("partialjunk").toDF("fingerprint").write.mode("append")
        .parquet(idxDir + "/epoch=1")

      // restart from the checkpoint: epoch 1 replays; then epoch 2 must
      // dedup against the content the REPLAY indexed
      val q3 = writer().start()
      try {
        q3.processAllAvailable()
        stream.addData((5L, "gamma document"), (6L, "delta document"))
        q3.processAllAvailable()
      } finally q3.stop()

      // both attempts of epoch 1 delivered the IDENTICAL survivor set
      // (3=alpha is a cross-batch dup both times), and epoch 2 dropped
      // 5=gamma against the replayed index — no dup, no loss
      assert(sunk.toList == List(0L -> Seq(1L, 2L), 1L -> Seq(4L), 1L -> Seq(4L), 2L -> Seq(6L)),
        s"got $sunk")
      val idx = spark.read.parquet(idxDir)
      // the partial-write junk was overwritten by the replay
      assert(idx.filter(col("fingerprint") === "partialjunk").isEmpty,
        "replay must dynamically overwrite its own epoch partition")
      // exactly one fingerprint per distinct delivered content
      assert(idx.select("fingerprint").distinct().count() == 4)
    }
  }

  test("quotaIngest: lifetime quotas across epochs; crash restart replays bit-identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_quota") { base =>
      val ledger = base.toString + "/ledger"
      val ckpt = base.toString + "/ckpt"
      val stream = MemoryStream[(Long, String, Long)]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      @volatile var failNext = false
      def writer() = graft.streaming.CurationStreams.quotaIngest(
          stream.toDF().toDF("id", "src", "cost"), "src",
          Seq(col("cost").desc, col("id").asc), "cost",
          budgets = Map("a" -> 100L), defaultBudget = 50L, ledgerDir = ledger,
          (df, epoch) => {
            val ids = df.select("id").collect().map(_.getLong(0)).toSeq.sorted
            sunk.synchronized { sunk += epoch -> ids }
            if (failNext) {
              failNext = false
              // the worst crash window: sink delivered, ledger never written
              throw new RuntimeException("injected crash after sink, before ledger write")
            }
          })
        .option("checkpointLocation", ckpt)

      // epoch 0: a admits 60+30 = 90 of 100; b admits 40 of the default 50
      val q1 = writer().start()
      stream.addData((1L, "a", 60L), (2L, "a", 30L), (3L, "b", 40L))
      q1.processAllAvailable(); q1.stop()

      // epoch 1 crashes mid-epoch. Intended admissions: a remaining 10 →
      // the cost-10 row fits exactly, the cost-5 row is past the prefix
      // cutoff (rs 15 > 10 — prefix-greedy counts the whole prefix);
      // b remaining 10 → the cost-5 row fits
      failNext = true
      stream.addData((4L, "a", 10L), (5L, "a", 5L), (6L, "b", 5L))
      val q2 = writer().start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      // ...and the crash left PARTIAL ledger rows in our epoch's partition
      // — the replay must overwrite them, never count them as spend
      Seq(("a", 999L)).toDF("grp", "spent").write.mode("append")
        .parquet(ledger + "/epoch=1")

      // restart: epoch 1 replays bit-identically, then epoch 2 runs
      // against the REPLAYED ledger: a is exactly exhausted (90+10), so
      // its cost-1 row is refused; b has 5 left, so its cost-4 row fits
      val q3 = writer().start()
      try {
        q3.processAllAvailable()
        stream.addData((7L, "a", 1L), (8L, "b", 4L))
        q3.processAllAvailable()
      } finally q3.stop()

      assert(sunk.toList == List(0L -> Seq(1L, 2L, 3L), 1L -> Seq(4L, 6L),
        1L -> Seq(4L, 6L), 2L -> Seq(8L)), s"got $sunk")
      val led = spark.read.parquet(ledger)
      assert(led.filter(col("spent") === 999L).isEmpty,
        "replay must dynamically overwrite its own epoch partition")
      // the lifetime invariant the operator sells: admitted cost per
      // source never exceeds its budget
      val spent = led.groupBy("grp").agg(sum("spent").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(spent == Map("a" -> 100L, "b" -> 49L), s"got $spent")
    }
  }

  test("quotaIngest property: random epochs ≡ epoch-sequential prefix-greedy reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- Seq(13L, 61L)) {
      val rng = new scala.util.Random(seed)
      val nGroups = 2 + rng.nextInt(4)
      val nEpochs = 2 + rng.nextInt(3)
      // heavy priority ties, some zero costs; NO unique tie-break on one
      // seed so peer cohorts straddle cutoffs
      val tieBreak = seed != 61L
      // the one-per-epoch anchor rows keep every epoch nonempty: an
      // empty addData would produce no micro-batch and desync the
      // foreachBatch epoch counter from the reference's epoch index
      val rows = (0 until 120 + rng.nextInt(200)).map { i =>
        (i.toLong, s"g${rng.nextInt(nGroups)}", rng.nextInt(5).toLong,
          rng.nextInt(8).toLong, rng.nextInt(nEpochs))
      } ++ (0 until nEpochs).map(e => (10000L + e, "g0", 0L, 0L, e))
      val budgets: Map[Any, Long] =
        (0 until nGroups).map(g => (s"g$g": Any) -> (20L + rng.nextInt(60))).toMap
      // in-memory reference: per epoch, per group, peer-inclusive
      // prefix-greedy against budget minus earlier epochs' ADMITTED spend
      val spent = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val wantByEpoch = (0 until nEpochs).map { e =>
        val admitted = scala.collection.mutable.Set.empty[Long]
        rows.filter(_._5 == e).groupBy(_._2).foreach { case (g, grp) =>
          val rem = budgets(g).asInstanceOf[Long] - spent(g)
          // sort by (pri desc[, id asc]); cohorts = equal on ALL order cols
          val sorted = grp.sortBy(r => (-r._3, if (tieBreak) r._1 else 0L))
          val cohorts = sorted.foldLeft(Vector.empty[Vector[(Long, String, Long, Long, Int)]]) {
            case (acc, r) if acc.nonEmpty &&
                acc.last.head._3 == r._3 &&
                (!tieBreak || acc.last.head._1 == r._1) =>
              acc.init :+ (acc.last :+ r)
            case (acc, r) => acc :+ Vector(r)
          }
          var cum = 0L
          cohorts.foreach { c =>
            cum += c.map(_._4).sum
            if (cum <= rem) { c.foreach(r => admitted += r._1); spent(g) += c.map(_._4).sum }
          }
        }
        admitted.toSet
      }
      withTempDir(s"graft_quota_prop$seed") { base =>
        val stream = MemoryStream[(Long, String, Long, Long)]
        val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
        val order = if (tieBreak) Seq(col("pri").desc, col("id").asc) else Seq(col("pri").desc)
        val q = CurationStreams.quotaIngest(
            stream.toDF().toDF("id", "grp", "pri", "cost"), "grp", order, "cost",
            budgets, defaultBudget = 0L, base.toString + "/ledger",
            (df, epoch) => got.synchronized {
              got(epoch) = df.select("id").collect().map(_.getLong(0)).toSet
            })
          .start()
        try (0 until nEpochs).foreach { e =>
          stream.addData(rows.filter(_._5 == e).map(r => (r._1, r._2, r._3, r._4)): _*)
          q.processAllAvailable()
        } finally q.stop()
        (0 until nEpochs).foreach { e =>
          assert(got(e.toLong) == wantByEpoch(e),
            s"seed=$seed epoch=$e missing=${wantByEpoch(e) -- got(e.toLong)} " +
              s"extra=${got(e.toLong) -- wantByEpoch(e)}")
        }
      }
    }
  }

  test("sessionizeStreaming: sessions close across micro-batches via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.sessionizeStreaming(stream.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessionize_stream")
      .outputMode("append").start()
    try {
      // batch 1: two events 5 min apart — one OPEN session, nothing emitted
      stream.addData(
        EventStreams.EventRow(1, ts(0), 10, "click", 1.0),
        EventStreams.EventRow(2, ts(5), 10, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("sessionize_stream").isEmpty,
        "open session must stay in state, not flush")
      // batch 2: an event 35 min later — exceeds the gap, so the first
      // session closes; the watermark also moves past its timeout
      stream.addData(EventStreams.EventRow(4, ts(40), 10, "click", 4.0))
      q.processAllAvailable()
      // one more batch so the watermark (now at :40) fires the timeout for
      // nothing yet; the closed first session must be emitted already
      val got = spark.table("sessionize_stream").as[EventStreams.SessionOut].collect()
      assert(got.length == 1)
      assert(got.head.n_events == 2 && got.head.session_start == ts(0) &&
        got.head.session_end == ts(5))
    } finally q.stop()
  }

  test("sessionizeStreaming: a late out-of-order event cannot shrink the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.sessionizeStreaming(stream.toDS(), gapMs = 30 * 60 * 1000L,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessionize_late")
      .outputMode("append").start()
    try {
      stream.addData(
        EventStreams.EventRow(1, ts(0), 10, "click", 1.0),
        EventStreams.EventRow(2, ts(10), 10, "click", 2.0))
      q.processAllAvailable()
      // late event at :05 (inside the 10-min watermark slack): must merge
      // WITHOUT moving lastSeen backward from :10
      stream.addData(EventStreams.EventRow(3, ts(5), 10, "click", 3.0))
      q.processAllAvailable()
      // event at :55 closes the session (gap > 30 min from :10, not :05)
      stream.addData(EventStreams.EventRow(4, ts(55), 10, "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("sessionize_late").as[EventStreams.SessionOut].collect()
      assert(got.length == 1)
      assert(got.head.session_start == ts(0) && got.head.session_end == ts(10) &&
        got.head.n_events == 3, s"got ${got.head}")
    } finally q.stop()
  }

  test("sessionizeStreaming: an event behind the watermark is dropped, never kills the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(hm: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val stream = MemoryStream[EventStreams.EventRow]
    // small gap (5 min) + 10-min watermark slack: a re-delivery arriving
    // BEHIND the watermark is pre-filtered by FlatMapGroupsWithStateExec
    // (so it can never set a timeout in the past); the query must survive
    // and close the open session via the event-time timeout
    val q = EventStreams.sessionizeStreaming(stream.toDS(), gapMs = 5 * 60 * 1000L,
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sessionize_clamp")
      .outputMode("append").start()
    try {
      // user 11's 11:00 event pushes the watermark to 10:50
      stream.addData(
        EventStreams.EventRow(1, at("10:00"), 10, "click", 1.0),
        EventStreams.EventRow(2, at("11:00"), 11, "view", 2.0))
      q.processAllAvailable()
      // 10:30 for user 10 is behind the 10:50 watermark → dropped on input;
      // in the same batch user 10's expired timeout closes session [10:00]
      stream.addData(EventStreams.EventRow(3, at("10:30"), 10, "click", 3.0))
      q.processAllAvailable()
      stream.addData(EventStreams.EventRow(4, at("12:00"), 11, "view", 4.0))
      q.processAllAvailable()
      val got = spark.table("sessionize_clamp").as[EventStreams.SessionOut].collect()
        .filter(_.user_id == 10)
      assert(got.length == 1, s"late row dropped; only the timeout session, got ${got.toSeq}")
      assert(got.head.session_start == at("10:00") && got.head.session_end == at("10:00")
        && got.head.n_events == 1)
    } finally q.stop()
  }

  test("enrichEvents: stream-static join equals the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "interactive"), ("view", "passive")).toDF("event_type", "kind")
    val expected = EventStreams.enrichEvents(sampleRows.toDF(), dim, Seq("event_type"))
      .select("event_id", "kind").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val stream = MemoryStream[EventStreams.EventRow]
    stream.addData(sampleRows: _*)
    val q = EventStreams.enrichEvents(stream.toDF(), dim, Seq("event_type"))
      .select("event_id", "kind")
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expected && got.size == sampleRows.size)
    } finally q.stop()
  }

  test("intervalJoin: stream-stream equals batch; pairs form across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def lhs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    def rhs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val clicks = Seq(
      EventStreams.EventRow(1, ts(0), 10, "click", 0),
      EventStreams.EventRow(2, ts(5), 10, "click", 0),
      EventStreams.EventRow(3, ts(0), 11, "click", 0))
    val purchases = Seq(
      EventStreams.EventRow(101, ts(10), 10, "purchase", 0), // 10m/5m after clicks 1,2
      EventStreams.EventRow(102, ts(40), 10, "purchase", 0), // outside 15m of both
      EventStreams.EventRow(103, ts(3), 11, "purchase", 0))  // 3m after click 3
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 101L), (2L, 101L), (3L, 103L))

    val batch = EventStreams.intervalJoin(lhs(clicks.toDF()), rhs(purchases.toDF()),
      Seq("user_id"), "click_ts", "purchase_ts", 0L, 15 * 60 * 1000L)
    assert(pairs(batch) == expected)
    // key columns emitted once, from the left
    assert(batch.columns.count(_ == "user_id") == 1)

    // streaming: clicks arrive in micro-batch 1, purchases in batch 2 —
    // matches must form against the BUFFERED left state
    val cs = MemoryStream[EventStreams.EventRow]
    val ps = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.intervalJoin(lhs(cs.toDF()), rhs(ps.toDF()),
        Seq("user_id"), "click_ts", "purchase_ts", 0L, 15 * 60 * 1000L)
      .writeStream.format("memory").queryName("ij_test").outputMode("append").start()
    try {
      cs.addData(clicks: _*)
      q.processAllAvailable()
      ps.addData(purchases: _*)
      q.processAllAvailable()
      assert(pairs(spark.table("ij_test")) == expected)
    } finally q.stop()
  }

  test("intervalJoin: watermark bounds the buffer — a late right row cannot match evicted state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def lhs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    def rhs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val cs = MemoryStream[EventStreams.EventRow]
    val ps = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.intervalJoin(lhs(cs.toDF()), rhs(ps.toDF()),
        Seq("user_id"), "click_ts", "purchase_ts", 0L, 15 * 60 * 1000L,
        leftWatermark = "0 seconds", rightWatermark = "0 seconds")
      .writeStream.format("memory").queryName("ij_evict").outputMode("append").start()
    try {
      // batch 1: a click whose match window closes at 10:15
      cs.addData(EventStreams.EventRow(1, ts(0), 10, "click", 0))
      ps.addData(EventStreams.EventRow(900, ts(0), 99, "purchase", 0))
      q.processAllAvailable()
      // batch 2: both watermarks advance to ~10:59 — far past the
      // click's window — so its buffered row becomes evictable
      cs.addData(EventStreams.EventRow(2, ts(59), 20, "click", 0))
      ps.addData(EventStreams.EventRow(901, ts(59), 99, "purchase", 0))
      q.processAllAvailable()
      // batch 3: a purchase at 10:05 that WOULD pair with the click on a
      // batch frame — but it is behind the watermark, so the streaming
      // join must drop it instead of consulting (gone) state
      ps.addData(EventStreams.EventRow(902, ts(5), 10, "purchase", 0))
      q.processAllAvailable()
      assert(spark.table("ij_evict").count() == 0,
        "late row matched against state the watermark should have evicted")
      // the same data on batch frames DOES pair — the difference is the
      // streaming watermark contract, not the join predicate
      val batch = EventStreams.intervalJoin(
        lhs(Seq(EventStreams.EventRow(1, ts(0), 10, "click", 0)).toDF()),
        rhs(Seq(EventStreams.EventRow(902, ts(5), 10, "purchase", 0)).toDF()),
        Seq("user_id"), "click_ts", "purchase_ts", 0L, 15 * 60 * 1000L)
      assert(batch.count() == 1)
    } finally q.stop()
  }

  test("dedupEvents: streaming re-deliveries dropped; batch path matches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.dedupEvents(stream.toDF(), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      stream.addData(sampleRows.head, sampleRows(1))
      q.processAllAvailable()
      // re-deliver event 1 (same id, later batch, inside the watermark)
      stream.addData(sampleRows.head.copy(value = 99.0), sampleRows(2))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), "duplicate delivery of id 1 dropped")
    } finally q.stop()
    val batch = EventStreams.dedupEvents(
      (sampleRows ++ Seq(sampleRows.head.copy(value = 99.0))).toDF(), Seq("event_id"))
    assert(batch.count() == sampleRows.size)
  }

  test("imageDedupIngest: crash mid-epoch + checkpoint restart replays bit-identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
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
    val pA = 0x3C5A96E187D24B0FL; val pB = 0x12489ABCDEF01357L
    withTempDir("graft_imgrestart") { base =>
      val idxDir = base.toString + "/idx"
      val ckpt = base.toString + "/ckpt"
      val stream = MemoryStream[(Long, Array[Byte])]
      val sunk = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      @volatile var failNext = false
      def writer() = CurationStreams.imageDedupIngest(
          stream.toDF().toDF("id", "payload"), "id", "payload", idxDir,
          (df, epoch) => {
            val ids = df.select("id").collect().map(_.getLong(0)).toSeq.sorted
            sunk.synchronized { sunk += epoch -> ids }
            if (failNext) {
              failNext = false
              throw new RuntimeException("injected crash after sink, before index write")
            }
          })
        .option("checkpointLocation", ckpt)

      val q1 = writer().start()
      stream.addData((1L, mkImg(pA)), (2L, mkImg(pB)))
      q1.processAllAvailable(); q1.stop()

      // epoch 1 crashes after sink, before index write; the crash also
      // leaves a PARTIAL index row in our epoch's partition
      failNext = true
      stream.addData((3L, mkImg(pA ^ 1L)), (4L, mkImg(0x5A5A5A5A5A5A5A5AL)))
      val q2 = writer().start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      q2.stop()
      Seq(Tuple1(12345L)).toDF("dhash").write.mode("append").parquet(idxDir + "/epoch=1")

      val q3 = writer().start()
      try {
        q3.processAllAvailable()
        // epoch 2 must dedup against what the REPLAY indexed (Hamming 1 of id 4)
        stream.addData((5L, mkImg(0x5A5A5A5A5A5A5A5BL)), (6L, mkImg(pB ^ (0x3FL << 50))))
        q3.processAllAvailable()
      } finally q3.stop()

      // both attempts of epoch 1 delivered the identical survivor set
      // (3 is Hamming-1 of indexed 1 both times), epoch 2 dropped 5
      // against the replayed index and kept the far pattern 6
      assert(sunk.toList == List(0L -> Seq(1L, 2L), 1L -> Seq(4L), 1L -> Seq(4L), 2L -> Seq(6L)),
        s"got $sunk")
      val idx = spark.read.parquet(idxDir)
      assert(idx.filter(col("dhash") === 12345L).isEmpty,
        "replay must dynamically overwrite its own epoch partition")
    }
  }

  test("imageDedupIngest: cross-epoch near-dup dropped, poison rows pass through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pattern-walk 9×8 PNGs with a KNOWN dHash (the m05 trick)
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
    withTempDir("graft_imgingest") { base =>
      val stream = MemoryStream[(Long, Array[Byte])]
      val q = CurationStreams.imageDedupIngest(
          stream.toDF().toDF("id", "payload"), "id", "payload", s"$base/idx",
          (df, epoch) => df.select(col("id"), lit(epoch).as("epoch"))
            .write.mode("append").parquet(s"$base/out"))
        .start()
      try {
        // epoch 0: two exact dups (1 dominates 4) + one far pattern
        stream.addData((1L, mkImg(p0)), (4L, mkImg(p0)), (5L, mkImg(p0 ^ (0xFFL << 32))))
        q.processAllAvailable()
        // epoch 1: Hamming-1 of the epoch-0 survivor (drops via the index),
        // a genuinely new pattern, and an undecodable payload (passes through)
        stream.addData((7L, mkImg(p0 ^ 1L)), (8L, mkImg(0x12489ABCDEF01357L)),
          (9L, "not a png".getBytes("UTF-8")))
        q.processAllAvailable()
        val out = spark.read.parquet(s"$base/out")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(out == Map(1L -> 0L, 5L -> 0L, 8L -> 1L, 9L -> 1L), s"got $out")
        // the index holds only decoded survivor hashes (3 rows, 8 bytes each)
        val idx = spark.read.parquet(s"$base/idx").select("dhash")
          .collect().map(_.getLong(0)).toSet
        assert(idx == Set(p0, p0 ^ (0xFFL << 32), 0x12489ABCDEF01357L), s"got $idx")
      } finally q.stop()
    }
  }

  test("annIngest: streamed index equals at-once build; cell-partitioned on disk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vecs = (0L until 60L).map(i =>
      (i, Array((i % 3).toFloat + 1f, (i % 7).toFloat)))
    val cents = Array(Array(1.0, 0.0), Array(2.0, 3.0), Array(3.0, 6.0))
    withTempDir("graft_anningest") { base =>
      val stream = MemoryStream[(Long, Array[Float])]
      val q = CurationStreams.annIngest(stream.toDF().toDF("vec_id", "embedding"),
          "embedding", "vec_id", cents, s"$base/idx")
        .start()
      try {
        Seq(vecs.filter(_._1 < 20), vecs.filter(v => v._1 >= 20 && v._1 < 45),
          vecs.filter(_._1 >= 45)).foreach { b =>
          stream.addData(b: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = spark.read.parquet(s"$base/idx")
      assert(streamed.count() == 60)
      // streamed-in-any-epoch ≡ built-at-once: cells AND int8 sidecar match
      val batchIdx = graft.pipeline.IvfIndex.buildFromCentroids(
        vecs.toDF("vec_id", "embedding"), "embedding", "vec_id", cents)
      val batchSide = graft.pipeline.IvfIndex.quantizedSidecar(batchIdx)
        .select(col("id"), col("cell").as("bcell"), col("q8").as("bq8"))
      val joined = streamed.join(batchSide, "id")
      assert(joined.count() == 60)
      assert(joined.filter(col("cell") =!= col("bcell")).count() == 0,
        "streamed assignment equals batch assignment")
      assert(joined.filter(col("q8.scale") =!= col("bq8.scale")).count() == 0,
        "int8 sidecar scale matches")
      // epoch dirs partition the writes; cell dirs give probe-side pruning
      val idxDir = new java.io.File(s"$base/idx")
      val epochDirs = idxDir.listFiles().filter(_.getName.startsWith("epoch="))
      assert(epochDirs.map(_.getName).sorted.sameElements(
        Array("epoch=0", "epoch=1", "epoch=2")), "one partition dir per epoch")
      assert(epochDirs.head.listFiles().exists(_.getName.startsWith("cell=")),
        "cell subdirectories present for probe pruning")
    }
  }

  test("text enrichment is streaming-safe: stream result equals batch") {
    // the curation path (enrich = per-row metrics only) must stay free of
    // batch-only constructs so it can run inside a readStream pipeline
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "the cat and the dog of the house"),
      (2L, "le chat de la maison et le chien est grand"))
    val expected = graft.pipeline.TextAnalysis.enrich(
        rows.toDF("doc_id", "text"), "text")
      .collect().map(_.toSeq).toSet
    val stream = MemoryStream[(Long, String)]
    stream.addData(rows: _*)
    val q = graft.pipeline.TextAnalysis.enrich(
        stream.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("enrich_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_stream").collect().map(_.toSeq).toSet
      assert(got == expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("slidingUserActivity emits overlapping windows") {
    import spark.implicits._
    val out = EventStreams.slidingUserActivity(sampleRows.toDF(), "1 hour", "30 minutes")
    // each event belongs to 2 sliding windows
    assert(out.agg(sum("n_events")).first().getLong(0) == sampleRows.size * 2)
  }

  /** 50 k synthetic events over ~14.5 days: bursts of 5 events 25 s
    * apart per user (one 30-min-gap session per burst), 1 500 users
    * cycling — sessions continuously open AND close, so state-store
    * eviction is load-bearing, not incidental. Deterministic (id-derived)
    * and fed in event-time order so the watermark advances every epoch.
    */
  private def replayRows(n: Int): IndexedSeq[EventStreams.EventRow] = {
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    (0 until n).map { i =>
      EventStreams.EventRow(i.toLong, new Timestamp(base + i.toLong * 25000L),
        (i / 5) % 1500L, "click", 1.0)
    }
  }

  test("sessionizeStreaming: 50k-event replay — watermark eviction bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = replayRows(50000)
    val gapMs = 30 * 60 * 1000L
    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.sessionizeStreaming(stream.toDS(), gapMs)
      .writeStream.format("memory").queryName("sessionize_replay")
      .outputMode("append").start()
    try {
      val epochs = rows.grouped(5000).toSeq
      var peakState = 0L
      epochs.foreach { batch =>
        stream.addData(batch: _*)
        q.processAllAvailable()
        peakState = math.max(peakState,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      }
      // each 5 000-event epoch spans ~35 h of event time, so by each
      // epoch's end only users active in the final 30-min gap window
      // (~72 events ≈ 15 users) may hold open sessions: eviction keeps
      // state O(open sessions), NOT O(users) — without it state would
      // climb to all 1 500 users. Bound with slack for batch boundaries.
      assert(peakState > 0, "state metrics must be reported")
      assert(peakState < 300,
        s"peak state $peakState — eviction failed to bound open sessions")
      info(s"peak state rows across replay: $peakState (1500 users, " +
        s"${rows.size} events, 10 epochs)")
      // a sentinel event far past the horizon closes every real session:
      // the streamed result must then equal the BATCH sessionize of the
      // same 50 k rows exactly (trailing sessions included) — scale does
      // not bend the batch==stream contract
      val sentinelTs = new Timestamp(rows.last.ts.getTime + 4 * 3600 * 1000L)
      stream.addData(EventStreams.EventRow(999999L, sentinelTs, 999999L, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessionize_replay")
        .filter(col("user_id") =!= 999999L).as[EventStreams.SessionOut]
      val batch = EventStreams.sessionize(rows.toDS(), gapMs)
      assert(streamed.count() == 10000L, "50k events / 5-event bursts = 10k sessions")
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streamed sessions must equal batch sessionize after full flush")
      val finalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(finalState == 1L, s"only the sentinel session may remain, got $finalState")
    } finally q.stop()
  }

  test("intervalJoin: 50k-event replay — state stays O(watermark horizon), not O(stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // split the replay into two streams: even ids = clicks, odd ids =
    // purchases; a purchase joins clicks of the same user within the
    // preceding 10 minutes. In-burst spacing is 25 s, so every purchase
    // matches the clicks earlier in its own burst — deterministic count.
    val rows = replayRows(50000)
    def lhs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    def rhs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val win = 10 * 60 * 1000L
    val batchExpected = EventStreams.intervalJoin(
      lhs(rows.toDF()), rhs(rows.toDF()),
      Seq("user_id"), "click_ts", "purchase_ts", 0L, win).count()

    val cs = MemoryStream[EventStreams.EventRow]
    val ps = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.intervalJoin(lhs(cs.toDF()), rhs(ps.toDF()),
        Seq("user_id"), "click_ts", "purchase_ts", 0L, win,
        leftWatermark = "0 seconds", rightWatermark = "0 seconds")
      .writeStream.format("memory").queryName("ij_replay")
      .outputMode("append").start()
    try {
      var peakState = 0L
      rows.grouped(5000).foreach { batch =>
        cs.addData(batch: _*)
        ps.addData(batch: _*)
        q.processAllAvailable()
        peakState = math.max(peakState,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      }
      assert(spark.table("ij_replay").count() == batchExpected,
        "stream-stream interval join must equal the batch join on ordered replay")
      // the range condition lets the engine evict: buffered state is the
      // join horizon (~10 min ≈ 24 events/side) per micro-batch tail,
      // not the 50 k-row stream. 5 000-row epochs would buffer whole
      // epochs only if eviction were broken.
      assert(peakState > 0, "state metrics must be reported")
      assert(peakState < 2500,
        s"peak state $peakState rows — join state must stay bounded by the horizon")
      info(s"peak interval-join state rows: $peakState for ${rows.size} events replayed")
    } finally q.stop()
  }

  test("funnelStreaming: hits emit as steps are reached; matches batch funnel in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.funnelStreaming(stream.toDS(),
        Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    def hits() = spark.table("funnel_stream").as[EventStreams.FunnelHit]
      .collect().map(h => (h.user_id, h.step_idx, h.step)).toSet
    try {
      // batch 1: u10 views; u20 clicks BEFORE viewing (click must not hit);
      // u30 does view+click out of order WITHIN the batch (sort repairs it)
      stream.addData(
        EventStreams.EventRow(1, ts(0), 10, "view", 1.0),
        EventStreams.EventRow(2, ts(1), 20, "click", 1.0),
        EventStreams.EventRow(3, ts(2), 20, "view", 1.0),
        EventStreams.EventRow(5, ts(4), 30, "click", 1.0),
        EventStreams.EventRow(4, ts(3), 30, "view", 1.0))
      q.processAllAvailable()
      assert(hits() == Set((10L, 1, "view"), (20L, 1, "view"),
        (30L, 1, "view"), (30L, 2, "click")))
      // batch 2: u10 advances two steps in one batch; u20's second click
      // (after its view) now counts
      stream.addData(
        EventStreams.EventRow(6, ts(5), 10, "click", 1.0),
        EventStreams.EventRow(7, ts(6), 10, "purchase", 1.0),
        EventStreams.EventRow(8, ts(7), 20, "click", 1.0))
      q.processAllAvailable()
      assert(hits() == Set((10L, 1, "view"), (10L, 2, "click"),
        (10L, 3, "purchase"),
        (20L, 1, "view"), (20L, 2, "click"),
        (30L, 1, "view"), (30L, 2, "click")))
      // u10 completed: a second purchase must NOT re-emit (state removed,
      // depth 0 ⇒ the stray event creates no new state or hit for step 1)
      stream.addData(EventStreams.EventRow(9, ts(8), 10, "purchase", 1.0))
      q.processAllAvailable()
      assert(hits().count(_._1 == 10L) == 3)
      // u10 re-entering at step 0 AFTER completing must not re-open the
      // funnel within the horizon — the full-depth state is the tombstone
      // that keeps (user, step) hits at-most-once (r14 review: remove()
      // on completion let this view re-emit step 1)
      stream.addData(EventStreams.EventRow(10, ts(9), 10, "view", 1.0))
      q.processAllAvailable()
      assert(hits().count(_._1 == 10L) == 3,
        "completed user's new view must not restart the funnel")
      // null-ts event is dropped (batch na.drop contract), not an NPE
      stream.addData(EventStreams.EventRow(11, null, 20, "purchase", 1.0))
      q.processAllAvailable()
      assert(hits().count(_._1 == 20L) == 2)
    } finally q.stop()

    // the streamed hit counts equal the batch operator's reach on the
    // same (in-order) event log
    val log = Seq(
      (1L, ts(0), 10L, "view"), (2L, ts(1), 20L, "click"),
      (3L, ts(2), 20L, "view"), (5L, ts(4), 30L, "click"),
      (4L, ts(3), 30L, "view"), (6L, ts(5), 10L, "click"),
      (7L, ts(6), 10L, "purchase"), (8L, ts(7), 20L, "click"),
      (9L, ts(8), 10L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val reach = graft.operators.TimeSeries.funnel(log, "user_id", "ts",
        "event_id", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(reach == Map(1 -> 3L, 2 -> 3L, 3 -> 1L))

    intercept[IllegalArgumentException](
      EventStreams.funnelStreaming(stream.toDS(), Seq()))
    intercept[IllegalArgumentException](
      EventStreams.funnelStreaming(stream.toDS(), Seq("a", "a")))
  }
}
