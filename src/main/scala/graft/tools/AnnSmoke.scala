package graft.tools

import graft.core.DDFManager
import graft.pipeline.{IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN at honest scale: 200 k+ vectors × 64 dims (the sf0.1 embeddings
  * table blown SPARK_GRAFT_ANN_F=100×), measuring what SCALE.md claims —
  * wall time AND recall@10 against the brute-force truth, plus the
  * fraction of the corpus each approximate method actually scored.
  *
  * The blow recipe keeps near-neighbor structure realistic: replica i
  * cyclic-shifts the base vector by i mod 64 (norm-preserving; distinct
  * rotations are ~orthogonal) and adds a deterministic sin-keyed jitter
  * (amplitude 0.05, zero for replica 0) so the 200 k vectors are all
  * distinct, each clustered near its rotation family.
  *
  * Four measured methods:
  *   - brute     : [[Similarity.bruteForceTopK]] — the exact baseline,
  *                 scan fraction 1 by definition;
  *   - lsh       : [[Similarity.lshTopK]] exact-bucket probe;
  *   - ivf-join  : [[IvfIndex]] with nCells > maxInlineCentroids —
  *                 exercises the broadcast-join assignment path at
  *                 realistic cell counts;
  *   - ivf-inline: nCells ≤ maxInlineCentroids — the inlined-literal
  *                 assignment path, same probe fraction.
  *
  * Index builds (k-means, assignment) are timed separately from query
  * wall — builds amortize over every query the index ever serves.
  */
object AnnSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val f = sys.env.getOrElse("SPARK_GRAFT_ANN_F", "100").toInt
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_ANN_QUERIES", "50").toInt
    val k = 10
    val spark = DDFManager.localSession(cpus.toInt)

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    // replica i: rotate by i mod dim, jitter keyed on (replica, id, slot).
    // sin() is deterministic and engine-portable; amplitude 0.05 ≪ unit
    // scale keeps each replica nearest its own rotation family.
    val corpus = (0 until f).map { i =>
      val rot =
        if (i % dim == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${i % dim + 1}, ${dim - i % dim}), " +
          s"slice(embedding, 1, ${i % dim}))")
      val jittered =
        if (i == 0) rot.cast("array<double>")
        else expr(s"transform($rot, (x, j) -> cast(x as double) + " +
          s"sin(cast(vec_id * 131 + $i * 17 + j as double)) * 0.05)")
      base.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        jittered.as("embedding"))
    }.reduce(_ unionAll _).persist()
    val n = corpus.count()
    val queries = corpus.filter(col("vec_id") < nQueries)
      .withColumnRenamed("vec_id", "query_id").persist()
    val nq = queries.count()
    println(s"[ann] corpus=$n vectors x $dim dims, queries=$nq, k=$k")

    def timeMin(runs: Int)(thunk: => Unit): Double =
      (1 to runs).map { _ =>
        val t0 = System.nanoTime(); thunk; (System.nanoTime() - t0) / 1e9
      }.min

    // ---- brute-force truth ----
    var truth: DataFrame = null
    val bruteSec = timeMin(2) {
      if (truth != null) truth.unpersist() // rerun must not leak the prior copy
      truth = Similarity.bruteForceTopK(corpus, queries, "embedding",
        "vec_id", "query_id", k).persist()
      truth.count()
    }
    println(f"[ann] brute      wall=$bruteSec%6.2f s  recall@10=1.000  scan_frac=1.000")

    def report(name: String, buildSec: Double, ann: => DataFrame,
               scored: => Long): Unit = {
      var res: DataFrame = null
      val qSec = timeMin(2) { res = ann; res.count() }
      val recall = IvfIndex.recallAt(res, truth, k)
      val frac = scored.toDouble / (n.toDouble * nq)
      println(f"[ann] $name%-10s wall=$qSec%6.2f s  recall@10=$recall%.3f  " +
        f"scan_frac=$frac%.4f  build=$buildSec%6.2f s")
    }

    // ---- LSH: prebuilt bucket index, exact-bucket and multi-probe ----
    val planes = sys.env.getOrElse("SPARK_GRAFT_ANN_PLANES", "8").toInt
    var lshIdx: Similarity.LshIndex = null
    val buildLsh = timeMin(1) {
      lshIdx = Similarity.buildLshIndex(corpus, "embedding", "vec_id",
        planes = planes)
      lshIdx.corpus.persist().count()
    }
    // scan_frac counts the SAME candidate frame lshTopKIndexed scores —
    // not a replica of the probe selection (round-9 advice)
    def lshScored(mp: Int): Long =
      Similarity.lshCandidates(lshIdx, queries, "embedding", "query_id", mp).count()
    Seq(0, 1, 2).foreach { mp =>
      report(s"lsh-p$planes-mp$mp", buildLsh,
        Similarity.lshTopKIndexed(lshIdx, queries, "embedding", "query_id", k, mp),
        lshScored(mp))
    }

    // ---- IVF, broadcast-join assignment (nCells > maxInlineCentroids) ----
    val cellsBig = sys.env.getOrElse("SPARK_GRAFT_ANN_CELLS", "1024").toInt
    val nprobeBig = sys.env.getOrElse("SPARK_GRAFT_ANN_NPROBE", "32").toInt
    var idxBig: IvfIndex.Index = null
    val buildBig = timeMin(1) {
      idxBig = IvfIndex.build(corpus, "embedding", "vec_id", cellsBig,
        sampleFraction = 0.1)
      idxBig.corpus.persist().count()
    }
    assert(cellsBig > IvfIndex.maxInlineCentroids,
      "ivf-join leg must exercise the broadcast-join assignment path")
    // same deal as lshScored: count the exact candidate frame topK scores
    def ivfScored(idx: IvfIndex.Index, nprobe: Int): Long =
      IvfIndex.candidates(idx, queries, "embedding", "query_id", nprobe).count()
    report(s"ivf-join-c$cellsBig-p$nprobeBig", buildBig,
      IvfIndex.topK(idxBig, queries, "embedding", "query_id", k, nprobeBig),
      ivfScored(idxBig, nprobeBig))

    // ---- IVF, inlined-literal assignment (nCells ≤ maxInlineCentroids) ----
    // same trained centroids truncated to the first 256 — an externally-
    // trained buildFromCentroids index, so the two assignment paths are
    // compared on identical machinery without a second k-means
    val cellsSmall = 256
    val nprobeSmall = math.max(1, nprobeBig * cellsSmall / cellsBig)
    var idxSmall: IvfIndex.Index = null
    val buildSmall = timeMin(1) {
      idxSmall = IvfIndex.buildFromCentroids(corpus, "embedding", "vec_id",
        idxBig.centroids.take(cellsSmall))
      idxSmall.corpus.persist().count()
    }
    report(s"ivf-inl-c$cellsSmall-p$nprobeSmall", buildSmall,
      IvfIndex.topK(idxSmall, queries, "embedding", "query_id", k, nprobeSmall),
      ivfScored(idxSmall, nprobeSmall))

    spark.stop()
  }
}
