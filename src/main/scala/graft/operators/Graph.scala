package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge frames (extension — the reference has no
  * graph surface; its nearest neighbor is this repo's pointer-doubling
  * connected components in `pipeline/Dedup.dupClusters`).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic by design: ranks are
  * integer micro-units, contributions use floor division, so every sum
  * is order-independent and the result is bit-identical on any engine —
  * the same determinism contract the rest of the driver oracles rely on
  * (floating-point PageRank is unverifiable across engines: group-sum
  * order changes the low bits).
  */
object Graph {

  /** `iterations` rounds of damped PageRank over `edges` (src, dst).
    * Ranks start at `scale` (micro-units); each round every node emits
    * `pr div outdeg` along its out-edges and collects
    * `base + damping% · Σ contributions / 100` (integer floor at both
    * divisions). Nodes = src ∪ dst; dangling nodes (no out-edges)
    * contribute nothing (their mass evaporates — the standard simple
    * variant; build symmetric edges for undirected graphs and none are
    * dangling). Duplicate (src, dst) rows count once.
    *
    * Scale shape per round: one join of edges to the O(nodes) rank
    * frame on src (both hash-partitioned on the join key; the rank side
    * is the small one and broadcasts when it fits), one partial-agg
    * groupBy dst — shuffled bytes O(edges) worst case, O(nodes) after
    * map-side combine. `iterations` is the driver-loop budget exactly
    * like `bpeTrain`'s merge count. The result is a checkpoint, already
    * materialized; release it via [[graft.core.Checkpoints.release]].
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85,
               scale: Long = 1000000L): DataFrame =
    // w = 1 makes the weighted kernel's `(pr * w) div Σ w` exactly
    // `pr div outdeg`, so the ranks are bit-identical to the unweighted
    // recurrence
    rank(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .withColumn("w", lit(1L)), iterations, dampingPct, scale)

  /** Weighted [[pageRank]]: each out-edge carries an integer weight and
    * a node's rank splits proportionally — contribution along (s, d, w)
    * is `(pr · w) div Σ_s w` (integer floor, order-independent sums, so
    * the same bit-identical-on-any-engine contract as the unweighted
    * form). Duplicate (src, dst) rows sum their weights;
    * non-positive-weight edges drop. Caller must keep
    * `max(pr) · max(w) < 2^63` — with the default scale (10⁶ micro-units
    * per node) that allows edge weights into the hundreds of millions
    * before any overflow risk. Same per-round shape and result contract
    * as [[pageRank]].
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int,
                       dampingPct: Int = 85, scale: Long = 1000000L): DataFrame =
    rank(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w")),
      iterations, dampingPct, scale)

  /** The PageRank loop over (src, dst, w) edges, one row per (src, dst),
    * w > 0. Each round's ranks are a `localCheckpoint`, so every round
    * plans against the previous round's rows, not its lineage (a
    * persisted round would keep its whole plan, doubling it per round), and
    * the superseded round is freed through
    * [[graft.core.Checkpoints.release]] — the [[hits]] shape.
    */
  private def rank(edges: DataFrame, iterations: Int, dampingPct: Int,
                   scale: Long): DataFrame = {
    require(iterations >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // r17 opt (guide §2.4): persist the edge frame HASH-PARTITIONED on
    // the per-round join key — every iteration's e⋈pr and e⋈deg joins
    // and the deg aggregate then reuse this one exchange, so the O(m)
    // edge frame never reshuffles again; only the O(nodes) rank frame
    // moves per round
    val e = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy("src").agg(sum("w").as("sw"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = (100L - dampingPct) * scale / 100L
    var pr: DataFrame = null
    // a mid-loop failure (lost executor, cancelled job) must not leak the
    // round checkpoint or the caches into the caller's session
    try {
      pr = nodes.withColumn("pr", lit(scale)).localCheckpoint()
      for (_ <- 0 until iterations) {
        val contribs = e
          .join(pr.withColumnRenamed("node", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("node"), expr("(pr * w) div sw").as("c"))
          .groupBy("node").agg(sum("c").as("contrib"))
        val next = nodes
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampingPct * coalesce(contrib, 0L)) div 100"))
              .as("pr"))
          .localCheckpoint()
        Checkpoints.release(pr)
        pr = next
      }
      pr
    } catch {
      case t: Throwable => if (pr != null) Checkpoints.release(pr); throw t
    } finally {
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, public knowledge) over
    * the DIRECTED graph — the link-analysis companion of [[pageRank]]:
    * per iteration, a node's authority is the sum of its in-neighbors'
    * hub scores and its hub score the sum of its out-neighbors'
    * authorities, each vector max-normalized back to `scale`. Same
    * cross-engine-deterministic discipline as the PageRank pair:
    * scores live in integer micro-units, the neighbor sums are exact
    * long aggregates (order-independent), and the max normalization is
    * `floor(raw · scale / max)` computed in DOUBLE with a fixed
    * operand order — identical IEEE ops on any engine, no i64 overflow
    * at any in-degree (exactness caveat: raw sums beyond 2^53 lose low
    * bits, identically on both sides). Nodes outside an iteration's
    * frontier score 0 (a source has authority 0, a sink hub 0).
    * Output: (node, auth, hub) longs; max of each column = `scale`
    * whenever any edge exists.
    *
    * Scale shape: per iteration two edge-keyed join+aggregate rounds
    * plus two SINGLE-ROW max aggregates to the driver (the documented
    * scalar-collect class — 2·iterations rows total, injected back as
    * literals so the plan stays deterministic). Each normalized
    * `auth`/`hub` frame is a `localCheckpoint`, so every round plans
    * against the previous round's rows, not its lineage (a persisted
    * frame keeps its whole plan: at 5 iterations the final plans held
    * 254 broadcast joins), and a superseded round is freed through
    * [[graft.core.Checkpoints.release]]. The result is a checkpoint of
    * its own — already materialized; release it via
    * [[graft.core.Checkpoints.release]] when done.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"hits: iterations must be >= 1, got $iterations")
    require(scale >= 1, s"hits: scale must be >= 1, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def normalized(raw: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val mx = raw.agg(coalesce(max(col(rawCol)), lit(0L))).first().getLong(0)
      val v = if (mx > 0L)
        floor(coalesce(col(rawCol), lit(0L)).cast("double") * scale /
          lit(mx.toDouble)).cast("long")
      else lit(0L)
      nodes.join(raw, Seq("node"), "left").select(col("node"), v.as(outCol))
        .localCheckpoint()
    }
    var hub: DataFrame = null
    var auth: DataFrame = null
    try {
      hub = nodes.withColumn("hub", lit(scale)).localCheckpoint()
      for (_ <- 0 until iterations) {
        val araw = e.join(hub.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("ar"))
        val nextAuth = normalized(araw, "ar", "auth")
        if (auth != null) Checkpoints.release(auth)
        auth = nextAuth
        val hraw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hr"))
        val nextHub = normalized(hraw, "hr", "hub")
        Checkpoints.release(hub)
        hub = nextHub
      }
      nodes.join(auth, Seq("node"), "left")
        .join(hub, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"),
          coalesce(col("hub"), lit(0L)).as("hub"))
        .localCheckpoint()
    } finally {
      if (auth != null) Checkpoints.release(auth)
      if (hub != null) Checkpoints.release(hub)
      e.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** Per-node triangle counts over the undirected graph induced by
    * `edges` (direction and duplicates are erased; self-loops dropped).
    * Output: (node, triangles) for every node in ≥ 1 triangle.
    *
    * The algorithm is the degree-ordered node iterator (Suri &
    * Vassilvitskii, WWW 2011). Each undirected edge is directed from its
    * (degree, id)-smaller endpoint u to the larger v. That caps every
    * node's out-degree at O(√m) on any graph: a node of out-degree d has
    * d neighbours of degree ≥ its own, so d² ≤ 2m. Each out-edge u→v
    * carries out(u) to out(v), and every w in out(u) ∩ out(v) closes the
    * triangle {u, v, w}. A triangle is found exactly once, from the edge
    * between its two lowest-ranked corners, and the out-lists carried
    * total Σ outdeg² ≤ O(m^1.5) ids, where a neighbour join on the
    * undirected graph pays Σ deg² (quadratic on skewed graphs).
    *
    * Both endpoint degrees come from one pass: each edge explodes into
    * its two half-edges, a window counts them per node, and the halves
    * regroup per edge, with no degree aggregate to join back. The window
    * has no map-side combine, so all of a hub's half-edges land in one
    * task; orientation keeps the hub's own out-list short. One SQL
    * execution runs the whole plan, with no cached frame and no join
    * hint, and both sides of the out-list join read the out-list
    * aggregate's one shuffle.
    *
    * The result is orientation-independent (the triangle set is a
    * property of the undirected graph), so oracles may replay the simpler
    * id-ordered a<b<c formulation. It is a checkpoint, already
    * materialized; release it via [[graft.core.Checkpoints.release]].
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val withDeg = canon
      .select(explode(array(col("a"), col("b"))).as("node"), col("a"), col("b"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("node")))
      .groupBy("a", "b")
      .agg(max(when(col("node") === col("a"), col("deg"))).as("da"),
        max(when(col("node") === col("b"), col("deg"))).as("db"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // u is never null (a ≠ b drops nulls). Stating it keeps the join's
    // inferred not-null filter off the out(v) side, so both join sides
    // plan the same subtree and the second one reuses its shuffles.
    val out = withDeg
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
      .filter(col("u").isNotNull)
      .groupBy("u").agg(collect_list("v").as("out"))
    val triangles = out
      .select(col("u"), col("out").as("out_u"), explode(col("out")).as("v"))
      .join(out.select(col("u").as("v"), col("out").as("out_v")), "v")
      .select(col("u"), col("v"), explode(array_intersect(col("out_u"), col("out_v"))).as("w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .localCheckpoint()
  }

  /** k-core of the undirected graph induced by `edges`: the maximal
    * subgraph where every node has degree ≥ k inside the subgraph —
    * the classic peeling filter (web-graph quality/spam cores, social
    * cohesion). Output: (node, core_deg) for every surviving node, with
    * its degree INSIDE the core. Direction, duplicates, and self-loops
    * are erased first.
    *
    * Peeling is the fixpoint of "drop nodes with alive-degree < k" —
    * deterministic regardless of execution order (the k-core is unique;
    * batch peeling reaches it). Each round is one edge-partitioned
    * join of the symmetric edge list against the alive set plus a
    * partial-agg degree count — shuffled bytes O(edges) worst case,
    * shrinking as the graph peels; the alive node set is checkpointed
    * ONCE per round (r11 checkpointed twice) and the superseded round's
    * blocks are released as soon as the next round materializes, so a
    * deep cascade pins exactly one O(alive-nodes) block set at any
    * moment. Rounds needed = the cascade depth, graph-dependent: past
    * `maxIter` rounds it throws rather than returning a silently
    * unfinished core.
    *
    * The result is the final round's degree checkpoint, already
    * materialized; release it via [[graft.core.Checkpoints.release]].
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val sym = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
    // r17 opt (guide §2.4): peel by SHRINKING THE EDGE FRAME instead of
    // re-joining the full edge list against the alive node set. The old
    // shape paid, EVERY round, two joins of the complete O(m) symmetric
    // edge frame (each shuffling it) plus the degree aggregate; this
    // shape pays the degree aggregate over the CURRENT (monotonically
    // shrinking) edge frame — zero-exchange after the first round,
    // because the frame is hash-partitioned by src once and both
    // peel-out anti-joins preserve that partitioning when the dead set
    // broadcasts — plus two anti-joins against the dead FRONTIER (the
    // nodes peeled this round: frontier-sized, broadcast below the
    // row bound; a pathological all-at-once peel falls back to a
    // regular anti-join). Results identical: the frame maintains the
    // both-endpoints-alive invariant, so groupBy(src) IS the in-core
    // degree, and peeling is order-independent (the k-core is unique).
    var alive = sym.repartition(col("src")).localCheckpoint()
    // r18 (ADVICE): the forced-broadcast row bound derives from the
    // session's autoBroadcastJoinThreshold (≈16 B per built hash-relation
    // row, conservative) instead of a fixed 2 M rows — a small
    // deployment's driver is protected by its own configured threshold,
    // and auto-broadcast disabled (≤ 0) disables the forcing too.
    val bcastRows = {
      val thr = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (thr <= 0) 0L else thr / 16L
    }
    // r18 (ADVICE): the current round's degree checkpoint is tracked so
    // the catch can release it — an exception between its checkpoint and
    // its release (dead.count(), the anti-join checkpoint) would leak
    // that round's blocks until GC
    var deg: DataFrame = null
    var nDead = -1L
    var iter = 0
    try {
      while (nDead != 0L) {
        if (iter >= maxIter) throw new IllegalStateException(
          s"kCore: not converged after $maxIter peel rounds; raise maxIter")
        deg = alive.groupBy("src").agg(count(lit(1)).as("core_deg"))
          .localCheckpoint()
        val dead = deg.filter(col("core_deg") < k).select(col("src").as("__dead"))
        nDead = dead.count()
        if (nDead > 0L) {
          // broadcast the frontier when it is clearly broadcast-sized;
          // otherwise let the planner shuffle (only giant peel rounds)
          val d = if (nDead <= bcastRows) broadcast(dead) else dead
          val prev = alive
          alive = prev
            .join(d, col("src") === col("__dead"), "left_anti")
            .join(d, col("dst") === col("__dead"), "left_anti")
            .localCheckpoint()
          Checkpoints.release(prev) // superseded round
          Checkpoints.release(deg)
          deg = null
        }
        iter += 1
      }
      // fixpoint: every remaining endpoint has in-core degree ≥ k — deg
      // (already materialized) IS the answer; the edge frame has no
      // remaining reader
      Checkpoints.release(alive)
      deg.select(col("src").as("node"), col("core_deg"))
    } catch {
      case t: Throwable =>
        Checkpoints.release(alive)
        if (deg != null) Checkpoints.release(deg)
        throw t
    }
  }

  /** Connected components of the undirected graph induced by `edges`:
    * (id, cluster_id) for every node incident to an edge, cluster_id =
    * the component's minimum node id. Delegates to the pointer-doubling
    * min-label core ([[graft.pipeline.Dedup.dupClusters]] — one-hop min
    * propagation + label-of-label per round, O(log diameter) rounds,
    * each round two edge-partitioned shuffles) — the general-graph face
    * of the same operator the dedup pipeline uses for cluster labels,
    * with its result contract: a checkpoint to release via
    * [[graft.core.Checkpoints.release]], and a throw past `maxIter`.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame =
    graft.pipeline.Dedup.dupClusters(
      edges.select(col(srcCol).as("id1"), col(dstCol).as("id2")), maxIter = maxIter)
}
