package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

/** PageRank-style link-graph importance — the graph-centrality stage of
  * a curation pipeline (rank documents/hosts by citation structure, the
  * web-graph quality signal of Page et al. 1999; complements the
  * similarity-graph operators in [[Clustering]]).
  *
  * Deterministic and oracle-checkable across engines, like
  * [[QualityModel]]/[[Pca]]:
  *
  *   - each iteration is ONE join + aggregation pass: edge contribution
  *     r_u/outdeg(u), summed per destination — the per-edge term is
  *     rounded into FIXED POINT (floor(t·2^20 + 0.5) as DECIMAL(38,0)),
  *     so the per-node sum commutes across any partitioning and the
  *     whole trajectory replays bit-for-bit in SQL;
  *   - the update r_v = (1−d)/N + d·(S_v/2^20) states every double op
  *     once, identically on both engines.
  *
  * Simplified treatment of dangling nodes (no out-edges): their mass is
  * not redistributed, the standard "PageRank prime" simplification —
  * callers that need a stochastic matrix should symmetrize or add
  * self-loops before calling (the gate builds a symmetric bipartite
  * graph, which has no dangling nodes).
  *
  * At 100 TB the rank relation is corpus-sized and the per-iteration
  * join shuffles on the edge key — PageRank's inherent cost; AQE handles
  * skewed hubs and picks broadcast when the node relation is small.
  * Iterates feed exactly one consumer each, so the fixed iteration
  * count composes into ONE linear plan with no per-round barrier (the
  * shared edge/node relations are cached; contrast Clustering's
  * multi-consumer rounds, which need a checkpoint). The driver holds
  * only scalars. */
object GraphRank {

  import QualityModel.GradScale

  /** The directed edge list every operator starts from: NULL endpoints
    * dropped, both endpoints cast to string as (td_u, td_v). */
  private def edgeList(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .where(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull)
      .select(F.col(srcCol).cast("string").as("td_u"),
        F.col(dstCol).cast("string").as("td_v"))

  /** The distinct nodes of an edge list: both endpoints, as `node`. */
  private def nodeSet(e: DataFrame): DataFrame =
    e.select(F.col("td_u").as("node"))
      .union(e.select(F.col("td_v").as("node")))
      .distinct()

  /** The persisted edge list and node set an iterative operator reads
    * every round, plus the node count — the set-up's one action. */
  private def persistedGraph(edges: DataFrame): (DataFrame, DataFrame, Long) = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = nodeSet(e).persist(StorageLevel.MEMORY_AND_DISK_SER)
    (e, nodes, nodes.count())
  }

  /** Persist and load `derived`, then release the edge cache `e` it was
    * built from: the per-round work reads only `derived`. */
  private def replacing(e: DataFrame, derived: DataFrame): DataFrame = {
    val d = derived.persist(StorageLevel.MEMORY_AND_DISK_SER)
    d.count()
    e.unpersist(blocking = false)
    d
  }

  /** The edge list with each source's out-degree (td_deg) joined on once,
    * up front: the per-round work is then rank-join + fixed-point agg
    * only. */
  private def withOutDegree(e: DataFrame): DataFrame =
    replacing(e, e.join(e.groupBy(F.col("td_u"))
      .agg(F.count(F.lit(1)).cast("double").as("td_deg")), "td_u"))

  /** The 2^20 fixed-point image of a double, as an exact long. */
  private def fixedPoint(c: Column): Column =
    F.floor(c * F.lit(GradScale) + F.lit(0.5d)).cast("long")

  /** One PageRank round. Each edge contributes `term` (its share of the
    * source's rank, read off the edge columns and `rank`) rounded into
    * fixed point and summed per destination as DECIMAL(38,0), so the sum
    * commutes across any partitioning; every node (missing sums at 0)
    * then updates to r_v = base + d·(S_v/2^20). The columns of `nodes`
    * ride through ahead of `rank`. */
  private def pagerankStep(edges: DataFrame, term: Column, nodes: DataFrame,
      ranks: DataFrame, base: Column, damping: Double): DataFrame = {
    val contrib = edges
      .join(ranks.select(F.col("node").as("td_u"), F.col("rank")), "td_u")
      .groupBy(F.col("td_v"))
      .agg(F.sum(F.floor(term * F.lit(GradScale) + F.lit(0.5d))
        .cast("decimal(38,0)")).as("td_s"))
    nodes
      .join(contrib.withColumnRenamed("td_v", "node"), Seq("node"), "left")
      .select(nodes.columns.toSeq.map(F.col) :+ (base + F.lit(damping) *
        (F.coalesce(F.col("td_s"), F.lit(0L)).cast("decimal(38,0)")
          .cast("double") / F.lit(GradScale))).as("rank"): _*)
  }

  /** The convergence loop of the `…Converged` operators: runs `round`
    * (the next state and its exact integer delta) until `maxIters`
    * rounds have run or, with `earlyStop`, a round's delta is 0 — the
    * fixed-point image is stationary, so further rounds cannot change
    * any oracle-visible digit. Returns the last state and one delta per
    * round run.
    *
    * DELIBERATELY no release-behind of superseded iterates: measured r16
    * (PERF.md) — unpersisting iterate k−1 after round k's action
    * re-registers round k's cached entry (its plan CONTAINS k−1), and
    * round k+1 then re-executes the whole prefix chain instead of reading
    * the cache: 3.553 → 10.068 s min for PageRank (2.8×), 1.078 → 9.318 s
    * for label propagation (8.6×) in the BENCH_ONLY shape. Materialization
    * does NOT immunize dependents — the arm-B hazard (r14) applies to
    * loaded buffers too on this engine. Iterate caches are node-sized,
    * bounded by maxIters, and reclaimed by the ContextCleaner. */
  private def converge[S](init: S, maxIters: Int, earlyStop: Boolean)(
      round: S => (S, Long)): (S, Seq[Long]) = {
    var state = init
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (deltas.size < maxIters &&
        !(earlyStop && deltas.lastOption.contains(0L))) {
      val (next, delta) = round(state)
      state = next
      deltas += delta
    }
    (state, deltas.toSeq)
  }

  /** PageRank's set-up: the persisted node set, its size and the
    * degree-joined edge list. */
  private def pagerankGraph(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, Double, DataFrame) = {
    val (e, nodes, n) = persistedGraph(edgeList(edges, srcCol, dstCol))
    require(n > 0, "pagerank over an empty edge list")
    (nodes, n.toDouble, withOutDegree(e))
  }

  /** Run `iters` PageRank passes over a directed edge list. Returns
    * (node, rank) ascending by node. Self-loops and duplicate edges are
    * used as given (dedupe upstream if unwanted); NULL endpoints are
    * dropped. */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (nodes, n, eDeg) = pagerankGraph(edges, srcCol, dstCol)
    // NO per-iteration materialization: unlike the connected-components
    // contraction (whose rounds feed SEVERAL consumers and need a
    // checkpoint barrier — Clustering.scala), each PageRank iterate
    // feeds exactly ONE consumer (the next iteration's contribution
    // join), so the composed plan grows LINEARLY in the fixed iteration
    // count and one action at the end executes the whole chain —
    // removing 2·iters jobs of barrier fixed cost. The shared edge and
    // node relations ARE cached (read every iteration).
    var ranks = nodes.select(F.col("node"),
      (F.lit(1.0d) / F.lit(n)).as("rank"))
    for (_ <- 0 until iters)
      ranks = pagerankStep(eDeg, F.col("rank") / F.col("td_deg"), nodes,
        ranks, F.lit((1.0d - damping) / n), damping)
    ranks.orderBy(F.col("node").asc)
  }

  /** [[pagerank]] with a CONVERGENCE SIGNAL — the PageRank analog of
    * [[labelPropagationConverged]]: the same fixed-point rounds, each
    * iterate persisted, and the per-round L1 movement read as EXACT
    * integers: delta_k = Σ_v |fp(r_k) − fp(r_{k−1})| with fp the
    * trajectory's own 2^20 fixed-point image — so the signal replays
    * on any engine and `earlyStop` halts at the first round whose
    * fixed-point image is STATIONARY (delta 0: iterating further
    * cannot change any oracle-visible digit). `maxIters` caps the
    * loop. One join+agg action per round (the same join the next round
    * would do anyway reads the cache). Returns (ranks ascending,
    * per-round deltas — one entry per round run); earlyStop=false with
    * maxIters=k is BIT-IDENTICAL to `pagerank(iters = k)`. */
  def pagerankConverged(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20, damping: Double = 0.85,
      earlyStop: Boolean = true): (DataFrame, Seq[Long]) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (nodes, n, eDeg) = pagerankGraph(edges, srcCol, dstCol)
    val init = nodes.select(F.col("node"),
      (F.lit(1.0d) / F.lit(n)).as("rank"))
    val (ranks, deltas) = converge(init, maxIters, earlyStop) { ranks =>
      val next = pagerankStep(eDeg, F.col("rank") / F.col("td_deg"), nodes,
        ranks, F.lit((1.0d - damping) / n), damping)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      // ONE action per round: materializes the iterate AND reads the
      // exact L1 movement (sum of |fp deltas| — longs to ~2^43 nodes)
      val delta = next.select(F.col("node"), F.col("rank").as("td_new"))
        .join(ranks.select(F.col("node"), F.col("rank").as("td_old")),
          "node")
        .agg(F.sum(F.abs(fixedPoint(F.col("td_new")) -
          fixedPoint(F.col("td_old")))).cast("long"))
        .head().getLong(0)
      (next, delta)
    }
    (ranks.orderBy(F.col("node").asc), deltas)
  }

  /** Materialize the final node-sized rank relation (one count action —
    * the same single execution the caller's action would have run), then
    * release the corpus-sized edge/node caches explicitly instead of
    * waiting on the ContextCleaner — on a shared cluster the storage
    * footprint drops to ONE node-sized relation the moment the chain has
    * run. The returned frame reads from its own cache. */
  private def finishRanks(ranks: DataFrame,
      release: Seq[DataFrame]): DataFrame = {
    val res = ranks.persist(StorageLevel.MEMORY_AND_DISK_SER)
    res.count()
    release.foreach(_.unpersist(blocking = false))
    res.orderBy(F.col("node").asc)
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6's non-uniform E vector;
    * the seed-restart quality-propagation read web-corpus curation runs
    * from a curated seed set): the teleport mass lands ONLY on the seed
    * nodes — r_v = (1−d)·s_v + d·Σ contributions with s_v = 1/K over
    * the K seeds present in the graph and 0 elsewhere, r0 = s. Seeds
    * not in the edge list are ignored (they have no edges to rank
    * over); K counts the intersection, so the teleport vector still
    * sums to 1. The per-seed base (1−d)·(1/K) is ONE driver-stated
    * double product, and iterations keep [[pagerank]]'s fixed-point
    * contribution sums — the whole trajectory replays in SQL.
    *
    * Same scale shape as [[pagerank]]: the seed flag rides the cached
    * node relation (one broadcast semi-join at build), iterates are
    * single-consumer so the fixed iteration count composes into one
    * linear barrier-free plan. Unlike uniform PageRank the rank mass
    * CONCENTRATES near the seeds — dangling-free graphs conserve mass
    * exactly as in [[pagerank]]. Output: (node, rank) ascending. */
  def pagerankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edgeList(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val seedSet = seeds
      .where(F.col(seedCol).isNotNull)
      .select(F.col(seedCol).cast("string").as("node"))
      .distinct()
    // nodes carry the seed flag: one broadcast-able semi-join at build,
    // then every iteration reads the flag from cache
    val nodes = nodeSet(e)
      .join(seedSet.withColumn("td_seed", F.lit(true)), Seq("node"), "left")
      .select(F.col("node"),
        F.coalesce(F.col("td_seed"), F.lit(false)).as("td_seed"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val k = nodes.where(F.col("td_seed")).count()
    require(k > 0, "pagerankPersonalized: no seed appears in the graph")
    val eDeg = withOutDegree(e)

    // the two driver-stated doubles of the trajectory: s = 1/K and the
    // per-seed base (1−d)·s — each op once, restated in the oracle
    val sv = 1.0d / k.toDouble
    val base = F.when(F.col("td_seed"), F.lit((1.0d - damping) * sv))
      .otherwise(F.lit(0.0d))
    var ranks = nodes.select(F.col("node"), F.col("td_seed"),
      F.when(F.col("td_seed"), F.lit(sv)).otherwise(F.lit(0.0d)).as("rank"))
    for (_ <- 0 until iters)
      ranks = pagerankStep(eDeg, F.col("rank") / F.col("td_deg"), nodes,
        ranks, base, damping)
    ranks.select(F.col("node"), F.col("rank")).orderBy(F.col("node").asc)
  }

  /** Weighted PageRank: contributions proportional to edge weight —
    * r_u · (w_uv / W_u), with the per-edge SHARE w/W computed once at
    * build (one stated double division) and the per-iteration term in
    * fixed point like [[pagerank]]. Non-positive/NULL weights drop the
    * edge. */
  def pagerankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val weighted = edges
      .where(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull &&
        F.col(weightCol).isNotNull && F.col(weightCol).cast("double") > 0.0d)
      .select(F.col(srcCol).cast("string").as("td_u"),
        F.col(dstCol).cast("string").as("td_v"),
        F.col(weightCol).cast("double").as("td_w"))
    val (e, nodes, n) = persistedGraph(weighted)
    require(n > 0, "pagerankWeighted over an empty edge list")
    // total outgoing weight per source in exact DECIMAL(28,4) (the
    // profile-sum convention), then ONE stated share division per edge
    val wsum = e.groupBy(F.col("td_u"))
      .agg(F.sum(F.col("td_w").cast("decimal(28,4)")).cast("decimal(38,4)")
        .as("td_wsum"))
    val eShare = replacing(e, e.join(wsum, "td_u")
      .select(F.col("td_u"), F.col("td_v"),
        (F.col("td_w") / F.col("td_wsum").cast("double")).as("td_share")))

    // single-consumer iterates: composed plan, no per-iteration barrier
    // (see pagerank)
    var ranks = nodes.select(F.col("node"),
      (F.lit(1.0d) / F.lit(n.toDouble)).as("rank"))
    for (_ <- 0 until iters)
      ranks = pagerankStep(eShare, F.col("rank") * F.col("td_share"), nodes,
        ranks, F.lit((1.0d - damping) / n.toDouble), damping)
    ranks.orderBy(F.col("node").asc)
  }

  /** HITS hubs & authorities (Kleinberg 1999): per iteration the
    * authority pass a_v = Σ_{u→v} h_u and the hub pass h_u = Σ_{u→v} a_v,
    * each ONE join + fixed-point aggregation, each followed by an
    * L2 normalization whose squared norm is ITSELF a fixed-point
    * corpus sum (so the whole trajectory replays in SQL — the same
    * determinism contract as [[pagerank]]/[[Pca]]). Scores start at
    * 1.0 per node (the classic init); the first normalization makes
    * the scale canonical. Output: (node, hub, authority) ascending by
    * node. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (e, nodes, _) = persistedGraph(edgeList(edges, srcCol, dstCol))
    var hubs = nodes.select(F.col("node"), F.lit(1.0d).as("score"))
    var auth = hubs
    for (_ <- 0 until iters) {
      auth = hitsPass(e, nodes, hubs, "td_u", "td_v")
      hubs = hitsPass(e, nodes, auth, "td_v", "td_u")
    }
    hubsAndAuthorities(hubs, auth)
  }

  /** One HITS pass: per-node sums of the other score over edges, missing
    * nodes at 0, then L2-normalize via a fixed-point Σx². The norm is a
    * driver scalar per pass — an unavoidable action (an in-plan
    * broadcast-norm variant was measured 14× SLOWER at sf0.1: each
    * pass's broadcast subtree nests every earlier pass's, and the racing
    * broadcast threads re-execute the chain instead of sharing the
    * caches). The unnormalized iterate is CACHED before the norm action
    * reads it, so the final output reuses every pass instead of
    * re-executing it. Iterate caches are node-sized and bounded by the
    * iteration count; the context cleaner reclaims them. DELIBERATELY no
    * explicit unpersist of superseded iterates: it was measured at
    * 1.5-1.8× SLOWER (r14, PERF.md, re-confirmed r16) — every later
    * iterate's cached plan CONTAINS the unpersisted one as a subplan, and
    * the cache manager re-registers those dependent entries, whose next
    * access then re-executes the chain instead of reading its cache. */
  private def hitsPass(e: DataFrame, nodes: DataFrame, scores: DataFrame,
      joinKey: String, outKey: String): DataFrame = {
    val raw = e
      .join(scores.withColumnRenamed("node", joinKey), joinKey)
      .groupBy(F.col(outKey).as("node"))
      .agg(F.sum(F.floor(F.col("score") * F.lit(GradScale) + F.lit(0.5d))
        .cast("decimal(38,0)")).as("td_s"))
    val unnorm = nodes.join(raw, Seq("node"), "left")
      .select(F.col("node"),
        (F.coalesce(F.col("td_s"), F.lit(0L)).cast("decimal(38,0)")
          .cast("double") / F.lit(GradScale)).as("td_x"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nrm = math.sqrt(unnorm.agg(
      F.sum(F.floor((F.col("td_x") * F.col("td_x")) * F.lit(GradScale) +
          F.lit(0.5d)).cast("decimal(38,0)")).as("q"))
      .head().getDecimal(0).doubleValue() / GradScale)
    require(nrm > 0.0d, "HITS collapsed to the zero vector")
    unnorm.select(F.col("node"), (F.col("td_x") / F.lit(nrm)).as("score"))
  }

  /** (node, hub, authority) ascending by node. */
  private def hubsAndAuthorities(hubs: DataFrame, auth: DataFrame): DataFrame =
    hubs.withColumnRenamed("score", "hub")
      .join(auth.withColumnRenamed("score", "authority"), Seq("node"))
      .select(F.col("node"), F.col("hub"), F.col("authority"))
      .orderBy(F.col("node").asc)

  /** [[hits]] with a CONVERGENCE SIGNAL — completes the fixed-point
    * family next to [[pagerankConverged]]/[[labelPropagationConverged]]:
    * identical pass/normalization arithmetic (with earlyStop=false and
    * maxIters=k the scores are BIT-IDENTICAL to `hits(iters = k)`), plus
    * one joint L1 read per round over BOTH vectors' 2^20 fixed-point
    * images, delta_k = Σ_v |fp(h_k)−fp(h_{k−1})| + Σ_v |fp(a_k)−fp(a_{k−1})|
    * (a_0 = h_0 = the all-ones init), so the trajectory replays in SQL
    * and `earlyStop` halts at the first round whose images are BOTH
    * stationary. The per-pass norm action already materializes each
    * iterate, so the delta is one extra node-sized 3-join aggregate per
    * round; superseded iterates stay with the ContextCleaner (the
    * reason is at `converge`). Returns ((node, hub, authority)
    * ascending, per-round deltas). */
  def hitsConverged(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20, earlyStop: Boolean = true)
      : (DataFrame, Seq[Long]) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (e, nodes, _) = persistedGraph(edgeList(edges, srcCol, dstCol))
    val init = nodes.select(F.col("node"), F.lit(1.0d).as("score"))
    val ((hubs, auth), deltas) = converge((init, init), maxIters, earlyStop) {
      case (hubs, auth) =>
        val nextAuth = hitsPass(e, nodes, hubs, "td_u", "td_v")
        val nextHub = hitsPass(e, nodes, nextAuth, "td_v", "td_u")
        // one node-sized aggregate reading both vectors' L1 movement off
        // the cached iterates (exact longs; the returned scores are
        // projections over the loaded unnorm caches)
        val delta = nextHub.select(F.col("node"), F.col("score").as("td_hn"))
          .join(hubs.select(F.col("node"), F.col("score").as("td_ho")), "node")
          .join(nextAuth.select(F.col("node"), F.col("score").as("td_an")),
            "node")
          .join(auth.select(F.col("node"), F.col("score").as("td_ao")), "node")
          .agg(F.sum(F.abs(fixedPoint(F.col("td_hn")) -
            fixedPoint(F.col("td_ho"))) + F.abs(fixedPoint(F.col("td_an")) -
            fixedPoint(F.col("td_ao")))).cast("long"))
          .head().getLong(0)
        ((nextHub, nextAuth), delta)
    }
    (hubsAndAuthorities(hubs, auth), deltas)
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * made DETERMINISTIC): every node starts as its own label; each
    * round every node adopts the label most frequent among its
    * in-neighbors, ties broken by the LEXICOGRAPHICALLY SMALLEST label
    * (the argmax is `min(struct(-count, label))`, so the pick is
    * engine-portable EXACT integer/string arithmetic — no doubles
    * anywhere); nodes with no in-edges keep their previous label.
    * Symmetrize the edge list upstream for the usual undirected
    * semantics (the trade-graph gate does).
    *
    * Fixed `iters` rounds, two keyed aggregations per round
    * ((node,label) counts, then the per-node argmax); iterates feed
    * exactly ONE consumer each, so the rounds compose into one linear
    * barrier-free plan like [[pagerank]] (contrast the multi-consumer
    * contraction in Clustering). Output: (node, community) ascending —
    * community ids are surviving node ids. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (e, nodes, _) = persistedGraph(edgeList(edges, srcCol, dstCol))
    var labels = nodes.select(F.col("node"), F.col("node").as("label"))
    for (_ <- 0 until iters)
      labels = lpaRound(e, labels)
        .select(F.col("node"), F.coalesce(F.col("td_new"), F.col("label"))
          .as("label"))
    labels.select(F.col("node"), F.col("label").as("community"))
      .orderBy(F.col("node").asc)
  }

  /** One label-propagation round: `labels` with each node's most frequent
    * in-neighbor label joined on as `td_new` (NULL for nodes without
    * in-edges), ties to the smallest label. */
  private def lpaRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val counts = e
      .join(labels.withColumnRenamed("node", "td_u"), "td_u")
      .groupBy(F.col("td_v"), F.col("label"))
      .agg(F.count(F.lit(1)).as("td_c"))
    val best = counts
      .groupBy(F.col("td_v").as("node"))
      .agg(F.min(F.struct((-F.col("td_c")).as("nc"),
        F.col("label").as("l"))).as("td_b"))
      .select(F.col("node"), F.col("td_b.l").as("td_new"))
    labels.join(best, Seq("node"), "left")
  }

  /** [[labelPropagation]] with a CONVERGENCE SIGNAL: the same
    * deterministic synchronous rounds, but each iterate materializes
    * (persist+count — the bounded-multi-consumer barrier taxonomy of
    * [[communityConductance]]) so the per-round changed-label count is
    * one cheap agg on the cached relation; with `earlyStop` the loop
    * ends at the first round that changes nothing (the labels are then
    * a fixed point — running further rounds is a no-op, which is what
    * the spec proves). `maxIters` stays the cap so a non-converging
    * oscillation (possible under synchronous LPA) still terminates.
    * Returns (final labels ascending, per-round changed counts — one
    * entry per round actually run). With earlyStop=false and
    * maxIters=k the labels are BIT-IDENTICAL to
    * `labelPropagation(iters = k)` (same plan per round, just
    * materialized). */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
      dstCol: String, maxIters: Int = 20, earlyStop: Boolean = true)
      : (DataFrame, Seq[Long]) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (e, nodes, _) = persistedGraph(edgeList(edges, srcCol, dstCol))
    val init = nodes.select(F.col("node"), F.col("node").as("label"))
    val (labels, changes) = converge(init, maxIters, earlyStop) { labels =>
      val next = lpaRound(e, labels)
        .select(F.col("node"), F.col("label").as("td_prev"),
          F.coalesce(F.col("td_new"), F.col("label")).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      // ONE action per round: materializes the iterate AND reads the
      // convergence signal off the cached rows
      val changed = next.where(F.col("td_prev") =!= F.col("label")).count()
      (next.select(F.col("node"), F.col("label")), changed)
    }
    (labels.select(F.col("node"), F.col("label").as("community"))
      .orderBy(F.col("node").asc), changes)
  }

  /** Newman MODULARITY of a partition (Newman 2004): the standard
    * community-quality score next to [[communityConductance]] — how
    * much denser inside communities the edges fall than a degree-
    * preserving random rewiring would put them. On the symmetrized
    * edge list (E = total directed edges, vol_c = edges leaving nodes
    * of c, intra_c = vol_c − cut_c the directed intra-community count):
    * Q = Σ_c (intra_c/E − (vol_c/E)²) — the directed-count form of
    * Q = Σ_c (L_c/m − (d_c/2m)²), exact integers until the stated
    * divisions. Q near 0 = no better than random; dense real
    * communities push toward 1 − 1/k.
    *
    * Shape: identical to conductance (two label joins + one keyed
    * aggregation; the label relation persists once for its three
    * consumers); E and the Q fold ride the bounded per-community rows
    * (unpartitioned window + the sort_array-pinned ascending fold — the
    * chi² finishing convention, so the double sum replays on any
    * engine). Communities with no outgoing edges contribute dq = 0.
    * Output: (community, n_nodes, vol, cut, intra, dq, q) ascending —
    * dq the community's stated contribution, q the total on every
    * row. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node",
      commCol: String = "community"): DataFrame = {
    val (el, nNodes) = communityEdges(edgeList(edges, srcCol, dstCol), labels,
      nodeCol, commCol)
    withModularity(nNodes, volCut(el), F.lit(0L), identity)
      .select(F.col("community"), F.col("n_nodes"), F.col("vol"),
        F.col("cut"), F.col("intra"), F.col("dq"), F.col("q"))
      .orderBy(F.col("community").asc)
  }

  /** The label side of the community operators: every edge with both
    * endpoints' communities attached (td_cu, td_cv), and the node count
    * per community (n_nodes). The label relation feeds THREE consumers
    * (both endpoint joins + the size count) — a lazy iterative producer
    * (labelPropagation's composed plan) would re-execute per consumer,
    * so the node-sized partition is materialized ONCE. persist+count,
    * NOT localCheckpoint: checkpointing runs the subplan WITHOUT AQE (no
    * broadcast conversions — measured +6s on the 16k-node trade graph),
    * while the cache materializes under the normal adaptive plan and the
    * downstream joins see a broadcast-sized relation. */
  private def communityEdges(e: DataFrame, labels: DataFrame, nodeCol: String,
      commCol: String): (DataFrame, DataFrame) = {
    val lab = labels
      .select(F.col(nodeCol).cast("string").as("td_n"),
        F.col(commCol).as("td_c"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    lab.count()
    val lu = lab.select(F.col("td_n").as("td_u"), F.col("td_c").as("td_cu"))
    val lv = lab.select(F.col("td_n").as("td_v"), F.col("td_c").as("td_cv"))
    (e.join(lu, "td_u").join(lv, "td_v"),
      lab.groupBy(F.col("td_c").as("community"))
        .agg(F.count(F.lit(1)).as("n_nodes")))
  }

  /** Per source community: vol = edges leaving it, cut = those crossing
    * to another community (exact counts). */
  private def volCut(el: DataFrame): DataFrame =
    el.groupBy(F.col("td_cu").as("community"))
      .agg(F.count(F.lit(1)).as("vol"),
        F.sum(F.when(F.col("td_cu") =!= F.col("td_cv"), 1L).otherwise(0L))
          .as("cut"))

  /** One frame over every community row, in community order: the bounded
    * per-community totals (E, the Q fold) ride it instead of a second
    * pass over the edges. */
  private def allCommunities =
    org.apache.spark.sql.expressions.Window
      .orderBy(F.col("community").asc)
      .rowsBetween(Long.MinValue, Long.MaxValue)

  /** Newman's Q over per-community (vol, cut) sums, shared by the count
    * and weighted modularities: intra = vol − cut, E = Σ vol, the
    * community's dq = intra/E − (vol/E)² and q = Σ dq on every row.
    * Left-joined from the label-derived community list so an all-sink
    * community (possible on a non-symmetrized input) still answers a
    * row, with vol/cut at `zero`. `exact` restates the sums' exact type
    * on intra and E. */
  private def withModularity(nNodes: DataFrame, per: DataFrame, zero: Column,
      exact: Column => Column): DataFrame = {
    val eD = F.col("td_e").cast("double")
    nNodes.join(per, Seq("community"), "left")
      .select(F.col("community"), F.col("n_nodes"),
        F.coalesce(F.col("vol"), zero).as("vol"),
        F.coalesce(F.col("cut"), zero).as("cut"))
      .withColumn("intra", exact(F.col("vol") - F.col("cut")))
      .withColumn("td_e", exact(F.sum(F.col("vol")).over(allCommunities)))
      .withColumn("dq", F.when(F.col("td_e") > zero,
        (F.col("intra").cast("double") / eD) -
          (F.col("vol").cast("double") / eD) *
          (F.col("vol").cast("double") / eD)).otherwise(F.lit(0.0d)))
      .withColumn("q", F.aggregate(
        F.sort_array(F.collect_list(
          F.struct(F.col("community").as("c"), F.col("dq").as("d")))
          .over(allCommunities)),
        F.lit(0.0d), (acc, s) => acc + s.getField("d")))
  }

  /** Per-community CONDUCTANCE — how well a partition (e.g.
    * [[labelPropagation]]'s output) actually separates the graph:
    * φ(C) = cut(C) / min(vol(C), E − vol(C)) with vol the number of
    * edges leaving nodes of C, cut the number crossing to another
    * community, and E the total (directed) edge count — on a
    * symmetrized edge list this is the standard undirected conductance.
    * Low φ = a real community; φ near 1 = an arbitrary slice. Exact
    * integer counts with ONE stated division per community (no doubles
    * until the final ratio); communities whose min side is 0 answer
    * NULL. Shape: two label joins onto the edge list + one keyed
    * aggregation; E rides as a broadcast 1-row relation. Output:
    * (community, n_nodes, vol, cut, conductance) ascending. */
  def communityConductance(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node",
      commCol: String = "community"): DataFrame = {
    val (el, nNodes) = communityEdges(edgeList(edges, srcCol, dstCol), labels,
      nodeCol, commCol)
    // E = Σ_c vol(c): derived from the BOUNDED per-community rows via an
    // unpartitioned window (≤ #communities rows, the Lorenz convention)
    // instead of a second count over the edge-sized el — a broadcast
    // 1-row total would re-execute the whole edge pipeline on its own
    // thread (measured: the gate read 11.7s that way, ~2s this way)
    val withE = volCut(el)
      .withColumn("td_e", F.sum(F.col("vol")).over(allCommunities))
    val den = F.least(F.col("vol"), F.col("td_e") - F.col("vol"))
    withE.join(nNodes, Seq("community"))
      .select(F.col("community"), F.col("n_nodes"), F.col("vol"),
        F.col("cut"),
        F.when(den > 0L,
          F.col("cut").cast("double") / den.cast("double"))
          .as("conductance"))
      .orderBy(F.col("community").asc)
  }

  /** CATEGORICAL (attribute) assortativity (Newman 2003, eq. 2): do
    * edges stay within an attribute class — the echo-chamber/mixing
    * read (do same-nation entities trade with each other; do
    * same-language docs link each other). Over the bounded class
    * mixing matrix e_ij (fraction of directed edges from class i to
    * class j): r = (Σ_i e_ii − Σ_i a_i·b_i) / (1 − Σ_i a_i·b_i) with
    * a_i/b_i the marginals; r = 1 fully assortative, 0 random, < 0
    * disassortative (NULL when the denominator is 0 — a single class).
    * Exact integer edge counts build the k² cell relation (the
    * categorical contract of chiSquared); the traces and marginal
    * products are sort_array-pinned ascending folds over the bounded
    * cells, each division stated once. Edges whose endpoints lack an
    * attribute are EXCLUDED (inner joins — the NULL rule). Output one
    * row: (n_edges, n_classes, trace, agreement, r) where trace = Σe_ii
    * and agreement = Σa_i·b_i. */
  def attributeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String, labels: DataFrame, nodeCol: String = "node",
      attrCol: String = "attr"): DataFrame = {
    val e = edgeList(edges, srcCol, dstCol)
    val lab = labels
      .where(F.col(nodeCol).isNotNull && F.col(attrCol).isNotNull)
      .select(F.col(nodeCol).cast("string").as("td_n"),
        F.col(attrCol).cast("string").as("td_a"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    lab.count()
    val lu = lab.select(F.col("td_n").as("td_u"), F.col("td_a").as("td_ai"))
    val lv = lab.select(F.col("td_n").as("td_v"), F.col("td_a").as("td_aj"))
    // the k² cell relation is BOUNDED but its lineage is the edge join:
    // persist+count before its three consumers (trace + both marginals)
    // — the conductance barrier, never a re-executed corpus scan
    val cells = e.join(lu, "td_u").join(lv, "td_v")
      .groupBy(F.col("td_ai"), F.col("td_aj"))
      .agg(F.count(F.lit(1)).as("td_c"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    cells.count()
    val out = cells.groupBy(F.col("td_ai").as("td_cls"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_o"))
    val in = cells.groupBy(F.col("td_aj").as("td_cls"))
      .agg(F.sum(F.col("td_c")).cast("long").as("td_i"))
    val cls = out.join(in, Seq("td_cls"), "full_outer")
      .select(F.col("td_cls"),
        F.coalesce(F.col("td_o"), F.lit(0L)).as("td_o"),
        F.coalesce(F.col("td_i"), F.lit(0L)).as("td_i"))
    // ONE bounded packed row: total + diagonal exact integers, plus the
    // sorted per-class marginal list for the pinned agreement fold
    val packed = cells
      .agg(F.sum(F.col("td_c")).cast("long").as("td_m"),
        F.sum(F.when(F.col("td_ai") === F.col("td_aj"), F.col("td_c"))
          .otherwise(F.lit(0L))).cast("long").as("td_diag"))
      .crossJoin(F.broadcast(cls.agg(F.sort_array(F.collect_list(
        F.struct(F.col("td_cls"), F.col("td_o"), F.col("td_i"))))
        .as("td_l"))))
    val mD = F.col("td_m").cast("double")
    val trace = F.col("td_diag").cast("double") / mD
    val agree = F.aggregate(F.col("td_l"), F.lit(0.0d), (acc, s) =>
      acc + (s.getField("td_o").cast("double") / mD) *
        (s.getField("td_i").cast("double") / mD))
    packed.select(
      F.col("td_m").as("n_edges"),
      F.size(F.col("td_l")).cast("long").as("n_classes"),
      trace.as("trace"),
      agree.as("agreement"),
      // eps-guarded denominator (stated eps 1e-12, restated in the
      // oracle): a near-single-class graph can land Σa·b within 1 ulp
      // of 1 without hitting it — exact-equality would answer r ≈ ±huge
      // where the honest answer is NULL (r is meaningless without ≥2
      // materially-mixed classes)
      F.when(F.abs(F.lit(1.0d) - agree) > F.lit(1e-12d),
        (trace - agree) / (F.lit(1.0d) - agree)).as("r"))
  }

  /** WEIGHTED [[modularity]] (Newman 2004 §V): the same decomposition
    * with every count replaced by the edge-weight sum — w_intra/W −
    * (w_vol/W)², the form that scores a partition of a weighted
    * interaction graph (trade volume, co-occurrence counts) instead of
    * its 0/1 skeleton. Weights accumulate as DECIMAL(38,6) (exact for
    * any weight with ≤6 decimal places — the weighted-PageRank share
    * convention), so vol/cut/intra are engine-exact until the stated
    * divisions; the Q fold rides the same bounded pinned ascending
    * fold. Output: (community, n_nodes, vol, cut, intra, dq, q)
    * ascending with vol/cut/intra as DOUBLE readings of the exact
    * decimals. */
  def modularityWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, labels: DataFrame, nodeCol: String = "node",
      commCol: String = "community"): DataFrame = {
    val e = edges
      .where(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull &&
        F.col(weightCol).isNotNull)
      .select(F.col(srcCol).cast("string").as("td_u"),
        F.col(dstCol).cast("string").as("td_v"),
        F.col(weightCol).cast("decimal(20,6)").as("td_w"))
    val (el, nNodes) = communityEdges(e, labels, nodeCol, commCol)
    val zero = F.lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)")
    val per = el.groupBy(F.col("td_cu").as("community"))
      .agg(F.sum(F.col("td_w")).cast("decimal(38,6)").as("vol"),
        F.sum(F.when(F.col("td_cu") =!= F.col("td_cv"), F.col("td_w"))
          .otherwise(F.lit(java.math.BigDecimal.ZERO).cast("decimal(20,6)")))
          .cast("decimal(38,6)").as("cut"))
    withModularity(nNodes, per, zero, _.cast("decimal(38,6)"))
      .select(F.col("community"), F.col("n_nodes"),
        F.col("vol").cast("double").as("vol"),
        F.col("cut").cast("double").as("cut"),
        F.col("intra").cast("double").as("intra"),
        F.col("dq"), F.col("q"))
      .orderBy(F.col("community").asc)
  }

  /** k-core decomposition by iterative peeling (Seidman 1983): each
    * round drops every node whose (out-)degree is below k, then the
    * edges touching it; the fixed point is the maximal subgraph where
    * every node keeps ≥ k neighbors — the standard dense-core read next
    * to [[communityConductance]] (a spam/bot farm survives a high k; a
    * star's leaves die in round one). Symmetrize the edge list upstream
    * for undirected semantics (the trade-graph gates do). Fixed `iters`
    * rounds so the trajectory replays on any engine (peeling is
    * MONOTONE — once converged, further rounds are no-ops, so a large
    * enough cap IS the k-core); exact integer degrees throughout. Each
    * round is one keyed count + two semi-joins; iterates feed one
    * consumer each, so the rounds compose into one linear barrier-free
    * plan like [[labelPropagation]]. Output: surviving (node, degree)
    * ascending — degree as of the LAST peel. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, iters: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var e = edgeList(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    for (_ <- 0 until iters) {
      val keep = e.groupBy(F.col("td_u")).agg(F.count(F.lit(1)).as("td_d"))
        .where(F.col("td_d") >= k.toLong)
        .select(F.col("td_u").as("td_keep"))
      // each iterate feeds THREE consumers next round (the degree count
      // + both endpoint semi-joins) — persist so the cache substitution
      // keeps compute and plan size linear in rounds (lazy: the final
      // action materializes each layer exactly once). A finishRanks
      // materialize-then-release arm was MEASURED 8.1× slower here (r16,
      // PERF.md): releasing any layer re-registers the cached result and
      // the gate's action re-executes the whole peel chain uncached.
      e = e
        .join(keep.select(F.col("td_keep").as("td_u")), Seq("td_u"),
          "left_semi")
        .join(keep.select(F.col("td_keep").as("td_v")), Seq("td_v"),
          "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }
    e.groupBy(F.col("td_u").as("node"))
      .agg(F.count(F.lit(1)).as("degree"))
      .orderBy(F.col("node").asc)
  }

  /** EXACT k-hop reach: for every node, how many DISTINCT nodes its
    * out-edges reach within 1..k hops (self included only if a cycle
    * returns) — the neighborhood-size anomaly signal (spam/bot farms
    * show outsized 2-hop reach; a leaf shows its degree). Iterates the
    * distinct pair relation P_{r+1} = P_r ∪ (P_r ⋈ edges), so the
    * intermediate relation is the k-hop TRANSITIVE PAIR SET — quadratic
    * on dense graphs: this is the exact-twin face for bounded data and
    * verification; the 100 TB path is [[kHopReachApprox]] (HyperBall),
    * whose per-node state is one HLL register set regardless of reach.
    * Output: (node, reach) ascending, exact integers. */
  def kHopReach(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edgeList(edges, srcCol, dstCol).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var pairs = e
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame](e)
    for (_ <- 1 until k) {
      // each iterate feeds TWO consumers (the union's both sides via
      // the join) — persist keeps compute/plan linear in rounds
      pairs = pairs
        .unionByName(pairs.select(F.col("td_u"), F.col("td_v").as("td_m"))
          .join(e.select(F.col("td_u").as("td_m"), F.col("td_v")), "td_m")
          .select(F.col("td_u"), F.col("td_v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      layers += pairs
    }
    // materialize-then-release (finishRanks): the transitive PAIR layers
    // are the one graph family whose caches are quadratic-sized, so
    // holding them to the ContextCleaner costs real memory — and unlike
    // the node-sized iterate chains (pagerank/LPA/kCore, where the same
    // arm measured 2.8-8.6× SLOWER, r16 PERF.md) this one measured
    // 2.6× FASTER in the BENCH_ONLY shape (1.229 → 0.477 s min): the
    // released pair caches stop evicting everything else
    finishRanks(pairs.groupBy(F.col("td_u").as("node"))
      .agg(F.count(F.lit(1)).as("reach")), layers.toSeq)
  }

  /** APPROXIMATE k-hop reach by HyperBall (Boldi & Vigna 2013): each
    * node carries ONE mergeable HLL sketch of its reach ball,
    * B_{r+1}(u) = B_r(u) ∪ ⋃_{u→v} B_r(v) — every round is one
    * edge-keyed join + one hll_union_agg, state per node is a fixed
    * register set NO MATTER how large the ball grows (the pair relation
    * [[kHopReach]] materializes never exists). Standard ~1.6%/√(2^lgK)
    * HLL error; deterministic for a given edge set (DataSketches
    * register updates are order-insensitive), but estimates are
    * engine-specific — verification rides the exact twin (the RecallSpec
    * pattern). Balls INCLUDE the node itself (B_0 = {u}; HLL cannot
    * subtract the self element afterward), so compare `ball_est`
    * against exact reach + 1 when the node has no self-cycle. Output:
    * (node, ball_est: double) ascending. */
  def kHopReachApprox(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, lgK: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (e, nodes, _) =
      persistedGraph(edgeList(edges, srcCol, dstCol).distinct())
    var balls = nodes.groupBy(F.col("node"))
      .agg(F.expr(s"hll_sketch_agg(node, $lgK)").as("td_ball"))
    for (_ <- 0 until k) {
      // neighbor balls union into each source's ball; nodes with no
      // out-edges keep their own ball (left join + coalesce); iterate
      // caches are node-sized (one register set per node) and stay with
      // the ContextCleaner — the kCore rule (r16 PERF.md: releasing a
      // layer re-registers the cached result and re-executes the chain)
      val nbr = e.join(balls.withColumnRenamed("node", "td_v"), "td_v")
        .groupBy(F.col("td_u").as("node"))
        .agg(F.expr("hll_union_agg(td_ball)").as("td_nbr"))
      balls = balls.join(nbr, Seq("node"), "left")
        .select(F.col("node"),
          F.when(F.col("td_nbr").isNull, F.col("td_ball"))
            .otherwise(F.expr("hll_union(td_ball, td_nbr)"))
            .as("td_ball"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    }
    balls.select(F.col("node"),
        F.expr("hll_sketch_estimate(td_ball)").cast("double").as("ball_est"))
      .orderBy(F.col("node").asc)
  }

  /** Per-node triangle counts + local clustering coefficients over an
    * undirected graph. Edges are canonicalized (least, greatest),
    * deduplicated, loops dropped; triangles enumerate ONCE each via the
    * oriented three-way join e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a<b<c (the
    * standard orientation trick — candidate pairs are bounded by
    * per-node oriented degrees, not total degrees, and no triangle is
    * counted six times). Exact integer counts throughout; coefficient
    * = 2T / (deg·(deg−1)), NULL for degree < 2. Output:
    * (node, degree, triangles, clustering_coeff) ascending. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges
      .where(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull)
      .select(F.col(srcCol).cast("string").as("a"),
        F.col(dstCol).cast("string").as("b"))
    val e = raw
      .select(F.least(F.col("a"), F.col("b")).as("a"),
        F.greatest(F.col("a"), F.col("b")).as("b"))
      .where(F.col("a") =!= F.col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val deg = e.select(F.col("a").as("node"))
      .union(e.select(F.col("b").as("node")))
      .groupBy(F.col("node"))
      .agg(F.count(F.lit(1)).as("degree"))
    val t1 = e.select(F.col("a"), F.col("b"))
    val t2 = e.select(F.col("a").as("b"), F.col("b").as("c"))
    val t3 = e.select(F.col("a"), F.col("b").as("c"))
    val tri = t1.join(t2, "b").join(t3, Seq("a", "c"))
    val perNode = tri.select(F.explode(F.array(
        F.col("a"), F.col("b"), F.col("c"))).as("node"))
      .groupBy(F.col("node"))
      .agg(F.count(F.lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(F.col("node"), F.col("degree"),
        F.coalesce(F.col("triangles"), F.lit(0L)).as("triangles"),
        F.when(F.col("degree") >= 2L,
          (F.lit(2L) * F.coalesce(F.col("triangles"), F.lit(0L)))
            .cast("double") /
            (F.col("degree") * (F.col("degree") - 1L)).cast("double"))
          .as("clustering_coeff"))
    finishRanks(out, Seq(e))
  }

  /** TRUNCATED closeness + harmonic centrality, exact within `maxHops`
    * (the h-bounded variants — on a 100 TB graph unbounded exact
    * closeness is a full APSP; bounding the horizon is the standard
    * honest cut, and the HyperBall scale path [[kHopReachApprox]]
    * estimates the same ball sizes when even the bounded pair relation
    * is too large): layered BFS on the distinct pair relation, each
    * round one join + one anti-join against the seen set, so a pair's
    * distance is the FIRST round it appears (true shortest distance
    * ≤ maxHops). Per node over its reached set: n_reach, Σd (exact
    * longs), closeness = n_reach/Σd, harmonic = Σ 1/d (per-pair terms
    * through the 2^20 fixed-point image, exact long sums, one division
    * back — 1/1 and 1/2 are exact images; deeper terms round once per
    * pair identically on both engines). Self-distances are excluded
    * (d(u,u) = 0 by convention). Same materialize-then-release cache
    * rule as [[kHopReach]] — the pair layers are the quadratic-sized
    * caches. Output: (node, n_reach, sum_dist, closeness, harmonic)
    * ascending by node. */
  def closenessTruncated(edges: DataFrame, srcCol: String,
      dstCol: String, maxHops: Int = 2): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8, s"maxHops in [1,8], got $maxHops")
    val e = edgeList(edges, srcCol, dstCol)
      .where(F.col("td_u") =!= F.col("td_v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var seen = e.withColumn("td_d", F.lit(1L))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var frontier = e
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame](e, seen)
    for (r <- 2 to maxHops) {
      val expanded = frontier
        .select(F.col("td_u"), F.col("td_v").as("td_m"))
        .join(e.select(F.col("td_u").as("td_m"), F.col("td_v")), "td_m")
        .select(F.col("td_u"), F.col("td_v"))
        .where(F.col("td_u") =!= F.col("td_v"))
        .distinct()
      frontier = expanded.join(seen.select(F.col("td_u"), F.col("td_v")),
          Seq("td_u", "td_v"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      seen = seen.unionByName(frontier.withColumn("td_d", F.lit(r.toLong)))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      layers += frontier
      layers += seen
    }
    val out = seen.groupBy(F.col("td_u").as("node"))
      .agg(F.count(F.lit(1)).as("n_reach"),
        F.sum(F.col("td_d")).as("sum_dist"),
        F.sum(fixedPoint(F.lit(1.0d) / F.col("td_d").cast("double")))
          .as("td_h"))
      .select(F.col("node"), F.col("n_reach"), F.col("sum_dist"),
        (F.col("n_reach").cast("double") /
          F.col("sum_dist").cast("double")).as("closeness"),
        (F.col("td_h").cast("double") / F.lit(1048576.0d)).as("harmonic"))
    finishRanks(out, layers.toSeq)
  }

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * 2003): for every NON-edge pair (u, v) sharing at least one
    * neighbor, the three standard scores — common-neighbor count,
    * Jaccard cn/(deg_u + deg_v − cn), and Adamic–Adar
    * Σ_{z∈N(u)∩N(v)} 1/ln(deg_z) (plus resource-allocation Σ 1/deg_z)
    * — the "who should transact next" readout over the trade graph,
    * and the candidate generator for graph-based dedup blocking.
    *
    * Shape: canonical undirected edges once (min/max endpoints,
    * distinct), degrees in one keyed pass, then the ONLY quadratic
    * term — pairs through a shared neighbor z — is generated by one
    * self-join of the adjacency on z with u < v, which AQE skew-splits
    * on hot intermediates; `maxHubDegree` drops z's above the cap from
    * pair GENERATION entirely (the [[graft.pipeline.Dedup]] maxDf
    * lesson: a 10⁶-degree hub would emit 10¹² pairs — and a hub shared
    * by everyone carries no signal; its 1/ln(deg) term is the smallest
    * anyway). Per-z score terms are stated once as doubles, mapped
    * through the 2^20 fixed-point image, and summed as exact longs per
    * pair (association-free), ONE division back; existing edges leave
    * by one anti-join on the canonical pair. Output: the top
    * `k` candidate pairs by (aa DESC, u ASC, v ASC) —
    * (src, dst, cn, deg_src, deg_dst, jaccard, aa, ra). */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 100, maxHubDegree: Long = 100000L): DataFrame = {
    require(k > 0, s"k > 0, got $k")
    require(maxHubDegree > 1L, s"maxHubDegree > 1, got $maxHubDegree")
    val s0 = F.col(srcCol).cast("string")
    val d0 = F.col(dstCol).cast("string")
    val e = edges.where(s0.isNotNull && d0.isNotNull && s0 =!= d0)
      .select(F.least(s0, d0).as("a"), F.greatest(s0, d0).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val deg = e.select(F.col("a").as("node"))
      .union(e.select(F.col("b").as("node")))
      .groupBy(F.col("node"))
      .agg(F.count(F.lit(1)).as("degree"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // adjacency with the intermediate's degree attached; hubs above the
    // cap never enter pair generation
    val adj = e.select(F.col("a").as("z"), F.col("b").as("n"))
      .union(e.select(F.col("b").as("z"), F.col("a").as("n")))
      .join(deg.select(F.col("node").as("z"),
        F.col("degree").as("z_deg")), Seq("z"))
      .where(F.col("z_deg") <= maxHubDegree)
    val l = adj.select(F.col("z"), F.col("n").as("u"), F.col("z_deg"))
    val r = adj.select(F.col("z"), F.col("n").as("v"))
    val zD = F.col("z_deg").cast("double")
    val pairs = l.join(r, Seq("z"))
      .where(F.col("u") < F.col("v"))
      .groupBy(F.col("u"), F.col("v"))
      .agg(F.count(F.lit(1)).as("cn"),
        F.sum(fixedPoint(F.lit(1.0d) / F.log(zD))).as("td_aa"),
        F.sum(fixedPoint(F.lit(1.0d) / zD)).as("td_ra"))
    val nonEdges = pairs.join(e,
      pairs("u") === e("a") && pairs("v") === e("b"), "left_anti")
    def un(c: Column) = c.cast("double") / F.lit(1048576.0d)
    val scored = nonEdges
      .join(deg.select(F.col("node").as("u"),
        F.col("degree").as("deg_src")), Seq("u"))
      .join(deg.select(F.col("node").as("v"),
        F.col("degree").as("deg_dst")), Seq("v"))
      .select(F.col("u").as("src"), F.col("v").as("dst"), F.col("cn"),
        F.col("deg_src"), F.col("deg_dst"),
        (F.col("cn").cast("double") /
          (F.col("deg_src") + F.col("deg_dst") - F.col("cn"))
            .cast("double")).as("jaccard"),
        un(F.col("td_aa")).as("aa"), un(F.col("td_ra")).as("ra"))
      .orderBy(F.col("aa").desc, F.col("src").asc, F.col("dst").asc)
      .limit(k)
    val res = scored.persist(StorageLevel.MEMORY_AND_DISK_SER)
    res.count()
    e.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    res
  }
}
