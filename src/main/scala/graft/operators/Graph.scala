package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Checkpoints

/** Graph ranking over edge lists (the quality-weighting side of a
  * training-data pipeline: host/domain link graphs rank sources the
  * way CommonCrawl-derived corpora weight pages, and the same shape
  * ranks suppliers, users, or documents in any keyed edge set).
  *
  * [[Dedup.connectedComponents]] covers reachability; this module
  * covers importance. Both follow the same Spark shape: node-sized
  * state frames iterated through keyed joins against a reused edge
  * table — never an adjacency matrix.
  */
object Graph {

  /** Deterministic fixed-point PageRank.
    *
    * All arithmetic is INTEGER: ranks live in fixed-point units (total
    * initial mass 10¹², split evenly), per-edge contribution is
    * `rank DIV outdeg`, damping applies as the rational
    * `dampingNum/dampingDen` via `(num · Σ) DIV den`. Integer sums are
    * associative, so the result is bit-stable regardless of
    * partitioning or aggregation order — the property a float PageRank
    * fundamentally lacks (a groupBy-sum of doubles folds in partial
    * order and drifts run to run), and the property that lets any ANSI
    * engine replay every iteration exactly (q93's oracle unrolls them
    * in SQL).
    *
    * Semantics: nodes = distinct src ∪ dst endpoints. Per iteration,
    * rank(v) ← base + (num · Σ_{u→v} rank(u) DIV outdeg(u)) DIV den,
    * with base = ((den−num) · (10¹² DIV N)) DIV den the uniform
    * teleport share. DIV truncation and dangling nodes (sinks keep no
    * out-share to give) shed a little mass per iteration instead of
    * redistributing it — ranks are for ORDERING, not a probability
    * measure, and truncation loss is bounded by 1 unit per edge.
    * Duplicate edges are collapsed first (distinct), so parallel edges
    * don't double-vote.
    *
    * Scale shape per iteration: ranks (node-sized) join edges on src —
    * a keyed exchange of the SMALL frame; the per-dst partial sums
    * collapse map-side before the second exchange. Edges are persisted
    * once and reused across iterations; rank lineage is cut per
    * iteration (`localCheckpoint`) so iteration i+1 never replans i.
    * Returns (node_id, rank) — BIGINT fixed-point units.
    */
  def pageRank(
      edgeList: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampingNum: Int = 85, dampingDen: Int = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampingNum > 0 && dampingDen > dampingNum,
      s"damping must be a rational in (0,1): $dampingNum/$dampingDen")
    val edges = graft.sources.Tables.widen(edgeList)
      .select(col(srcCol).cast(LongType).as("_src"),
        col(dstCol).cast(LongType).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull)
      .distinct()
      .persist()
    try {
      val nodes = edges.select(col("_src").as("id"))
        .union(edges.select(col("_dst").as("id")))
        .distinct()
        .localCheckpoint(true)
      val n = nodes.count()
      require(n > 0, "pageRank: empty edge list")
      val unit = 1000000000000L / n
      val base = (dampingDen - dampingNum).toLong * unit / dampingDen
      val outdeg = edges.groupBy(col("_src").as("id"))
        .agg(count(lit(1)).as("_deg"))
      var ranks = nodes.select(col("id"), lit(unit).as("rank"))
        .localCheckpoint(true)
      for (_ <- 0 until iters) {
        val inSums = edges
          .join(ranks.withColumnRenamed("id", "_src"), "_src")
          .join(outdeg.withColumnRenamed("id", "_src"), "_src")
          .select(col("_dst").as("id"),
            expr("rank DIV _deg").as("_share"))
          .groupBy(col("id")).agg(sum(col("_share")).as("_insum"))
        val next = nodes
          .join(inSums, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + expr(
              s"(CAST($dampingNum AS BIGINT) * coalesce(_insum, CAST(0 AS BIGINT))) " +
                s"DIV $dampingDen")).as("rank"))
          .localCheckpoint(true)
        // iteration i's ranks are dead once i+1 is materialized —
        // release the blocks instead of holding iters× the node frame
        Checkpoints.drop(ranks)
        ranks = next
      }
      // the returned frame is its own checkpoint; nodes is dead
      Checkpoints.drop(nodes)
      ranks
    } finally edges.unpersist()
  }

  /** Personalized PageRank: the teleport vector concentrates on
    * `seeds` instead of spreading uniformly — "importance relative to
    * THESE nodes", the similar-items / trust-propagation variant.
    *
    * Identical integer fixed-point recipe as [[pageRank]] (unit mass
    * 10¹² split over the seeds; seed base = ((den−num)·unit) DIV den;
    * non-seeds get base 0, so rank mass keeps flowing back to the
    * seed neighborhood). Same per-iteration shape, same bit-stability,
    * same SQL-replayability.
    */
  def personalizedPageRank(
      edgeList: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iters: Int = 3,
      dampingNum: Int = 85, dampingDen: Int = 100): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampingNum > 0 && dampingDen > dampingNum,
      s"damping must be a rational in (0,1): $dampingNum/$dampingDen")
    val edges = graft.sources.Tables.widen(edgeList)
      .select(col(srcCol).cast(LongType).as("_src"),
        col(dstCol).cast(LongType).as("_dst"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull)
      .distinct()
      .persist()
    try {
      val nodes = edges.select(col("_src").as("id"))
        .union(edges.select(col("_dst").as("id")))
        .distinct()
        .localCheckpoint(true)
      val unit = 1000000000000L / seeds.size
      val seedBase = (dampingDen - dampingNum).toLong * unit / dampingDen
      val isSeed = col("id").isin(seeds: _*)
      val outdeg = edges.groupBy(col("_src").as("id"))
        .agg(count(lit(1)).as("_deg"))
      var ranks = nodes
        .select(col("id"), when(isSeed, lit(unit)).otherwise(lit(0L)).as("rank"))
        .localCheckpoint(true)
      for (_ <- 0 until iters) {
        val inSums = edges
          .join(ranks.withColumnRenamed("id", "_src"), "_src")
          .join(outdeg.withColumnRenamed("id", "_src"), "_src")
          .select(col("_dst").as("id"),
            expr("rank DIV _deg").as("_share"))
          .groupBy(col("id")).agg(sum(col("_share")).as("_insum"))
        val next = nodes
          .join(inSums, Seq("id"), "left")
          .select(col("id"),
            (when(isSeed, lit(seedBase)).otherwise(lit(0L)) + expr(
              s"(CAST($dampingNum AS BIGINT) * coalesce(_insum, CAST(0 AS BIGINT))) " +
                s"DIV $dampingDen")).as("rank"))
          .localCheckpoint(true)
        Checkpoints.drop(ranks) // superseded iteration — release blocks
        ranks = next
      }
      Checkpoints.drop(nodes) // returned ranks is its own checkpoint
      ranks
    } finally edges.unpersist()
  }

  /** Synchronous weighted label propagation over an undirected
    * weighted graph — community detection where [[Dedup
    * .connectedComponents]] would be too coarse (components glue
    * everything reachable; LP splits a connected graph along its
    * weight structure).
    *
    * Semantics (deterministic by construction): the input edge list is
    * symmetrized and parallel edges merge their weights; every node
    * starts labeled with its own id; each SYNCHRONOUS round relabels
    * every node to the label with the highest total incident weight
    * among its neighbors' PREVIOUS labels — ties break to the smaller
    * label, isolated nodes keep their label. Exactly `iters` rounds
    * (fixed-round snapshot: sync LP may oscillate, so convergence is
    * not the contract — the round count is).
    *
    * Scale shape per round: one keyed join of the node-sized label
    * frame against the persisted edge table, one (node, label) count
    * aggregate (map-side partials), one per-node top-1 window keyed on
    * the node — all exchanges carry (id, label, weight) triples.
    * Label lineage is cut per round.
    */
  def labelPropagation(
      edgeList: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 2): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    import org.apache.spark.sql.expressions.Window
    val half = edgeList.select(
      col(srcCol).cast(LongType).as("_a"),
      col(dstCol).cast(LongType).as("_b"),
      col(weightCol).cast(LongType).as("_w"))
    val edges = graft.sources.Tables.widen(
        half.unionAll(half.select(col("_b").as("_a"), col("_a").as("_b"), col("_w"))))
      .groupBy(col("_a"), col("_b")).agg(sum(col("_w")).as("_w"))
      .persist()
    try {
      val nodes = edges.select(col("_a").as("id")).distinct()
        .localCheckpoint(true)
      var labels = nodes.withColumn("label", col("id"))
      var labelsOwnCp = false // round 0's labels ride the nodes checkpoint
      for (_ <- 0 until iters) {
        val votes = edges
          .join(labels.select(col("id").as("_b"), col("label").as("_nl")), "_b")
          .groupBy(col("_a"), col("_nl")).agg(sum(col("_w")).as("_v"))
        val w = Window.partitionBy(col("_a")).orderBy(desc("_v"), asc("_nl"))
        val winners = votes
          .withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
          .select(col("_a").as("id"), col("_nl").as("_newl"))
        val next = nodes.join(winners, Seq("id"), "left")
          .select(col("id"), coalesce(col("_newl"), col("id")).as("label"))
          .localCheckpoint(true)
        if (labelsOwnCp) Checkpoints.drop(labels) // superseded round
        labels = next
        labelsOwnCp = true
      }
      if (labelsOwnCp) Checkpoints.drop(nodes) // final labels stands alone
      labels
    } finally edges.unpersist()
  }

  /** Per-node triangle counts via degree-ordered edge orientation
    * (the MapReduce-era Suri–Vassilvitskii shape, re-expressed as two
    * Catalyst equi-joins).
    *
    * The input is treated as an UNDIRECTED multigraph: direction,
    * duplicate edges, and self-loops are all normalized away first
    * (canonical `(lo, hi)` pairs, distinct). Each canonical edge is
    * then oriented from the endpoint with the smaller `(degree, id)`
    * rank to the larger — a total acyclic order, so every triangle
    * {a, b, c} (ranked a < b < c) materializes as EXACTLY one wedge
    * a→b→c closed by the oriented edge a→c: count = one wedge join +
    * one closure join, no per-triangle dedup step.
    *
    * Why the orientation is the 100 TB shape: out-degree under
    * degree ranking is O(√m), so the wedge join emits O(m^{3/2})
    * rows worst-case instead of Σ deg² — the hub node with degree 10⁶
    * contributes almost NO wedges (every neighbor out-ranks it)
    * rather than 10¹² of them. Everything that crosses an exchange is
    * a pair/triple of longs; the output is node-sized; nothing
    * touches the driver.
    *
    * Returns (node_id, n_triangles) for every node incident to at
    * least one (normalized) edge, zero-filled, ordered by node_id.
    */
  def triangleCounts(
      edgeList: DataFrame, srcCol: String, dstCol: String): DataFrame =
    trianglesWithDegree(edgeList, srcCol, dstCol)
      .select(col("node_id"), col("n_triangles"))

  /** Shared triangle core: (node_id, n_triangles, degree) over the
    * normalized simple graph. [[clusteringCoefficient]] reads the
    * degree column directly instead of re-normalizing the edge list
    * and recounting degrees (a full second pass over the input at
    * scale for a frame this computation already built).
    */
  private def trianglesWithDegree(
      edgeList: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = graft.sources.Tables.widen(edgeList)
      .select(col(srcCol).cast(LongType).as("_a"),
        col(dstCol).cast(LongType).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
      .select(least(col("_a"), col("_b")).as("_lo"),
        greatest(col("_a"), col("_b")).as("_hi"))
      .distinct()
      .persist() // read by the degree, orientation, and node branches
    try {
      val deg = und.select(explode(array(col("_lo"), col("_hi"))).as("_id"))
        .groupBy(col("_id")).agg(count(lit(1)).as("_deg"))
        .persist() // read by both endpoint joins and the node frame
      try {
        val oriented = und
          .join(deg.select(col("_id").as("_lo"), col("_deg").as("_dlo")), Seq("_lo"))
          .join(deg.select(col("_id").as("_hi"), col("_deg").as("_dhi")), Seq("_hi"))
          .select(
            when(col("_dlo") < col("_dhi") ||
              (col("_dlo") === col("_dhi") && col("_lo") < col("_hi")),
              col("_lo")).otherwise(col("_hi")).as("_s"),
            when(col("_dlo") < col("_dhi") ||
              (col("_dlo") === col("_dhi") && col("_lo") < col("_hi")),
              col("_hi")).otherwise(col("_lo")).as("_d"))
          .transform(Checkpoints.serialized(_)) // read by e1, e2, AND the closure join (edge-scale: serialized)
        // Both joins build their hash table on the EDGE side (m rows)
        // and stream the wedge side (Σ outdeg² rows, ~40× larger here):
        // the shuffle_hash hint keeps Catalyst from sort-merge-joining,
        // which would SORT the wedge stream — measured 490 s of CPU at
        // sf0.1 spent almost entirely in that sort, vs a hash probe
        // that never orders wedges at all. Still a keyed exchange per
        // side, nothing driver-bounded — the hint only swaps sort for
        // hash, so the 100 TB shape is unchanged.
        val wedges = oriented.select(col("_s").as("_x"), col("_d").as("_y"))
          .join(oriented.select(col("_s").as("_y"), col("_d").as("_z"))
            .hint("shuffle_hash"), Seq("_y"))
        val tris = wedges
          .join(oriented.select(col("_s").as("_x"), col("_d").as("_z"))
            .hint("shuffle_hash"), Seq("_x", "_z"))
          .select(explode(array(col("_x"), col("_y"), col("_z"))).as("node_id"))
          .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
        deg.select(col("_id").as("node_id"), col("_deg").cast(LongType).as("degree"))
          .join(tris, Seq("node_id"), "left")
          .select(col("node_id"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            col("degree"))
          .orderBy(col("node_id"))
          .localCheckpoint(true)
      } finally deg.unpersist()
    } finally und.unpersist()
  }

  /** Subtree rollup over a HEAP-NUMBERED hierarchy (node k's parent is
    * k div 2, root = 1 — the materialized-path trick that turns a
    * recursive hierarchy into arithmetic): per node, the count and
    * value-sum of its entire subtree, WITHOUT a recursive engine or an
    * iterative fixpoint. Every node's ancestor chain is the closed
    * form node div 2^k, so each row explodes to its ≤ log₂(maxId)
    * ancestors (a constant-width explode — 50 candidates, non-positive
    * ones filtered) and ONE hash aggregate on the ancestor id produces
    * every subtree total. Work is n·log n rows through one map-side-
    * combined exchange — compare a recursive CTE's depth-many passes
    * or a per-level join loop; this is the 100 TB shape for
    * org-chart / category-tree / BOM rollups whose hierarchy fits a
    * heap numbering.
    *
    * The ancestor arithmetic uses floor(node / 2^k) in doubles —
    * exact for ids below 2^52 (power-of-two division is exact in
    * IEEE; the require guards the bound).
    */
  def treeRollup(nodes: DataFrame, nodeCol: String,
      valueCol: String): DataFrame = {
    val guarded = nodes.select(
      when(col(nodeCol) < 1 || col(nodeCol) >= (1L << 52),
        raise_error(lit("treeRollup: node ids must be in [1, 2^52)")))
        .otherwise(col(nodeCol)).as("_node"),
      col(valueCol).cast(LongType).as("_v"))
    guarded
      .select(explode(sequence(lit(0), lit(51))).as("_k"),
        col("_node"), col("_v"))
      .withColumn("_a",
        floor(col("_node") / pow(lit(2.0), col("_k"))).cast(LongType))
      .where(col("_a") >= 1)
      .groupBy(col("_a").as(nodeCol))
      .agg(count(lit(1)).as("subtree_n"), sum(col("_v")).as("subtree_value"))
      .orderBy(col(nodeCol))
  }

  /** Bounded-hop BFS from a seed set: every node's minimum hop count
    * ≤ `maxHops` — reachability/blast-radius analysis ("what does
    * this supplier outage touch within 3 links?") without unbounded
    * recursion. The loop is the standard distributed-BFS frontier
    * shape: each iteration joins the CURRENT FRONTIER (only the nodes
    * first reached last round — not the whole visited set) against
    * the edge table, then anti-joins out already-visited nodes, so
    * iteration cost tracks frontier × degree. The visited set is
    * re-checkpointed per hop to cut lineage (the [[pageRank]]
    * discipline); hop counts are exact, ties resolved by "first hop
    * wins" which IS min-hop by construction.
    *
    * `edges` must carry both directions for undirected graphs.
    */
  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1)),
    * the fraction of a node's neighbor pairs that are themselves
    * connected — the standard community-density signal next to raw
    * [[triangleCounts]] (a hub with 1000 neighbors and 10 triangles is
    * LESS clustered than a 4-node clique member despite more
    * triangles). Reported as the exact integer
    * (2·T·10⁶) DIV (deg·(deg−1)); degree-0/1 nodes score 0 (no pairs
    * to close). Degrees come from the same simple-graph normalization
    * (self-loops dropped, parallel/reversed edges collapsed) the
    * triangle count uses, so numerator and denominator agree on the
    * graph.
    */
  def clusteringCoefficient(
      edgeList: DataFrame, srcCol: String, dstCol: String): DataFrame =
    // degree rides along from the triangle core's own normalization
    // (round-9: previously this re-normalized the edge list and
    // recounted degrees — a duplicated full pass over the input)
    trianglesWithDegree(edgeList, srcCol, dstCol)
      .withColumn("cc_scaled",
        when(col("degree") >= 2,
          expr("(2L * n_triangles * 1000000L) div (degree * (degree - 1L))"))
          .otherwise(lit(0L)).cast(LongType))
      .select(col("node_id"), col("degree"), col("n_triangles"),
        col("cc_scaled"))

  /** Bounded k-core peeling: `rounds` synchronous iterations of
    * "drop every node with degree < k, then drop edges touching a
    * dropped node". The k-core — the maximal subgraph where every
    * node keeps ≥ k neighbors — is the standard density screen a
    * link-graph quality pipeline runs before trusting degree-based
    * signals (a page with 50 inlinks all from 1-link spam nodes
    * peels away; a page inside a dense community survives).
    *
    * The round count is part of the SEMANTICS (bounded peeling, the
    * [[bfsHops]]/[[labelPropagation]] contract), which is what lets
    * an ANSI oracle unroll each round as a CTE; GraphSpec proves
    * peeling has converged within the configured rounds on its
    * fixtures, and a caller needing the true fixpoint raises
    * `rounds` — each round is one keyed count plus two semi-joins,
    * so cost is linear in rounds.
    *
    * Input edges are symmetrized and de-duplicated here (callers pass
    * each undirected edge once, either direction). Scale shape per
    * round: degree = one keyed count over edges (map-side partials);
    * the survivor set is NODE-sized and semi-joins back against the
    * edge table on each endpoint — at 100 TB the survivor frame is
    * the broadcast side after round one (peeling only shrinks it).
    * Edge lineage is cut per round, the [[pageRank]] discipline.
    * Returns the surviving nodes with their final in-core degree.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val once = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
    var e = Checkpoints.serialized(once
      .unionByName(once.select(col("_d").as("_s"), col("_s").as("_d")))
      .filter(col("_s") =!= col("_d")) // self-loops never count toward k
      .distinct())
    for (_ <- 1 to rounds) {
      val alive = e.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k)
        .select(col("_s"))
      val next = Checkpoints.serialized(
        e.join(alive, Seq("_s"), "left_semi")
          .join(alive.select(col("_s").as("_d")), Seq("_d"), "left_semi"))
      Checkpoints.drop(e) // superseded round — release the edge blocks
      e = next
    }
    e.groupBy(col("_s").as("id")).agg(count(lit(1)).as("degree"))
      .orderBy("id")
  }

  /** Bounded single-source shortest paths (Bellman-Ford relaxation):
    * minimum total WEIGHT from the seed set to every node reachable
    * within `rounds` edges — [[bfsHops]]'s weighted sibling (hop
    * count ↛ cheapest route once edges carry costs). Weights are
    * INTEGER (cast to long); parallel edges collapse to their min
    * weight up front.
    *
    * Each round relaxes every edge once: dist' = min(dist,
    * min_{(u,v)∈E} dist(u)+w) — one keyed join of the node-sized dist
    * frame against the edge table plus one keyed min, lineage cut per
    * round (the [[pageRank]] discipline). Synchronous rounds make the
    * result independent of partitioning AND directly unrollable by an
    * ANSI oracle (one CTE per round); after `rounds` ≥ graph diameter
    * it IS the true shortest-path distance (Bellman-Ford
    * convergence). Nodes not yet reached are absent, not ∞.
    */
  def ssspBounded(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: Seq[Long], rounds: Int): DataFrame = {
    require(seeds.nonEmpty, "ssspBounded: need at least one seed")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Checkpoints.serialized(
      edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"),
          col(weightCol).cast(LongType).as("_w"))
        .groupBy(col("_s"), col("_d")).agg(min(col("_w")).as("_w")))
    var dist = e.select(col("_s").as("id"))
      .unionByName(e.select(col("_d").as("id"))).distinct()
      .filter(col("id").isin(seeds: _*))
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(e, col("id") === col("_s"))
        .select(col("_d").as("id"), (col("dist") + col("_w")).as("dist"))
      val next = dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      Checkpoints.drop(dist) // superseded round
      dist = next
    }
    dist
  }

  /** Per-JVM aggregation-memory budget for [[neighborhoodSketch]]'s
    * regime choice, in bytes. On a cluster this is the EXECUTOR's
    * unified-memory region — `spark.executor.memory` (minus Spark's
    * 300 MB reserve) × `spark.memory.fraction` — because that JVM, not
    * the driver, holds the aggregation hash maps; the driver's own
    * heap says nothing about it (round-10 finding: sizing from
    * `Runtime.maxMemory` picks the wrong regime whenever driver and
    * executor heaps differ). Under local[*] — or when no executor
    * memory is configured — the driver heap IS the executor heap, so
    * `Runtime.maxMemory` is the honest measurement of this JVM.
    */
  private[graft] def executorAggBudgetBytes(
      sc: org.apache.spark.SparkContext): Long =
    executorAggBudgetBytes(sc.getConf, sc.isLocal)

  private[graft] def executorAggBudgetBytes(
      conf: org.apache.spark.SparkConf, isLocal: Boolean): Long = {
    val fraction = conf.getDouble("spark.memory.fraction", 0.6)
    if (isLocal || !conf.contains("spark.executor.memory"))
      (Runtime.getRuntime.maxMemory * fraction).toLong
    else {
      val reserved = 300L * 1024 * 1024 // Spark's RESERVED_SYSTEM_MEMORY
      val execBytes = conf.getSizeAsBytes("spark.executor.memory")
      (math.max(0L, execBytes - reserved) * fraction).toLong
    }
  }

  /** True when a register-bearing hop's map-side partial aggregation
    * would overflow its JVM's aggregation budget — each concurrent
    * task's hash map holds up to |nodes| sketch states — so the hop
    * must exchange by group key FIRST (bounding every task's map to
    * its own key slice) instead of combining map-side. One fifth of
    * the unified region is the slice the hop may claim: execution
    * memory shares that region with cached blocks and the hop's own
    * shuffle buffers, and the measured sf3 runs sat safely at this
    * bound while the sort-fallback regime it replaces was thrashing.
    */
  private[graft] def exchangeFirstRegime(nNodes: Long, stateBytes: Long,
      concurrency: Long, budgetBytes: Long): Boolean =
    nNodes * stateBytes * concurrency > budgetBytes / 5

  /** HyperBall-style approximate neighborhood function: for every node,
    * the estimated number of distinct nodes reachable within `hops`
    * out-steps (self included) — the sketch behind effective-diameter /
    * centrality estimation on graphs whose exact per-node reach sets
    * are quadratically out of reach (Boldi–Vigna HyperBall: HLL
    * counters iterated along edges).
    *
    * b₀(v) = {v}; b_{h+1}(v) = b_h(v) ∪ ⋃_{v→u} b_h(u) — all as
    * DataSketches HLL registers (`hll_sketch_agg`/`hll_union`), so the
    * per-round state is nodes × sketchBytes and the merge is the
    * register max: order-invariant, hence deterministic under any
    * partitioning. Per round: one keyed join of the node-sized sketch
    * frame against the edge list + one partial-aggregated register
    * union — never a frontier expansion, never a distinct over pair
    * sets. The 100 TB shape: h rounds of node-sized exchanges
    * regardless of how dense the h-hop balls get (exact per-node reach
    * would be Σ|ball| rows — the thing that explodes).
    *
    * Exactness is auditable, not assumed: pair with an exact
    * frontier-join count on a seed sample (q215's gate pattern — the
    * q29 sketch-contract discipline).
    *
    * The register-bearing hops run on a clone of the caller's session
    * that raises `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * to the node count; the caller's session conf is never written.
    *
    * @return (id, est_reach): BIGINT sketch estimate per node
    */
  def neighborhoodSketch(edges: DataFrame, srcCol: String, dstCol: String,
      hops: Int, lgConfigK: Int = 10): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    // edge-scale frame: serialized checkpoint (the round-11 sf10 probe
    // measured the deserialized default OOM-ing on a 239M-row edge
    // list before the first hop — see graft.plans.Checkpoints)
    val eObs, bObs = Observation()
    val e = Checkpoints.serialized(
      edges.select(col(srcCol).cast(LongType).as("_src"),
          col(dstCol).cast(LongType).as("_dst"))
        .filter(col("_src").isNotNull && col("_dst").isNotNull)
        .distinct()
        .observe(eObs, count(lit(1)).as("n")))
    val spark = edges.sparkSession
    val nodes = e.select(col("_src").as("id"))
      .unionByName(e.select(col("_dst").as("id"))).distinct()
    // hop 1 needs no register join at all: b₁(v) = sketch({v} ∪ N(v))
    // built DIRECTLY from neighbor ids — HLL registers are order/
    // grouping-invariant (max over hashed positions), so this is
    // bit-identical to unioning singleton sketches along edges, at
    // the cost of one narrow (id, member) aggregate instead of an
    // edge×blob join. Halves the blob joins of a 2-hop run. Its
    // session-default sort fallback handles only narrow long pairs —
    // cheap at any scale.
    val b1 = Checkpoints.serialized(
      nodes.select(col("id"), col("id").as("_m"))
        .unionByName(e.select(col("_src").as("id"), col("_dst").as("_m")))
        .groupBy(col("id"))
        .agg(expr(s"hll_sketch_agg(_m, $lgConfigK)").as("_sk"))
        .observe(bObs, count(lit(1)).as("n")))
    // |nodes| and |edges| ride the two checkpoints as observe()
    // metrics: they drive the register-bearing hops' aggregation
    // regime below.
    val nNodes = bObs.get("n").asInstanceOf[Long]
    val nEdges = eObs.get("n").asInstanceOf[Long]
    // hll_union_agg is an ObjectHashAggregate, and the session-default
    // sort-based fallback threshold (128 groups) made every register-
    // bearing hop SORT its edge×blob stream instead of folding it
    // into a hash map — measured as the q215 second-decade wall (sf3:
    // 9× time for 3× data, pure spill thrash; explicit exchange
    // re-sizing measured a NON-fix at 273 vs 232 s). The right bound
    // is structural — per task the map holds ≤ |nodes| register
    // states — so the hops run on a clone of the session whose
    // threshold is the measured node count. The threshold has no
    // plan-level device; the clone keeps it out of the caller's conf,
    // and the two checkpoints move into it as plans, not rows.
    //
    // Map-side partial aggregation holds one ~(K + few hundred)-byte
    // JVM sketch object per group a task has SEEN — up to |nodes| per
    // task, × concurrent tasks. While that total fits a heap slice,
    // map-side combine is the fastest plan (no extra exchange,
    // nothing sorted). Past the budget — the 30× regime, measured
    // exit-52 heap death — the aggregate repartitions BY THE GROUP
    // KEY first, bounding every agg task's map to its own key slice;
    // the exchanged bytes are the same edge×blob volume the old sort
    // fallback was already spilling, as lz4 shuffle blocks instead of
    // sort-merge passes. Both regimes produce identical registers;
    // only the exchange placement differs. (sf3 measured: 232 s
    // before → 76 s after, at the default heap.)
    val hopSession = ColumnBridge.isolatedSession(spark, Map(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
        math.max(128L, nNodes + 1).toString))
    val hopEdges = ColumnBridge.rebind(hopSession, e)
    var b = ColumnBridge.rebind(hopSession, b1)
    val stateBytes = (1L << lgConfigK) + 256
    // Per-EXECUTOR task concurrency: on a cluster each executor's
    // aggregation hash maps hold at most (its own task slots) ×
    // |nodes| register states, so the budget comparison must be
    // executor-local — defaultParallelism (cluster-wide slots) would
    // overstate per-JVM pressure by the executor count. Under
    // local[*] the driver IS the one executor, so cluster-wide and
    // per-JVM concurrency coincide.
    val sc = spark.sparkContext
    val concurrency =
      if (sc.isLocal) sc.defaultParallelism.toLong
      else sc.getConf.getInt("spark.executor.cores", 1).toLong
    val exchangeFirst =
      exchangeFirstRegime(nNodes, stateBytes, concurrency,
        executorAggBudgetBytes(sc))
    // In the exchange-first regime, size that exchange from the
    // MEASURED blob volume (the q112 convention): at the session
    // default the per-task slice (edge×blob / partitions) left the
    // 30× run flaky-OOM under concurrent page allocation; ~256 MB
    // of register payload per task is spill-safe.
    val exchangeParts =
      if (!exchangeFirst) 0
      else {
        val vol = nEdges * (stateBytes / 2 + 64)
        math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          math.min(16L * concurrency, vol / (512L << 20) + 1).toInt)
      }
    for (_ <- 2 to hops) {
      val joined = hopEdges.join(b, col("id") === col("_dst"))
      val fromNbrs =
        (if (exchangeFirst) joined.repartition(exchangeParts, col("_src"))
         else joined)
          .groupBy(col("_src"))
          .agg(expr("hll_union_agg(_sk)").as("_nb"))
          .withColumnRenamed("_src", "id")
      val nextB = Checkpoints.serialized(
        b.join(fromNbrs, Seq("id"), "left_outer")
          .select(col("id"),
            when(col("_nb").isNull, col("_sk"))
              .otherwise(expr("hll_union(_sk, _nb)")).as("_sk")))
      Checkpoints.drop(b) // superseded hop — release register blobs
      b = nextB
    }
    Checkpoints.drop(e) // all hops materialized; the edge copy is dead
    ColumnBridge.rebind(spark, b)
      .select(col("id"), expr("hll_sketch_estimate(_sk)").as("est_reach"))
  }

  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
    var visited = seeds.select(col(seedCol).as("node"))
      .distinct().withColumn("hop", lit(0L))
      .localCheckpoint(true)
    var frontier = visited
    for (h <- 1 to maxHops) {
      val next = frontier.join(e, col("node") === col("_src"))
        .select(col("_dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(h.toLong))
        .localCheckpoint(true)
      val grown = visited.unionByName(next).localCheckpoint(true)
      // the pre-union visited and the consumed frontier are dead once
      // `grown` and `next` are materialized (at h=1 they are the same
      // frame — drop is idempotent)
      Checkpoints.drop(visited)
      if (frontier ne visited) Checkpoints.drop(frontier)
      visited = grown
      frontier = next
    }
    if (frontier ne visited) Checkpoints.drop(frontier)
    visited
  }
}
