package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link analysis over corpus graphs — the authority-scoring companion to
  * the connected-components dedup clustering (Dedup.connectedComponents):
  * where CC picks ONE canonical per near-dup cluster, PageRank ranks
  * nodes by random-walk mass, the standard signal for choosing the
  * highest-authority representative and for weighting training-mixture
  * sampling by document importance.
  *
  * All arithmetic is INTEGER fixed-point (scale 2^40) with floor
  * division, so ranks are order-free exact BIGINTs and an independent
  * engine replays every iteration bit-for-bit — the same
  * determinism-over-floats stance as the MinHash/IVF/PQ oracles. The FP
  * formulation would be order-dependent across 1000 executors; this one
  * is reproducible anywhere.
  *
  * Scale shape: each iteration is one equi-join of the edge table with
  * the (node, rank) table on the partitioning key plus one groupBy(dst) —
  * the textbook distributed PageRank step. Edges and degrees are
  * persisted once and reused across iterations; ranks are
  * localCheckpoint'd per iteration so the lineage (and scheduler plan)
  * stays O(1) instead of growing per iteration.
  */
object Graph {

  /** Fixed-point scale: ranks start at 2^40. */
  val RankScale: Long = 1L << 40
  /** Damping 0.85 as exact integer ops: contrib = (r·85) div (100·deg),
    * teleport base = (2^40·15) div 100. */
  val TeleportBase: Long = RankScale * 15L / 100L

  /** Exact triangle counting via degree-ordered edge orientation — the
    * third classic corpus-graph signal after components (clusters) and
    * PageRank (authority): triangle density separates organic
    * co-occurrence neighbourhoods from spam/template cliques, and the
    * per-node count is the numerator of local clustering coefficients.
    *
    * Algorithm (Suri & Vassilvitskii's MR-style orientation): orient
    * every undirected edge from the (degree, id)-SMALLER endpoint to the
    * larger, then count wedges a→b→c that close with an oriented a→c
    * edge. Each triangle is counted exactly once, and — the scale
    * property — the wedge join fans out on out-degrees bounded by
    * O(√m), so one hub node cannot produce a quadratic wedge set the
    * way a naive adjacency self-join would. Two equi-joins, one
    * aggregation; no iteration.
    *
    * Input: undirected distinct pairs (u, v), u ≠ v, one row per edge
    * (either orientation). Returns per-node triangle participation
    * (node, n_triangles); the global count is sum/3. */
  def triangles(pairs: DataFrame): DataFrame = {
    // persist lifecycle: edges/oriented are persisted only for the
    // duration of this call — the eager localCheckpoint of the closed
    // wedges materializes everything upstream, after which both are
    // unpersisted deterministically (a persist held past return leaks for
    // the session — the bigramLm lesson, TrainingPrep.scala:149-151).
    val edges = pairs
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val lower = when(
      struct(col("du"), col("u")) < struct(col("dv"), col("v")), true).otherwise(false)
    val oriented = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("e1")
      .join(oriented.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
    // eager: materialized once for its three union consumers; blocks are
    // released when the caller drops the result frame
    val tri = wedges
      .join(oriented.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"), "left_semi")
      .localCheckpoint(true)
    edges.unpersist()
    oriented.unpersist()
    // each closed wedge (a,b,c) is one triangle touching all three nodes
    val perNode = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    perNode
  }

  /** Symmetrize + dedup a directed edge list into the undirected form
    * PageRank walks here. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Integer fixed-point PageRank over an UNDIRECTED edge set (pass the
    * output of [[undirected]]; every node then has deg ≥ 1, so there is
    * no dangling mass to redistribute). Returns (node, rank) with rank in
    * 2^40 units. */
  def pageRank(undirectedEdges: DataFrame, iters: Int): DataFrame = {
    val e = undirectedEdges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = deg.select(col("src").as("node"), lit(RankScale).as("rank"))
    for (_ <- 0 until iters) {
      // contribution multiply AND the in-mass sum run in DECIMAL(38,0):
      // rank·85 wraps BIGINT once a node's rank passes ~2^57 (in-degree
      // ~2^17 of near-max ranks), and the SUM wraps earlier for a
      // mega-in-degree hub (≥2^23 near-max contributions) — both
      // plausible at web scale under non-ANSI Spark. Values are identical
      // where BIGINT didn't wrap, so the oracle's BIGINT replay at test
      // sf is unchanged; the final cast keeps the schema contract.
      //
      // A node's per-edge contribution depends only on ITS rank and
      // degree, so it is computed on the NODE-sized (ranks ⋈ deg) table
      // and attached to edges in ONE edge-sized join per iteration —
      // the previous (e ⋈ deg) ⋈ ranks form streamed the edge table
      // through two join operators per iteration (guide §2.3/§3: the
      // edge table is the 100 TB side; touch it once).
      val perSrc = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("src"),
          expr("cast(rank as decimal(38,0)) * 85 div (100 * deg)").as("c"))
      ranks = e
        .join(perSrc, Seq("src"))
        .groupBy(col("dst"))
        .agg((lit(TeleportBase) + sum(col("c"))).cast("long").as("rank"))
        .select(col("dst").as("node"), col("rank"))
        .localCheckpoint(true)
    }
    // the final iteration's eager checkpoint already materialized every
    // read of e/deg — release both before returning so no cached blocks
    // outlive the call (iters = 0 just loses caching, stays computable)
    e.unpersist()
    deg.unpersist()
    ranks
  }

  /** Integer fixed-point PageRank over a DIRECTED edge set — the
    * link-authority form for crawl graphs, where directedness IS the
    * signal (a page linked BY many hosts is authoritative; linking out
    * confers nothing). Node universe = src ∪ dst; every node starts at
    * 2^40 and each iteration becomes
    * `teleport + Σ_in (rank·85) div (100·outdeg)` — a node with no
    * in-links holds exactly the teleport base. Dangling nodes' out-mass
    * is dropped, not redistributed (the documented leaked-mass
    * simplification; redistribution would make every rank depend on a
    * global aggregate and buy nothing for RANKING, which the teleport
    * floor already bounds). All arithmetic stays exact BIGINT floor
    * division, replayable by the SQL oracle iteration for iteration.
    *
    * Scale shape per iteration: one equi-join edges⋈ranks on src, one
    * groupBy(dst) partial-aggregated map-side, one LEFT join of the
    * bounded contribution table back onto nodes — no step sees more
    * than O(|E|) rows and nothing global-sorts. */
  def pageRankDirected(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.select(col("node"), lit(RankScale).as("rank"))
    for (_ <- 0 until iters) {
      // DECIMAL(38,0) multiply + sum: same wrap exposure (and same
      // value-equality argument) as the undirected walk above. Same
      // node-sized contribution restructure too: (ranks ⋈ deg) first,
      // then ONE edge-sized join per iteration.
      val perSrc = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("src"),
          expr("cast(rank as decimal(38,0)) * 85 div (100 * outdeg)").as("c"))
      val contribs = e
        .join(perSrc, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(TeleportBase) + coalesce(col("in_mass"),
            lit(0L).cast("decimal(38,0)"))).cast("long").as("rank"))
        .localCheckpoint(true)
    }
    e.unpersist(); deg.unpersist(); nodes.unpersist()
    ranks
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    * set — the mutual-reinforcement companion to [[pageRankDirected]]:
    * a good HUB links to many good authorities, a good AUTHORITY is
    * linked from many good hubs; on a crawl graph the two scores
    * separate directories/link farms (hubs) from content pages
    * (authorities), a distinction one PageRank score cannot make.
    *
    * INTEGER-EXACT iteration: authority ← Σ_in hub, hub ← Σ_out
    * authority, each followed by max-normalization
    * `(v · 2^40) div max(v)` — the L∞ norm is exact in BIGINT floor
    * division where the textbook L2 norm would need a square root, and
    * normalization only rescales, leaving the RANKING identical. The
    * running max is one scalar aggregate per half-iteration (broadcast
    * back — the oracle replays it as a CTE). Nodes without in-links
    * hold authority 0; without out-links, hub 0.
    *
    * Scale shape per half-iteration: one equi-join edges⋈scores, one
    * groupBy with map-side partials, one 1-row max broadcast — the
    * pageRank shape plus a scalar. Returns (node, hub, authority) in
    * 2^40 units after `iters` full iterations. */
  /** L∞ normalization of a (node, score) frame: `(v · 2^40) div max(v)`
    * with the 1-row max BROADCAST back — one scalar aggregate per
    * half-iteration, never a corpus-wide sort or second shuffle
    * (PlanAuditSpec pins the broadcast). DECIMAL(38) throughout: v·2^40
    * overflows BIGINT once in-degrees push v past 2^23 (v is itself in
    * 2^40 units) — the DuckDB twin is v::HUGEINT (the Sketches/
    * ChangePoint convention). */
  private[graft] def maxNormalized(scores: DataFrame, c: String): DataFrame = {
    val mx = scores.agg(max(col(c)).as("__mx"))
    scores.crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("__mx") > 0, expr(
          s"cast(cast($c as decimal(38,0)) * ${RankScale}L div __mx as bigint)"))
          .otherwise(lit(0L)).as(c))
  }

  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var hub = nodes.select(col("node"), lit(RankScale).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("authority"))
    for (_ <- 0 until iters) {
      // raw half-iteration sums accumulate in DECIMAL(38,0): each input
      // score is ≤ 2^40, so a hub with in-degree above ~2^23 would
      // silently wrap a BIGINT sum under non-ANSI Spark — plausible at
      // web scale. maxNormalized's divide already ran in DECIMAL; now
      // its input does too, and the post-normalization cast to BIGINT
      // (≤ 2^40 by construction) restores the schema contract.
      //
      // SPARSE score discipline (guide §2.3 — shuffle fewer bytes, and
      // fewer joins): a node absent from the raw sum table holds score 0
      // and contributes exactly nothing to the next half-iteration's
      // sums, and max over the sparse set equals max over the dense set
      // (scores are ≥ 0 and the raw set is nonempty whenever e is), so
      // normalization is value-identical row for row. The all-nodes
      // densification therefore happens ONCE at the end (left join +
      // coalesce 0) instead of twice per iteration. The raw table is
      // eagerly checkpointed so maxNormalized's two reads (the scalar
      // max and the normalize) evaluate the join/aggregate once.
      val aRaw = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst"))
        .agg(sum(col("hub").cast("decimal(38,0)")).as("authority"))
        .select(col("dst").as("node"), col("authority"))
        .localCheckpoint(true)
      auth = maxNormalized(aRaw, "authority")
      val hRaw = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src"))
        .agg(sum(col("authority").cast("decimal(38,0)")).as("hub"))
        .select(col("src").as("node"), col("hub"))
        .localCheckpoint(true)
      hub = maxNormalized(hRaw, "hub")
    }
    val out = nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("authority"), lit(0L)).as("authority"))
      .localCheckpoint(true)
    e.unpersist(); nodes.unpersist()
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * UNDIRECTED edge set — community detection as iterated neighbor
    * majority vote: every node starts labeled with its own id; each
    * round it adopts the most frequent label among its neighbors, ties
    * to the SMALLEST label. The synchronous schedule + integer counts +
    * total tie order make the whole run deterministic (asynchronous LPA
    * is famously order-dependent — useless against an oracle), so an
    * independent engine replays all rounds bit-for-bit.
    *
    * Scale shape: per round, one join keyed on the edge source (labels
    * are (node, label) pairs — never adjacency materialized per node)
    * and one (dst, label) hash-aggregate; the per-node argmax windows
    * over ≤ degree distinct labels. Same persist/checkpoint lifecycle
    * as [[pageRank]]: rounds truncate lineage eagerly, inputs release
    * before return. */
  def labelPropagation(undirectedEdges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = undirectedEdges.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 0 until iters) {
      labels = e
        .join(labels, e("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("dst")).orderBy(col("c").desc, col("label").asc)))
        .filter(col("__rn") === 1)
        .select(col("dst").as("node"), col("label"))
        .localCheckpoint(true)
    }
    e.unpersist()
    labels
  }

  /** Multi-source BFS: exact shortest HOP distance from a landmark set,
    * plus the nearest landmark itself (ties to the smallest landmark id)
    * — the landmark-bucketing primitive (assign every document/product
    * node to its closest hub; distance-bounded neighborhood extraction).
    *
    * Frontier expansion: per hop, one join of the CURRENT frontier (not
    * the full distance table) against the edge list, one anti-join to
    * drop already-settled nodes, one min-aggregate for the landmark
    * tie-break. Everything is integers and set algebra — no scores, no
    * order dependence — so an oracle replays it with a bounded recursive
    * walk: a node's settled landmark is min over ALL shortest walks
    * (penultimate frontier nodes propagate their own min, and min is
    * associative over the walk tree).
    *
    * Scale shape: work per hop is O(edges incident to the frontier), the
    * anti-join keys on node ids, and the settled table only ever grows by
    * union — the [[pageRank]] persist/eager-checkpoint lifecycle keeps
    * lineage O(1) across hops. Early-exits when a frontier empties. */
  def bfsHops(undirectedEdges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val e = undirectedEdges.persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources.select(col("node"), lit(0L).as("hops"), col("node").as("landmark"))
      .localCheckpoint(true)
    var frontier = dist
    var hop = 1L
    var expanding = true
    while (expanding && hop <= maxHops) {
      val next = e
        .join(frontier, e("src") === frontier("node"))
        .select(col("dst"), col("landmark"))
        .join(dist.select(col("node").as("__settled")),
          col("dst") === col("__settled"), "left_anti")
        .groupBy(col("dst"))
        .agg(min(col("landmark")).as("landmark"))
        .select(col("dst").as("node"), lit(hop).as("hops"), col("landmark"))
        .localCheckpoint(true)
      expanding = next.limit(1).count() > 0
      if (expanding) {
        // no checkpoint on the union: both operands are already
        // materialized checkpoints, so the union is a cheap two-RDD
        // lineage (≤ maxHops leaves) — checkpointing it re-wrote the
        // whole settled table once per hop
        dist = dist.union(next)
        frontier = next
      }
      hop += 1
    }
    e.unpersist()
    dist
  }

  /** Link prediction by the resource-allocation index (Zhou/Lü/Zhang
    * 2009 — the strongest of the classic local similarity indices):
    * for every non-adjacent pair (a, b), score = Σ over common
    * neighbours z of 1/deg(z) — here Σ 1e6 div deg(z) so every score
    * is an exact integer any engine replays (Adamic–Adar's 1/log deg
    * would drag in cross-engine log rounding). Returns the top-k
    * predicted links (a < b, edge absent) with the common-neighbour
    * count, ties to the smallest (a, b).
    *
    * Scale: the wedge join fans out quadratically in the CENTER node's
    * degree, so centers with deg > maxCenterDeg are dropped — the
    * principled truncation for RA specifically, because a hub's
    * contribution is at most 1e6 div maxCenterDeg per pair (the index
    * itself says hubs carry almost no signal). That bounds wedge
    * fan-out per center at maxCenterDeg², the same guardrail family as
    * the dedup degree cap. Degrees come from the FULL graph; only
    * wedge CENTERS are capped. One wedge join, one hash-aggregate, one
    * anti-join against the edge set, one TakeOrdered. */
  def linkPrediction(pairs: DataFrame, maxCenterDeg: Int, topK: Int,
      materialize: Boolean = true): DataFrame = {
    val und = undirected(pairs.select(col("u").as("src"), col("v").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg") <= maxCenterDeg)
    val ez = und.join(centers, Seq("src")) // (src = z, dst, deg)
    val wedges = ez.select(col("src"), col("dst").as("a"), col("deg"))
      .join(und.select(col("src"), col("dst").as("b")), Seq("src"))
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy(col("a"), col("b"))
      .agg(sum(expr("1000000 div deg")).as("__ra"), count(lit(1)).as("n_common"))
    val ranked = scored
      .join(und.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"), col("__ra").cast("long").as("ra_e6"))
      .orderBy(col("ra_e6").desc, col("a").asc, col("b").asc)
      .limit(topK)
    // eager checkpoint so `und` can release before return (the Graph
    // lifecycle); materialize=false keeps the plan visible for audits —
    // the caller then owns the persist lifecycle
    if (!materialize) return ranked
    val out = ranked.localCheckpoint(true)
    und.unpersist()
    out
  }
}
