package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Integer fixed-point PageRank (ops.Graph). */
class GraphSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("star graph: hub out-ranks leaves, leaves tie exactly") {
    val e = Graph.undirected(edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val r = Graph.pageRank(e, iters = 3).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r.size == 5)
    val leaves = Seq(1L, 2L, 3L, 4L).map(r)
    assert(leaves.distinct.size == 1, s"symmetric leaves must tie exactly: $r")
    assert(r(0L) > leaves.head, s"hub must out-rank leaves: $r")
  }

  test("pageRankDirected: no-in-link nodes hold teleport, in-mass exact, dangling out-mass dropped") {
    import spark.implicits._
    val base = snapshotBlocks()
    // 1 -> 2, 1 -> 3, 2 -> 3; node 3 dangles (no out-edges)
    val got = Graph.pageRankDirected(edges((1L, 2L), (1L, 3L), (2L, 3L)), iters = 2)
      .as[(Long, Long)].collect().toMap
    val S = Graph.RankScale; val B = Graph.TeleportBase
    def c(r: Long, d: Long) = r * 85 / (100 * d)
    // hand-unrolled: node 1 never receives (holds teleport every round);
    // node 3's rank never feeds anything (dangling mass dropped)
    val r1 = Map(1L -> B, 2L -> (B + c(S, 2)), 3L -> (B + c(S, 2) + c(S, 1)))
    val r2 = Map(1L -> B, 2L -> (B + c(r1(1L), 2)),
      3L -> (B + c(r1(1L), 2) + c(r1(2L), 1)))
    assert(got == r2, s"got $got expected $r2")
    assertNoLeakedBlocks("pageRankDirected", base)
  }

  test("hits: mutual reinforcement hand-unrolled, pure hubs and pure authorities separate") {
    import spark.implicits._
    val base = snapshotBlocks()
    // 1 -> 3, 2 -> 3, 3 -> 4: 1 and 2 are pure hubs, 4 a pure authority,
    // 3 is both (the strong authority and a weak hub)
    val got = Graph.hits(edges((1L, 3L), (2L, 3L), (3L, 4L)), iters = 2)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val S = Graph.RankScale
    // iter1: a(3)=2S, a(4)=S -> max-norm a(3)=S, a(4)=S/2;
    //        h(1)=h(2)=S, h(3)=S/2 -> norm unchanged.
    // iter2: a(3)=2S, a(4)=S/2 -> a(3)=S, a(4)=S/4;
    //        h(1)=h(2)=S, h(3)=S/4.
    val want = Map(
      1L -> ((S, 0L)), 2L -> ((S, 0L)),
      3L -> ((S / 4, S)), 4L -> ((0L, S / 4)))
    assert(got == want, s"got $got want $want")
    assertNoLeakedBlocks("hits", base)
  }

  test("regular graph: ranks stay at the uniform fixed point (exact ties)") {
    // 4-cycle: every node degree 2 — rank must stay identical everywhere
    val e = Graph.undirected(edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    val ranks = Graph.pageRank(e, iters = 3).select(col("rank"))
      .distinct().collect().map(_.getLong(0))
    assert(ranks.length == 1, s"regular graph must have one rank value, got ${ranks.toSeq}")
  }

  test("rank mass is conserved up to floor loss") {
    val e = Graph.undirected(edges((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (4L, 0L)))
    val n = 5L
    val total = Graph.pageRank(e, iters = 3).agg(sum(col("rank"))).head().getLong(0)
    val exact = n * Graph.RankScale
    // each iteration loses < 1 unit per (edge, node) to floor division
    assert(total <= exact && total > exact - 1000L,
      s"mass $total vs exact $exact — integer PageRank only loses floor dust")
  }

  test("pageRank and triangles release every cached block before returning") {
    import spark.implicits._
    val base = snapshotBlocks()
    val e = Graph.undirected(edges((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)))
    Graph.pageRank(e, iters = 3).count()
    assertNoLeakedBlocks("pageRank", base)
    val pairs = (for { a <- 1 to 5; b <- (a + 1) to 5 } yield (a.toLong, b.toLong))
      .toDF("u", "v")
    Graph.triangles(pairs).count()
    assertNoLeakedBlocks("triangles", base)
  }

  test("triangle counting: K4 exact, stars zero, orientation counts each triangle once") {
    import spark.implicits._
    def tri(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Graph.triangles(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for { a <- 1 to 4; b <- (a + 1) to 4 } yield (a.toLong, b.toLong))
      .toDF("u", "v")
    assert(tri(k4) == (1 to 4).map(i => i.toLong -> 3L).toMap)
    // a star has wedges but no closures — and its hub must not blow up
    val star = (2 to 30).map(i => (1L, i.toLong)).toDF("u", "v")
    assert(tri(star).isEmpty)
    // one triangle + pendant edge, given in mixed orientations/duplicates
    val g = Seq((2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (3L, 4L)).toDF("u", "v")
    assert(tri(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("label propagation: disjoint cliques each converge to their min id, blocks released") {
    val base = snapshotBlocks()
    // two triangles {0,1,2} and {10,11,12} plus a pendant 3–2
    val e = Graph.undirected(edges(
      (0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)))
    val out = Graph.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // clique nodes all vote each other's labels; min-label tie-break
    // floods 0 through the first component and 10 through the second
    assert(out(0L) === 0L && out(1L) === 0L && out(2L) === 0L && out(3L) === 0L)
    assert(out(10L) === 10L && out(11L) === 10L && out(12L) === 10L)
    assertNoLeakedBlocks("labelPropagation", base)
  }

  test("label propagation is synchronous: one round moves labels exactly one hop") {
    // path 0–1–2: after ONE round each node adopts its neighbors' min
    // initial label (0→1's label... 1 has neighbors {0,2} → 0; 0 has {1} → 1)
    val e = Graph.undirected(edges((0L, 1L), (1L, 2L)))
    val out = Graph.labelPropagation(e, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 1L, 1L -> 0L, 2L -> 1L),
      s"synchronous single-round semantics violated: $out")
  }

  private def bfs(e: org.apache.spark.sql.DataFrame, srcs: Long*) = {
    import spark.implicits._
    Graph.bfsHops(e, srcs.toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("bfs: exact hop distances on a path graph, unreachable absent") {
    // 1-2-3-4-5 and isolated pair 8-9: from {1}, 5 is 4 hops (> maxHops)
    val e = Graph.undirected(edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)))
    val out = bfs(e, 1L)
    assert(out === Map(1L -> ((0L, 1L)), 2L -> ((1L, 1L)), 3L -> ((2L, 1L)),
      4L -> ((3L, 1L))), s"path distances wrong: $out")
  }

  test("bfs: equidistant node takes the smallest landmark, not the closest-first") {
    // 3 is 1 hop from both landmarks 2 and 6 -> landmark must be 2
    val e = Graph.undirected(edges((2L, 3L), (6L, 3L), (6L, 7L)))
    val out = bfs(e, 6L, 2L)
    assert(out(3L) === ((1L, 2L)), s"tie must break to landmark 2: $out")
    assert(out(7L) === ((1L, 6L)))
    assert(out(2L) === ((0L, 2L)) && out(6L) === ((0L, 6L)))
  }

  test("bfs: a landmark inside another's neighborhood stays its own (hops 0)") {
    val e = Graph.undirected(edges((1L, 2L), (2L, 3L)))
    val out = bfs(e, 1L, 2L)
    assert(out === Map(1L -> ((0L, 1L)), 2L -> ((0L, 2L)), 3L -> ((1L, 2L))))
  }

  test("bfs: no leaked cached blocks after the frontier loop") {
    val base = snapshotBlocks()
    val e = Graph.undirected(edges((1L, 2L), (2L, 3L)))
    bfs(e, 1L)
    assertNoLeakedBlocks("bfsHops", base)
  }

  private def predict(pairs: (Long, Long)*)(cap: Int = 30) = {
    import spark.implicits._
    Graph.linkPrediction(pairs.toDF("u", "v"), maxCenterDeg = cap, topK = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
  }

  test("link prediction: square scores both diagonals, path halves, ties to smaller pair") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) each share two deg-2
    // neighbours -> ra = 2 * (1e6 div 2) = 1000000, tie -> (1,3) first
    val sq = predict((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))()
    assert(sq == Seq((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // path 1-2-3: one deg-2 common neighbour -> 500000
    assert(predict((1L, 2L), (2L, 3L))() == Seq((1L, 3L, 1L, 500000L)))
    // triangle: every pair already an edge -> nothing to predict
    assert(predict((1L, 2L), (2L, 3L), (1L, 3L))().isEmpty)
  }

  test("link prediction: hub centers above the degree cap are truncated, blocks released") {
    val base = snapshotBlocks()
    // star: hub 10 joins leaves 1..5; with cap 3 the only possible center
    // (deg 5) is dropped -> no predictions; with cap 5 all C(5,2) pairs
    // appear at 1e6 div 5 each
    val star = (1L to 5L).map(l => (10L, l))
    assert(predict(star: _*)(cap = 3).isEmpty)
    val full = predict(star: _*)(cap = 5)
    assert(full.size == 10 && full.forall(r => r._3 == 1L && r._4 == 200000L))
    assertNoLeakedBlocks("linkPrediction", base)
  }
}
