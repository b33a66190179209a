package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: hand-computed values, partitioning-independence
  * (the property the integer arithmetic exists to guarantee). */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  // symmetric path 1—2—3: deg(1)=deg(3)=1, deg(2)=2
  private def pathEdges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    .toDF("src", "dst")

  test("pagerank: one iteration matches hand-computed fixed-point values") {
    // r0 = 10^12 div 3 = 333333333333; base = (15*r0) div 100 = 49999999999
    // s(1) = s(3) = r0 div 2 = 166666666666; s(2) = 2 * (r0 div 1)
    // r1(1) = r1(3) = 49999999999 + (85*166666666666) div 100 = 191666666665
    // r1(2) = 49999999999 + (85*666666666666) div 100 = 616666666665
    val got = Graph.pagerankFixedPoint(pathEdges, 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 191666666665L), (2L, 616666666665L), (3L, 191666666665L)))
  }

  test("pagerank: bit-identical under adversarial repartitioning") {
    val base = Graph.pagerankFixedPoint(pathEdges, 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val re = Graph.pagerankFixedPoint(pathEdges.repartition(13), 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(re == base)
    // total mass stays within truncation loss of SCALE (sanity on semantics)
    val total = base.map(_._2).sum
    assert(total <= Graph.Scale && total > Graph.Scale - 1000L)
  }

  test("pagerank: a source-only node keeps its teleport base rank, never vanishes") {
    // 1 ⇄ 2 plus 3 → 1: node 3 has out-edges but NO in-edges
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pagerankFixedPoint(edges, 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L),
      s"node 3 must stay in the rank relation across rounds: $got")
    val base = (15L * (Graph.Scale / 3)) / 100L
    assert(got.find(_._1 == 3L).get._2 == base,
      "a node nobody points at holds exactly the teleport base")
  }

  test("kcore: a K4 clique survives k=3 peeling, its pendant chain dies round by round") {
    // K4 (degree 3 each) + chain 4-5-6: node 6 (deg 1) dies in round 1,
    // node 5 in round 2 (its degree fell to 1), then K4 is the fixpoint
    val und = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.kcorePeel(edges, k = 3, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // round 1: {1,2,3,4} pass deg>=3 (4 has deg 4); 5 (2), 6 (1) drop
    // round 2+: K4 stable — 4 nodes, 12 directed edges
    assert(got == Seq((1L, 4L, 12L), (2L, 4L, 12L), (3L, 4L, 12L)), s"got $got")
  }

  test("meanCorePeel: star leaves die at the mean gate, empty graph is stable") {
    // star 1-{2..6}: center directed deg 5, leaves 1; mean = 10/6 → round 1
    // keeps only the center; its edges all vanish → rounds 2-3 are empty
    val und = (2L to 6L).map(l => (1L, l))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = Graph.meanCorePeel(edges, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 0L), (2L, 0L, 0L), (3L, 0L, 0L)), s"got $got")
  }

  test("triangles: K4 plus a pendant edge yields exactly the 4 K4 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 :+ ((4L, 5L))).toDF("u", "v")
    val got = Graph.triangles(edges)
      .orderBy("n1", "n2", "n3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    // each triangle surfaces exactly once — no orientation double-count
    assert(got.distinct.size == got.size)
  }
  test("bfsLayers: path-graph distances, hop cap, and unreached census") {
    // undirected path 1-2-3-4-5 plus a disconnected edge 8-9
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val out = Graph.bfsLayers(edges, Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // 1@0, 2@1, 3@2, 4@3; node 5 needs hop 4 and 8/9 are disconnected
    assert(out == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, -1 -> 3L), s"got $out")
  }

  test("iterative family: plan depth is CONSTANT in the superstep count") {
    // The 100×-scale property the per-superstep localCheckpoint buys: the
    // analyzed plan of round k must not embed the plans of rounds 1..k-1.
    // Depth is measured on the analyzed logical plan; a missing checkpoint
    // makes depth grow linearly in iterations and this goes red.
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      1 + (if (p.children.isEmpty) 0
           else p.children.map(c =>
             depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    def planDepths(iters: Int): (Int, Int, Int) = (
      depth(Graph.bfsLayers(edges, Seq(1L).toDF("id"), iters)
        .queryExecution.analyzed),
      depth(Graph.labelPropagation(edges, iters).queryExecution.analyzed),
      depth(Graph.pagerankFixedPoint(edges, iters).queryExecution.analyzed))
    val (b2, l2, p2) = planDepths(2)
    val (b6, l6, p6) = planDepths(6)
    assert(b6 == b2, s"bfsLayers plan depth grew with hops: $b2 -> $b6")
    assert(l6 == l2, s"labelPropagation plan depth grew with iters: $l2 -> $l6")
    assert(p6 == p2, s"pagerank plan depth grew with iters: $p2 -> $p6")
  }

  test("assortativity: star K1,3 is exactly -1, path P4 is exactly -0.5") {
    // star: every edge joins excess degrees (2, 0) → perfect disassortativity
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val s = Graph.assortativityMoments(star).head
    assert(s.getAs[Double]("assortativity") == -1.0, s"star: $s")
    // P4 1-2-3-4: excess pairs (0,1)x2,(1,0)x2,(1,1)x2 →
    // n=6 sx=4 sxx=4 sxy=2 → r = (12-16)/(24-16) = -0.5
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val p = Graph.assortativityMoments(p4).head
    assert(p.getAs[Long]("n") == 6L && p.getAs[Long]("sx") == 4L &&
      p.getAs[Long]("sxx") == 4L && p.getAs[Long]("sxy") == 2L, s"P4 moments: $p")
    assert(p.getAs[Double]("assortativity") == -0.5, s"P4: $p")
  }

  test("perSourceBfsCensus: path P5 hop counts per probe root, exact harmonic ×6") {
    // undirected path 1—2—3—4—5, probes {1, 3}:
    //   root 1: hop1={2} hop2={3} hop3={4}   → h6 = 6+3+2 = 11
    //   root 3: hop1={2,4} hop2={1,5} hop3=∅ → h6 = 12+6  = 18
    val p5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val seeds = Seq(1L, 3L).toDF("id")
    val got = Graph.perSourceBfsCensus(p5, seeds, maxHops = 3)
      .orderBy("root", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1, 1L), (1L, 2, 1L), (1L, 3, 1L),
      (3L, 1, 2L), (3L, 2, 2L)), s"got $got")
  }

  test("commonNeighborPairs: C4 diagonals score cn=2 jaccard=1, edges are excluded") {
    // cycle 1-2-3-4-1: the only non-adjacent pairs are the two diagonals,
    // each sharing BOTH neighbors → Jaccard exactly 1
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v")
    val got = Graph.commonNeighborPairs(c4).orderBy("p", "q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("jaccard"))).toSeq
    assert(got == Seq((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)), s"got $got")
  }

  test("graph_degree_histogram: bit-length binning replayed on the real graph") {
    val rows = Registry.all("graph_degree_histogram").fn(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // replay: degrees from the deduped co-purchase expansion
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degs = li.groupBy(_._1).values.toSeq
      .flatMap { g =>
        val ps: Seq[Long] = g.map(_._2).distinct.toSeq
        for (a <- ps; b <- ps if a != b) yield (a, b)
      }.distinct.groupBy(_._1).map(_._2.size.toLong).toSeq
    val bins = degs.groupBy(d => 64L - java.lang.Long.numberOfLeadingZeros(d))
    rows.foreach { case (bin, (lo, n, tot, mn, mx)) =>
      val ds = bins(bin)
      assert(lo == (1L << (bin - 1)), s"bin $bin lower bound")
      assert(n == ds.size.toLong && tot == ds.sum
        && mn == ds.min && mx == ds.max, s"bin $bin census mismatch")
      assert(mn >= lo && mx < 2 * lo, s"bin $bin contains out-of-range degree")
    }
    assert(rows.length == bins.size, "bin count mismatch")
  }

  test("stressCentrality: diamond and path closed forms, σ·g counts interior paths") {
    // Diamond 1-2-4, 1-3-4 (undirected), root 1: σ(2)=σ(3)=1, σ(4)=2;
    // g(4)=0 (horizon interiorless), g(2)=g(3)=1 (one continuation each).
    // stress: node 2 = 1 (path 1-2-4), node 3 = 1, node 4 = 0.
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val d = Graph.stressCentrality(diamond, Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(d == Seq((2L, 1, 1L, 1L), (3L, 1, 1L, 1L), (4L, 2, 2L, 0L)),
      s"diamond got $d")

    // Path 1-2-3-4, roots {1, 4}: from 1, stress(2)=2 (1-2-3, 1-2-3-4)
    // and stress(3)=1; mirrored from 4. Per-node totals: 2→3, 3→3.
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val st = Graph.stressCentrality(p4, Seq(1L, 4L).toDF("id"), maxHops = 3)
      .groupBy(col("id"))
      .agg(sum(col("sigma") * col("g")).as("stress"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(st == Seq((1L, 0L), (2L, 3L), (3L, 3L), (4L, 0L)), s"p4 got $st")

    // multi-edge robustness: duplicating every edge must not change σ or g
    val dup = Graph.stressCentrality(
      diamond.unionAll(diamond), Seq(1L).toDF("id"), maxHops = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(dup == d, "duplicate edges inflated path counts")
  }

  test("hashWalks: deterministic across runs, hop-count structure") {
    import org.apache.spark.sql.functions._
    val e = {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    }
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 1000 === 0).orderBy(col("id")).limit(4)
    def run() = graft.operators.Graph.hashWalks(e, seeds, steps = 3,
        walksPerSeed = 2)
      .orderBy(col("seed"), col("walk_r")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val w1 = run(); val w2 = run()
    assert(w1.nonEmpty && w1.toSeq == w2.toSeq,
      "the hash-keyed walk must be bit-identical across runs")
    w1.foreach { case (seed, _, path, end) =>
      val hops = path.split("->")
      assert(hops.length == 4, s"3 steps = 4 nodes, got $path")
      assert(hops.head.toLong == seed && hops.last.toLong == end)
    }
  }

  // undirected helper: emit both directions
  private def undirected(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("louvainSync: disjoint triangles each collapse to their min-id community") {
    val e = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)))
    val got = Graph.louvainSync(e, 2)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)),
      s"each triangle is its own community labeled by its min id: $got")
  }

  test("louvainSync: assignment is total, degree column exact, and bit-identical under repartitioning") {
    val e = undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L)))
    val base = Graph.louvainSync(e, 2)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base.map(_._1) == (1L to 6L), "every node assigned exactly once")
    assert(base.map(_._3) == Seq(2L, 2L, 3L, 3L, 2L, 2L), "degrees ride along")
    val re = Graph.louvainSync(e.repartition(13), 2)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(re == base, "integer gain argmax must be partitioning-invariant")
  }
}
