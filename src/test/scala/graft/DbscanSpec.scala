package graft

import graft.operators.Vectors

/** [[Vectors.dbscan]] semantics: the core/border/noise trichotomy on a
  * hand-built geometry, and exactness of the annulus-pruned ε-join against a
  * brute-force all-pairs reference on pseudo-random points (the pruning must
  * lose NOTHING — that is its contract vs an LSH prefilter).
  */
class DbscanSpec extends SparkTestBase {
  import spark.implicits._

  private val pivot = Seq(Seq(5.0, 5.0))

  test("dbscan: hand geometry — tight quad is core, outlier arm is border, far point is noise") {
    // quad at the origin (pairwise ≤ ~0.14): 4 points, each with 3 ε-nbrs →
    // all core at minPts=3; (0.3, 0) reaches two quad points (0.2, 0.224)
    // but only 2 nbrs → border; (1, 1) reaches nothing → noise
    val pts = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(0.1, 0.0)),
      (3L, Seq(0.0, 0.1)), (4L, Seq(0.1, 0.1)),
      (5L, Seq(0.3, 0.0)), (6L, Seq(1.0, 1.0))
    ).toDF("id", "v")
    val got = Vectors.dbscan(pts, "id", "v", eps = 0.25, minPts = 3, pivot,
        selfInclusive = false)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, 1L, "core"), (2L, 1L, "core"), (3L, 1L, "core"), (4L, 1L, "core"),
      (5L, 1L, "border"), (6L, -1L, "noise")), got.toString)
    // convention parity: the default (Ester et al. / sklearn, x ∈ N_ε(x))
    // at minPts+1 is the same clustering — a sklearn min_samples value
    // ports with NO adjustment under the default
    val gotIncl = Vectors.dbscan(pts, "id", "v", eps = 0.25, minPts = 4, pivot)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(gotIncl == got, gotIncl.toString)
    // sklearn min_samples = 1: every point is core, noise impossible —
    // the inclusive threshold must cover points with ZERO ε-neighbors,
    // and an isolated core point must form a SINGLETON cluster labeled by
    // its own id (not -1, not dropped)
    val gotOne = Vectors.dbscan(pts, "id", "v", eps = 0.25, minPts = 1, pivot)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(gotOne.forall(_._3 == "core"), gotOne.toString)
    assert(gotOne.find(_._1 == 6L).map(_._2).contains(6L),
      s"isolated core point must be its own singleton cluster: $gotOne")
  }

  test("dbscan: annulus pruning is exact — roles and clusters match a brute-force ε-graph") {
    // deterministic pseudo-random 2-D points spread over several annuli
    val pts = (0L until 220L).map { i =>
      val a = ((i * 2654435761L) % 1000L).toDouble / 500.0 // 0..2
      val b = ((i * 40503L + 7L) % 1000L).toDouble / 500.0
      (i, Seq(a, b))
    }
    val df = pts.toDF("id", "v")
    val eps = 0.18 // 124 core / 7 border / 89 noise at this density
    val minPts = 3
    val got = Vectors.dbscan(df, "id", "v", eps, minPts, pivot,
        selfInclusive = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toMap2
    // brute-force reference, plain Scala
    def d2(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum
    val nbrs = pts.map { case (i, v) =>
      i -> pts.filter { case (j, w) => j != i && d2(v, w) <= eps * eps }.map(_._1)
    }.toMap
    val core = nbrs.filter(_._2.size >= minPts).keySet
    // connected components over core-core edges (BFS)
    var cluster = Map.empty[Long, Long]
    core.toSeq.sorted.foreach { s =>
      if (!cluster.contains(s)) {
        var frontier = Set(s); var comp = Set(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(nbrs(_)).filter(core)
            .diff(comp)
          comp ++= frontier
        }
        val label = comp.min
        comp.foreach(v => cluster += v -> label)
      }
    }
    val expected = pts.map { case (i, _) =>
      if (core(i)) (i, cluster(i), "core")
      else {
        val coreNbrs = nbrs(i).filter(core)
        if (coreNbrs.nonEmpty) (i, coreNbrs.map(cluster).min, "border")
        else (i, -1L, "noise")
      }
    }.map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == expected, "pruned ε-join diverged from brute force")
    assert(core.nonEmpty && expected.values.exists(_._2 == "border") &&
      expected.values.exists(_._2 == "noise"),
      "fixture must exercise all three roles")
    // multi-pivot intersection must not change the result: the composite
    // key only PRUNES candidate pairs, never the true ε-neighbors
    val got2 = Vectors.dbscan(df, "id", "v", eps, minPts,
        Seq(Seq(5.0, 5.0), Seq(-3.0, 4.0)), selfInclusive = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toMap2
    assert(got2 == expected, "2-pivot dbscan diverged from brute force")
    // candidate-set algebra: 2-pivot candidates ⊆ 1-pivot candidates, and
    // BOTH contain every true ε-pair (exactness of the pruning)
    def candSet(pivots: Seq[Seq[Double]]): Set[(Long, Long)] =
      Vectors.annulusCandidatePairs(df, "id", "v", eps, pivots)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c1 = candSet(Seq(Seq(5.0, 5.0)))
    val c2 = candSet(Seq(Seq(5.0, 5.0), Seq(-3.0, 4.0)))
    val truePairs = (for {
      (i, v) <- pts; (j, w) <- pts
      if i < j && d2(v, w) <= eps * eps
    } yield (i, j)).toSet
    assert(c2.subsetOf(c1), "second pivot must only prune")
    assert(truePairs.subsetOf(c2) && truePairs.subsetOf(c1),
      "annulus pruning dropped a true ε-pair")
    assert(c2.size < c1.size, "fixture must show actual pruning")
  }

  private implicit class RowsToMap(rows: Array[(Long, Long, String)]) {
    def toMap2: Map[Long, (Long, String)] =
      rows.map(t => t._1 -> (t._2, t._3)).toMap
  }
}
