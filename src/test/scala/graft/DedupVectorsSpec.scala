package graft

import graft.operators.{Graph, Vectors}
import org.apache.spark.sql.functions._

/** Vector-search semantics (ANN-vs-exact agreement, upsert determinism)
  * and cluster resolution over near-dup pairs.
  */
class DedupVectorsSpec extends SparkTestBase {
  import spark.implicits._

  test("covarianceMatrix one-pass aggregate: hand-recompute parity, ragged rows skipped") {
    val rows = Seq(Seq(0.1f, -0.2f, 0.3f), Seq(0.0f, 0.5f, -0.1f),
      Seq(0.2f, 0.2f, 0.2f))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      // a ragged row must be skipped, not corrupt the sums
      .unionByName(Seq((99L, Seq(0.9f, 0.9f))).toDF("vec_id", "embedding"))
    val got = Vectors.covarianceMatrix(df, "embedding").orderBy("i", "j").collect()
    def q(x: Float): Long = math.floor(x.toDouble * 100000.0).toLong
    val vs = rows.map(_.map(q))
    assert(got.length == 6)
    var idx = 0
    for (i <- 0 until 3; j <- i until 3) {
      val r = got(idx)
      val sxy = vs.map(v => v(i) * v(j)).sum
      val sx = vs.map(_(i)).sum
      val sy = vs.map(_(j)).sum
      assert(r.getLong(0) == i && r.getLong(1) == j)
      assert(r.getLong(2) == 3L, "ragged row must not count")
      assert(r.getDecimal(3).longValueExact == sxy, s"sxy($i,$j)")
      val cov = (sxy.toDouble / 1.0e10
        - sx.toDouble / 1.0e5 * (sy.toDouble / 1.0e5) / 3.0) / 3.0
      assert(r.getDouble(4) == cov, s"cov($i,$j)")
      idx += 1
    }
  }

  test("IVF kNN results are a subset of the exact L2 scan, same ordering") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = emb.filter(col("vec_id") % 97 === 3)
      .orderBy(col("vec_id")).limit(16)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val ivf = Vectors.ivfKnn(emb, "vec_id", "embedding", centroids, q, 10, 4)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = Vectors.knn(emb, "vec_id", "embedding", q, "euclidean", 50)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ivf.nonEmpty)
    assert(ivf.toSet.subsetOf(exact.toSet))
    // order within the probed subset must agree with the exact ranking
    assert(exact.filter(ivf.contains) == ivf)
    // the query vector itself (distance 0) is always in its own probe list
    assert(ivf.head == 0L)
  }

  test("ivfAssignExpr: two centroid sets in one projection == two ivfAssign passes") {
    // the identity behind v3_ivf_balance's single-scan census (r14): the
    // assignment is a row-local argmin, so evaluating two sets as columns
    // of one projection must reproduce each set's own ivfAssign output
    val emb = Tables.embeddings(spark, sfDir)
    def cents(mod: Long) = emb.filter(col("vec_id") % 97 === mod)
      .orderBy(col("vec_id")).limit(8)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val (ca, cb) = (cents(3), cents(5))
    val fused = emb.select(col("vec_id"),
        Vectors.ivfAssignExpr(col("embedding"), ca).as("cid_a"),
        Vectors.ivfAssignExpr(col("embedding"), cb).as("cid_b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((cs, pick) <- Seq(ca -> ((p: (Long, Long)) => p._1),
                           cb -> ((p: (Long, Long)) => p._2))) {
      val solo = Vectors.ivfAssign(emb, "embedding", cs)
        .select(col("vec_id"), col("ivf_cid"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(solo.size == fused.size)
      solo.foreach { case (id, cid) => assert(pick(fused(id)) == cid, s"vec $id") }
    }
  }

  test("PQ: codebook rows self-encode; ADC top-k is deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val samples = emb.filter(col("vec_id") % 97 === 3)
      .orderBy(col("vec_id")).limit(16)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
    val codebooks = samples.map(_.getSeq[Double](1).toSeq).toSeq
    val firstId = samples.head.getLong(0)
    // the row the first codebook entry was sampled from has all-zero
    // subspace distances to entry 1 → codes all 1
    val codes = Vectors.pqEncode(emb.filter(col("vec_id") === firstId),
        "embedding", codebooks, 8)
      .select(col("pq_code")).head.getSeq[Int](0)
    assert(codes == Seq.fill(8)(1))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val run = () => Vectors.pqSearch(emb, "vec_id", "embedding", codebooks, 8, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val r1 = run()
    assert(r1.size == 10 && r1.forall(_._2 >= 0.0))
    assert(r1 == run())
  }

  test("ANN kNN results are a subset of the exact scan, same ordering") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".cast("array<double>"))
      .head.getSeq[Double](0)
    val exact = Vectors.knn(emb, "vec_id", "embedding", q, "cosine", 100)
      .select("vec_id", "distance").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Vectors.annKnn(emb, "vec_id", "embedding", 64, q, 10, nPlanes = 4)
      .select("vec_id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.nonEmpty)
    // every ANN hit carries the same distance the exact scan assigns it
    ann.foreach { case (id, d) => assert(exact.get(id).forall(_ == d)) }
    // the query vector itself lands in its own bucket → distance 0 at rank 1
    assert(ann.head._1 == 0L && ann.head._2 == 0.0)
    // multi-probe widens the candidate set: its top-k is at least as close
    // to the exact ranking as the single-bucket top-k (recall recovery)
    val multi = Vectors.annKnn(emb, "vec_id", "embedding", 64, q, 10,
      nPlanes = 4, multiProbe = 2)
      .select("vec_id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(multi.map(_._1).toSet.contains(0L))
    assert(multi.map(_._2).max <= ann.map(_._2).max)
    multi.foreach { case (id, d) => assert(exact.get(id).forall(_ == d)) }
  }

  test("binary-sketch kNN: query self-match, exact distances, partition-stable") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".cast("array<double>"))
      .head.getSeq[Double](0)
    val bin = Vectors.binaryKnn(emb, "vec_id", "embedding", q, topK = 10,
        candidates = 50)
      .select("vec_id", "hamming", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(bin.length == 10)
    // the query's own sketch is at hamming 0 → it must survive the filter
    // and re-rank to the top with distance 0
    assert(bin.head._1 == 0L && bin.head._2 == 0L && bin.head._3 == 0.0)
    // re-ranked distances must be the EXACT scan's values for those ids
    val exact = Vectors.knn(emb, "vec_id", "embedding", q, "cosine", 100)
      .select("vec_id", "distance").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    bin.foreach { case (id, _, d) => assert(exact.get(id).forall(_ == d)) }
    // integer hamming cut → result independent of partitioning
    val rep = Vectors.binaryKnn(emb.repartition(13), "vec_id", "embedding", q,
        topK = 10, candidates = 50)
      .select("vec_id", "hamming", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep.toSeq == bin.toSeq)
  }

  test("farthestPointInit matches a local Gonzalez recompute; radii non-increasing") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Vectors.farthestPointInit(emb, "vec_id", "embedding", 5)
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // local reference
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var chosen = List((all.head._1, all.head._2, 0.0))
    val dist = scala.collection.mutable.Map(all.map(v => v._1 -> l2(v._2, all.head._2)): _*)
    for (_ <- 2 to 5) {
      val (nid, nd) = dist.toSeq.maxBy { case (id, d) => (d, -id) }
      val ne = all.find(_._1 == nid).get._2
      chosen = (nid, ne, nd) :: chosen
      all.foreach { case (id, e) => dist(id) = math.min(dist(id), l2(e, ne)) }
    }
    val expected = chosen.reverse.zipWithIndex.map { case ((cid, _, r), i) =>
      (i + 1, cid, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == expected)
    // coverage radius never grows as centers are added
    val radii = got.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse)
  }

  test("kmeansPlusPlusInit matches a local inverse-CDF replay") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Vectors.kmeansPlusPlusInit(emb, "vec_id", "embedding", 5)
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def l2(a: Array[Double], b: Array[Double]): BigDecimal = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val fracs = Vectors.kppFracs(5)
    // round 1: uniform inverse CDF — first rank reaching frac*n
    val tau1 = fracs.head * BigDecimal(all.length)
    val first = all(all.indices.find(i => BigDecimal(i + 1) >= tau1).get)
    var chosen = List((first._1, first._2, BigDecimal(0)))
    val dist = scala.collection.mutable.LinkedHashMap(
      all.map(v => v._1 -> l2(v._2, first._2)): _*)
    for (j <- 2 to 5) {
      val total = dist.values.sum
      val tau = fracs(j - 1) * total
      var cum = BigDecimal(0)
      val (nid, nd) = dist.toSeq.collectFirst {
        case (id, d) if { cum += d; cum >= tau } => (id, d)
      }.get
      val ne = all.find(_._1 == nid).get._2
      chosen = (nid, ne, nd) :: chosen
      all.foreach { case (id, e) => dist(id) = dist(id) min l2(e, ne) }
    }
    val expected = chosen.reverse.zipWithIndex
      .map { case ((cid, _, d2), i) => (i + 1, cid, d2.toDouble) }
    assert(got == expected)
    // distinct centroids, and the uniform first pick is NOT simply min-id
    assert(got.map(_._2).distinct.size == 5)
  }

  test("farthestPointInit edge guards: k >= 1, empty input, k > distinct rows") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    intercept[IllegalArgumentException] {
      Vectors.farthestPointInit(emb, "vec_id", "embedding", 0)
    }
    intercept[IllegalArgumentException] {
      Vectors.farthestPointInit(emb.limit(0), "vec_id", "embedding", 3)
    }
    // 3 distinct points, k = 5: stops at 3 centroids instead of emitting
    // duplicate radius-0 centers
    val three = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)),
      (4L, Seq(0.0, 0.0))) // duplicate of point 1
      .toDF("vec_id", "embedding")
    val got = Vectors.farthestPointInit(three, "vec_id", "embedding", 5)
      .orderBy(col("k")).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got.map(_._1) == Seq(1, 2, 3))
    assert(got.map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("knnJoin with nProbe = all lists equals brute-force per-query top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = emb.filter(col("vec_id") % 97 === 3)
      .orderBy(col("vec_id")).limit(8)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val queries = emb.filter(col("vec_id") % 41 === 0)
    // probing every list removes the approximation: result must be exact
    val got = Vectors.knnJoin(queries, "vec_id", emb, "vec_id", "embedding",
        centroids, topK = 3, nProbe = centroids.size)
      .orderBy(col("q_key"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
    val brute = queries.select(col("vec_id").as("q_key"),
        col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(emb.select(col("vec_id").as("c_key"),
        col("embedding").cast("array<double>").as("c_emb")))
      .withColumn("distance", round(sqrt(
        graft.functions.VectorExprs.l2Sq(col("q_emb"), col("c_emb"))), 9) + 0.0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_key"), col("rnk"), col("c_key"))
      .orderBy(col("q_key"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got == brute)
  }

  test("resolveClusters: components labeled by min id, chains included") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Graph.resolveClusters(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // {1,2,3,7} is a chain (diameter 3) → all label 1; {10,11} → 10
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L),
      (10L, 10L), (11L, 10L)))
    // distributed pointer-jump path (threshold 0 forces it) agrees exactly
    val dist = Graph.resolveClusters(pairs, localEdgeThreshold = 0L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dist.toSeq == got.toSeq)
  }

  test("upsert is last-wins by priority and deterministic") {
    val batches = Seq((1L, "v1", 1), (1L, "v2", 2), (2L, "w1", 1))
      .toDF("key", "value", "priority")
    val got = Vectors.upsert(batches, "key", "priority")
      .orderBy("key").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "v2"), (2L, "w1")))
  }

  test("prototype prune: keeps the hard 70% per cluster, boundary distance exact") {
    // cluster 0 at (0,0): 10 points, distances 0.1..1.0 → keep ranks 1..7
    // (largest 7 distances 1.0..0.4), boundary = 0.4; cluster 1 at (10,0):
    // 3 points, floor(3·7/10)=2 kept (0.7, 0.6), boundary = 0.6
    val pts = (1 to 10).map(i => (i.toLong, Array(i / 10.0f, 0.0f))) ++
      Seq((21L, Array(10.5f, 0.0f)), (22L, Array(10.6f, 0.0f)),
        (23L, Array(10.7f, 0.0f)))
    val df = pts.toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0)))
    val got = Vectors.prototypePrune(df, "vec_id", "embedding", cents)
      .orderBy("cid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == Seq((0L, 10L, 7L), (1L, 3L, 2L)),
      s"got $got")
    // float 0.4f widens to ~0.4000000059…, round-9 keeps that exact value:
    // assert against the same widened literal, not the decimal 0.4
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0)._4 == r9(0.4f.toDouble) && got(1)._4 == r9(math.sqrt((10.6f.toDouble - 10.0) * (10.6f.toDouble - 10.0))),
      s"boundary distances: $got")
  }

  test("NN-descent: refinement never loses recall or degree, improves distance") {
    // By construction the descent re-ranks over a candidate SUPERSET of G0's
    // edges under a total (d9, key) order, so per node: degree can only
    // grow, recall@5 can only grow, and at equal degree the quantized
    // distance sum can only shrink. A violation means the candidate join or
    // the ranking lost an edge.
    val rows = Registry.all("v3_knn_graph_descent").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, n0, n1, r0, r1, d0, d1) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n1 >= n0 && n1 <= 5, s"node $q degree: n0=$n0 n1=$n1")
      assert(r1 >= r0 && r1 <= n1, s"node $q recall: r0=$r0 r1=$r1")
      if (n1 == n0) assert(d1 <= d0, s"node $q distance sum grew: $d0 -> $d1")
    }
    // the descent must actually do something on real data: some node
    // improves (recall or distance) across the corpus sample
    assert(rows.exists(r => r.getLong(4) > r.getLong(3) ||
      r.getLong(6) < r.getLong(5)),
      "descent round was a no-op on every sampled node")
  }

  test("HNSW layer census: exact geometric(1/2) identities") {
    val rows = Registry.all("v3_ann_hnsw_layers").fn(spark, sfDir)
      .orderBy(col("level")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.head._1 == 0)
    val total = rows.map(_._2).sum
    // cumulative identity: n_at_or_above(l) = sum of n_nodes at >= l
    rows.foreach { case (l, _, above, _) =>
      assert(above == rows.filter(_._1 >= l).map(_._2).sum,
        s"cumulative mismatch at level $l")
    }
    assert(rows.head._3 == total, "level 0 must see the whole corpus")
    // entry sets shrink strictly going up (until empty levels drop out)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 < a._3, s"upper layer must be smaller: $a vs $b")
    }
    // edge budget: 16/node at ground, 8/node above
    rows.foreach { case (l, n, _, eb) =>
      assert(eb == (if (l == 0) n * 16L else n * 8L))
    }
  }

  test("embedding_mmr_rerank: greedy picks match a literal Scala MMR replay") {
    // Third implementation: collect the corpus, fold the same left-to-right
    // dot products, round-9 like the query, run the textbook greedy loop.
    val got = Registry.all("embedding_mmr_rerank").fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    def cos(a: Array[Double], b: Array[Double]): Double =
      r9(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val qids = vecs.keys.filter(_ % 53 == 1).toSeq.sorted.take(4)
    qids.foreach { q =>
      val qv = vecs(q)
      val rel = vecs.map { case (id, e) => id -> cos(e, qv) }
      val cand = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(30)
      val candMap = cand.toMap
      var selected = List(cand.head._1)
      (2 to 8).foreach { _ =>
        val pick = cand.filterNot(c => selected.contains(c._1))
          .map { case (id, r) =>
            val mx = selected.map(s => cos(vecs(id), vecs(s))).max
            (id, 0.7 * r - 0.3 * mx)
          }
          .minBy { case (id, sc) => (-sc, id) }._1
        selected = selected :+ pick
      }
      val queryRows = got.filter(_._1 == q).sortBy(_._2)
      assert(queryRows.map(_._3).toList == selected,
        s"q=$q MMR sequence diverges: got ${queryRows.map(_._3).toList}, replay $selected")
      queryRows.foreach { case (_, _, id, relGot) =>
        assert(relGot == candMap(id), s"q=$q id=$id rel mismatch")
      }
    }
  }

}
