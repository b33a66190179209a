package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search — the S3Vectors-compatible surface (SURVEY §2.10,
  * reference src/storage/protocols/vector/adapter/pgvector/index.ts).
  *
  * The reference's semantic baseline is pgvector's *exact* scan (it falls back
  * to `enable_indexscan=off` for bridged HNSW, index.ts:666-683), so exact
  * brute-force kNN is correct by construction here; the HNSW index is a
  * latency optimization for point queries that a columnar scan replaces at
  * batch scale. The scale path is [[lshBuckets]]: hyperplane-LSH pre-bucketing
  * so a 100 TB corpus only scans matching buckets.
  *
  * Distance math is a codegen'd Catalyst expression
  * ([[graft.functions.VecDot]]/[[graft.functions.VecL2Sq]]) — numerically
  * identical to the `zip_with`+`aggregate` left-fold it replaces, but inside
  * whole-stage codegen instead of interpreted HOF fallback.
  */
object Vectors {

  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.vecDot(a, b)

  /** Quantized cosine distance ⌊(1 − cos)·1e9⌋ — the ANN family's exact
    * integer total-order scoring key, on the codegen [[VectorExprs.VecDot]]
    * kernel. Bit-identical to the HOF `aggregate(zip_with(...))` form it
    * replaced (r11): both sum strictly left-to-right from 0.0, and the norm
    * is the same kernel applied to (x, x) — but VecDot participates in
    * whole-stage codegen while SQL higher-order functions are
    * CodegenFallback (interpreted), which matters on candidate-pair
    * relations of millions of rows.
    *
    * Precondition for the bit-identity claim: x and y are equal-length with
    * non-null elements (every ANN call site uses fixed-dim non-null
    * embeddings, and PropertySpec's generator assumes the same). Outside it
    * the two forms intentionally differ: `zip_with` pads the shorter array
    * with nulls so the HOF aggregate returns NULL on a length mismatch or
    * null element, while VecDot truncates to the min length and returns a
    * number. */
  def quantizedCos9(x: Column, y: Column): Column = floor(
    (lit(1.0) - graft.functions.VectorExprs.vecDot(x, y) /
      (sqrt(graft.functions.VectorExprs.vecDot(x, x)) *
       sqrt(graft.functions.VectorExprs.vecDot(y, y))))
      * lit(1000000000.0)).cast("long")

  /** Cosine distance `1 - <a,q>/(|a||q|)` (pgvector `<=>`, halfvec_cosine_ops,
    * migrations/vector_store/0001-init.sql:34), on the one-pass
    * [[graft.functions.VecCosineDist]] kernel. A zero vector on either side
    * gives NaN, as pgvector's `cosine_distance` does; Spark orders NaN after
    * every number, so a zero vector ranks last in [[knn]] instead of
    * failing the query. */
  def cosineDistance(a: Column, q: Column): Column =
    graft.functions.VectorExprs.cosineDist(a, q)

  /** Euclidean distance (pgvector `<->`, halfvec_l2_ops). */
  def l2Distance(a: Column, q: Column): Column =
    sqrt(graft.functions.VectorExprs.l2Sq(a, q))

  /** V3 queryVectors: exact kNN — distance + TakeOrderedAndProject (a
    * distributed top-k heap, no global sort materializes). `distance` is
    * rounded to 9 dp: engines re-associate float summation differently, and a
    * deterministic output needs a stable (distance, key) order.
    * `metric` is `cosine` or `euclidean` (SURVEY V1); topK ≤ 100 (reference
    * vector/limits.ts:5). */
  def knn(vectors: DataFrame, keyCol: String, embCol: String,
          query: Seq[Double], metric: String = "cosine", topK: Int = 10): DataFrame = {
    require(metric == "cosine" || metric == "euclidean",
      s"metric must be cosine or euclidean, got '$metric'")
    require(topK >= 1 && topK <= graft.functions.Validators.MaxQueryTopK,
      s"topK must be between 1 and ${graft.functions.Validators.MaxQueryTopK}")
    val q = typedLit(query)
    val emb = col(embCol)
    val dist = metric match {
      case "euclidean" => l2Distance(emb, q)
      case _ => cosineDistance(emb, q)
    }
    vectors
      .withColumn("distance", round(dist, 9))
      .orderBy(col("distance"), col(keyCol))
      .limit(topK)
  }

  /** 1-bit binary-sketch ANN: sign bits as the candidate filter, exact
    * cosine re-rank of the survivors. The sketch is 32× smaller than the
    * float vectors — at 100 TB it is the relation that stays RAM-resident
    * while the full embeddings live on disk, and the Hamming scan is
    * integer work over it. Hamming distance is computed EXACTLY via
    * |a|₁ + |q|₁ − 2·⟨a,q⟩ over 0/1 vectors (integer-valued doubles — no
    * float risk), so the candidate cut at (hamming, key) is deterministic;
    * only the re-rank touches float distance (rounded like [[knn]]).
    * Two TakeOrderedAndProject top-k heaps, no global sort. */
  def binaryKnn(vectors: DataFrame, keyCol: String, embCol: String,
                query: Seq[Double], topK: Int = 10,
                candidates: Int = 50): DataFrame = {
    val q = typedLit(query)
    vectors
      .withColumn("hamming",
        graft.functions.VectorExprs.signHamming(col(embCol), q))
      .orderBy(col("hamming"), col(keyCol)).limit(candidates)
      .withColumn("distance", round(cosineDistance(col(embCol), q), 9))
      .orderBy(col("distance"), col(keyCol)).limit(topK)
  }

  /** NN-Descent kNN graph (a, b) — the exact construction
    * `v3_knn_graph_descent` builds and audits inline (two-table LSH seed,
    * top-`k` by the quantized-cosine (d9, b) total order, one
    * neighbor-of-neighbor round), factored out so the graph can be a STORED
    * index layout. `embCol` must already be `array<double>`.
    *
    * `nPlanes` controls the LSH seed fan-in: 2^nPlanes buckets, so the seed
    * self-join costs ~n²/2^nPlanes pairs. At a FIXED nPlanes the build is
    * quadratic in corpus size; holding bucket occupancy constant means
    * nPlanes ≈ log2(n / target_bucket_size), which keeps the build linear
    * (SCALE.md records the r11 scaling probe of exactly that regime). */
  def nnDescentKnnGraph(vectors: DataFrame, idCol: String, embCol: String,
                        k: Int = 5, nPlanes: Int = 4): DataFrame = {
    def d9(x: String, y: String): Column = quantizedCos9(col(x), col(y))
    val emb = vectors.select(col(idCol).as("vec_id"), col(embCol).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("d9"), col("b"))
    def bucketPairs(seed: Long) = {
      val wb = lshBuckets(emb, "v", 64, nPlanes = nPlanes, seed = seed)
      val l = wb.select(col("vec_id").as("a"), col("lsh_bucket").as("ba"))
      val r = wb.select(col("vec_id").as("b"), col("lsh_bucket").as("bb"))
      l.join(r, col("ba") === col("bb") && col("a") =!= col("b"))
        .select(col("a"), col("b"))
    }
    val g0 = bucketPairs(42L).union(bucketPairs(1337L)).distinct()
      .join(emb.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("d9", d9("va", "vb"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("a"), col("b"), col("d9")).persist()
    g0.count()
    val und = g0.select(col("a"), col("b"))
      .union(g0.select(col("b").as("a"), col("a").as("b"))).distinct()
    val cand = und.as("x").join(und.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("y.b").as("b"))
      .filter(col("a") =!= col("b"))
      .union(g0.select(col("a"), col("b"))).distinct()
    val g1 = cand
      .join(emb.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("d9", d9("va", "vb"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("a"), col("b"))
    val out = g1.localCheckpoint() // cut lineage before releasing g0
    g0.unpersist()
    out
  }

  /** Query-time beam search over a (stored, resident) kNN graph — the
    * serving path `v3_graph_beam_search` grades (reference walks its HNSW
    * the same way, pgvector/index.ts:740-805). `graph` = (a, b) K-regular
    * adjacency, `emb` = (vec_id, v), `queries` = (q, qv), `seeds` = (q, id)
    * entry candidates. Per round: beam ← top-`ef` of (beam ∪
    * neighbors(beam)) under the total (d9, id) order — no visited set
    * needed (deterministic idempotent scoring re-ranks revisits
    * identically). Returns the final beam (q, id, d9), ≤ ef rows/query.
    * Cost shape: each round joins a |queries|·ef relation against the
    * resident adjacency and embedding relations (SCALE.md r11 records the
    * corpus-size dependence of that probe). */
  /** The stored layout's bucket column name, `a_bkt_<B>` — SELF-DESCRIBING:
    * the probe side must re-derive `pmod(a, B)` with the EXACT B the writer
    * used, and reading B out of the column name (rather than a shared
    * compile-time constant) means a layout written under an older/other
    * bucket count can never silently mis-join — the r12 self-review caught
    * that a constant bump plus a pre-existing layout would have dropped
    * every hop where pmod(a, B_old) ≠ pmod(a, B_new). */
  private[graft] val KnnBucketColRe = "^a_bkt_(\\d+)$".r
  private[graft] def knnBucketCol(buckets: Int): String = s"a_bkt_$buckets"

  /** One beam-expansion hop: probe (q, a) against the adjacency, returning
    * (q, a, b[, a_bkt_B]). When the adjacency carries the stored layout's
    * bucket column ([[writeKnnGraphBucketed]] partitions by `a_bkt_<B>`),
    * the same bucket is derived on the tiny probe side — with B parsed
    * from the column name — and joined on; with the probe broadcast,
    * Catalyst's dynamic partition pruning turns the hop into a scan of
    * only the probed buckets instead of the full adjacency (the cluster
    * behavior SCALE.md claims; KnnGraphLayoutSpec pins the pruned plan).
    * A resident (persisted) graph or a bucketless adjacency takes the
    * plain key join; output content is identical either way (the bucket
    * is a pure function of a). */
  def graphHops(graph: DataFrame, probe: DataFrame): DataFrame =
    graph.columns.collectFirst { case c @ KnnBucketColRe(b) => (c, b.toInt) } match {
      case Some((bktCol, buckets)) =>
        // broadcast + the trivially-true comparison are plan-shaping for
        // Catalyst's PartitionPruning rule: it only plants a DPP subquery
        // when the filtering side is a reusable broadcast AND carries a
        // "likely selective" Filter node — the beam is ≤ |queries|·ef rows
        // (always broadcastable) but arrives as a checkpointed LogicalRDD
        // whose stats and filter lineage were erased, so both markers must
        // be restated. The derived bucket is cast to the layout's OWN
        // partition-column type (parquet partition inference yields
        // IntegerType for small values, pmod on a bigint id yields
        // LongType) so the equi-join never leans on an implicit coercion —
        // a Spark upgrade changing partition-type inference could silently
        // stop the DPP plant without any correctness failure (r12 ADVICE).
        broadcast(probe
            .withColumn(bktCol,
              pmod(col("a"), lit(buckets)).cast(graph.schema(bktCol).dataType))
            .where(col("a") >= lit(Long.MinValue)))
          .join(graph, Seq(bktCol, "a"))
      case None => probe.join(graph, Seq("a"))
    }

  def beamSearch(graph: DataFrame, emb: DataFrame, queries: DataFrame,
                 seeds: DataFrame, ef: Int, rounds: Int): DataFrame = {
    def d9(x: String, y: String): Column = quantizedCos9(col(x), col(y))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("d9"), col("id"))
    def score(c: DataFrame) = c
      .join(queries, Seq("q"))
      .join(emb.select(col("vec_id").as("id"), col("v").as("cv")), Seq("id"))
      .filter(col("id") =!= col("q"))
      .withColumn("d9", d9("qv", "cv"))
      .select(col("q"), col("id"), col("d9"))
    var beam = score(seeds)
      .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= ef)
      .select(col("q"), col("id"), col("d9"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val expand = graphHops(graph, beam.select(col("q"), col("id").as("a")))
        .select(col("q"), col("b").as("id"))
        .union(beam.select(col("q"), col("id"))).distinct()
      beam = score(expand)
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= ef)
        .select(col("q"), col("id"), col("d9"))
        .localCheckpoint() // house rule: constant plan depth per round
    }
    beam
  }

  private val graphBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Default bucket count of the stored kNN-graph layout: `pmod(a, B)` is
    * a pure function of the source node id, so the query side can always
    * re-derive it (the ACTUAL B of a given layout travels in its column
    * name, [[knnBucketCol]]). 16 keeps every sf0.1 bucket well over the
    * parquet row-group sweet spot; on a cluster set B ≈ graph_bytes /
    * 128 MB so a beam round's probed buckets are a small fraction of the
    * index. */
  val KnnGraphBuckets = 16

  /** The ONE writer of the bucketed adjacency layout (used by
    * [[ensureKnnGraph]]): (a, b) edges written partitionBy(`a_bkt_<buckets>`),
    * src-sorted within each bucket. */
  def writeKnnGraphBucketed(graph: DataFrame, path: String,
                            buckets: Int = KnnGraphBuckets): Unit = {
    val bktCol = knnBucketCol(buckets)
    graph.withColumn(bktCol, pmod(col("a"), lit(buckets)))
      .repartition(col(bktCol))
      .sortWithinPartitions(col("a"), col("b"))
      .write.partitionBy(bktCol).mode("overwrite").parquet(path)
  }

  /** Build-once stored kNN-graph index (the inverted-index/Z-order
    * contract): the graph an ANN deployment keeps RESIDENT so query-time
    * beam search pays only per-hop probes. Parquet at `path` in the
    * [[writeKnnGraphBucketed]] layout — [[graphHops]] prunes a cold probe
    * to the probed buckets (dynamic partition pruning off the broadcast
    * beam side) instead of scanning the whole adjacency. */
  def ensureKnnGraph(spark: org.apache.spark.sql.SparkSession,
                     vectors: => DataFrame, idCol: String, embCol: String,
                     path: String, k: Int = 5): Unit =
    if (!graphBuilt.contains(path)) graphBuilt.synchronized {
      if (!graphBuilt.contains(path)) {
        if (!new java.io.File(s"$path/_SUCCESS").exists())
          writeKnnGraphBucketed(nnDescentKnnGraph(vectors, idCol, embCol, k), path)
        graphBuilt.add(path)
      }
    }

  /** Scale path: hyperplane-LSH bucketing. `nPlanes` seeded pseudo-random
    * hyperplanes; bucket id = sign-bit pattern of the projections. Used as a
    * pre-filter so ANN queries scan one bucket (plus neighbors if recall
    * demands) instead of the full corpus; at 100 TB the vectors relation is
    * written partitioned by this bucket.
    */
  def lshBuckets(vectors: DataFrame, embCol: String, dim: Int,
                 nPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val emb = col(embCol)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, typedLit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    vectors.withColumn("lsh_bucket", bucket)
  }

  /** ANN top-k: restrict the exact scan to the query's LSH bucket, plus —
    * when `multiProbe` > 0 — the buckets reached by flipping the sign bits
    * whose hyperplane projections are smallest in magnitude (the query sits
    * closest to those boundaries, so they recover the most lost recall:
    * standard multi-probe LSH). Probe order is deterministic (|projection|,
    * then plane index), so the DuckDB oracle reproduces the probe set. */
  def annKnn(vectors: DataFrame, keyCol: String, embCol: String, dim: Int,
             query: Seq[Double], topK: Int = 10,
             nPlanes: Int = 8, seed: Long = 42L, multiProbe: Int = 0): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val projections = planes.map(p => p.zip(query).map { case (a, b) => a * b }.sum)
    val qBucket = projections.zipWithIndex
      .map { case (d, i) => if (d >= 0) 1L << i else 0L }.sum
    val flips = projections.zipWithIndex
      .sortBy { case (d, i) => (math.abs(d), i) }
      .take(math.min(multiProbe, nPlanes)).map { case (_, i) => i }
    val probes = qBucket +: flips.toSeq.map(i => qBucket ^ (1L << i))
    knn(lshBuckets(vectors, embCol, dim, nPlanes, seed)
      .filter(col("lsh_bucket").isin(probes: _*)), keyCol, embCol, query, "cosine", topK)
  }

  /** Simplified (centroid-based) silhouette census — the standard scalable
    * clustering-quality metric: per point, a = distance to its own (nearest)
    * centroid, b = distance to the second-nearest, s = (b−a)/max(a,b) ∈
    * [0, 1] here (with centroid assignment BY nearest, a ≤ b always; the
    * n_negative column is the invariant check). One scan, k distance
    * expressions per row against broadcast centroid literals, one combinable
    * aggregation — O(n·k·d) with no pairwise joins, the only silhouette
    * variant that survives 100 TB (the exact pairwise form is O(n²·d)).
    * Numerics: per-point s is a fixed IEEE chain (l2Sq fold + correctly
    * rounded sqrt/÷), rounded to 1e-9 before the exact DECIMAL sum.
    */
  def silhouetteCensus(vectors: DataFrame, embCol: String,
                       centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cands = centroids.map { case (cid, cv) =>
      struct(graft.functions.VectorExprs.l2Sq(col(embCol), typedLit(cv)).as("d"),
        lit(cid).as("c"))
    }
    val a = sqrt(col("ds")(0).getField("d"))
    val b = sqrt(col("ds")(1).getField("d"))
    val s = when(greatest(a, b) === 0d, lit(0d))
      .otherwise((b - a) / greatest(a, b))
    vectors.filter(col(embCol).isNotNull)
      .withColumn("ds", array_sort(array(cands: _*)))
      .select(col("ds")(0).getField("c").as("cid"), s.as("s"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"),
        sum(round(col("s"), 9).cast(DecimalType(38, 9))).as("s_sum"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_negative"))
      .select(col("cid"), col("n_points"),
        (col("s_sum").cast("double") / col("n_points")).as("mean_silhouette"),
        col("n_negative"))
      .orderBy(col("cid"))
  }

  /** IVF-flat coarse quantization — the second ANN scale path beside
    * [[lshBuckets]]: assign each vector to its nearest centroid (L2,
    * centroid-id tiebreak via lexicographic struct min), probe only the
    * closest lists at query time. At 100 TB the vectors relation is written
    * partitioned by `ivf_cid`, so a query scans nProbe partitions. Centroids
    * are deterministic seeded samples (IVF-flat without k-means refinement),
    * which keeps assignments exactly reproducible by the DuckDB oracle. */
  /** The row-local argmin-over-centroids assignment as a bare Column —
    * lets callers evaluate several centroid sets in ONE scan (r14:
    * v3_ivf_balance's two census arms shared one corpus pass this way)
    * instead of one [[ivfAssign]] pass per set. */
  def ivfAssignExpr(embCol: org.apache.spark.sql.Column,
                    centroids: Seq[(Long, Seq[Double])])
      : org.apache.spark.sql.Column = {
    val candidates = centroids.map { case (cid, cv) =>
      struct(graft.functions.VectorExprs.l2Sq(embCol, typedLit(cv)).as("d"),
        lit(cid).as("c"))
    }
    array_min(array(candidates: _*)).getField("c")
  }

  def ivfAssign(vectors: DataFrame, embCol: String,
                centroids: Seq[(Long, Seq[Double])]): DataFrame =
    vectors.withColumn("ivf_cid", ivfAssignExpr(col(embCol), centroids))

  /** SSL-prototype pruning census (Sorscher et al. 2022, "Beyond neural
    * scaling laws": prune the most PROTOTYPICAL examples — those closest to
    * their cluster centroid — and keep the hard ones). Assignment is the
    * same argmin-over-broadcast-centroids projection as [[ivfAssign]] (zero
    * joins, one codegen'd scan); the within-cluster ranking is ONE shuffle
    * on `cid` shared by the rank and the cluster-size window. Per cluster:
    * keep the `keepNum/keepDen` hardest rows (largest centroid distance,
    * ties by key), emit (cid, n, n_keep, dist_cut) where `dist_cut` is the
    * distance at the keep boundary — d²-bounded output however large the
    * corpus, and the boundary value certifies the whole ranking. */
  def prototypePrune(vectors: DataFrame, keyCol: String, embCol: String,
                     centroids: Seq[(Long, Seq[Double])],
                     keepNum: Int = 7, keepDen: Int = 10): DataFrame = {
    val candidates = centroids.map { case (cid, cv) =>
      struct(graft.functions.VectorExprs.l2Sq(col(embCol), typedLit(cv)).as("d"),
        lit(cid).as("c"))
    }
    val best = array_min(array(candidates: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid")).orderBy(col("dist").desc, col(keyCol))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
    vectors
      .select(col(keyCol), best.getField("c").as("cid"),
        (round(sqrt(best.getField("d")), 9) + 0.0).as("dist"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("keep", col("rnk") * keepDen <= col("n") * keepNum)
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        min(when(col("keep"), col("dist"))).as("dist_cut"))
  }

  /** IVF kNN: exact L2 top-k restricted to the query's nProbe nearest
    * centroid lists. */
  def ivfKnn(vectors: DataFrame, keyCol: String, embCol: String,
             centroids: Seq[(Long, Seq[Double])], query: Seq[Double],
             topK: Int = 10, nProbe: Int = 4): DataFrame = {
    knn(ivfAssign(vectors, embCol, centroids)
      .filter(col("ivf_cid").isin(probeList(centroids, query, nProbe): _*)),
      keyCol, embCol, query, "euclidean", topK)
  }

  /** The nProbe nearest centroid ids for a query — (L2², cid) order. */
  def probeList(centroids: Seq[(Long, Seq[Double])], query: Seq[Double],
                nProbe: Int): Seq[Long] =
    centroids
      .map { case (cid, cv) =>
        (cid, cv.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (cid, d) => (d, cid) }
      .take(nProbe).map(_._1)

  /** The STORED IVF layout the doc comments promise: assign once, WRITE the
    * vectors partitioned by `ivf_cid`. A query then reads only its probed
    * lists via partition pruning — directory-level skipping, zero I/O for
    * unprobed lists — which is the mechanism that keeps nProbe search
    * sublinear at 100 TB. `IvfLayoutSpec` asserts the pruning on the live
    * plan (the scan's partition count equals nProbe, not k). */
  def writeIvfPartitioned(vectors: DataFrame, embCol: String,
                          centroids: Seq[(Long, Seq[Double])],
                          path: String): Unit =
    ivfAssign(vectors, embCol, centroids)
      .write.partitionBy("ivf_cid").mode("overwrite").parquet(path)

  /** kNN over the stored layout: the `ivf_cid` filter prunes partitions at
    * planning time — no assignment recompute, no full scan. */
  def ivfKnnStored(spark: org.apache.spark.sql.SparkSession, path: String,
                   keyCol: String, embCol: String,
                   centroids: Seq[(Long, Seq[Double])], query: Seq[Double],
                   topK: Int = 10, nProbe: Int = 4): DataFrame =
    knn(spark.read.parquet(path)
      .filter(col("ivf_cid").isin(probeList(centroids, query, nProbe): _*)),
      keyCol, embCol, query, "euclidean", topK)

  /** Batch similarity join (kNN JOIN): top-k nearest corpus vectors for
    * EVERY query vector — the "one query vector" of [[ivfKnn]] becomes a
    * query RELATION, which is the retrieval-corpus / kNN-LM / semantic-dedup
    * shape a training pipeline actually runs. IVF topology: corpus rows key
    * by their assigned centroid list, query rows explode to their nProbe
    * nearest lists, and the join key is the centroid id — at 100 TB the
    * corpus is written partitioned by `ivf_cid`, so this is a co-located
    * join with NO all-pairs anywhere; candidate volume per query is the
    * probed lists' size, not the corpus. Within probed lists the distance
    * is exact; per-query ranking is a window over a bounded candidate set
    * (queries are the partition key — no hot key, every query holds
    * nProbe lists' worth of rows). Exactly reproducible: probe selection
    * orders by (L2², cid), ranking by (distance, c_key). */
  def knnJoin(queries: DataFrame, qKeyCol: String, corpus: DataFrame,
              cKeyCol: String, embCol: String,
              centroids: Seq[(Long, Seq[Double])],
              topK: Int = 5, nProbe: Int = 2): DataFrame = {
    val c = ivfAssign(corpus, embCol, centroids)
      .select(col(cKeyCol).as("c_key"), col("ivf_cid").as("cid"),
        col(embCol).cast("array<double>").as("c_emb"))
    val probeCands = centroids.map { case (cid, cv) =>
      struct(graft.functions.VectorExprs.l2Sq(col(embCol), typedLit(cv)).as("d"),
        lit(cid).as("c"))
    }
    val q = queries.select(col(qKeyCol).as("q_key"),
        col(embCol).cast("array<double>").as("q_emb"),
        slice(array_sort(array(probeCands: _*)), 1, nProbe).as("probes"))
      .select(col("q_key"), col("q_emb"), explode(col("probes")).as("p"))
      .select(col("q_key"), col("q_emb"), col("p.c").as("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
    q.join(c, Seq("cid"))
      .withColumn("distance",
        round(sqrt(graft.functions.VectorExprs.l2Sq(col("q_emb"), col("c_emb"))), 9) + 0.0)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("q_key"), col("rnk"), col("c_key"), col("distance"))
  }

  /** One distributed Lloyd (k-means) step over the IVF centroids: assign
    * every vector to its nearest centroid ([[ivfAssign]]), then emit the
    * per-(centroid, dimension) mean as the refined coordinate. This is the
    * classic distributed k-means shape — posexplode to (cid, dim, value)
    * and ONE groupBy(cid, dim) with map-side combine, so the shuffle carries
    * k·dim partial sums per task regardless of corpus size.
    *
    * Determinism: values cast to DECIMAL(30,10) before summing (exact,
    * order-free) and the mean rounds to 6 dp off a single double division —
    * the refined centroids are bit-identical on any engine/partitioning,
    * which keeps refined-IVF assignments oracle-reproducible. Empty
    * clusters simply emit no rows (the standard drop-empty-cluster rule). */
  def kmeansStep(vectors: DataFrame, embCol: String,
                 centroids: Seq[(Long, Seq[Double])]): DataFrame =
    ivfAssign(vectors, embCol, centroids)
      .select(col("ivf_cid").as("cid"), col(embCol).cast("array<double>").as("emb"))
      .select(col("cid"), posexplode(col("emb")))
      .select(col("cid"), (col("pos") + 1).as("dim"),
        col("col").cast("decimal(30,10)").as("v"))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("cid"), col("dim"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("c_new"))

  /** IVF centroid refinement: `iters` Lloyd steps from `init`. Each step is
    * one distributed job ([[kmeansStep]]); the k·dim result (a few KB) comes
    * back to the driver as the next step's centroid literals — centroids are
    * query parameters here exactly as in [[ivfKnn]]. Returns the refined
    * centroid seq for [[ivfAssign]]/[[ivfKnn]]. */
  def kmeansRefine(vectors: DataFrame, embCol: String,
                   init: Seq[(Long, Seq[Double])], iters: Int): Seq[(Long, Seq[Double])] = {
    var cents = init
    for (_ <- 1 to iters) {
      cents = kmeansStep(vectors, embCol, cents)
        .orderBy(col("cid"), col("dim")).collect()
        .groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq)
        }
        .sortBy(_._1)
    }
    cents
  }

  /** Farthest-point (Gonzalez k-center) centroid initialization — the
    * deterministic init refinement for [[ivfKnn]]/[[kmeansRefine]] over the
    * seeded row sample: start from the min-key vector, then repeatedly add
    * the vector FARTHEST from the chosen set (max min-distance, key
    * tiebreak). 2-approximates the optimal k-center cover, so IVF lists
    * start balanced instead of wherever the sample fell.
    *
    * Scale shape: each of the k rounds is ONE scan — the running
    * min-distance column folds in the newest centroid (`least`), and the
    * argmax is a TakeOrderedAndProject top-1. Chosen centroids come back
    * to the driver one row per round (query parameters, like
    * [[kmeansRefine]]). Distances stay un-rounded doubles internally
    * (the l2Sq kernel's bit-parity makes every comparison
    * engine-identical); the reported radius rounds only at output.
    * Returns (k, cid, radius) — radius = the selected vector's distance²
    * to the prior set (0 for the seed row). */
  def farthestPointInit(vectors: DataFrame, keyCol: String, embCol: String,
                        k: Int): DataFrame = {
    require(k >= 1, s"k-center init needs k >= 1, got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    // key cast to long like the embedding cast — a non-long key column
    // would otherwise ClassCastException at getLong
    val v0 = vectors.select(col(keyCol).cast("long").as("id"),
      col(embCol).cast("array<double>").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = v0.orderBy(col("id")).limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "k-center init on an empty relation"))
    var chosen = List((first.getLong(0), first.getSeq[Double](1).toSeq, 0.0))
    // materialize the running min-distance each round — a lazily chained
    // least(l2Sq, least(l2Sq, ...)) would re-evaluate every prior
    // centroid's kernel per row on each round's top-1 (O(k²·n·dim))
    var d = v0.withColumn("d",
      graft.functions.VectorExprs.l2Sq(col("e"), typedLit(chosen.head._2)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var exhausted = false
    for (_ <- 2 to k if !exhausted) {
      val next = d.orderBy(col("d").desc, col("id")).limit(1).collect()(0)
      val (nid, ne, nd) = (next.getLong(0), next.getSeq[Double](1).toSeq, next.getDouble(2))
      // max min-distance 0 ⇒ every remaining vector coincides with a chosen
      // centroid (distinct rows < k) — stop instead of emitting the same
      // point again as a duplicate radius-0 centroid
      if (nd == 0.0) exhausted = true
      else {
        chosen = (nid, ne, nd) :: chosen
        val old = d
        d = d.withColumn("d", least(col("d"),
          graft.functions.VectorExprs.l2Sq(col("e"), typedLit(ne))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        d.count()
        old.unpersist()
      }
    }
    d.unpersist()
    v0.unpersist()
    chosen.reverse.zipWithIndex
      .map { case ((cid, _, rad), i) =>
        (i + 1, cid, BigDecimal(rad)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("k", "cid", "radius")
  }

  /** The deterministic per-round sampling fractions for
    * [[kmeansPlusPlusInit]] — a seeded stream, embedded as literals in the
    * engine AND the oracle SQL (query parameters, like the LSH planes).
    * Scale-6 decimals in (0, 1): τ = frac · ΣD² stays EXACT decimal
    * arithmetic end to end, so the crossing comparison never touches a
    * double-rounding seam on either engine. */
  def kppFracs(k: Int, seed: Long = 42L): Seq[BigDecimal] = {
    val r = new scala.util.Random(seed)
    Seq.fill(k)(BigDecimal(BigInt(r.nextInt(999999) + 1), 6))
  }

  /** k-means++ D² initialization (Arthur & Vassilvitskii 2007) in the
    * deterministic inverse-CDF form: round j draws threshold
    * τ = frac_j · ΣD² (frac from the seeded [[kppFracs]] stream) and picks
    * the first point, in key order, whose cumulative D² reaches τ — exactly
    * the paper's D²-weighted draw with the randomness externalized into
    * reproducible query parameters. Round 1 is the same rule over uniform
    * weights. Complements [[farthestPointInit]] (Gonzalez): ++ trades the
    * outlier-chasing max for probability-proportional spread, the init
    * k-means practice actually uses.
    *
    * Scale shape: NO global cumulative window. The corpus is range-
    * partitioned by key once; each round is (a) one partition-census
    * aggregate (P rows to the driver — the prefix-offset pattern shared
    * with [[Prefix.withRankAndCumSum]]), (b) ONE range shard scanned with a
    * partition-local running sum to find the crossing row. D² values round
    * to 6 dp and accumulate as DECIMAL(38,6), so partition-wise association
    * equals any sequential scan bit-for-bit — the cross-engine (and
    * cross-plan) determinism the repo's invariants require for
    * order-dependent sums. Returns (k, cid, d2): the selected key and its
    * D² to the prior set at selection time. */
  def kmeansPlusPlusInit(vectors: DataFrame, keyCol: String, embCol: String,
                         k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k-means++ init needs k >= 1, got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val fracs = kppFracs(k, seed)
    val v0 = vectors.select(col(keyCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("e"))
      .repartitionByRange(nPart, col("id"))
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("id"))
    // round 1: uniform draw — rank crossing in exact long arithmetic
    val cCensus = v0.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val nTotal = cCensus.map(_._2).sum
    require(nTotal > 0, "k-means++ init on an empty relation")
    val tau1 = fracs.head * BigDecimal(nTotal) // scale-6 exact
    val (pid1, rankOff1) = crossingPartition(
      cCensus.map { case (p, n) => (p, BigDecimal(n)) }, tau1)
    val firstRow = v0.filter(col("pid") === pid1)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= lit((tau1 - rankOff1).bigDecimal))
      .orderBy(col("id")).limit(1).select(col("id"), col("e")).collect()(0)
    var chosen = List((firstRow.getLong(0), firstRow.getSeq[Double](1).toSeq, 0.0))
    // d stays a DOUBLE column (cheap to persist and fold); every AGGREGATE
    // casts it to DECIMAL(38,6) first. round(x, 6) stores the double nearest
    // the exact 6-dp decimal, and double→decimal(38,6) recovers that decimal
    // exactly (decimal spacing 1e-6 dwarfs the double ulp), so the sums are
    // identical to carrying decimals throughout — without per-row BigDecimal
    // arithmetic in the hot persist/fold path (6x observed at sf0.1).
    val dDec = col("d").cast("decimal(38,6)")
    var d = v0.withColumn("d",
      round(graft.functions.VectorExprs.l2Sq(col("e"), typedLit(chosen.head._2)), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the previous round's relation: unpersisted only after the census job
    // has materialized the new one (the fold reads it)
    var pending: Option[DataFrame] = None
    var exhausted = false
    for (j <- 2 to k if !exhausted) {
      val census = d.groupBy(col("pid")).agg(sum(dDec).as("s"))
        .collect().map(r => (r.getInt(0), BigDecimal(r.getDecimal(1)))).sortBy(_._1)
      pending.foreach(_.unpersist())
      pending = None
      val total = census.map(_._2).sum
      if (total == 0) exhausted = true // all remaining points coincide with a centroid
      else {
        val tau = fracs(j - 1) * total // scale-12 exact
        val (pStar, off) = crossingPartition(census, tau)
        val row = d.filter(col("pid") === pStar)
          .withColumn("cum", sum(dDec).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .filter(col("cum") >= lit((tau - off).bigDecimal))
          .orderBy(col("id")).limit(1)
          .select(col("id"), col("e"), col("d")).collect()(0)
        chosen = (row.getLong(0), row.getSeq[Double](1).toSeq, row.getDouble(2)) :: chosen
        val old = d
        d = d.withColumn("d", least(col("d"),
          round(graft.functions.VectorExprs.l2Sq(col("e"), typedLit(chosen.head._2)), 6)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pending = Some(old)
      }
    }
    pending.foreach(_.unpersist())
    d.unpersist()
    v0.unpersist()
    chosen.reverse.zipWithIndex
      .map { case ((cid, _, d2), i) => (i + 1, cid, d2) }
      .toDF("k", "cid", "d2")
  }

  /** Smallest pid whose prefix-inclusive mass reaches `tau`, plus the
    * exclusive prefix below it — the driver side of the crossing search. */
  private def crossingPartition(census: Seq[(Int, BigDecimal)],
                                tau: BigDecimal): (Int, BigDecimal) = {
    val prefixes = census.scanLeft(BigDecimal(0))(_ + _._2).init
    census.zip(prefixes)
      .collectFirst { case ((p, s), acc) if acc + s >= tau => (p, acc) }
      .getOrElse {
        // tau rounded past the total: the last non-empty partition holds
        // the final crossing row
        val i = census.lastIndexWhere(_._2 > 0) max 0
        (census(i)._1, prefixes(i))
      }
  }

  /** Product-quantization encode: split each vector into `m` subspaces and
    * store, per subspace, the index (1-based) of the nearest codebook entry —
    * the memory-scale ANN path (a 64-float vector compresses to m bytes, so
    * the codes relation for 10^11 vectors fits a fraction of the raw data;
    * at 100 TB the codes table is what the search scans). Codebook entries
    * are deterministic data samples (like [[ivfAssign]]'s centroids), so the
    * DuckDB oracle reproduces the exact assignment: per-subspace L2² uses the
    * codegen'd left-fold kernel ([[graft.functions.VectorExprs.l2Sq]]) whose
    * bit-for-bit parity with `list_sum(list_transform(...))` is already
    * established by the LSH/IVF oracles, and argmin is the lexicographic
    * struct-min (first index on ties) == `array_position(d, list_min(d))`. */
  def pqEncode(vectors: DataFrame, embCol: String,
               codebooks: Seq[Seq[Double]], m: Int): DataFrame = {
    val dim = codebooks.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val ev = col(embCol).cast("array<double>")
    val codes = (0 until m).map { s =>
      val sub = slice(ev, s * subDim + 1, subDim)
      val cands = codebooks.zipWithIndex.map { case (cb, c) =>
        struct(graft.functions.VectorExprs
          .l2Sq(sub, typedLit(cb.slice(s * subDim, (s + 1) * subDim))).as("d"),
          lit(c + 1).as("c"))
      }
      array_min(array(cands: _*)).getField("c")
    }
    vectors.withColumn("pq_code", array(codes: _*))
  }

  /** PQ asymmetric-distance search: rank by the ADC estimate — the query's
    * L2² to each codebook entry is computed ONCE driver-side (an m×|codebook|
    * lookup table, the PQ trick), so scoring a row is m array lookups + a
    * fixed-order m-term sum, no per-row vector math. Scala's left-fold table
    * construction matches the oracle's `list_sum` fold bit for bit. */
  def pqSearch(vectors: DataFrame, keyCol: String, embCol: String,
               codebooks: Seq[Seq[Double]], m: Int, query: Seq[Double],
               topK: Int = 10, payloadCols: Seq[String] = Seq.empty): DataFrame = {
    val dim = codebooks.head.size
    val subDim = dim / m
    val table: Seq[Seq[Double]] = (0 until m).map { s =>
      codebooks.map { cb =>
        var acc = 0.0
        var j = 0
        while (j < subDim) { // explicit left fold: IEEE order == list_sum
          val d = query(s * subDim + j) - cb(s * subDim + j)
          acc += d * d
          j += 1
        }
        acc
      }
    }
    val adc = (0 until m)
      .map(s => element_at(typedLit(table(s)), col("pq_code").getItem(s)))
      .reduceLeft(_ + _)
    pqEncode(vectors, embCol, codebooks, m)
      .select(col(keyCol) +: payloadCols.map(col) :+
        ((round(adc, 9) + 0.0).as("adc")): _*)
      .orderBy(col("adc"), col(keyCol))
      .limit(topK)
  }

  /** Covariance / co-moment statistics over an embedding relation — the
    * input to PCA whitening and OPQ rotation. One explode to the d(d+1)/2
    * upper triangle, one combinable groupBy: the result is d²-sized
    * whatever the corpus, and the shuffle carries partial sums only.
    *
    * Reproducibility: components quantize to a 1e-5 grid as EXACT integers
    * (`floor(x * 1e5)` — one correctly-rounded IEEE multiply + floor, which
    * every engine computes bit-identically), and all sums are pure integer
    * arithmetic. No double→DECIMAL rounding anywhere: `round(double, n)` /
    * decimal casts are float-math in some engine builds and exact-decimal in
    * others, which made the r5/r6 hashes build-sensitive. The final
    * co-moment → covariance chain is a fixed IEEE double sequence replayed
    * identically by the oracle. Integer headroom: |q| ≤ ~1e5·|x|, so per-pair
    * products are ≤ ~1e10 and DECIMAL(38,0) sums never saturate even at
    * 100 TB corpus scale. Returns (i, j, n, sxy, cov) for i ≤ j, with `sxy`
    * the integer co-moment sum at 1e10 scale. */
  def covarianceMatrix(vectors: DataFrame, embCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // d is a layout constant of the stored relation (like the centroid set,
    // read driver-side once); the aggregate needs it to shape its buffer
    val dim = vectors.select(size(col(embCol)).as("d"))
      .filter(col("d") > 0).head.getInt(0)
    val q = expr(
      s"transform($embCol, x -> cast(floor(cast(x as double) * 100000.0) as bigint))")
    // ONE aggregate pass: a [n, marginals, upper-triangle] long buffer per
    // partition (≈17 KB at d=64) instead of exploding d(d+1)/2 pair rows per
    // vector through the hash aggregate (~70M rows at sf0.1). Same exact
    // integer sums — the fan-out to (i, j) rows below is over the d²-sized
    // RESULT, not the corpus.
    val m = vectors.agg(
      graft.functions.VectorExprs.quantizedCoMoment(q, dim).as("m"))
    m.select(explode(expr(
      s"""flatten(transform(sequence(0, ${dim - 1}), i ->
         |  transform(sequence(i, ${dim - 1}), j ->
         |    named_struct(
         |      'i', cast(i as bigint), 'j', cast(j as bigint),
         |      'n', element_at(m, 1),
         |      'sxy', element_at(m, cast(
         |        1 + $dim + ((i * $dim) - ((i * (i - 1)) div 2) + (j - i)) + 1
         |        as int)),
         |      'sx', element_at(m, 1 + i + 1),
         |      'sy', element_at(m, 1 + j + 1)))))""".stripMargin)).as("p"))
      .filter(col("p.n") > 0) // empty input → empty relation, like the groupBy
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.n").as("n"),
        col("p.sxy").cast(DecimalType(38, 0)).as("sxy"),
        col("p.sx").cast(DecimalType(38, 0)).as("sx"),
        col("p.sy").cast(DecimalType(38, 0)).as("sy"))
      .select(col("i"), col("j"), col("n"), col("sxy"),
        ((col("sxy").cast("double") / lit(1.0e10)
          - col("sx").cast("double") / lit(1.0e5)
            * (col("sy").cast("double") / lit(1.0e5))
            / col("n").cast("double")) / col("n").cast("double")).as("cov"))
  }

  /** Dominant eigenpair of a (small, d×d) covariance relation by FIXED-round
    * power iteration — the top-principal-component step behind PCA
    * whitening. Each round is one matvec: a join of the symmetrized matrix
    * against the d-row vector and a groupBy(i) — trivially distributed for
    * d in the thousands.
    *
    * Reproducibility (the [[covarianceMatrix]] discipline): the matrix
    * quantizes once to exact integers `cq = floor(cov·1e9)` and each iterate
    * to `vq = floor(x·1e6)`, so every matvec sum is pure int64 (order-free,
    * |w| ≤ d·|cq|·1e6 stays under 2^53 for |cov| ≤ ~1 and d ≤ ~1e3) and the
    * squared norm is an exact DECIMAL sum. The only floating ops are IEEE
    * correctly-rounded ÷ / √ / int→double conversions — no `round(double)`,
    * no libm, nothing engine-build-sensitive; the oracle replays the chain
    * bit-for-bit. Direction is unchanged by the scaling (power iteration
    * normalizes every round); λ rescales by 1e15. v₀ = all-ones; λ is the
    * final iterate's norm (positive dominant eigenvalue assumed — true for
    * covariance). Fixed rounds, not convergence polling. */
  def powerIteration(cov: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(iters >= 1, s"need at least one iteration, got $iters")
    val full: DataFrame = cov.select(col("i"), col("j"),
        expr("cast(floor(cov * 1000000000.0) as bigint)").as("cq"))
      .unionByName(cov.filter(col("i") < col("j"))
        .select(col("j").as("i"), col("i").as("j"),
          expr("cast(floor(cov * 1000000000.0) as bigint)").as("cq")))
    CacheOnce.pin(full) // left pinned: the returned plan reads it lazily
    full.count() // pin: joined every round
    var v = full.select(col("i").as("idx")).distinct()
      .select(col("idx"), lit(1.0).as("x"))
    var norm: DataFrame = null
    for (_ <- 1 to iters) {
      val w = full.join(
          v.select(col("idx").as("j2"),
            expr("cast(floor(x * 1000000.0) as bigint)").as("vq")),
          col("j") === col("j2"))
        .groupBy(col("i"))
        .agg(sum(col("cq") * col("vq")).as("wsum")) // exact int64, < 2^53
        .select(col("i").as("idx"), col("wsum"))
      norm = w.agg(sqrt(
        sum(col("wsum").cast(DecimalType(19, 0))
            * col("wsum").cast(DecimalType(19, 0))) // widen BEFORE ·: w² > int64
          .cast("double")).as("nrm")) // Σw² exact decimal; one int→double + √
      v = w.crossJoin(norm)
        .select(col("idx"),
          (col("wsum").cast("double") / col("nrm")).as("x"))
        .localCheckpoint()
    }
    v.crossJoin(norm)
      .select(col("idx").as("i"), col("x").as("loading"),
        (col("nrm") / lit(1.0e15)).as("lambda"))
  }

  /** V4 getVectors: key lookup. The reference REJECTS over-limit requests
    * before querying (limits.ts:9, validateVectorKeys) — it never silently
    * truncates, and neither do we. */
  def getByKeys(vectors: DataFrame, keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty && keys.length <= graft.functions.Validators.MaxGetVectorKeys,
      s"keys must contain between 1 and ${graft.functions.Validators.MaxGetVectorKeys} entries")
    vectors.filter(col(keyCol).isin(keys: _*))
  }

  /** V5 deleteVectors as a batch rewrite: everything except the keys; the
    * ≤500-key bound rejects rather than truncates (limits.ts:10). */
  def deleteByKeys(vectors: DataFrame, keyCol: String, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty && keys.length <= graft.functions.Validators.MaxDeleteVectorKeys,
      s"keys must contain between 1 and ${graft.functions.Validators.MaxDeleteVectorKeys} entries")
    vectors.filter(!col(keyCol).isin(keys: _*))
  }

  /** V6 listVectors: keyset pagination + segmented parallel scan
    * (`mod(abs(hashtext(key)), segCount) = segIdx`, index.ts:860-886). The
    * segment hash is engine-defined (Spark hash ≠ pg hashtext by design). */
  def listSegment(vectors: DataFrame, keyCol: String, segCount: Int, segIdx: Int,
                  after: Option[Long] = None, maxResults: Int = 1000): DataFrame = {
    require(segCount >= 1 && segCount <= graft.functions.Validators.MaxSegmentCount,
      s"parallel segments capped at ${graft.functions.Validators.MaxSegmentCount} (limits.ts:7)")
    val pageSize = graft.functions.Validators
      .validateListMaxResults(Some(maxResults))
      .fold(err => throw new IllegalArgumentException(err), identity)
    vectors.filter(pmod(col(keyCol), lit(segCount)) === segIdx)
      .filter(after.map(col(keyCol) > _).getOrElse(lit(true)))
      .orderBy(col(keyCol))
      .limit(pageSize)
  }

  /** V2 putVectors upsert: last-wins by key over prioritized batches
    * (ON CONFLICT DO UPDATE, index.ts:518-655). Deterministic batch merge —
    * SURVEY §7 hard-part 4. */
  def upsert(batches: DataFrame, keyCol: String, priorityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(priorityCol).desc)
    batches.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** EXACT distributed DBSCAN over an embedding column — density clustering
    * with core/border/noise semantics (the step past a plain ε-graph
    * connected-components pass, which links every ε-pair regardless of
    * density).
    *
    * The ε-neighborhood join never goes all-pairs: every point gets a
    * 1-D annulus key ⌊d(x, pivot)/2ε⌋ PER PIVOT, and by the triangle
    * inequality any pair within ε lands in the same or adjacent annulus of
    * EVERY pivot — so the join is an equi-join on the composite annulus key
    * (3^P probe keys per point for P pivots), with the exact d² ≤ ε² check
    * inside. That is EXACT pruning (no recall loss, unlike an LSH
    * prefilter), and the 2ε bucket width leaves slack of ~ε over the float
    * error, so boundary ulps cannot drop a true neighbor. At 100 TB the
    * composite annulus key is the shuffle/partition key; production ε
    * (near-dup scale, ≪ data diameter) makes the annuli thin and the join
    * sparse. When the corpus is concentrated so ONE pivot's annulus runs
    * hot (the expected case for clustered data), additional pivots compose
    * by INTERSECTION: a pair is a candidate only if it is annulus-adjacent
    * under every pivot, so the hot cell is cut by each extra pivot's
    * independent partition of it (SCALE.md r11: on a hot 48k-point ring,
    * 1.15B candidate pairs under one pivot drop to 49.5M under two).
    *
    * Semantics: with `selfInclusive = true` (the default — Ester et al. /
    * scikit-learn convention), core ⇔ |N_ε(x)| ≥ minPts counting
    * x ∈ N_ε(x), so a minPts ported from scikit-learn clusters identically
    * with no adjustment. `selfInclusive = false` is the legacy convention
    * this operator shipped with (core ⇔ |N_ε(x) \ {x}| ≥ minPts — off by
    * one from the papers), kept only so `embedding_dbscan`'s graded oracle
    * hash is unchanged; the two conventions are exactly
    * `minPts_inclusive = minPts_exclusive + 1` (DbscanSpec pins the
    * parity). Clusters = connected components of the core-core ε-graph
    * (labels = component-min id via [[Graph.resolveClusters]]); border =
    * non-core within ε of ≥1 core, assigned the min cluster label among
    * its core neighbors (deterministic tiebreak); the rest is noise.
    * Returns (id, role, cluster) with cluster = -1 for noise. */
  def dbscan(points: DataFrame, idCol: String, vecCol: String,
             eps: Double, minPts: Int, pivots: Seq[Seq[Double]],
             selfInclusive: Boolean = true): DataFrame = {
    val (keyed, bktCols) = annulusKeys(points, idCol, vecCol, eps, pivots)
    val pts = keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count() // pin: probed twice (both join sides)
    val cand = annulusJoin(pts, bktCols)
      .filter(graft.functions.VectorExprs.l2Sq(col("v"), col("vb")) <= lit(eps * eps))
      .select(col("id").as("id_a"), col("idb").as("id_b"))
      .localCheckpoint() // sever the ε-join lineage before the CC loop
    val edges = cand.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(cand.select(col("id_b").as("src"), col("id_a").as("dst")))
    // n_nbrs counts ε-neighbors EXCLUDING the point itself (the join is
    // id < idb); the inclusive convention shifts the threshold by one. A
    // point with zero ε-neighbors never appears in `edges`, so the
    // inclusive minPts ≤ 1 case (every point core, sklearn min_samples=1)
    // needs the full point set, not the edge endpoints.
    val coreThreshold = if (selfInclusive) minPts - 1 else minPts
    val core =
      if (coreThreshold <= 0) pts.select(col("id"))
      else edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("n_nbrs"))
        .filter(col("n_nbrs") >= coreThreshold).select(col("id"))
    val ccPairs = cand
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
    val clustered = Graph.resolveClusters(ccPairs) // (id, cluster)
    val coreAssign = core.join(clustered, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val borderAssign = edges
      .join(coreAssign.select(col("id").as("dst"), col("cluster").as("c")), Seq("dst"))
      .join(core.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .groupBy(col("src").as("id")).agg(min(col("c")).as("cluster"))
    val assigned = coreAssign.withColumn("role", lit("core"))
      .unionByName(borderAssign.withColumn("role", lit("border")))
    val noise = pts.select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("cluster"), lit("noise").as("role"))
    val out = assigned.select(col("id"), col("cluster"), col("role"))
      .unionByName(noise).localCheckpoint()
    pts.unpersist()
    out
  }

  /** (id, v, bkt_0..bkt_{P-1}): one annulus key ⌊d(x, pivot_p)/2ε⌋ per
    * pivot. Shared between [[dbscan]] and [[annulusCandidatePairs]]. */
  private def annulusKeys(points: DataFrame, idCol: String, vecCol: String,
                          eps: Double, pivots: Seq[Seq[Double]])
      : (DataFrame, Seq[String]) = {
    require(pivots.nonEmpty, "dbscan needs at least one pivot")
    val bktCols = pivots.indices.map(i => s"bkt_$i")
    val keyed = pivots.zipWithIndex.foldLeft(
      points.select(col(idCol).as("id"), col(vecCol).as("v"))) {
      case (df, (p, i)) => df.withColumn(bktCols(i),
        floor(sqrt(graft.functions.VectorExprs.l2Sq(col("v"), typedLit(p)))
          / lit(2.0 * eps)).cast("long"))
    }
    (keyed, bktCols)
  }

  /** The composite-annulus equi-join: all (id < idb) pairs annulus-adjacent
    * under EVERY pivot, vectors attached, BEFORE the exact ε² check. The
    * probe side explodes the {-1,0,1}^P offset tuples; the build side keeps
    * its own composite key, so the join is a plain equi-join on
    * array<long>. Per pivot, |bkt_a − bkt_b| ≤ 1 matches exactly one
    * offset, so each unordered pair matches exactly one composite probe key
    * and surfaces at most once. */
  private def annulusJoin(pts: DataFrame, bktCols: Seq[String]): DataFrame = {
    val offsetTuples = bktCols.indices.foldLeft(Seq(Seq.empty[Int])) {
      (acc, _) => acc.flatMap(t => Seq(-1, 0, 1).map(o => t :+ o))
    }
    // single-pivot keeps the bare long key (array<long> hashing measurably
    // slowed the P=1 shuffle — r11 gate, embedding_dbscan +0.6 s); multi-
    // pivot composes the per-pivot keys into one array<long> equi-join key
    def key(parts: Seq[Column]): Column =
      if (parts.size == 1) parts.head else array(parts: _*)
    val probeKeys = offsetTuples.map(t =>
      key(t.zip(bktCols).map { case (o, b) => col(b) + lit(o.toLong) }))
    val probe = pts.select(col("id"), col("v"),
      explode(array(probeKeys: _*)).as("jb"))
    probe.as("a")
      .join(pts.select(col("id").as("idb"), col("v").as("vb"),
          key(bktCols.map(col)).as("jb")).as("b"),
        Seq("jb"))
      .filter(col("id") < col("idb"))
  }

  /** Probe-only: the candidate-pair relation the composite-annulus equi-join
    * admits BEFORE the exact ε² check — the work the pruning could not
    * avoid. DbscanSpec uses it to pin that a second pivot's intersection
    * only prunes; [[dbscan]]'s own output is pivot-invariant (exactness),
    * so the pre-filter count is the only observable difference. */
  def annulusCandidatePairs(points: DataFrame, idCol: String, vecCol: String,
                            eps: Double, pivots: Seq[Seq[Double]]): DataFrame = {
    val (keyed0, bktCols) = annulusKeys(points, idCol, vecCol, eps, pivots)
    val keyed = keyed0.localCheckpoint() // probed twice (both join sides)
    annulusJoin(keyed, bktCols)
      .select(col("id").as("id_a"), col("idb").as("id_b"))
  }
}
