package graft

import graft.operators.Vectors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector similarity-search queries (SURVEY §2.10 V2–V6) over the
  * `embeddings` fixture. Distances are rounded to 9 dp (engines re-associate
  * float sums differently) and `+ 0.0` normalizes -0.0 → 0.0 so self-distance
  * hashes identically.
  */
object QueriesVector {

  /** DuckDB twin of [[Vectors.covarianceMatrix]] — exposes `covm(i, j, n,
    * sxy, cov)`. Shared by the covariance report and the power-iteration
    * chain. */
  private val covCtes: String =
    """e1 AS (SELECT vec_id, embedding,
      |    unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
      |cp AS (SELECT i, j,
      |      CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 100000.0) AS BIGINT) AS qi,
      |      CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * 100000.0) AS BIGINT) AS qj
      |      FROM (SELECT embedding, i,
      |              unnest(generate_series(i, len(embedding) - 1)) AS j
      |            FROM e1)),
      |cova AS (SELECT i, j, count(*) AS n,
      |    CAST(sum(qi * qj) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(qi) AS DECIMAL(38,0)) AS sx,
      |    CAST(sum(qj) AS DECIMAL(38,0)) AS sy
      |  FROM cp GROUP BY 1, 2),
      |covm AS MATERIALIZED (SELECT i, j, n, sxy,
      |  (CAST(sxy AS DOUBLE) / 10000000000.0
      |   - CAST(sx AS DOUBLE) / 100000.0 * (CAST(sy AS DOUBLE) / 100000.0)
      |     / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov FROM cova)""".stripMargin

  /** DuckDB twin of [[Vectors.powerIteration]]: the integer-quantized
    * symmetrized matrix and every (int matvec, exact-Σw², normalize) round
    * as generated CTEs — no round(double), no libm, so the replay is
    * bit-identical whatever the engine build. */
  private def powerOracle(iters: Int): String = {
    // MATERIALIZED on every CTE the k-round chain re-references: DuckDB
    // inlines plain CTEs, so w_k would re-expand fullm (and transitively the
    // whole covariance chain, itself referenced twice by the UNION ALL)
    // exponentially in k — the r9 gate saw this oracle blow the 120 s
    // timeout. Same failure mode + fix as embedding_mmr_rerank below.
    val iterCtes = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT f.i AS idx,
         |    CAST(sum(f.cq * CAST(floor(v.x * 1000000.0) AS BIGINT)) AS BIGINT) AS wsum
         |  FROM fullm f JOIN v${k - 1} v ON f.j = v.idx GROUP BY 1),
         |n$k AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(wsum AS HUGEINT) * wsum) AS DOUBLE)) AS nrm
         |  FROM w$k),
         |v$k AS MATERIALIZED (SELECT idx, CAST(wsum AS DOUBLE) / nrm AS x FROM w$k, n$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $covCtes,
       |fullm AS MATERIALIZED (SELECT i, j, CAST(floor(cov * 1000000000.0) AS BIGINT) AS cq FROM covm
       |  UNION ALL SELECT j, i, CAST(floor(cov * 1000000000.0) AS BIGINT) FROM covm WHERE i < j),
       |v0 AS (SELECT DISTINCT i AS idx, CAST(1.0 AS DOUBLE) AS x FROM fullm),
       |$iterCtes
       |SELECT v.idx AS i, v.x AS loading, n.nrm / 1000000000000000.0 AS lambda
       |FROM v$iters v, n$iters n ORDER BY i""".stripMargin
  }

  /** Portable cosine-distance SQL against a query-vector CTE `q(qv)`. */
  private def cosSql(emb: String): String =
    s"""round(1.0 - list_sum(list_transform(list_zip(CAST($emb AS DOUBLE[]), qv), z -> z[1]*z[2]))
       |    / (sqrt(list_sum(list_transform(CAST($emb AS DOUBLE[]), x -> x*x)))
       |     * sqrt(list_sum(list_transform(qv, x -> x*x)))), 9) + 0.0""".stripMargin

  private def l2Sql(emb: String): String =
    s"""round(sqrt(list_sum(list_transform(list_zip(CAST($emb AS DOUBLE[]), qv),
       |    z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0""".stripMargin

  /** fp16 (halfvec, 0001-init.sql:14-19) truncate-mantissa quantization of an
    * embedding array — the storage-precision parity arm. Keeps 10 mantissa
    * bits by TRUNCATION via pure integer/power-of-two double math both
    * engines replay exactly (no float→bits cast exists in either SQL
    * surface): the exponent e = ⌊log₂|x|⌋ comes from the BINARY-STRING
    * LENGTH of n = ⌊|x|·2⁴⁰⌋ (Spark `bin`, DuckDB `printf('%b')` — integer
    * exact, no libm), then q = sgn(x)·⌊|x|·2^(10−e)⌋·2^(e−10). Every step
    * is a power-of-two scale (exact), a floor (exact), or a ±1 multiply
    * (exact), so both engines produce identical doubles. |x| < 2⁻⁴⁰
    * flushes to 0 (below the scheme's exponent range — analogous to
    * halfvec's subnormal floor, documented in SCALE.md). */
  private def fp16Spark(arr: String): String = {
    val a = "abs(cast(x as double))"
    val n = s"cast(floor($a * 1099511627776.0D) as bigint)" // 2^40
    val e = s"(length(bin($n)) - 41)"
    s"""transform($arr, x -> CASE
       |  WHEN cast(x as double) = 0.0D OR $n = 0L THEN 0.0D
       |  ELSE (CASE WHEN cast(x as double) < 0.0D THEN -1.0D ELSE 1.0D END)
       |    * floor($a * pow(2.0D, cast(10 - $e as double)))
       |    * pow(2.0D, cast($e - 10 as double)) END)""".stripMargin
  }

  /** DuckDB twin of [[fp16Spark]] — byte-identical arithmetic. */
  private def fp16Duck(arr: String): String = {
    val a = "abs(x)"
    val n = s"CAST(floor($a * 1099511627776.0) AS BIGINT)"
    val e = s"(length(printf('%b', $n)) - 41)"
    s"""list_transform(CAST($arr AS DOUBLE[]), x -> CASE
       |  WHEN x = 0.0 OR $n = 0 THEN 0.0
       |  ELSE (CASE WHEN x < 0.0 THEN -1.0 ELSE 1.0 END)
       |    * floor($a * pow(2.0, CAST(10 - $e AS DOUBLE)))
       |    * pow(2.0, CAST($e - 10 AS DOUBLE)) END)""".stripMargin
  }

  /** Reads the query vector (vec_id = 0) driver-side — it is a query
    * *parameter*, exactly like the reference's `$q` bind value. */
  private def queryVec(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      // cast-to-double at select time: collect-side unboxing must not assume
      // the stored element width (float32 today; a regen could widen it)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)

  /** The LSH hyperplanes are seeded (Vectors.lshBuckets, seed 42), so the
    * oracle can carry them as SQL literals and recompute identical buckets:
    * double literals round-trip via toString, and both engines fold the dot
    * product left-to-right, so every sign bit matches bit-for-bit. */
  private[graft] def lshBucketSql(emb: String, nPlanes: Int, dim: Int,
                                  seed: Long = 42L): String = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    planes.zipWithIndex.map { case (p, i) =>
      val lit = "[" + p.map(_.toString).mkString(", ") + "]::DOUBLE[]"
      s"(CASE WHEN list_sum(list_transform(list_zip($emb, $lit), z -> z[1]*z[2])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** The same seeded planes as one row per plane, for probe-order SQL. */
  private def planesCte(nPlanes: Int, dim: Int): String = {
    val rnd = new scala.util.Random(42L)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val vals = planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"planes(i, p) AS (VALUES\n  $vals)"
  }

  private def l2Fold(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"

  /** Generated CTE chain replaying [[Vectors.farthestPointInit]]: round j
    * picks argmax(d, id-tiebreak) from d{j-1}, then d{j} folds the new
    * centroid into the running min-distance. */
  private def kcenterChainCtes(k: Int): String = {
    val init =
      s"""v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c1 AS (SELECT id, e, CAST(0 AS DOUBLE) AS r FROM v ORDER BY id LIMIT 1),
         |d1 AS (SELECT v.id, v.e, ${l2Fold("v.e", "c1.e")} AS d FROM v, c1)""".stripMargin
    val rounds = (2 to k).map { j =>
      s"""c$j AS (SELECT id, e, d AS r FROM d${j - 1} ORDER BY d DESC, id LIMIT 1),
         |d$j AS (SELECT p.id, p.e, least(p.d, ${l2Fold("p.e", s"c$j.e")}) AS d
         |  FROM d${j - 1} p, c$j)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$rounds"
  }

  private def kcenterOracle(k: Int): String = {
    val out = (1 to k).map(j =>
      s"SELECT $j AS k, id AS cid, round(r, 6) AS radius FROM c$j")
      .mkString("\nUNION ALL\n")
    s"WITH ${kcenterChainCtes(k)}\n$out\nORDER BY k"
  }

  /** Generated CTE chain replaying [[Vectors.kmeansPlusPlusInit]]: round j
    * draws τ = frac_j · ΣD² (seeded scale-6 decimal fractions as literals —
    * exact decimal arithmetic end to end) and selects the first id whose
    * cumulative D² reaches τ. The oracle's single global window is fine at
    * oracle scale; the ENGINE does the partition-census crossing search. */
  private def kppChainCtes(k: Int): String = {
    val fracs = Vectors.kppFracs(k)
    val init =
      s"""v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |k1 AS (SELECT id, e, CAST(0 AS DECIMAL(38,6)) AS d FROM (
         |    SELECT id, e, row_number() OVER (ORDER BY id) AS rn,
         |           count(*) OVER () AS n FROM v)
         |  WHERE rn >= ${fracs(0)} * n ORDER BY id LIMIT 1),
         |d1 AS (SELECT v.id, v.e,
         |    CAST(round(${l2Fold("v.e", "k1.e")}, 6) AS DECIMAL(38,6)) AS d FROM v, k1)""".stripMargin
    val rounds = (2 to k).map { j =>
      s"""k$j AS (SELECT id, e, d FROM (
         |    SELECT p.id, p.e, p.d,
         |      sum(p.d) OVER (ORDER BY p.id ROWS UNBOUNDED PRECEDING) AS cum,
         |      sum(p.d) OVER () AS tot
         |    FROM d${j - 1} p)
         |  WHERE cum >= ${fracs(j - 1)} * tot
         |  ORDER BY id LIMIT 1),
         |d$j AS (SELECT p.id, p.e,
         |    least(p.d, CAST(round(${l2Fold("p.e", s"k$j.e")}, 6) AS DECIMAL(38,6))) AS d
         |  FROM d${j - 1} p, k$j)""".stripMargin
    }.mkString(",\n")
    s"$init,\n$rounds"
  }

  private def kppOracle(k: Int): String = {
    val out = (1 to k).map(j =>
      s"SELECT $j AS k, id AS cid, CAST(d AS DOUBLE) AS d2 FROM k$j")
      .mkString("\nUNION ALL\n")
    s"WITH ${kppChainCtes(k)}\n$out\nORDER BY k"
  }

  /** List-size census under both inits: the seeded row sample vs the
    * k-center chain's centroids, assignments recomputed per row. */
  private def ivfBalanceOracle(k: Int): String =
    s"""WITH ${kcenterChainCtes(k)},
       |kc AS (${(1 to k).map(j => s"SELECT id AS cid, e AS cv FROM c$j")
          .mkString("\nUNION ALL\n")}),
       |sc AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT $k),
       |a_s AS (SELECT (SELECT c.cid FROM sc c
       |    ORDER BY ${l2Fold("v.e", "c.cv")}, c.cid LIMIT 1) AS cid FROM v),
       |a_k AS (SELECT (SELECT c.cid FROM kc c
       |    ORDER BY ${l2Fold("v.e", "c.cv")}, c.cid LIMIT 1) AS cid FROM v)
       |SELECT 'kcenter' AS init, cid, count(*) AS n FROM a_k GROUP BY cid
       |UNION ALL
       |SELECT 'sample' AS init, cid, count(*) AS n FROM a_s GROUP BY cid
       |ORDER BY init, cid""".stripMargin

  def queries: Map[String, Q] = Map(

    // V3 exact kNN, cosine (pgvector `<=>`, index.ts:740-805).
    "v3_knn_cosine" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Vectors.knn(emb, "vec_id", "embedding", queryVec(s, dir), "cosine", 10)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, label, ${cosSql("embedding")} AS distance
           |FROM embeddings, q
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 queryVectors cosine top-k (pgvector index.ts:740-805)"),

    // V3 exact kNN, euclidean (pgvector `<->`).
    "v3_knn_l2" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Vectors.knn(emb, "vec_id", "embedding", queryVec(s, dir), "euclidean", 15)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, label, ${l2Sql("embedding")} AS distance
           |FROM embeddings, q
           |ORDER BY distance, vec_id LIMIT 15""".stripMargin),
      doc = "V3 queryVectors euclidean top-k"),

    // V3 fp16/halfvec storage-precision parity arm (0001-init.sql:14-19):
    // pgvector stores index columns as halfvec (2 bytes/dim); this arm
    // quantizes BOTH corpus and query through the truncate-mantissa fp16
    // scheme ([[fp16Spark]]) before the cosine top-k, certifying that the
    // engine's distance semantics hold at storage precision (at 100 TB the
    // halved footprint doubles the RAM-resident corpus share). Quantization
    // is per-element scan-local (codegen'd, no shuffle added over v3_knn).
    "v3_knn_fp16" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .withColumn("qemb", expr(fp16Spark("embedding")))
        // quantized query collected from the SAME expression (parameter
        // read, like queryVec)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("qemb")).head.getSeq[Double](0)
        Vectors.knn(emb, "vec_id", "qemb", qv, "cosine", 10)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH qe AS (SELECT vec_id, label, ${fp16Duck("embedding")} AS qemb
           |  FROM embeddings),
           |q AS (SELECT qemb AS qv FROM qe WHERE vec_id = 0)
           |SELECT vec_id, label, ${cosSql("qemb")} AS distance
           |FROM qe, q
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 kNN at halfvec storage precision: truncate-mantissa fp16 quantization both sides (0001-init.sql:14-19)"),

    // V3 kNN at int8 scalar-quantization storage precision (the SQ8 codec
    // every production vector store offers alongside halfvec — 4 bytes→1
    // byte/dim, so the RAM-resident corpus share quadruples at 100 TB).
    // The quantizer is trained per dimension (min/max over the corpus — a
    // dim-bounded reduce, collected like the centroid constants), then
    // code = min(255, ⌊(x−mn)/Δ⌋) with Δ = (mx−mn)/255 and the distance
    // runs on the DEQUANTIZED values mn + code·Δ — certifying the engine's
    // ranking semantics at codebook precision. Every step is the same
    // IEEE double op in the same order on both engines (min/max are exact,
    // /, −, ·, floor are deterministic), so the row hash-grades with no
    // rounding beyond the house 9 dp on the final distance. Quantization is
    // scan-local codegen; no shuffle beyond the exact-kNN top-k.
    "v3_knn_int8_sq" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // train: per-dim min/max (64 rows — driver-bounded constant)
        val st = emb.select(posexplode(col("embedding").cast("array<double>")))
          .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
          .orderBy(col("pos")).collect()
        val mns = st.map(_.getDouble(1)).toSeq
        val scs = st.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq
        val mnLit = typedLit(mns)
        val scLit = typedLit(scs)
        val deq = transform(col("embedding").cast("array<double>"), (x, i) => {
          val mn = element_at(mnLit, i + 1)
          val sc = element_at(scLit, i + 1)
          when(sc === 0.0, mn)
            .otherwise(mn + least(lit(255.0), floor((x - mn) / sc)) * sc)
        })
        val emq = emb.withColumn("qemb", deq)
        // quantized query collected from the SAME expression (parameter
        // read, like the fp16 arm)
        val qv = emq.filter(col("vec_id") === 0)
          .select(col("qemb")).head.getSeq[Double](0)
        Vectors.knn(emq, "vec_id", "qemb", qv, "cosine", 10)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH ex AS (SELECT vec_id, label,
           |    unnest(CAST(embedding AS DOUBLE[])) AS x,
           |    unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
           |st AS (SELECT i, min(x) AS mn, (max(x) - min(x)) / 255.0 AS sc FROM ex GROUP BY i),
           |qe AS (SELECT vec_id, label,
           |    list(CASE WHEN sc = 0.0 THEN mn
           |         ELSE mn + least(255.0, floor((x - mn) / sc)) * sc END ORDER BY i) AS qemb
           |  FROM ex JOIN st USING (i) GROUP BY vec_id, label),
           |q AS (SELECT qemb AS qv FROM qe WHERE vec_id = 0)
           |SELECT vec_id, label, ${cosSql("qemb")} AS distance
           |FROM qe, q
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 kNN at int8 scalar-quantization (SQ8) storage precision: per-dim min/max codebook, distances on dequantized codes"),

    // Exact DBSCAN over embeddings ([[Vectors.dbscan]]): density clustering
    // with the core/border/noise trichotomy — what a flat ε-graph
    // connected-components pass can't express. The fixture corpus is raw
    // (normalized) embeddings, so near-dup structure is SPLICED in, house
    // style: perturbation chains v' = normalize(v + δ·reverse(v)) at
    // δ ∈ {.08, .16, .24, .40} on arithmetic id slices build per-seed chains
    // whose inter-point gaps straddle ε = 0.2 differently per vector (the
    // pair distance scales with √(1−(v·rev v)²)) — yielding all-core
    // chains, core+border chains, and all-noise pairs, censused per cluster.
    // minPts = 3 on the neighbor count EXCLUDING self. ε-join candidates
    // come from the exact annulus equi-join (triangle-inequality pruning,
    // zero recall loss); the oracle is brute-force all-pairs — the
    // hash-match is the pruning's exactness proof.
    "embedding_dbscan" -> Q(
      fn = (s, dir) => {
        val base = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        def pert(shift: Long, modK: Int, delta: Double) =
          base.filter(col("vec_id") % modK === 0)
            .withColumn("w", zip_with(col("v"), reverse(col("v")),
              (x, y) => x + lit(delta) * y))
            .withColumn("nrm", sqrt(aggregate(transform(col("w"), y => y * y),
              lit(0.0), (a, b) => a + b)))
            .select((col("vec_id") + shift).as("vec_id"),
              transform(col("w"), x => x / col("nrm")).as("v"))
        val corpus = base
          .unionByName(pert(1000000L, 3, 0.08))
          .unionByName(pert(2000000L, 3, 0.16))
          .unionByName(pert(3000000L, 6, 0.24))
          .unionByName(pert(4000000L, 5, 0.40))
        // selfInclusive = false: the legacy neighbor-count convention this
        // row was graded under (≡ sklearn min_samples = 4) — keeps the
        // oracle hash unchanged; new callers get the standard convention
        // by default
        Vectors.dbscan(corpus, "vec_id", "v", 0.2, 3, Seq(queryVec(s, dir)),
            selfInclusive = false)
          .groupBy(col("cluster").as("cluster_id"))
          .agg(sum(when(col("role") === "core", 1L).otherwise(0L)).as("n_core"),
            sum(when(col("role") === "border", 1L).otherwise(0L)).as("n_border"),
            count(lit(1)).as("n_pts"))
          .orderBy(col("cluster_id"))
      },
      oracle = Some(
        """WITH RECURSIVE base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c1 AS (SELECT vec_id + 1000000 AS vec_id,
          |    list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y*y)))) AS v
          |  FROM (SELECT vec_id, list_transform(list_zip(v, list_reverse(v)),
          |      z -> z[1] + 0.08 * z[2]) AS w FROM base WHERE vec_id % 3 = 0)),
          |c2 AS (SELECT vec_id + 2000000 AS vec_id,
          |    list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y*y)))) AS v
          |  FROM (SELECT vec_id, list_transform(list_zip(v, list_reverse(v)),
          |      z -> z[1] + 0.16 * z[2]) AS w FROM base WHERE vec_id % 3 = 0)),
          |c3 AS (SELECT vec_id + 3000000 AS vec_id,
          |    list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y*y)))) AS v
          |  FROM (SELECT vec_id, list_transform(list_zip(v, list_reverse(v)),
          |      z -> z[1] + 0.24 * z[2]) AS w FROM base WHERE vec_id % 6 = 0)),
          |c4 AS (SELECT vec_id + 4000000 AS vec_id,
          |    list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y*y)))) AS v
          |  FROM (SELECT vec_id, list_transform(list_zip(v, list_reverse(v)),
          |      z -> z[1] + 0.40 * z[2]) AS w FROM base WHERE vec_id % 5 = 0)),
          |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM c1
          |  UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
          |  UNION ALL SELECT * FROM c4),
          |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM corpus a JOIN corpus b
          |  ON a.vec_id < b.vec_id
          |  AND list_sum(list_transform(list_zip(a.v, b.v),
          |      z -> (z[1]-z[2])*(z[1]-z[2]))) <= (0.2 * 0.2)),
          |e AS (SELECT ia AS src, ib AS dst FROM p UNION ALL SELECT ib, ia FROM p),
          |core AS (SELECT src AS id FROM e GROUP BY src HAVING count(*) >= 3),
          |cce AS (SELECT p.ia AS src, p.ib AS dst FROM p
          |    JOIN core ca ON p.ia = ca.id JOIN core cb ON p.ib = cb.id
          |  UNION ALL
          |  SELECT p.ib, p.ia FROM p
          |    JOIN core ca ON p.ia = ca.id JOIN core cb ON p.ib = cb.id),
          |reach AS (SELECT id, id AS label FROM core
          |  UNION SELECT e2.src, r.label FROM cce e2 JOIN reach r ON r.id = e2.dst),
          |cl AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
          |be AS (SELECT e.src AS id, min(cl.cluster) AS cluster
          |  FROM e JOIN cl ON cl.id = e.dst
          |  WHERE e.src NOT IN (SELECT id FROM core) GROUP BY e.src),
          |asg AS (SELECT id, cluster, 1 AS ic FROM cl
          |  UNION ALL SELECT id, cluster, 0 FROM be)
          |SELECT cluster AS cluster_id, CAST(sum(ic) AS BIGINT) AS n_core,
          |  CAST(sum(1 - ic) AS BIGINT) AS n_border, count(*) AS n_pts
          |FROM asg GROUP BY 1
          |UNION ALL
          |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
          |  (SELECT count(*) FROM corpus) - (SELECT count(*) FROM asg)
          |WHERE (SELECT count(*) FROM corpus) > (SELECT count(*) FROM asg)
          |ORDER BY cluster_id""".stripMargin),
      doc = "exact DBSCAN (annulus-pruned eps-join, core/border/noise) censused per cluster vs brute-force oracle"),

    // V3 + P8: kNN restricted by a metadata-style filter (label predicate),
    // the reference's filtered query shape (index.ts:656-688).
    "v3_knn_filtered" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir).filter(col("label").isin(1, 3, 5))
        Vectors.knn(emb, "vec_id", "embedding", queryVec(s, dir), "cosine", 10)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, label, ${cosSql("embedding")} AS distance
           |FROM embeddings, q WHERE label IN (1, 3, 5)
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 filtered kNN"),

    // V4 getVectors by keys.
    "v4_get_by_keys" -> Q(
      fn = (s, dir) =>
        Vectors.getByKeys(Tables.embeddings(s, dir), "vec_id", Seq(3L, 17L, 42L, 99L, 123L))
          .select(col("vec_id"), col("label")).orderBy(col("vec_id")),
      oracle = Some(
        """SELECT vec_id, label FROM embeddings
          |WHERE vec_id IN (3, 17, 42, 99, 123) ORDER BY vec_id""".stripMargin),
      doc = "V4 getVectors (index.ts:690-722)"),

    // V5 deleteVectors as batch rewrite (anti-filter), summarized.
    "v5_delete_by_keys" -> Q(
      fn = (s, dir) =>
        Vectors.deleteByKeys(Tables.embeddings(s, dir), "vec_id",
          (0L until 500L by 7L).toSeq)
          .agg(count(lit(1)).as("remaining"), sum(col("label")).as("label_sum")),
      oracle = Some {
        val keys = (0L until 500L by 7L).mkString(", ")
        s"""SELECT count(*) AS remaining, CAST(sum(label) AS BIGINT) AS label_sum
           |FROM embeddings WHERE vec_id NOT IN ($keys)""".stripMargin
      },
      doc = "V5 deleteVectors (index.ts:723-739)"),

    // V6 listVectors: segmented parallel scan + keyset pagination.
    "v6_list_segmented" -> Q(
      fn = (s, dir) =>
        Vectors.listSegment(Tables.embeddings(s, dir), "vec_id", 8, 3, Some(100L), 50)
          .select(col("vec_id"), col("label")),
      oracle = Some(
        """SELECT vec_id, label FROM embeddings
          |WHERE vec_id % 8 = 3 AND vec_id > 100 ORDER BY vec_id LIMIT 50""".stripMargin),
      doc = "V6 listVectors segments (index.ts:839-886, F16)"),

    // V2 putVectors upsert: last-wins merge of prioritized batches (D1 shape).
    "v2_upsert_last_wins" -> Q(
      fn = (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val batch1 = e.select(col("vec_id"), col("label"), lit(1).as("priority"))
        val batch2 = e.filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), (col("label") + 100).as("label"), lit(2).as("priority"))
        Vectors.upsert(batch1.unionByName(batch2), "vec_id", "priority")
          .select(col("vec_id"), col("label")).orderBy(col("vec_id"))
      },
      oracle = Some(
        """WITH batches AS (
          |  SELECT vec_id, label, 1 AS priority FROM embeddings
          |  UNION ALL
          |  SELECT vec_id, label + 100 AS label, 2 AS priority FROM embeddings WHERE vec_id % 4 = 0),
          |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY priority DESC) AS rn FROM batches)
          |SELECT vec_id, label FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      doc = "V2/D1 deterministic upsert merge (index.ts:518-655, pg.ts:905-961)"),

    // ANN via LSH sign-bucket prefilter — the 100 TB scale path. Seeded
    // hyperplanes aren't SQL-expressible → rows-only check; correctness vs
    // the exact scan is asserted in VectorsSpec.
    "v3_ann_lsh" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Vectors.annKnn(emb, "vec_id", "embedding", 64, queryVec(s, dir), 10, nPlanes = 4)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |cand AS (SELECT vec_id, label, embedding FROM embeddings, q
           |  WHERE ${lshBucketSql("CAST(embedding AS DOUBLE[])", 4, 64)}
           |      = ${lshBucketSql("qv", 4, 64)})
           |SELECT vec_id, label, ${cosSql("embedding")} AS distance
           |FROM cand, q ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN (LSH-bucketed) — scale path"),

    // LSH recall eval — the ANN-eval matrix twin of v3_ann_recall (IVF):
    // recall@10 of single-probe 4-plane sign-LSH against the exact cosine
    // top-10, per query. After the MinHash-stride lesson, every
    // approximate candidate generator gets a ground-truth audit; this one
    // also surfaces LSH's known failure mode (a query whose true
    // neighbors straddle a hyperplane loses them — that's what
    // multi-probe recovers, v3_ann_lsh_multiprobe).
    "v3_ann_lsh_recall" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = Vectors.lshBuckets(emb, "embedding", 64, nPlanes = 4)
          .select(col("vec_id").as("c_key"),
            col("embedding").cast("array<double>").as("c_emb"),
            col("lsh_bucket").as("cb_b"))
        val rnd = new scala.util.Random(42L) // the lshBuckets seed
        val planes = Array.fill(4, 64)(rnd.nextGaussian())
        val projCols = planes.zipWithIndex.map { case (p, i) =>
          graft.functions.VectorExprs.vecDot(col("q_emb"), typedLit(p.toSeq))
            .as(s"proj$i")
        }
        val queries = Vectors.lshBuckets(
            emb.filter(col("vec_id") % 41 === 0), "embedding", 64, nPlanes = 4)
          .select(Seq(col("vec_id").as("q_key"),
            col("embedding").cast("array<double>").as("q_emb"),
            col("lsh_bucket").as("b")) ++ projCols: _*)
          // boundary-nearest planes: the 2 smallest |projection| (ties → idx)
          .withColumn("pr", array_sort(array((0 until 4).map(i =>
            struct(abs(col(s"proj$i")).as("a"), lit(i).as("i"))): _*)))
          .withColumn("probes", expr(
            "array(b, b ^ shiftleft(cast(1 as bigint), pr[0].i), " +
              "b ^ shiftleft(cast(1 as bigint), pr[1].i))"))
        graft.operators.CacheOnce.pin(queries)
        queries.count() // pin: single-probe, multiprobe, and exact all read it
        val dist = round(Vectors.cosineDistance(col("c_emb"), col("q_emb")), 9) + 0.0
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        def top10(cand: org.apache.spark.sql.DataFrame) = cand
          .withColumn("distance", dist)
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
          .select(col("q_key"), col("c_key"))
        val approx = top10(corpus.join(queries, col("cb_b") === col("b")))
        val approxMp = top10(corpus.join(
          queries.select(col("q_key"), col("q_emb"), explode(col("probes")).as("pb")),
          col("cb_b") === col("pb")))
        val exact = top10(corpus.crossJoin(
            broadcast(queries.select(col("q_key"), col("q_emb")))))
        graft.operators.CacheOnce.pin(exact)
        exact.count() // pin: census + both semi-join probes
        def census(ar: org.apache.spark.sql.DataFrame, nm: String) =
          exact.join(ar, Seq("q_key", "c_key"), "left_semi")
            .groupBy(col("q_key")).agg(count(lit(1)).as(nm))
        exact.groupBy(col("q_key")).agg(count(lit(1)).as("n_exact"))
          .join(census(approx, "n_matched"), Seq("q_key"), "left")
          .join(census(approxMp, "n_matched_mp"), Seq("q_key"), "left")
          .select(col("q_key"), col("n_exact"),
            coalesce(col("n_matched"), lit(0L)).as("n_matched"),
            (coalesce(col("n_matched"), lit(0L)).cast("double")
              / col("n_exact").cast("double")).as("recall"),
            coalesce(col("n_matched_mp"), lit(0L)).as("n_matched_mp"),
            (coalesce(col("n_matched_mp"), lit(0L)).cast("double")
              / col("n_exact").cast("double")).as("recall_mp"))
          .orderBy(col("q_key"))
      },
      oracle = Some(
        s"""WITH qs AS (SELECT vec_id AS q_key, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |${planesCte(4, 64)},
           |qb AS (SELECT q_key, qv, ${lshBucketSql("qv", 4, 64)} AS b FROM qs),
           |cb AS (SELECT vec_id AS c_key, CAST(embedding AS DOUBLE[]) AS cv,
           |    ${lshBucketSql("CAST(embedding AS DOUBLE[])", 4, 64)} AS b
           |  FROM embeddings),
           |qproj AS (SELECT q_key, i,
           |    list_sum(list_transform(list_zip(qv, p), z -> z[1]*z[2])) AS d
           |  FROM qs CROSS JOIN planes),
           |flips AS (SELECT q_key, i FROM (SELECT q_key, i,
           |    row_number() OVER (PARTITION BY q_key ORDER BY abs(d), i) AS rn
           |  FROM qproj) WHERE rn <= 2),
           |probes AS (SELECT q_key, b FROM qb
           |  UNION ALL SELECT f.q_key, xor(qb.b, CAST(1 << f.i AS BIGINT))
           |  FROM flips f JOIN qb ON f.q_key = qb.q_key),
           |scored AS (SELECT qb.q_key, cb.c_key, ${cosSql("cb.cv")} AS distance
           |  FROM qb JOIN cb ON qb.b = cb.b),
           |ar AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM scored)
           |  WHERE rnk <= 10),
           |mscored AS (SELECT p.q_key, cb.c_key, ${cosSql("cb.cv")} AS distance
           |  FROM probes p JOIN qb ON p.q_key = qb.q_key JOIN cb ON cb.b = p.b),
           |mar AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM mscored)
           |  WHERE rnk <= 10),
           |escore AS (SELECT qb.q_key, cb.c_key, ${cosSql("cb.cv")} AS distance
           |  FROM qb CROSS JOIN cb),
           |er AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM escore)
           |  WHERE rnk <= 10),
           |m AS (SELECT e.q_key, count(*) AS n_matched FROM er e
           |  WHERE EXISTS (SELECT 1 FROM ar a
           |    WHERE a.q_key = e.q_key AND a.c_key = e.c_key)
           |  GROUP BY e.q_key),
           |m2 AS (SELECT e.q_key, count(*) AS n_matched_mp FROM er e
           |  WHERE EXISTS (SELECT 1 FROM mar a
           |    WHERE a.q_key = e.q_key AND a.c_key = e.c_key)
           |  GROUP BY e.q_key)
           |SELECT er.q_key, count(*) AS n_exact,
           |  coalesce(max(m.n_matched), 0) AS n_matched,
           |  CAST(coalesce(max(m.n_matched), 0) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall,
           |  coalesce(max(m2.n_matched_mp), 0) AS n_matched_mp,
           |  CAST(coalesce(max(m2.n_matched_mp), 0) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS recall_mp
           |FROM er LEFT JOIN m ON er.q_key = m.q_key
           |LEFT JOIN m2 ON er.q_key = m2.q_key
           |GROUP BY er.q_key ORDER BY er.q_key""".stripMargin),
      doc = "LSH recall@10 single-probe vs multi-probe vs exact cosine ground truth (ANN audit)"),

    // Matryoshka truncation audit: recall@10 of cosine kNN using only the
    // first 8/16/32 of 64 dims vs the full-width exact top-10 — the
    // measurement behind shipping truncated embeddings (MRL-style) to cut
    // index bytes. One persisted query×corpus frame feeds all four arms.
    "embedding_matryoshka_recall" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.select(col("vec_id").as("c_key"),
          col("embedding").cast("array<double>").as("cv"))
        val queries = emb.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("q_key"),
            col("embedding").cast("array<double>").as("qv"))
        val joined = corpus.crossJoin(broadcast(queries))
        graft.operators.CacheOnce.pin(joined)
        joined.count() // pin: the exact arm + three truncation arms share it
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        def top10(dcol: org.apache.spark.sql.Column) = joined
          .withColumn("distance", dcol)
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
          .select(col("q_key"), col("c_key"))
        def dist(d: Int) = round(Vectors.cosineDistance(
          slice(col("cv"), 1, d), slice(col("qv"), 1, d)), 9) + 0.0
        val exact = top10(round(
          Vectors.cosineDistance(col("cv"), col("qv")), 9) + 0.0)
        graft.operators.CacheOnce.pin(exact)
        exact.count()
        val base = exact.groupBy(col("q_key")).agg(count(lit(1)).as("n_exact"))
        Seq(8, 16, 32).foldLeft(base) { (acc, d) =>
          val cen = exact.join(top10(dist(d)), Seq("q_key", "c_key"), "left_semi")
            .groupBy(col("q_key")).agg(count(lit(1)).as(s"n_d$d"))
          acc.join(cen, Seq("q_key"), "left")
            .withColumn(s"n_d$d", coalesce(col(s"n_d$d"), lit(0L)))
            .withColumn(s"recall_d$d",
              col(s"n_d$d").cast("double") / col("n_exact").cast("double"))
        }.orderBy(col("q_key"))
      },
      oracle = Some {
        def cosT(d: String) =
          s"""round(1.0 - list_sum(list_transform(list_zip(cv$d, qv$d), z -> z[1]*z[2]))
             |    / (sqrt(list_sum(list_transform(cv$d, x -> x*x)))
             |     * sqrt(list_sum(list_transform(qv$d, x -> x*x)))), 9) + 0.0""".stripMargin
        def arm(d: Int) =
          s"""s$d AS (SELECT q_key, c_key, ${cosT(s"[1:$d]")} AS distance
             |  FROM qs CROSS JOIN cb),
             |r$d AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
             |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM s$d)
             |  WHERE rnk <= 10),
             |m$d AS (SELECT e.q_key, count(*) AS n FROM er e
             |  WHERE EXISTS (SELECT 1 FROM r$d a
             |    WHERE a.q_key = e.q_key AND a.c_key = e.c_key)
             |  GROUP BY e.q_key)""".stripMargin
        s"""WITH qs AS (SELECT vec_id AS q_key, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |cb AS (SELECT vec_id AS c_key, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings),
           |se AS (SELECT q_key, c_key, ${cosT("")} AS distance
           |  FROM qs CROSS JOIN cb),
           |er AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM se)
           |  WHERE rnk <= 10),
           |${arm(8)},
           |${arm(16)},
           |${arm(32)}
           |SELECT er.q_key, count(*) AS n_exact,
           |  coalesce(max(m8.n), 0) AS n_d8,
           |  CAST(coalesce(max(m8.n), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_d8,
           |  coalesce(max(m16.n), 0) AS n_d16,
           |  CAST(coalesce(max(m16.n), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_d16,
           |  coalesce(max(m32.n), 0) AS n_d32,
           |  CAST(coalesce(max(m32.n), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_d32
           |FROM er LEFT JOIN m8 ON er.q_key = m8.q_key
           |LEFT JOIN m16 ON er.q_key = m16.q_key
           |LEFT JOIN m32 ON er.q_key = m32.q_key
           |GROUP BY er.q_key ORDER BY er.q_key""".stripMargin
      },
      doc = "Matryoshka truncation audit: recall@10 at 8/16/32 of 64 dims vs full-width exact cosine"),

    // IVF nprobe sweep — the third leaf of the ANN tuning matrix (LSH
    // bands sweep, Matryoshka dims sweep, IVF probes sweep): recall@10 at
    // nprobe 1/2/4 against the exact L2 top-10, micro-averaged over the
    // query sample. One assigned-lists pass; each arm only widens the
    // probe set.
    "v3_ann_nprobe_sweep" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val queries = emb.filter(col("vec_id") % 41 === 0)
        val q2 = queries.select(col("vec_id").as("q_key"),
          col("embedding").cast("array<double>").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        val exact = emb
          .select(col("vec_id").as("c_key"),
            col("embedding").cast("array<double>").as("c_emb"))
          .crossJoin(broadcast(q2))
          .withColumn("distance", round(sqrt(
            graft.functions.VectorExprs.l2Sq(col("q_emb"), col("c_emb"))), 9) + 0.0)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("q_key"), col("c_key"))
        graft.operators.CacheOnce.pin(exact)
        exact.count() // pin: three probe arms + the totals read it
        val totals = exact.agg(count(lit(1)).as("n_exact"),
          countDistinct(col("q_key")).as("n_queries"))
        Seq(1, 2, 4).map { np =>
          val approx = Vectors.knnJoin(queries, "vec_id", emb, "vec_id",
            "embedding", centroids, topK = 10, nProbe = np)
            .select(col("q_key"), col("c_key"))
          exact.join(approx, Seq("q_key", "c_key"), "left_semi")
            .agg(coalesce(count(lit(1)), lit(0L)).as("n_matched"))
            .select(lit(np).as("nprobe"), col("n_matched"))
        }.reduce(_.unionByName(_))
          .crossJoin(totals)
          .withColumn("recall",
            col("n_matched").cast("double") / col("n_exact").cast("double"))
          .select(col("nprobe"), col("n_queries"), col("n_exact"),
            col("n_matched"), col("recall"))
          .orderBy(col("nprobe"))
      },
      oracle = Some {
        def arm(np: Int) =
          s"""qp$np AS (SELECT q.q_key, q.qv, p.cid
             |  FROM qs q, LATERAL (SELECT c.cid FROM cents c
             |     ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv),
             |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT $np) p),
             |sc$np AS (SELECT qp.q_key, a.c_key,
             |    round(sqrt(list_sum(list_transform(list_zip(qp.qv, a.ev),
             |      z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0 AS distance
             |  FROM qp$np qp JOIN assigned a ON qp.cid = a.cid),
             |ar$np AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
             |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM sc$np)
             |  WHERE rnk <= 10),
             |m$np AS (SELECT $np AS nprobe, count(*) AS n_matched FROM er e
             |  WHERE EXISTS (SELECT 1 FROM ar$np a
             |    WHERE a.q_key = e.q_key AND a.c_key = e.c_key))""".stripMargin
        s"""WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
           |assigned AS (SELECT e.vec_id AS c_key, CAST(e.embedding AS DOUBLE[]) AS ev,
           |    (SELECT c.cid FROM cents c
           |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
           |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
           |  FROM embeddings e),
           |qs AS (SELECT vec_id AS q_key, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |escore AS (SELECT q.q_key, e.vec_id AS c_key,
           |    round(sqrt(list_sum(list_transform(list_zip(q.qv, CAST(e.embedding AS DOUBLE[])),
           |      z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0 AS distance
           |  FROM qs q CROSS JOIN embeddings e),
           |er AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
           |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM escore)
           |  WHERE rnk <= 10),
           |tot AS (SELECT count(*) AS n_exact, count(DISTINCT q_key) AS n_queries FROM er),
           |${arm(1)},
           |${arm(2)},
           |${arm(4)}
           |SELECT nprobe, tot.n_queries, tot.n_exact, n_matched,
           |  CAST(n_matched AS DOUBLE) / CAST(tot.n_exact AS DOUBLE) AS recall
           |FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m4)
           |CROSS JOIN tot ORDER BY nprobe""".stripMargin
      },
      doc = "IVF nprobe sweep: micro-averaged recall@10 at 1/2/4 probes vs exact L2 ground truth"),

    // The SQL surface end-to-end: the cosine kNN expressed as PURE
    // `spark.sql` text over a registered view, reaching the codegen'd
    // VecDot kernel through the GraftFunctions registration (the
    // spark.sql.extensions seam a BI tool / notebook %%sql client would
    // use). Same Expression node, same numerics as the Column API —
    // graded against the same oracle shape as v3_knn_cosine.
    "sql_surface_knn" -> Q(
      fn = (s, dir) => {
        graft.functions.GraftFunctions.install(s)
        Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
        s.sql(
          """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
            |  FROM graft_embeddings WHERE vec_id = 0)
            |SELECT vec_id, label,
            |  round(1.0 - vec_dot(CAST(embedding AS ARRAY<DOUBLE>), qv)
            |    / (sqrt(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
            |                    CAST(embedding AS ARRAY<DOUBLE>)))
            |     * sqrt(vec_dot(qv, qv))), 9) + CAST(0.0 AS DOUBLE) AS distance
            |FROM graft_embeddings, q
            |ORDER BY distance, vec_id LIMIT 10""".stripMargin)
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, label, ${cosSql("embedding")} AS distance
           |FROM embeddings, q ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "pure-SQL cosine kNN through the injected vec_dot kernel (SQL client surface)"),

    // ANN via 1-bit binary sketch: sign-bit Hamming candidate filter (32×
    // smaller than the floats — the RAM-resident relation at 100 TB), exact
    // cosine re-rank of the survivors. Hamming is EXACT integer arithmetic
    // (|a|+|q|-2⟨a,q⟩ over 0/1 vectors), so the candidate cut is
    // deterministic and the oracle replays it bit-for-bit.
    "v3_ann_binary" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Vectors.binaryKnn(emb, "vec_id", "embedding", queryVec(s, dir),
            topK = 10, candidates = 50)
          .select(col("vec_id"), col("label"), col("hamming"),
            (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |qb AS (SELECT list_transform(qv, x -> CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END) AS qbits FROM q),
           |ham AS (SELECT vec_id, label, embedding,
           |    CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
           |        x -> CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END))
           |      + list_sum(qbits)
           |      - 2.0 * list_sum(list_transform(
           |          list_zip(list_transform(CAST(embedding AS DOUBLE[]),
           |            x -> CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END), qbits),
           |          z -> z[1] * z[2])) AS BIGINT) AS hamming
           |  FROM embeddings, qb),
           |cand AS (SELECT * FROM ham ORDER BY hamming, vec_id LIMIT 50)
           |SELECT vec_id, label, hamming, ${cosSql("embedding")} AS distance
           |FROM cand, q ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN (1-bit sign sketch): exact-integer Hamming filter + cosine re-rank"),

    // V3 ANN via IVF-flat: probe the 4 nearest of 16 seeded centroid lists.
    // Centroids come from the table (vec_id % 97 == 3), so the oracle
    // recomputes identical assignments — no literals needed.
    "v3_ann_ivf" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        Vectors.ivfKnn(emb, "vec_id", "embedding", centroids, queryVec(s, dir), 10, 4)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
           |assigned AS (SELECT e.vec_id, e.label, e.embedding,
           |    (SELECT c.cid FROM cents c
           |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
           |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
           |  FROM embeddings e),
           |probes AS (SELECT c.cid FROM cents c, q
           |  ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv),
           |    z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 4)
           |SELECT vec_id, label, ${l2Sql("embedding")} AS distance
           |FROM assigned, q WHERE cid IN (SELECT cid FROM probes)
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN (IVF-flat, nProbe=4/16) — partition-pruned scale path"),

    // Clustering-quality eval for the IVF/SemDeDup layout: the simplified
    // (centroid-based) silhouette census — mean (b−a)/max(a,b) per cluster
    // where a/b are distances to the nearest/second-nearest centroid. One
    // scan + one combinable agg (O(n·k·d)); the exact pairwise silhouette
    // is O(n²·d) and is the form that does NOT survive 100 TB. n_negative
    // doubles as the assignment invariant (nearest-centroid ⇒ a ≤ b ⇒ 0).
    "embedding_silhouette" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        Vectors.silhouetteCensus(emb, "embedding", centroids)
      },
      oracle = Some(
        """WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |d AS (SELECT e.vec_id, c.cid,
          |    list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
          |      z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
          |  FROM embeddings e CROSS JOIN cents c WHERE e.embedding IS NOT NULL),
          |r AS (SELECT vec_id, cid, d2,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
          |ab AS (SELECT a.vec_id, a.cid, sqrt(a.d2) AS a_d, sqrt(b.d2) AS b_d
          |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
          |s AS (SELECT cid, CASE WHEN greatest(a_d, b_d) = 0 THEN 0
          |    ELSE (b_d - a_d) / greatest(a_d, b_d) END AS s FROM ab)
          |SELECT cid, count(*) AS n_points,
          |  CAST(sum(CAST(round(s, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*)
          |    AS mean_silhouette,
          |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
          |FROM s GROUP BY cid ORDER BY cid""".stripMargin),
      doc = "simplified silhouette census: per-cluster quality in one scan, no pairwise join"),

    // Distributed Lloyd step refining the IVF centroids: assignment via the
    // same argmin-L2 subquery as v3_ann_ivf, then per-(centroid, dim) decimal
    // means — k·dim partial sums per task is the whole shuffle. The refined
    // centroids feed Vectors.kmeansRefine (spec-verified loop).
    "v3_ivf_kmeans_step" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        Vectors.kmeansStep(emb, "embedding", centroids)
          .orderBy(col("cid"), col("dim"))
      },
      oracle = Some(
        """WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |assigned AS (SELECT CAST(e.embedding AS DOUBLE[]) AS emb,
          |    (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
          |  FROM embeddings e),
          |ex AS (SELECT cid, unnest(list_transform(generate_series(1, 64),
          |         i -> struct_pack(dim := i, v := emb[i]))) AS u FROM assigned),
          |g AS (SELECT cid, CAST(u.dim AS INT) AS dim, count(*) AS n,
          |        sum(CAST(u.v AS DECIMAL(30,10))) AS s FROM ex GROUP BY 1, 2)
          |SELECT cid, dim, n, round(CAST(s AS DOUBLE) / n, 6) AS c_new
          |FROM g ORDER BY cid, dim""".stripMargin),
      doc = "IVF k-means refinement step (distributed Lloyd iteration, decimal-exact)"),

    // End-to-end refined-IVF ANN: one Lloyd step over the seeded-sample
    // centroids, then nProbe search against the REFINED lists — the full
    // IVF train+query pipeline in one oracle-checked query. Works because
    // the refined coordinates are decimal-exact + 6 dp-rounded (kmeansStep),
    // so both engines re-derive identical centroid literals before the
    // (bit-parity-established) distance folds.
    "v3_ann_ivf_refined" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val init = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val refined = Vectors.kmeansRefine(emb, "embedding", init, 1)
        Vectors.ivfKnn(emb, "vec_id", "embedding", refined, queryVec(s, dir), 10, 4)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
           |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
           |a0 AS (SELECT CAST(e.embedding AS DOUBLE[]) AS emb,
           |    (SELECT c.cid FROM cents c
           |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
           |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
           |  FROM embeddings e),
           |ex AS (SELECT cid, unnest(list_transform(generate_series(1, 64),
           |         i -> struct_pack(dim := i, v := emb[i]))) AS u FROM a0),
           |g AS (SELECT cid, u.dim AS dim, count(*) AS n,
           |        sum(CAST(u.v AS DECIMAL(30,10))) AS s FROM ex GROUP BY 1, 2),
           |rc AS (SELECT cid, list(round(CAST(s AS DOUBLE) / n, 6) ORDER BY dim) AS cv
           |       FROM g GROUP BY cid),
           |probes AS (SELECT rc.cid FROM rc, q
           |  ORDER BY list_sum(list_transform(list_zip(q.qv, rc.cv),
           |    z -> (z[1]-z[2])*(z[1]-z[2]))), rc.cid LIMIT 4),
           |assigned AS (SELECT e.vec_id, e.label, e.embedding,
           |    (SELECT rc.cid FROM rc
           |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), rc.cv),
           |       z -> (z[1]-z[2])*(z[1]-z[2]))), rc.cid LIMIT 1) AS cid
           |  FROM embeddings e)
           |SELECT vec_id, label, ${l2Sql("embedding")} AS distance
           |FROM assigned, q WHERE cid IN (SELECT cid FROM probes)
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "refined-IVF ANN end-to-end (Lloyd step + nProbe search, oracle-checked)"),

    // V3 ANN product quantization: 8 subspaces × 16 data-sampled codebook
    // entries (the IVF sample rows), ADC ranking off an m×16 driver-side
    // lookup table — the memory-scale path (vector → 8 small ints).
    "v3_ann_pq" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val codebooks = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("embedding").cast("array<double>")).collect()
          .map(_.getSeq[Double](0).toSeq).toSeq
        Vectors.pqSearch(emb, "vec_id", "embedding", codebooks, 8,
          queryVec(s, dir), 10, payloadCols = Seq("label"))
      },
      oracle = Some(
        """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
          |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |cl AS (SELECT list(cv ORDER BY cid) AS cbs FROM cents),
          |ds AS (SELECT vec_id, label, list_transform(generate_series(1, 8), s ->
          |    list_transform(generate_series(1, 16), c ->
          |      list_sum(list_transform(generate_series(1, 8), j ->
          |        (ev[(s-1)*8+j] - cbs[c][(s-1)*8+j]) * (ev[(s-1)*8+j] - cbs[c][(s-1)*8+j])))))
          |  AS dmat FROM base, cl),
          |codes AS (SELECT vec_id, label,
          |    list_transform(dmat, dl -> array_position(dl, list_min(dl))) AS code FROM ds),
          |scored AS (SELECT vec_id, label,
          |    round(list_sum(list_transform(generate_series(1, 8), s ->
          |      list_sum(list_transform(generate_series(1, 8), j ->
          |        (qv[(s-1)*8+j] - cbs[code[s]][(s-1)*8+j])
          |      * (qv[(s-1)*8+j] - cbs[code[s]][(s-1)*8+j]))))), 9) + 0.0 AS adc
          |  FROM codes, cl, q)
          |SELECT vec_id, label, adc FROM scored ORDER BY adc, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN (product quantization, 8×16 ADC) — memory-scale path"),

    // IVF+PQ combined — the FAISS-IVFPQ shape: coarse quantizer prunes to
    // the nProbe nearest lists (the written partition key at 100 TB), then
    // ADC ranks only the pruned lists' PQ codes. Both stages reuse the
    // already-proven oracle pieces verbatim.
    "v3_ann_ivfpq" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val sample = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
        val centroids = sample.map(r =>
          (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val codebooks = centroids.map(_._2)
        val q = queryVec(s, dir)
        val probes = centroids.map { case (cid, cv) =>
          (cid, cv.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.sortBy { case (cid, d) => (d, cid) }.take(4).map(_._1)
        val pruned = Vectors.ivfAssign(emb, "embedding", centroids)
          .filter(col("ivf_cid").isin(probes: _*))
        Vectors.pqSearch(pruned, "vec_id", "embedding", codebooks, 8, q, 10,
          payloadCols = Seq("label"))
      },
      oracle = Some(
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |cl AS (SELECT list(cv ORDER BY cid) AS cbs FROM cents),
          |assigned AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS ev,
          |    (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
          |  FROM embeddings e),
          |probes AS (SELECT c.cid FROM cents c, q
          |  ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv),
          |    z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 4),
          |base AS (SELECT vec_id, label, ev FROM assigned
          |  WHERE cid IN (SELECT cid FROM probes)),
          |ds AS (SELECT vec_id, label, list_transform(generate_series(1, 8), s ->
          |    list_transform(generate_series(1, 16), c ->
          |      list_sum(list_transform(generate_series(1, 8), j ->
          |        (ev[(s-1)*8+j] - cbs[c][(s-1)*8+j]) * (ev[(s-1)*8+j] - cbs[c][(s-1)*8+j])))))
          |  AS dmat FROM base, cl),
          |codes AS (SELECT vec_id, label,
          |    list_transform(dmat, dl -> array_position(dl, list_min(dl))) AS code FROM ds),
          |scored AS (SELECT vec_id, label,
          |    round(list_sum(list_transform(generate_series(1, 8), s ->
          |      list_sum(list_transform(generate_series(1, 8), j ->
          |        (qv[(s-1)*8+j] - cbs[code[s]][(s-1)*8+j])
          |      * (qv[(s-1)*8+j] - cbs[code[s]][(s-1)*8+j]))))), 9) + 0.0 AS adc
          |  FROM codes, cl, q)
          |SELECT vec_id, label, adc FROM scored ORDER BY adc, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN IVF+PQ combined (coarse prune + ADC rank — the FAISS-IVFPQ shape)"),

    // Batch similarity join: top-5 neighbors for EVERY query vector (vec_id
    // % 41 sample) via the IVF topology — join key is the centroid id, no
    // all-pairs. The north-star retrieval/kNN-LM shape; oracle recomputes
    // probe sets and assignments per query with LATERAL argmin.
    "v3_knn_join" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val queries = emb.filter(col("vec_id") % 41 === 0)
        Vectors.knnJoin(queries, "vec_id", emb, "vec_id", "embedding",
          centroids, topK = 5, nProbe = 2)
          .orderBy(col("q_key"), col("rnk"))
      },
      oracle = Some(
        """WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |assigned AS (SELECT e.vec_id AS c_key, CAST(e.embedding AS DOUBLE[]) AS ev,
          |    (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
          |  FROM embeddings e),
          |qs AS (SELECT vec_id AS q_key, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 41 = 0),
          |qprobe AS (SELECT q.q_key, q.qv, p.cid
          |  FROM qs q, LATERAL (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 2) p),
          |scored AS (SELECT qp.q_key, a.c_key,
          |    round(sqrt(list_sum(list_transform(list_zip(qp.qv, a.ev),
          |      z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0 AS distance
          |  FROM qprobe qp JOIN assigned a ON qp.cid = a.cid),
          |r AS (SELECT *, row_number() OVER (PARTITION BY q_key
          |        ORDER BY distance, c_key) AS rnk FROM scored)
          |SELECT q_key, CAST(rnk AS BIGINT) AS rnk, c_key, distance
          |FROM r WHERE rnk <= 5 ORDER BY q_key, rnk""".stripMargin),
      doc = "batch kNN similarity join (IVF-co-partitioned, per-query top-k)"),

    // Farthest-point (Gonzalez k-center) IVF init, 6 rounds: the oracle
    // REPLAYS the whole selection loop as a generated CTE chain (argmax →
    // fold min-distance → next argmax), so the hash-match certifies the
    // entire centroid sequence and its coverage radii.
    "v3_kcenter_init" -> Q(
      fn = (s, dir) =>
        Vectors.farthestPointInit(Tables.embeddings(s, dir), "vec_id", "embedding", 6)
          .orderBy(col("k")),
      oracle = Some(kcenterOracle(6)),
      doc = "farthest-point k-center IVF init (6 rounds), oracle replays the selection loop"),

    // k-means++ D² init (Arthur & Vassilvitskii 2007) beside the Gonzalez
    // init — the probability-proportional draw production k-means actually
    // starts from, determinized by externalizing the randomness into seeded
    // scale-6 decimal fractions (query parameters). The engine's crossing
    // search is the distributed partition-census prefix sum (no global
    // window); the oracle replays every round's exact-decimal inverse-CDF
    // selection, so the hash-match certifies threshold arithmetic, keeper
    // order, and the D² fold all at once.
    "v3_kmeanspp_init" -> Q(
      fn = (s, dir) =>
        Vectors.kmeansPlusPlusInit(Tables.embeddings(s, dir), "vec_id", "embedding", 6)
          .orderBy(col("k")),
      oracle = Some(kppOracle(6)),
      doc = "k-means++ D² init (6 rounds), deterministic inverse-CDF draw, oracle replays the loop"),

    // IVF list-balance census: per-centroid assignment counts under the
    // seeded row sample vs the k-center init — the diagnostic that says
    // whether lists start balanced. Composes farthestPointInit + ivfAssign;
    // oracle replays the selection chain then recomputes both assignments.
    "v3_ivf_balance" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val sample = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(8)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val kcIds = Vectors.farthestPointInit(emb, "vec_id", "embedding", 8)
          .select(col("cid")).collect().map(_.getLong(0))
        val kc = emb.filter(col("vec_id").isin(kcIds: _*))
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
          .sortBy(_._1)
        // both census arms in ONE corpus pass (r14, guide §2.3/§2.4): the
        // assignment is a row-local argmin per centroid set, so evaluating
        // both sets in one projection and exploding 2 tagged rows replaces
        // two full scans + two exchanges + a union with one scan + one
        // partial-aggregated exchange — identical (init, cid, n) rows
        emb.select(explode(array(
            struct(lit("kcenter").as("init"),
              Vectors.ivfAssignExpr(col("embedding"), kc).as("cid")),
            struct(lit("sample").as("init"),
              Vectors.ivfAssignExpr(col("embedding"), sample).as("cid"))))
            .as("a"))
          .groupBy(col("a.init").as("init"), col("a.cid").as("cid"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("init"), col("cid"))
      },
      oracle = Some(ivfBalanceOracle(8)),
      doc = "IVF list-balance census: sample vs k-center init assignment counts"),

    // V3 ANN multi-probe LSH: probe the exact bucket + the 2 buckets across
    // the boundaries the query sits closest to (recall recovery).
    "v3_ann_lsh_multiprobe" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Vectors.annKnn(emb, "vec_id", "embedding", 64, queryVec(s, dir), 10,
          nPlanes = 4, multiProbe = 2)
          .select(col("vec_id"), col("label"), (col("distance") + 0.0).as("distance"))
      },
      oracle = Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           |${planesCte(4, 64)},
           |proj AS (SELECT i, list_sum(list_transform(list_zip(q.qv, p), z -> z[1]*z[2])) AS d
           |  FROM planes, q),
           |qb AS (SELECT CAST(SUM(CASE WHEN d >= 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS b
           |  FROM proj),
           |flips AS (SELECT i FROM proj ORDER BY abs(d), i LIMIT 2),
           |probes AS (SELECT b FROM qb
           |  UNION ALL SELECT xor(b, CAST(1 << i AS BIGINT)) FROM qb, flips),
           |assigned AS (SELECT vec_id, label, embedding,
           |    ${lshBucketSql("CAST(embedding AS DOUBLE[])", 4, 64)} AS bucket
           |  FROM embeddings)
           |SELECT vec_id, label, ${cosSql("embedding")} AS distance
           |FROM assigned, q WHERE bucket IN (SELECT b FROM probes)
           |ORDER BY distance, vec_id LIMIT 10""".stripMargin),
      doc = "V3 ANN multi-probe LSH (boundary-nearest bit flips)"),

    // Embedding covariance matrix — the statistics pass behind PCA
    // whitening / OPQ rotation. One explode to the d(d+1)/2 upper
    // triangle, one combinable groupBy: the result is d²-sized however
    // large the corpus, and the shuffle carries only partial sums. Each
    // product xi·xj is EXACT in double (float·float), rounded to 9 dp and
    // summed as DECIMAL — order-free, bit-stable; the co-moment → cov
    // chain is then a fixed IEEE sequence both engines replay.
    // GRADED OUTPUT RULE: the exact DECIMAL co-moment stays internal; the
    // emitted `sxy` is graded as an exact digit STRING — its magnitude is
    // Σ(~1e10/row) and passes 2^53 beyond ~1e6 vectors, where decimal→
    // double conversion double-rounds engine-differently (r8 ADVICE).
    "embedding_covariance" -> Q(
      fn = (s, dir) =>
        Vectors.covarianceMatrix(Tables.embeddings(s, dir), "embedding")
          .withColumn("sxy", col("sxy").cast("string"))
          .orderBy(col("i"), col("j")),
      oracle = Some(
        s"""WITH $covCtes
           |SELECT i, j, n, CAST(sxy AS VARCHAR) AS sxy, cov
           |FROM covm ORDER BY i, j""".stripMargin),
      doc = "covariance/co-moment matrix over embeddings: d²-bounded combinable agg (PCA/whitening stats)"),

    // Top principal component by fixed-round power iteration over the
    // covariance relation — the PCA step itself, not just its statistics.
    // Every matvec inner sum is round(·,12)-then-DECIMAL (order-free), so
    // the 8-round trajectory is bit-identical cross-engine and the oracle
    // replays ALL rounds as generated CTEs — the hash-match certifies the
    // entire eigen-iteration, normalization included.
    "embedding_pca_power" -> Q(
      fn = (s, dir) =>
        Vectors.powerIteration(
          Vectors.covarianceMatrix(Tables.embeddings(s, dir), "embedding"), 8)
          .orderBy(col("i")),
      oracle = Some(powerOracle(8)),
      doc = "dominant eigenpair via power iteration: DECIMAL-exact matvecs, full trajectory oracle-replayed"),

    // ANN quality evaluation: recall@10 of the IVF kNN-join against exact
    // brute force, per query. The eval every ANN deployment runs before
    // trusting an index — and the exact side is only ever computed over a
    // SAMPLED query batch (broadcast nested-loop against the corpus, cost
    // |sample|·|corpus|, the standard recall-probe budget), never all
    // pairs. Recall is one int/int division — IEEE-exact cross-engine.
    "v3_ann_recall" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val queries = emb.filter(col("vec_id") % 41 === 0)
        val approx = Vectors.knnJoin(queries, "vec_id", emb, "vec_id",
          "embedding", centroids, topK = 10, nProbe = 2)
          .select(col("q_key"), col("c_key"))
        val q2 = queries.select(col("vec_id").as("q_key"),
          col("embedding").cast("array<double>").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        val exact = emb
          .select(col("vec_id").as("c_key"),
            col("embedding").cast("array<double>").as("c_emb"))
          .crossJoin(broadcast(q2))
          .withColumn("distance", round(sqrt(
            graft.functions.VectorExprs.l2Sq(col("q_emb"), col("c_emb"))), 9) + 0.0)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("q_key"), col("c_key"))
        graft.operators.CacheOnce.pin(exact)
        exact.count() // pin: census + the semi-join probe
        val matched = exact.join(approx, Seq("q_key", "c_key"), "left_semi")
          .groupBy(col("q_key")).agg(count(lit(1)).as("n_matched"))
        exact.groupBy(col("q_key")).agg(count(lit(1)).as("n_exact"))
          .join(matched, Seq("q_key"), "left")
          .select(col("q_key"), col("n_exact"),
            coalesce(col("n_matched"), lit(0L)).as("n_matched"),
            (coalesce(col("n_matched"), lit(0L)).cast("double")
              / col("n_exact").cast("double")).as("recall"))
          .orderBy(col("q_key"))
      },
      oracle = Some(
        """WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |assigned AS (SELECT e.vec_id AS c_key, CAST(e.embedding AS DOUBLE[]) AS ev,
          |    (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 1) AS cid
          |  FROM embeddings e),
          |qs AS (SELECT vec_id AS q_key, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 41 = 0),
          |qprobe AS (SELECT q.q_key, q.qv, p.cid
          |  FROM qs q, LATERAL (SELECT c.cid FROM cents c
          |     ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid LIMIT 2) p),
          |scored AS (SELECT qp.q_key, a.c_key,
          |    round(sqrt(list_sum(list_transform(list_zip(qp.qv, a.ev),
          |      z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0 AS distance
          |  FROM qprobe qp JOIN assigned a ON qp.cid = a.cid),
          |ar AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
          |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM scored)
          |  WHERE rnk <= 10),
          |escore AS (SELECT q.q_key, e.vec_id AS c_key,
          |    round(sqrt(list_sum(list_transform(
          |      list_zip(q.qv, CAST(e.embedding AS DOUBLE[])),
          |      z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0 AS distance
          |  FROM qs q, embeddings e),
          |ex AS (SELECT q_key, c_key FROM (SELECT *, row_number() OVER (
          |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM escore)
          |  WHERE rnk <= 10),
          |m AS (SELECT ex.q_key, count(*) AS n_matched FROM ex
          |      JOIN ar ON ex.q_key = ar.q_key AND ex.c_key = ar.c_key GROUP BY 1),
          |e2 AS (SELECT q_key, count(*) AS n_exact FROM ex GROUP BY 1)
          |SELECT e2.q_key, e2.n_exact, coalesce(m.n_matched, 0) AS n_matched,
          |  CAST(coalesce(m.n_matched, 0) AS DOUBLE) / CAST(e2.n_exact AS DOUBLE) AS recall
          |FROM e2 LEFT JOIN m ON e2.q_key = m.q_key ORDER BY e2.q_key""".stripMargin),
      doc = "ANN recall@10 eval: IVF kNN-join vs sampled exact brute force, per-query census"),

    // Label-noise audit (Confident-Learning-style): for sampled vectors,
    // how many of the 10 exact-cosine nearest neighbors share the vector's
    // own label. Low agreement (≤2/10) flags probable label errors — the
    // curation signal that decides what gets relabeled or dropped before
    // training. Census per label: mean agreement + suspect count, all
    // exact integers until the final ratio. Same broadcast-cross exact-kNN
    // shape as the recall evals; at 100 TB the sample rides a real ANN
    // index instead of the brute-force scan.
    "embedding_label_noise" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.select(col("vec_id").as("c_key"),
          col("label").as("c_label"),
          col("embedding").cast("array<double>").as("c_emb"))
        val queries = emb.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("q_key"), col("label").as("q_label"),
            col("embedding").cast("array<double>").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        val nn = corpus.crossJoin(broadcast(queries))
          .filter(col("c_key") =!= col("q_key"))
          .withColumn("distance",
            round(Vectors.cosineDistance(col("c_emb"), col("q_emb")), 9) + 0.0)
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
        nn.groupBy(col("q_key"), col("q_label"))
          .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"))
          .groupBy(col("q_label").as("label"))
          .agg(count(lit(1)).as("n_queries"),
            sum(col("n_agree")).as("sum_agree"),
            sum(when(col("n_agree") <= 2, 1L).otherwise(0L)).as("n_suspect"))
          .withColumn("mean_agree", col("sum_agree").cast("double") /
            (col("n_queries").cast("double") * lit(10.0)))
          .orderBy(col("label"))
      },
      oracle = Some(
        """WITH qs AS (SELECT vec_id AS q_key, label AS q_label,
          |    CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 41 = 0),
          |sc AS (SELECT q_key, q_label, e.vec_id AS c_key, e.label AS c_label,
          |    round(1.0 - list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), qv),
          |        z -> z[1]*z[2]))
          |      / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x)))
          |       * sqrt(list_sum(list_transform(qv, x -> x*x)))), 9) + 0.0 AS distance
          |  FROM qs, embeddings e WHERE e.vec_id <> q_key),
          |nn AS (SELECT * FROM (SELECT *, row_number() OVER (
          |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM sc)
          |  WHERE rnk <= 10),
          |pq AS (SELECT q_key, q_label,
          |    CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
          |  FROM nn GROUP BY q_key, q_label)
          |SELECT q_label AS label, count(*) AS n_queries,
          |  CAST(sum(n_agree) AS BIGINT) AS sum_agree,
          |  CAST(sum(CASE WHEN n_agree <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
          |  CAST(sum(n_agree) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 10.0) AS mean_agree
          |FROM pq GROUP BY q_label ORDER BY label""".stripMargin),
      doc = "label-noise audit: 10-NN label agreement census, suspect flag at <=2/10"),

    // Sign-LSH angle calibration: for every (query, corpus) pair, census
    // sign-agreement level (0..4 planes) against EXACT cosine similarity.
    // Theory says collision fraction ≈ 1 − θ/π per plane, so mean cosine
    // must rise monotonically with agreement — a degenerate plane set (the
    // MinHash-stride failure class) would flatten it. Exact cosines are
    // quantized to integers (floor(cos·1e9)) BEFORE summation: the dot and
    // norm folds are sequential in both engines (same op order, correctly
    // rounded), so the quantized means are bit-reproducible with no float
    // accumulation in the graded chain.
    "v3_lsh_angle_calibration" -> Q(
      fn = (s, dir) => {
        val withB = Vectors.lshBuckets(Tables.embeddings(s, dir),
          "embedding", 64, nPlanes = 4)
        val corpus = withB.select(col("vec_id").as("c_key"),
          col("embedding").cast("array<double>").as("cv"),
          col("lsh_bucket").as("cb"))
        val queries = withB.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("q_key"),
            col("embedding").cast("array<double>").as("qv"),
            col("lsh_bucket").as("qb"))
        corpus.crossJoin(broadcast(queries))
          .filter(col("c_key") =!= col("q_key"))
          .withColumn("agree",
            (lit(4) - expr("bit_count(cb ^ qb)")).cast("long"))
          // codegen VecDot (bit-identical to the HOF aggregate form — same
          // left-to-right summation; see Vectors.quantizedCos9)
          .withColumn("dotp",
            graft.functions.VectorExprs.vecDot(col("cv"), col("qv")))
          .withColumn("nc",
            graft.functions.VectorExprs.vecDot(col("cv"), col("cv")))
          .withColumn("nq",
            graft.functions.VectorExprs.vecDot(col("qv"), col("qv")))
          .withColumn("qcos",
            floor(col("dotp") / (sqrt(col("nc")) * sqrt(col("nq"))) * lit(1000000000.0))
              .cast("long"))
          .groupBy(col("agree"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("qcos")).as("sum_qcos"))
          .withColumn("mean_cos", col("sum_qcos").cast("double") /
            (col("n_pairs").cast("double") * lit(1000000000.0)))
          .orderBy(col("agree"))
      },
      oracle = Some(
        s"""WITH c AS (SELECT vec_id AS c_key, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           |cb AS (SELECT c_key, cv, ${lshBucketSql("cv", 4, 64)} AS b FROM c),
           |qb AS (SELECT c_key AS q_key, cv AS qv, b AS q_b FROM cb WHERE c_key % 41 = 0),
           |pairs AS (SELECT cb.cv, cb.b, q.qv, q.q_b FROM cb, qb q WHERE cb.c_key <> q.q_key),
           |m AS (SELECT CAST(4 - bit_count(xor(b, q_b)) AS BIGINT) AS agree,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip(cv, qv), z -> z[1] * z[2])), (a, v) -> a + v) AS dotp,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(cv, x -> x * x)), (a, v) -> a + v) AS nc,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(qv, x -> x * x)), (a, v) -> a + v) AS nq
           |  FROM pairs)
           |SELECT agree, count(*) AS n_pairs,
           |  CAST(sum(CAST(floor(dotp / (sqrt(nc) * sqrt(nq)) * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_qcos,
           |  CAST(sum(CAST(floor(dotp / (sqrt(nc) * sqrt(nq)) * 1000000000.0) AS BIGINT)) AS DOUBLE)
           |    / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS mean_cos
           |FROM m GROUP BY agree ORDER BY agree""".stripMargin),
      doc = "sign-LSH calibration: agreement-level census vs exact quantized cosine (monotone collision law)"),

    // k-NN-GRAPH construction via one NN-Descent round (Dong et al., WWW'11
    // — the standard way UMAP/PyNNDescent build billion-point neighbor
    // graphs; pgvector's HNSW build walks the same neighbor-of-neighbor
    // structure, src/storage/protocols/vector/adapter/pgvector/index.ts:60).
    // G0 seeds each node's top-5 from TWO INDEPENDENT sign-LSH tables
    // (equi-joins, never all-pairs). Two tables is load-bearing, not a
    // recall tweak: a single table's buckets are equivalence classes, so
    // every G0 edge stays inside one bucket, neighbor-of-neighbor can never
    // escape it, and G0 is already the exact in-bucket top-5 — the descent
    // round is PROVABLY a no-op. With two tables a neighbor reached through
    // table 1 exposes its table-2 bucket, so the closure crosses regions
    // (the same reason NN-Descent inits randomly and LSH indexes stack
    // tables). The descent round proposes neighbors-of-neighbors over the
    // UNDIRECTED G0 (candidates per node ≤ (2K)² — bounded by the graph
    // degree, independent of corpus size) and re-ranks. Audit: per sampled
    // node, recall@5 vs exact ground truth before/after, plus exact
    // quantized-distance sums. The descent inequality r1 ≥ r0 (and
    // d1_sum9 ≤ d0_sum9 at equal degree) holds by construction — a total
    // (d9, key) order means a displaced exact-NN edge is a contradiction —
    // and DedupVectorsSpec asserts it. All graded numbers are integers:
    // d9 = ⌊cos_dist·1e9⌋ with a single engine-identical IEEE chain
    // (sequential folds, correctly-rounded sqrt/÷), so rank, recall and
    // sums are bit-reproducible. 100 TB path: every stage is an equi-join
    // (bucket, then node id) + per-node top-k — shuffle-bounded by
    // |E| = n·K, no global sort, no crossJoin beyond the broadcast sampled
    // ground-truth audit (SCALE.md round-9 wave).
    "v3_knn_graph_descent" -> Q(
      fn = (s, dir) => {
        val K = 5
        def d9(x: String, y: String): org.apache.spark.sql.Column =
          Vectors.quantizedCos9(col(x), col(y))
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("a")).orderBy(col("d9"), col("b"))
        def bucketPairs(seed: Long) = {
          val wb = Vectors.lshBuckets(emb, "v", 64, nPlanes = 4, seed = seed)
          val l = wb.select(col("vec_id").as("a"), col("lsh_bucket").as("ba"))
          val r = wb.select(col("vec_id").as("b"), col("lsh_bucket").as("bb"))
          l.join(r, col("ba") === col("bb") && col("a") =!= col("b"))
            .select(col("a"), col("b"))
        }
        val g0 = bucketPairs(42L).union(bucketPairs(1337L)).distinct()
          .join(emb.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
          .join(emb.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
          .withColumn("d9", d9("va", "vb"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
          .select(col("a"), col("b"), col("d9"))
        graft.operators.CacheOnce.pin(g0)
        g0.count() // pin: feeds candidates, degree census AND both recalls
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
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
          .select(col("a"), col("b"), col("d9"))
        graft.operators.CacheOnce.pin(g1)
        g1.count() // pin: degree census + recall probe
        val qs = emb.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("a"), col("v").as("qa"))
        val exact = emb.select(col("vec_id").as("b"), col("v").as("vb"))
          .crossJoin(broadcast(qs)).filter(col("a") =!= col("b"))
          .withColumn("d9", d9("qa", "vb"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
          .select(col("a"), col("b"))
        graft.operators.CacheOnce.pin(exact)
        exact.count() // pin: two semi-join probes
        val r0 = exact.join(g0, Seq("a", "b"), "left_semi")
          .groupBy(col("a")).agg(count(lit(1)).as("r0"))
        val r1 = exact.join(g1, Seq("a", "b"), "left_semi")
          .groupBy(col("a")).agg(count(lit(1)).as("r1"))
        val deg0 = g0.groupBy(col("a"))
          .agg(count(lit(1)).as("n0"), sum(col("d9")).as("d0_sum9"))
        val deg1 = g1.groupBy(col("a"))
          .agg(count(lit(1)).as("n1"), sum(col("d9")).as("d1_sum9"))
        qs.select(col("a"))
          .join(deg0, Seq("a"), "left").join(deg1, Seq("a"), "left")
          .join(r0, Seq("a"), "left").join(r1, Seq("a"), "left")
          .select(col("a").as("q_key"),
            coalesce(col("n0"), lit(0L)).as("n0"),
            coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("r0"), lit(0L)).as("r0"),
            coalesce(col("r1"), lit(0L)).as("r1"),
            coalesce(col("d0_sum9"), lit(0L)).as("d0_sum9"),
            coalesce(col("d1_sum9"), lit(0L)).as("d1_sum9"))
          .orderBy(col("q_key"))
      },
      oracle = Some {
        def d9sql(x: String, y: String): String =
          s"""CAST(floor((1.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(list_zip($x, $y), z -> z[1] * z[2])), (a, v) -> a + v)
             |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform($x, p -> p * p)), (a, v) -> a + v))
             |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform($y, p -> p * p)), (a, v) -> a + v))))
             |  * 1000000000.0) AS BIGINT)""".stripMargin
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |ebk1 AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 64)} AS bk FROM e),
           |ebk2 AS (SELECT vec_id, v, ${lshBucketSql("v", 4, 64, 1337L)} AS bk FROM e),
           |pp AS (SELECT DISTINCT a, b FROM (
           |    SELECT x.vec_id AS a, y.vec_id AS b
           |      FROM ebk1 x JOIN ebk1 y ON x.bk = y.bk AND x.vec_id <> y.vec_id
           |    UNION ALL
           |    SELECT x.vec_id, y.vec_id
           |      FROM ebk2 x JOIN ebk2 y ON x.bk = y.bk AND x.vec_id <> y.vec_id)),
           |p0 AS (SELECT p.a, p.b, ${d9sql("ea.v", "eb0.v")} AS d9
           |  FROM pp p JOIN e ea ON ea.vec_id = p.a JOIN e eb0 ON eb0.vec_id = p.b),
           |g0 AS (SELECT a, b, d9 FROM (SELECT *, row_number() OVER (
           |    PARTITION BY a ORDER BY d9, b) AS rnk FROM p0) WHERE rnk <= 5),
           |und AS (SELECT DISTINCT a, b FROM (
           |    SELECT a, b FROM g0 UNION ALL SELECT b, a FROM g0)),
           |cand AS (SELECT DISTINCT a, b FROM (
           |    SELECT x.a AS a, y.b AS b FROM und x JOIN und y ON x.b = y.a
           |      WHERE x.a <> y.b
           |    UNION ALL SELECT a, b FROM g0)),
           |sc AS (SELECT c.a, c.b, ${d9sql("ea.v", "eb2.v")} AS d9
           |  FROM cand c JOIN e ea ON ea.vec_id = c.a
           |    JOIN e eb2 ON eb2.vec_id = c.b),
           |g1 AS (SELECT a, b, d9 FROM (SELECT *, row_number() OVER (
           |    PARTITION BY a ORDER BY d9, b) AS rnk FROM sc) WHERE rnk <= 5),
           |qs AS (SELECT vec_id AS a, v FROM e WHERE vec_id % 41 = 0),
           |ex AS (SELECT a, b FROM (SELECT q.a, e2.vec_id AS b,
           |      ${d9sql("q.v", "e2.v")} AS d9, row_number() OVER (
           |      PARTITION BY q.a ORDER BY ${d9sql("q.v", "e2.v")}, e2.vec_id) AS rnk
           |    FROM qs q JOIN e e2 ON e2.vec_id <> q.a) WHERE rnk <= 5),
           |r0 AS (SELECT ex.a, count(*) AS r0 FROM ex
           |  JOIN g0 ON ex.a = g0.a AND ex.b = g0.b GROUP BY 1),
           |r1 AS (SELECT ex.a, count(*) AS r1 FROM ex
           |  JOIN g1 ON ex.a = g1.a AND ex.b = g1.b GROUP BY 1),
           |deg0 AS (SELECT a, count(*) AS n0, CAST(sum(d9) AS BIGINT) AS d0_sum9
           |  FROM g0 GROUP BY 1),
           |deg1 AS (SELECT a, count(*) AS n1, CAST(sum(d9) AS BIGINT) AS d1_sum9
           |  FROM g1 GROUP BY 1)
           |SELECT q.a AS q_key,
           |  coalesce(n0, 0) AS n0, coalesce(n1, 0) AS n1,
           |  coalesce(r0, 0) AS r0, coalesce(r1, 0) AS r1,
           |  coalesce(d0_sum9, 0) AS d0_sum9, coalesce(d1_sum9, 0) AS d1_sum9
           |FROM qs q LEFT JOIN deg0 ON q.a = deg0.a LEFT JOIN deg1 ON q.a = deg1.a
           |  LEFT JOIN r0 ON q.a = r0.a LEFT JOIN r1 ON q.a = r1.a
           |ORDER BY q_key""".stripMargin
      },
      doc = "kNN-graph build: 2-table-LSH-seeded top-5 + one NN-Descent neighbor-of-neighbor round, recall@5 audit before/after"),

    // QUERY-TIME greedy beam search over the STORED NN-Descent kNN graph —
    // the search half the family was missing (v3_knn_graph_descent only
    // BUILDS and audits the graph; the reference's HNSW query path walks
    // it, pgvector/index.ts:740-805, ef_search = max(k, 40), index.ts:98).
    // Deterministic bounded variant: entry candidates are the query's own
    // table-1 LSH bucket co-members ∪ a global min-id fallback (the hybrid
    // LSH-entry + graph-refinement shape; a lone entry point needs
    // O(diameter) rounds to reach the query's region), then R = 4 rounds of
    //   beam ← top-ef of (beam ∪ neighbors(beam)) under the total
    //   (d9, id) order (ef = 10)
    // — no visited set needed: scoring is deterministic and idempotent, so
    // revisits re-rank identically and the beam's d9-sum is monotone
    // non-increasing (the replayed-argmax pattern from embedding_mmr_rerank).
    // Graded per probe query: final-beam top-5 census (count, exact d9 sum)
    // and recall@5 vs exact brute force. The oracle replays the graph build
    // AND all 4 beam rounds as MATERIALIZED generated CTEs (the
    // embedding_pca_power lesson: re-referenced chains re-inline
    // exponentially without it). 100 TB path: the graph is a build-once
    // stored layout (Vectors.ensureKnnGraph — the inverted-index contract);
    // each beam round joins a |queries|·ef relation against the K-regular
    // resident adjacency. The PROBE work is corpus-independent
    // (|queries|·ef·K rows per round); the round's join still streams the
    // resident adjacency, so single-node latency ∝ resident-index scan,
    // not corpus × queries — a beam-query scaling probe measured ~2×
    // latency over a 16× corpus (SCALE.md r11 wave 1). The stored layout IS
    // bucketed by node id (ensureKnnGraph partitionBy(a_bkt_<B>)) and the hop
    // join (Vectors.graphHops) dynamic-partition-prunes a cold probe to
    // the probed buckets (KnnGraphLayoutSpec), which is why graph indexes
    // win at scale; this row keeps the graph persisted because the graded
    // contract is the RESIDENT serving path.
    "v3_graph_beam_search" -> Q(
      fn = (s, dir) => {
        val K = 5; val ef = 10; val rounds = 4
        def d9(x: String, y: String): org.apache.spark.sql.Column =
          Vectors.quantizedCos9(col(x), col(y))
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // the graph is a STORED index (build-once, like the inverted index /
        // Z-order layouts): v3_knn_graph_descent audits the build; this row
        // measures the QUERY path the way a resident ANN index serves it
        val path = Warehouse.knnGraphPath(dir)
        Vectors.ensureKnnGraph(s, emb, "vec_id", "v", path, K)
        // RESIDENT serving contract: project the layout's bucket column
        // away before pinning, so graphHops takes the plain key join — a
        // cached relation has no partitions to prune and the DPP probe
        // machinery measured ~+0.9 s/call of pure overhead against it
        // (r12 bench flag). The cold/cluster path keeps the bucket column and prunes
        // (KnnGraphLayoutSpec).
        // CacheOnce (not bare persist): these pins are deliberately left
        // cached across calls — the resident serving contract — so rep 2+
        // would otherwise WARN-flood the bench log (r12 verdict item 4)
        val g1 = s.read.parquet(path).select(col("a"), col("b"))
        graft.operators.CacheOnce.pin(g1)
        g1.count() // resident index: R probe joins + nothing else reads disk
        val qs = emb.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("q"), col("v").as("qv"))
        graft.operators.CacheOnce.pin(qs)
        qs.count()
        // entry candidates = the query's own table-1 LSH bucket co-members
        // (the hybrid LSH-entry + graph-refinement shape real deployments
        // use; a lone global entry needs O(diameter) rounds to reach the
        // query's region) ∪ the global min-id fallback (a query whose
        // bucket is empty still searches)
        val b1 = Vectors.lshBuckets(emb, "v", 64, nPlanes = 4, seed = 42L)
          .select(col("vec_id").as("id"), col("lsh_bucket").as("bk"))
        val entry = g1.agg(min(col("a")).as("id"))
        val seeds = qs.select(col("q"))
          .join(b1.select(col("id").as("q"), col("bk")), Seq("q"))
          .join(b1, Seq("bk")).filter(col("id") =!= col("q"))
          .select(col("q"), col("id"))
          .union(qs.select(col("q")).crossJoin(broadcast(entry))
            .filter(col("id") =!= col("q")))
          .distinct()
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("d9"), col("id"))
        // beam loop factored into Vectors.beamSearch (identical computation)
        // so KnnGraphLayoutSpec exercises the same serving path
        val beam = Vectors.beamSearch(g1, emb, qs, seeds, ef, rounds)
        val top = beam.withColumn("rnk", row_number().over(wq))
          .filter(col("rnk") <= K).persist()
        top.count() // pin: census + recall probe
        val exact = emb.select(col("vec_id").as("id"), col("v").as("cv"))
          .crossJoin(broadcast(qs)).filter(col("id") =!= col("q"))
          .withColumn("d9", d9("qv", "cv"))
          .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= K)
          .select(col("q"), col("id"))
        val rec = exact.join(top.select(col("q"), col("id")),
            Seq("q", "id"), "left_semi")
          .groupBy(col("q")).agg(count(lit(1)).as("r5"))
        top.groupBy(col("q"))
          .agg(count(lit(1)).as("n_beam"), sum(col("d9")).as("beam_d9_sum"))
          .join(rec, Seq("q"), "left")
          .select(col("q").as("q_key"), col("n_beam"),
            col("beam_d9_sum"), coalesce(col("r5"), lit(0L)).as("recall5"))
          .orderBy(col("q_key"))
      },
      oracle = Some {
        def d9sql(x: String, y: String): String =
          s"""CAST(floor((1.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(list_zip($x, $y), z -> z[1] * z[2])), (a, v) -> a + v)
             |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform($x, p -> p * p)), (a, v) -> a + v))
             |     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list_transform($y, p -> p * p)), (a, v) -> a + v))))
             |  * 1000000000.0) AS BIGINT)""".stripMargin
        val beamCtes = (1 to 4).map { r =>
          s"""cand$r AS (SELECT DISTINCT q, id FROM (
             |    SELECT b.q, g.b AS id FROM beam${r - 1} b JOIN g1 g ON b.id = g.a
             |    UNION ALL SELECT q, id FROM beam${r - 1})),
             |sc$r AS (SELECT c.q, c.id, ${d9sql("qs.v", "ec.v")} AS d9
             |  FROM cand$r c JOIN qs ON qs.a = c.q JOIN e ec ON ec.vec_id = c.id
             |  WHERE c.id <> c.q),
             |beam$r AS MATERIALIZED (SELECT q, id, d9 FROM (
             |    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d9, id) AS rnk
             |    FROM sc$r) WHERE rnk <= 10)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |ebk1 AS MATERIALIZED (SELECT vec_id, v, ${lshBucketSql("v", 4, 64)} AS bk FROM e),
           |ebk2 AS MATERIALIZED (SELECT vec_id, v, ${lshBucketSql("v", 4, 64, 1337L)} AS bk FROM e),
           |pp AS (SELECT DISTINCT a, b FROM (
           |    SELECT x.vec_id AS a, y.vec_id AS b
           |      FROM ebk1 x JOIN ebk1 y ON x.bk = y.bk AND x.vec_id <> y.vec_id
           |    UNION ALL
           |    SELECT x.vec_id, y.vec_id
           |      FROM ebk2 x JOIN ebk2 y ON x.bk = y.bk AND x.vec_id <> y.vec_id)),
           |p0 AS (SELECT p.a, p.b, ${d9sql("ea.v", "eb0.v")} AS d9
           |  FROM pp p JOIN e ea ON ea.vec_id = p.a JOIN e eb0 ON eb0.vec_id = p.b),
           |g0 AS MATERIALIZED (SELECT a, b, d9 FROM (SELECT *, row_number() OVER (
           |    PARTITION BY a ORDER BY d9, b) AS rnk FROM p0) WHERE rnk <= 5),
           |und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
           |    SELECT a, b FROM g0 UNION ALL SELECT b, a FROM g0)),
           |cand AS (SELECT DISTINCT a, b FROM (
           |    SELECT x.a AS a, y.b AS b FROM und x JOIN und y ON x.b = y.a
           |      WHERE x.a <> y.b
           |    UNION ALL SELECT a, b FROM g0)),
           |sc AS (SELECT c.a, c.b, ${d9sql("ea.v", "eb2.v")} AS d9
           |  FROM cand c JOIN e ea ON ea.vec_id = c.a
           |    JOIN e eb2 ON eb2.vec_id = c.b),
           |g1 AS MATERIALIZED (SELECT a, b FROM (SELECT *, row_number() OVER (
           |    PARTITION BY a ORDER BY d9, b) AS rnk FROM sc) WHERE rnk <= 5),
           |qs AS MATERIALIZED (SELECT vec_id AS a, v FROM e WHERE vec_id % 41 = 0),
           |ent AS MATERIALIZED (SELECT min(a) AS id FROM g1),
           |seed AS (SELECT DISTINCT q, id FROM (
           |    SELECT qb.a AS q, c.vec_id AS id
           |      FROM (SELECT qs.a, b1.bk FROM qs
           |            JOIN ebk1 b1 ON b1.vec_id = qs.a) qb
           |      JOIN ebk1 c ON c.bk = qb.bk AND c.vec_id <> qb.a
           |    UNION ALL
           |    SELECT qs.a, ent.id FROM qs, ent WHERE ent.id <> qs.a)),
           |sc0 AS (SELECT c.q, c.id, ${d9sql("qs.v", "ec.v")} AS d9
           |  FROM seed c JOIN qs ON qs.a = c.q JOIN e ec ON ec.vec_id = c.id),
           |beam0 AS MATERIALIZED (SELECT q, id, d9 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d9, id) AS rnk
           |    FROM sc0) WHERE rnk <= 10),
           |$beamCtes,
           |top AS MATERIALIZED (SELECT q, id, d9 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q ORDER BY d9, id) AS rnk
           |    FROM beam4) WHERE rnk <= 5),
           |ex AS (SELECT q, id FROM (SELECT qs.a AS q, e2.vec_id AS id,
           |      row_number() OVER (PARTITION BY qs.a
           |        ORDER BY ${d9sql("qs.v", "e2.v")}, e2.vec_id) AS rnk
           |    FROM qs JOIN e e2 ON e2.vec_id <> qs.a) WHERE rnk <= 5),
           |rec AS (SELECT ex.q, count(*) AS r5 FROM ex
           |  JOIN top ON ex.q = top.q AND ex.id = top.id GROUP BY 1)
           |SELECT t.q AS q_key, count(*) AS n_beam,
           |  CAST(sum(t.d9) AS BIGINT) AS beam_d9_sum,
           |  coalesce(max(rec.r5), 0) AS recall5
           |FROM top t LEFT JOIN rec ON t.q = rec.q
           |GROUP BY t.q ORDER BY q_key""".stripMargin
      },
      doc = "greedy beam search over the STORED NN-Descent kNN graph: LSH-bucket entry seeding + global fallback, 4 top-ef rounds, recall@5 vs exact (pgvector HNSW query path, index.ts:740-805)"),

    // HNSW layer-assignment census — the structural skeleton of the index
    // pgvector builds (hnsw.c draws level ~ floor(−ln(U)·mL)). The
    // geometric(1/2) draw is replayed WITHOUT libm: level = number of
    // trailing zero bits of md5₆₀(vec_id), capped at 6 — the same
    // distribution (P(level ≥ l) = 2⁻ˡ), bit-reproducible on both
    // engines. Graded per level: node count, cumulative upper-layer size
    // (the search entry set), and the M·n edge budget (M = 16 at layer 0,
    // 8 above — pgvector's defaults halve above ground). Cumulative sums
    // ride a bounded 7×7 level self-join, not a global window. At 100 TB
    // the census is one codegen'd scan + a 7-row join — the memory-plan
    // every HNSW capacity model needs before committing RAM.
    "v3_ann_hnsw_layers" -> Q(
      fn = (s, dir) => {
        val h = expr("cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) as bigint)")
        val lvl = when(expr("h % 64") === 0, 6)
          .when(expr("h % 32") === 0, 5).when(expr("h % 16") === 0, 4)
          .when(expr("h % 8") === 0, 3).when(expr("h % 4") === 0, 2)
          .when(expr("h % 2") === 0, 1).otherwise(0)
        val byLvl = Tables.embeddings(s, dir).select(col("vec_id"))
          .withColumn("h", h).withColumn("level", lvl)
          .groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
        byLvl.as("x").join(byLvl.as("y"), col("y.level") >= col("x.level"))
          .groupBy(col("x.level").as("level"), col("x.n_nodes").as("n_nodes"))
          .agg(sum(col("y.n_nodes")).as("n_at_or_above"))
          .withColumn("edge_budget",
            when(col("level") === 0, col("n_nodes") * 16L)
              .otherwise(col("n_nodes") * 8L))
          .select(col("level"), col("n_nodes"), col("n_at_or_above"),
            col("edge_budget"))
          .orderBy(col("level"))
      },
      oracle = Some(
        """WITH v AS (SELECT vec_id,
          |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
          |  FROM embeddings),
          |l AS (SELECT CASE WHEN h % 64 = 0 THEN 6 WHEN h % 32 = 0 THEN 5
          |    WHEN h % 16 = 0 THEN 4 WHEN h % 8 = 0 THEN 3
          |    WHEN h % 4 = 0 THEN 2 WHEN h % 2 = 0 THEN 1 ELSE 0 END AS level
          |  FROM v),
          |g AS (SELECT level, count(*) AS n_nodes FROM l GROUP BY 1)
          |SELECT x.level, x.n_nodes,
          |  CAST(sum(y.n_nodes) AS BIGINT) AS n_at_or_above,
          |  CAST(CASE WHEN x.level = 0 THEN x.n_nodes * 16
          |    ELSE x.n_nodes * 8 END AS BIGINT) AS edge_budget
          |FROM g x JOIN g y ON y.level >= x.level
          |GROUP BY 1, 2 ORDER BY x.level""".stripMargin),
      doc = "HNSW layer assignment: libm-free geometric(1/2) draw via trailing zero bits, per-level node/entry-set/edge-budget census"),

    // int8 symmetric quantization census — the 4× compression every
    // RAM-resident ANN index takes at 100 TB. Per vector: amax-scaled
    // `clamp(floor(x·127/amax + 0.5))` codes (multiply-then-divide order
    // fixed — two correctly-rounded IEEE ops, engine-identical), graded by
    // INTEGER aggregates only (saturated dims, Σ|q|, Σq²) so no float
    // summation ever reaches the hash. amax itself is a MAX of exact
    // float→double values — no arithmetic. Zero vectors quantize to zero.
    "embedding_quantization" -> Q(
      fn = (s, dir) => Tables.embeddings(s, dir)
        .withColumn("ev", col("embedding").cast("array<double>"))
        .withColumn("amax", expr("aggregate(ev, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(v)))"))
        .withColumn("q", expr(
          "CASE WHEN amax = 0.0 THEN transform(ev, v -> 0L) ELSE " +
            "transform(ev, v -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), " +
            "CAST(floor(v * 127.0 / amax + 0.5) AS BIGINT)))) END"))
        .select(col("vec_id"), size(col("ev")).cast("long").as("dim"),
          col("amax"),
          expr("size(filter(q, v -> abs(v) = 127))").cast("long").as("n_saturated"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + abs(v))").as("sum_abs_q"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + v * v)").as("sum_sq_q"))
        .orderBy(col("vec_id")),
      oracle = Some(
        """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
          |a AS (SELECT vec_id, ev,
          |    coalesce(list_max(list_transform(ev, x -> abs(x))), 0.0) AS amax FROM v),
          |q AS (SELECT vec_id, ev, amax,
          |    CASE WHEN amax = 0.0 THEN list_transform(ev, x -> CAST(0 AS BIGINT))
          |         ELSE list_transform(ev, x -> greatest(CAST(-127 AS BIGINT),
          |           least(CAST(127 AS BIGINT),
          |             CAST(floor(x * 127.0 / amax + 0.5) AS BIGINT)))) END AS qv
          |  FROM a)
          |SELECT vec_id, CAST(len(ev) AS BIGINT) AS dim, amax,
          |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
          |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
          |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sum_sq_q
          |FROM q ORDER BY vec_id""".stripMargin),
      doc = "int8 symmetric quantization census: integer-graded code stats, IEEE-exact scale"),

    // Johnson–Lindenstrauss random-projection distortion census — the
    // MEASURED basis for replacing 64-d distance work with a 16-d sketch
    // (the cheap-first-pass trick behind coarse ANN filtering and dedup
    // blocking). Projection matrix: 16 ±1 sign rows derived from md5
    // (Achlioptas construction — database-friendly: no gaussian, exact
    // dot products), baked driver-side as literal arrays so the executor
    // chain is 16 codegen'd vec_dot calls per row. Distortion is measured
    // on DIFFERENCE vectors of consecutive vec_ids — that IS pairwise
    // distance preservation, via one narrow self-equi-join (vec_id + 1),
    // never an all-pairs. r = ‖Pu‖²/(k·‖u‖²), round-9 (float-sum
    // re-association, same absorber as the kNN distances); buckets floor
    // the identical rounded double so no extra boundary risk.
    "embedding_rand_projection" -> Q(
      fn = (s, dir) => {
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex1(t: String): Int = Integer.parseInt(
          md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 1), 16)
        val signs: IndexedSeq[Seq[Double]] = (0 until 16).map { i =>
          (0 until 64).map(j => if (hex1(s"jl|$i|$j") % 2 == 0) 1.0 else -1.0)
        }
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
        val nxt = emb.select((col("vec_id") - 1).as("vec_id"), col("x").as("x2"))
        val dot = graft.functions.VectorExprs.vecDot _
        val pairs = emb.join(nxt, "vec_id")
          .select(col("vec_id"), zip_with(col("x"), col("x2"), (p, q) => p - q).as("u"))
          .withColumn("nu", dot(col("u"), col("u")))
          .filter(col("nu") > 0.0)
          .withColumn("pu", array((0 until 16).map(i =>
            dot(col("u"), typedLit(signs(i)))): _*))
          .withColumn("r9", round(dot(col("pu"), col("pu")) /
            (lit(16.0) * col("nu")), 9))
        pairs.groupBy(floor(col("r9") * 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("r9")).as("min_ratio"), max(col("r9")).as("max_ratio"))
          .orderBy(col("bucket"))
      },
      oracle = Some(
        """WITH p AS (SELECT a.vec_id AS vec_id,
          |    list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
          |      CAST(b.embedding AS DOUBLE[])), z -> z[1] - z[2]) AS u
          |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
          |n AS (SELECT vec_id, u, list_sum(list_transform(u, v -> v * v)) AS nu FROM p),
          |sg AS (SELECT i, list_transform(range(64), j -> CASE WHEN
          |    CAST(('0x' || substr(md5('jl|' || CAST(i AS VARCHAR) || '|'
          |      || CAST(j AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
          |    THEN 1.0 ELSE -1.0 END) AS sv
          |  FROM (SELECT unnest(range(16)) AS i)),
          |pu AS (SELECT vec_id, nu,
          |    list_sum(list_transform(list_zip(u, sv), z -> z[1] * z[2])) AS y
          |  FROM n CROSS JOIN sg),
          |r AS (SELECT vec_id, round(sum(y * y) / (16.0 * nu), 9) AS r9
          |  FROM pu WHERE nu > 0 GROUP BY vec_id, nu)
          |SELECT CAST(floor(r9 * 10) AS BIGINT) AS bucket, count(*) AS n,
          |  min(r9) AS min_ratio, max(r9) AS max_ratio
          |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "JL random-projection distortion census: md5-derived +/-1 matrix, pairwise difference vectors, 16 codegen'd dots"),

    // Cross-modal centroid geometry: per-language embedding centroids and
    // their pairwise cosines — the "are my language slices separable in
    // embedding space" data-card check, and the first step of
    // language-balanced cluster sampling. Exactness via the repo's
    // quantize-then-integer-sum pattern (floor(x·1e5) per dim — float
    // sums would reassociate); centroid sums are exact BIGINTs, the
    // cosine numerator/denominator exact DECIMAL(38,0) products, and the
    // one double division + sqrt at the end is IEEE-identical
    // cross-engine. Shuffle: one groupBy (lang, dim) at d·|langs|
    // cardinality; the pair join runs on the 5×64-row centroid relation.
    "embedding_lang_centroids" -> Q(
      fn = (s, dir) => {
        val q = expr(
          "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0) as bigint))")
        val j = Tables.embeddings(s, dir).select(col("vec_id"), q.as("q"))
          .join(Tables.documents(s, dir)
            .select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
        val cent = j.select(col("lang"),
            posexplode(col("q")).as(Seq("i", "c")))
          .groupBy(col("lang"), col("i"))
          .agg(sum(col("c")).as("sq"), count(lit(1)).as("n"))
        val a = cent.select(col("lang").as("lang_a"), col("i").as("ia"),
          col("sq").cast(DecimalType(38, 0)).as("sa"), col("n").as("na"))
        val b = cent.select(col("lang").as("lang_b"), col("i").as("ib"),
          col("sq").cast(DecimalType(38, 0)).as("sb"), col("n").as("nb"))
        a.join(b, col("lang_a") < col("lang_b") && col("ia") === col("ib"))
          .groupBy(col("lang_a"), col("lang_b"), col("na"), col("nb"))
          .agg(sum(col("sa") * col("sb")).cast(DecimalType(38, 0)).as("dot"),
            sum(col("sa") * col("sa")).cast(DecimalType(38, 0)).as("nsa"),
            sum(col("sb") * col("sb")).cast(DecimalType(38, 0)).as("nsb"))
          // dot scales with d·n_lang²·1e10 and passes 2^53 at corpus
          // scale: grade it as an exact digit string (r8 ADVICE medium)
          .select(col("lang_a"), col("lang_b"), col("na"), col("nb"),
            col("dot").cast("string").as("dot"),
            round(col("dot").cast("double") /
              sqrt(col("nsa").cast("double") * col("nsb").cast("double")), 9)
              .as("cos_sim"))
          .orderBy(col("lang_a"), col("lang_b"))
      },
      oracle = Some(
        """WITH j AS (SELECT d.lang, e.embedding AS v
          |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
          |x AS (SELECT lang, i,
          |    CAST(floor(CAST(v[i + 1] AS DOUBLE) * 100000.0) AS BIGINT) AS c
          |  FROM (SELECT lang, v, unnest(range(len(v))) AS i FROM j)),
          |cent AS (SELECT lang, i, CAST(sum(c) AS DECIMAL(38,0)) AS sq,
          |    count(*) AS n
          |  FROM x GROUP BY 1, 2),
          |p AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
          |    a.n AS na, b.n AS nb,
          |    CAST(sum(a.sq * b.sq) AS DECIMAL(38,0)) AS dot,
          |    CAST(sum(a.sq * a.sq) AS DECIMAL(38,0)) AS nsa,
          |    CAST(sum(b.sq * b.sq) AS DECIMAL(38,0)) AS nsb
          |  FROM cent a JOIN cent b ON a.i = b.i AND a.lang < b.lang
          |  GROUP BY 1, 2, 3, 4)
          |SELECT lang_a, lang_b, CAST(na AS BIGINT) AS na,
          |  CAST(nb AS BIGINT) AS nb, CAST(dot AS VARCHAR) AS dot,
          |  round(CAST(dot AS DOUBLE)
          |    / sqrt(CAST(nsa AS DOUBLE) * CAST(nsb AS DOUBLE)), 9) AS cos_sim
          |FROM p ORDER BY lang_a, lang_b""".stripMargin),
      doc = "per-language embedding centroids + pairwise cosine: quantized integer sums, DECIMAL-exact dot, one IEEE division"),

    // Distance-based outlier census: mean 10-NN cosine distance per probe
    // — the unsupervised twin of embedding_label_noise's agreement audit
    // (far-from-everything points are mislabeled/garbage candidates in
    // any curation pass). Per-neighbor distances are round-9 (the house
    // float-distance discipline), their 10-term sum is EXACT in
    // DECIMAL(18,9), and the top-20 order rides that exact sum — so the
    // ranking can never flip on a last-ulp float. Probe slice broadcast
    // against the corpus; at scale the brute-force scan swaps for the
    // stored IVF topology exactly as v3_knn_join does.
    "embedding_knn_outliers" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.select(col("vec_id").as("c_key"),
          col("embedding").cast("array<double>").as("c_emb"))
        val probes = emb.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("q_key"), col("label").as("q_label"),
            col("embedding").cast("array<double>").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_key")).orderBy(col("distance"), col("c_key"))
        corpus.crossJoin(broadcast(probes))
          .filter(col("c_key") =!= col("q_key"))
          .withColumn("distance",
            round(Vectors.cosineDistance(col("c_emb"), col("q_emb")), 9) + 0.0)
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
          .groupBy(col("q_key"), col("q_label"))
          .agg(sum(col("distance").cast(DecimalType(18, 9)))
            .cast(DecimalType(18, 9)).as("sum_dist10d"))
          // emit the exact decimal sum as DOUBLE (k/1e9 with k ≤ 2e10 —
          // both engines round-to-nearest the same rational identically);
          // the top-20 ORDER is taken on the exact decimal BEFORE the
          // cast (both engines), so sums that collapse to the same double
          // still rank by the exact value, tie-broken by q_key
          .select(col("q_key"), col("q_label"), col("sum_dist10d"),
            col("sum_dist10d").cast("double").as("sum_dist10"),
            round(col("sum_dist10d").cast("double") / lit(10.0), 9)
              .as("mean_dist"))
          .orderBy(col("sum_dist10d").desc, col("q_key")).limit(20)
          .select(col("q_key"), col("q_label"), col("sum_dist10"),
            col("mean_dist"))
      },
      oracle = Some(
        """WITH qs AS (SELECT vec_id AS q_key, label AS q_label,
          |    CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 37 = 0),
          |sc AS (SELECT q_key, q_label, e.vec_id AS c_key,
          |    round(1.0 - list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), qv),
          |        z -> z[1]*z[2]))
          |      / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x)))
          |       * sqrt(list_sum(list_transform(qv, x -> x*x)))), 9) + 0.0 AS distance
          |  FROM qs, embeddings e WHERE e.vec_id <> q_key),
          |nn AS (SELECT * FROM (SELECT *, row_number() OVER (
          |    PARTITION BY q_key ORDER BY distance, c_key) AS rnk FROM sc)
          |  WHERE rnk <= 10)
          |SELECT q_key, q_label, CAST(sd AS DOUBLE) AS sum_dist10,
          |  round(CAST(sd AS DOUBLE) / 10.0, 9) AS mean_dist
          |FROM (SELECT q_key, q_label,
          |    CAST(sum(CAST(distance AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS sd
          |  FROM nn GROUP BY q_key, q_label)
          |ORDER BY sd DESC, q_key LIMIT 20""".stripMargin),
      doc = "10-NN mean-distance outlier census: round-9 distances, exact DECIMAL(18,9) sum, rank rides the exact sum"),

    // SSL-prototype pruning (Sorscher et al. 2022): within each learned
    // cluster, drop the most prototypical (centroid-nearest) 30% and keep
    // the hard 70% — the data-pruning recipe that beats random sampling at
    // scale. Assignment is the broadcast-argmin projection (no join);
    // ranking is one cid shuffle; output is d²-bounded per-cluster rows
    // whose keep-boundary distance certifies the whole within-cluster
    // order. Oracle replays the argmin + rank chain per row (LATERAL-free,
    // via a correlated subquery).
    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    // the retrieval-side diversifier every RAG/dataset-curation stack runs
    // after kNN: greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s),
    // λ=0.7, 8 picks from the top-30 cosine candidates of 4 probe queries.
    // Determinism: relevance and pairwise sims are round-9 cosines (the
    // repo's kNN convention), so the MMR scores are identical IEEE chains
    // on both engines and every argmax (ties → id) replays exactly; the
    // oracle unrolls all 8 greedy rounds as generated CTEs. Scale shape:
    // candidate generation is the broadcast query-batch pass of knnJoin;
    // the greedy loop touches only 30-candidate relations per query
    // (driver-bounded constants), localCheckpoint per pick.
    "embedding_mmr_rerank" -> Q(
      fn = (s, dir) => {
        import graft.functions.VectorExprs
        val W = org.apache.spark.sql.expressions.Window
        def cosSim(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
          round(VectorExprs.vecDot(a, b)
            / (sqrt(VectorExprs.vecDot(a, a))
              * sqrt(VectorExprs.vecDot(b, b))), 9) + 0.0
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val qs = emb.filter(col("vec_id") % 53 === 1)
          .orderBy(col("vec_id")).limit(4)
          .select(col("vec_id").as("q"), col("e").as("qv"))
        val scored = emb.crossJoin(broadcast(qs))
          .select(col("q"), col("vec_id").as("id"), col("e"),
            cosSim(col("e"), col("qv")).as("rel"))
        val wq = W.partitionBy(col("q")).orderBy(col("rel").desc, col("id"))
        val cand = scored.withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 30)
          .select(col("q"), col("id"), col("e"), col("rel"))
          .localCheckpoint()
        val psim = cand.select(col("q"), col("id").as("a"), col("e").as("ea"))
          .join(cand.select(col("q"), col("id").as("b"), col("e").as("eb")),
            Seq("q"))
          .filter(col("a") =!= col("b"))
          .select(col("q"), col("a"), col("b"),
            cosSim(col("ea"), col("eb")).as("sim"))
          .localCheckpoint()
        var sel = cand.withColumn("rn", row_number().over(wq))
          .filter(col("rn") === 1)
          .select(col("q"), col("id"), col("rel"), lit(1L).as("rnk"))
          .localCheckpoint()
        var r = 2
        while (r <= 8) {
          val mx = psim
            .join(sel.select(col("q"), col("id").as("b")), Seq("q", "b"))
            .groupBy(col("q"), col("a")).agg(max(col("sim")).as("mx"))
          val next = cand
            .join(sel.select(col("q"), col("id")), Seq("q", "id"), "left_anti")
            .join(mx.select(col("q"), col("a").as("id"), col("mx")),
              Seq("q", "id"))
            .withColumn("score",
              lit(0.7) * col("rel") - lit(0.3) * col("mx"))
            .withColumn("rn", row_number().over(
              W.partitionBy(col("q")).orderBy(col("score").desc, col("id"))))
            .filter(col("rn") === 1)
            .select(col("q"), col("id"), col("rel"), lit(r.toLong).as("rnk"))
          sel = sel.unionByName(next).localCheckpoint()
          r += 1
        }
        sel.select(col("q"), col("rnk"), col("id"), col("rel"))
          .orderBy(col("q"), col("rnk"))
      },
      oracle = Some {
        def cosDuck(a: String, b: String): String =
          s"""round(list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2]))
             |      / (sqrt(list_sum(list_transform($a, x -> x*x)))
             |       * sqrt(list_sum(list_transform($b, x -> x*x)))), 9) + 0.0""".stripMargin
        val rounds = (2 to 8).map { r =>
          s"""s$r AS (SELECT q, id, rel, $r AS rnk FROM (
             |    SELECT c.q, c.id, c.rel, row_number() OVER (PARTITION BY c.q
             |        ORDER BY CAST(0.7 AS DOUBLE) * c.rel
             |          - CAST(0.3 AS DOUBLE) * m.mx DESC, c.id) AS rn
             |    FROM cand c JOIN (SELECT p.q, p.a AS id, max(p.sim) AS mx
             |        FROM psim p JOIN u${r - 1} s ON p.q = s.q AND p.b = s.id
             |        GROUP BY 1, 2) m
             |      ON c.q = m.q AND c.id = m.id
             |    WHERE NOT EXISTS (SELECT 1 FROM u${r - 1} s
             |      WHERE s.q = c.q AND s.id = c.id))
             |  WHERE rn = 1),
             |u$r AS MATERIALIZED (SELECT * FROM u${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
        }.mkString(",\n")
        // MATERIALIZED everywhere the 8-round chain re-references a CTE:
        // DuckDB inlines plain CTEs, so without it each round would re-expand
        // cand/psim (and transitively re-scan the parquet) exponentially —
        // the first run exhausted the fd limit before finishing.
        s"""WITH v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |qs AS MATERIALIZED (SELECT vec_id AS q, e AS qv FROM v WHERE vec_id % 53 = 1
           |       ORDER BY vec_id LIMIT 4),
           |sc AS (SELECT qs.q, v.vec_id AS id, v.e,
           |    ${cosDuck("v.e", "qs.qv")} AS rel
           |  FROM v CROSS JOIN qs),
           |cand AS MATERIALIZED (SELECT q, id, e, rel FROM (
           |    SELECT *, row_number() OVER (PARTITION BY q
           |      ORDER BY rel DESC, id) AS rn FROM sc)
           |  WHERE rn <= 30),
           |psim AS MATERIALIZED (SELECT a.q, a.id AS a, b.id AS b,
           |    ${cosDuck("a.e", "b.e")} AS sim
           |  FROM cand a JOIN cand b ON a.q = b.q AND a.id <> b.id),
           |s1 AS (SELECT q, id, rel, 1 AS rnk FROM (
           |    SELECT q, id, rel, row_number() OVER (PARTITION BY q
           |      ORDER BY rel DESC, id) AS rn FROM cand) WHERE rn = 1),
           |u1 AS (SELECT q, id, rel, rnk FROM s1),
           |$rounds
           |SELECT q, CAST(rnk AS BIGINT) AS rnk, id, rel
           |FROM u8 ORDER BY q, rnk""".stripMargin
      },
      doc = "MMR diversified re-ranking (λ=0.7, 8 picks from top-30): round-9 cosine chains, greedy argmax replayed on both engines"),

    "embedding_prototype_prune" -> Q(
      fn = (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter(col("vec_id") % 97 === 3)
          .orderBy(col("vec_id")).limit(16)
          .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        Vectors.prototypePrune(emb, "vec_id", "embedding", centroids)
          .orderBy(col("cid"))
      },
      oracle = Some(
        """WITH cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 97 = 3 ORDER BY vec_id LIMIT 16),
          |v AS (SELECT e.vec_id AS id,
          |    (SELECT ct.cid FROM cents ct
          |     ORDER BY list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), ct.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2]))), ct.cid LIMIT 1) AS cid,
          |    round(sqrt((SELECT min(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), ct.cv),
          |       z -> (z[1]-z[2])*(z[1]-z[2])))) FROM cents ct)), 9) + 0.0 AS dist
          |  FROM embeddings e),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cid
          |      ORDER BY dist DESC, id) AS rnk,
          |    count(*) OVER (PARTITION BY cid) AS n FROM v)
          |SELECT cid, CAST(max(n) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN rnk * 10 <= n * 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          |  min(CASE WHEN rnk * 10 <= n * 7 THEN dist END) AS dist_cut
          |FROM r GROUP BY cid ORDER BY cid""".stripMargin),
      doc = "SSL-prototype pruning census: keep the hard 70% per cluster, keep-boundary distance graded"))
}
