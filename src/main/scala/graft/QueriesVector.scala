package graft

import graft.operators.Vectors
import org.apache.spark.sql.functions._

/** Vector similarity-search queries (SURVEY §2.10 V2–V6) over the
  * `embeddings` fixture. Distances are rounded to 9 dp (engines re-associate
  * float sums differently) and `+ 0.0` normalizes -0.0 → 0.0 so self-distance
  * hashes identically.
  */
object QueriesVector {

  /** Portable cosine-distance SQL against a query-vector CTE `q(qv)`. */
  private def cosSql(emb: String): String =
    s"""round(1.0 - list_sum(list_transform(list_zip(CAST($emb AS DOUBLE[]), qv), z -> z[1]*z[2]))
       |    / (sqrt(list_sum(list_transform(CAST($emb AS DOUBLE[]), x -> x*x)))
       |     * sqrt(list_sum(list_transform(qv, x -> x*x)))), 9) + 0.0""".stripMargin

  private def l2Sql(emb: String): String =
    s"""round(sqrt(list_sum(list_transform(list_zip(CAST($emb AS DOUBLE[]), qv),
       |    z -> (z[1]-z[2])*(z[1]-z[2])))), 9) + 0.0""".stripMargin

  /** Reads the query vector (vec_id = 0) driver-side — it is a query
    * *parameter*, exactly like the reference's `$q` bind value. */
  private def queryVec(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      // cast-to-double at select time: collect-side unboxing must not assume
      // the stored element width (float32 today; a regen could widen it)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)

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
      doc = "pure-SQL cosine kNN through the injected vec_dot kernel (SQL client surface)"))
}
