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
  * batch scale.
  *
  * Distance math is a codegen'd Catalyst expression
  * ([[graft.functions.VecCosineDist]]/[[graft.functions.VecL2Sq]]) inside
  * whole-stage codegen instead of interpreted HOF fallback.
  */
object Vectors {

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
}
