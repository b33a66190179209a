package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DML operators in deterministic batch form (SURVEY §2.12 D1–D7, reference
  * src/storage/database/pg.ts:905-1168 + src/storage/object.ts).
  *
  * The reference mutates Postgres rows under advisory locks; the batch engine
  * expresses each mutation as a pure relation rewrite — order-insensitive
  * (explicit priority ordering, SURVEY §7 hard-part 4), so re-running a job
  * is idempotent and merges parallelize as one shuffle on the merge key.
  */
object ObjectStore {

  private val mergeKey = Seq("bucket_id", "name")

  /** D1 upsertObject: `INSERT ... ON CONFLICT (name, bucket_id) DO UPDATE`
    * (pg.ts:905-961) — last-wins merge of `incoming` over `existing` by the
    * merge key (incoming rows are key-unique, as the reference's upserts are).
    *
    * Shaped as anti-join + union, NOT a window over the full relation: the
    * upsert batch is always small relative to the relation, so AQE plans a
    * broadcast anti-join and the 100 TB side is never shuffled or sorted. */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.join(incoming.select(mergeKey.map(col): _*), mergeKey, "left_anti")
      .unionByName(incoming)

  /** D2 createObject: plain insert; duplicates raise KeyAlreadyExists
    * (pg.ts:1004-1040). Batch form returns the conflicting keys so the caller
    * can assert emptiness (the anti-join is the duplicate check). */
  def createConflicts(existing: DataFrame, incoming: DataFrame): DataFrame =
    incoming.join(existing, mergeKey, "left_semi")

  /** D3 updateObject / NoSuchKey: conditional rewrite of matching rows; the
    * match count is the RETURNING cardinality (pg.ts:963-1002). */
  def updateWhere(objects: DataFrame, predicate: Column,
                  set: Map[String, Column]): DataFrame =
    set.foldLeft(objects) { case (df, (c, v)) =>
      df.withColumn(c, when(predicate, v).otherwise(col(c)))
    }

  /** D4 delete with RETURNING (pg.ts:1042-1117): returns (survivors, deleted)
    * — the deleted set is what the reference's RETURNING clause yields. */
  def deleteWhere(objects: DataFrame, predicate: Column): (DataFrame, DataFrame) =
    (objects.filter(!predicate), objects.filter(predicate))

  /** D5 copyObject (object.ts:301-459): re-key a source row to `destName`
    * with a fresh version, with the reference's metadata directives
    * (object.ts:335-352):
    *   - `copyMetadata = true` (x-amz-metadata-directive COPY): the copy
    *     keeps the source's file metadata AND `user_metadata` verbatim.
    *   - `copyMetadata = false` (REPLACE): `user_metadata` becomes the
    *     request's `newUserMetadata` (NULL when unspecified); file metadata
    *     (modeled by `mimetype`) takes the specified value, else falls back
    *     to the source value only under `preserveUnspecifiedFileMetadata`.
    */
  def copyObject(objects: DataFrame, bucket: String, srcName: String,
                 destName: String, newVersion: String,
                 copyMetadata: Boolean = true,
                 newUserMetadata: Option[String] = None,
                 newMimetype: Option[String] = None,
                 preserveUnspecifiedFileMetadata: Boolean = false): DataFrame = {
    val rekeyed = objects
      .filter(col("bucket_id") === bucket && col("name") === srcName)
      .withColumn("name", lit(destName))
      .withColumn("version", lit(newVersion))
    val copied =
      if (copyMetadata) rekeyed // COPY directive: all metadata verbatim
      else rekeyed
        .withColumn("user_metadata",
          newUserMetadata.map(m => lit(m): Column)
            .getOrElse(lit(null).cast("string")))
        .withColumn("mimetype",
          newMimetype.map(m => lit(m): Column).getOrElse(
            if (preserveUnspecifiedFileMetadata) col("mimetype")
            else lit(null).cast("string")))
    upsert(objects, copied)
  }

  /** D6 moveObject = copy + delete source in one rewrite (object.ts:461-608). */
  def moveObject(objects: DataFrame, bucket: String, srcName: String,
                 destName: String, newVersion: String): DataFrame = {
    // same-key move would otherwise copy-then-delete the SAME row — data
    // loss from a degenerate input the reference rejects at the route layer
    require(srcName != destName, "moveObject requires srcName != destName")
    copyObject(objects, bucket, srcName, destName, newVersion)
      .filter(!(col("bucket_id") === bucket && col("name") === srcName))
  }

  /** D9 delete-protection in batch form (migration
    * 0055-prevent-direct-deletes.sql:1-27): the reference blocks DELETE on
    * `storage.objects`/`storage.buckets` unless the session GUC
    * `storage.allow_delete_query` is 'true' — only the Storage API layer
    * (which sets the GUC around its own deletes) may remove rows; ad-hoc SQL
    * gets ERRCODE 42501. Batch form: partition a delete-request log into the
    * deletes that execute and the ones the trigger rejects, by each request's
    * `allow_delete_query` flag (true = came through the API layer). Returns
    * one row per request with `disposition` ∈ {executed, blocked} — plus,
    * via [[deleteWhere]] on the executed set, the surviving relation.
    *
    * `requests` must carry `bucket_id`, `name`, and boolean
    * `allow_delete_query`. Pure projection — no shuffle; the expensive part
    * (applying the executed deletes) stays the D4 anti-join. */
  def protectDeletes(requests: DataFrame): DataFrame =
    requests.withColumn("disposition",
      when(col("allow_delete_query"), lit("executed"))
        .otherwise(lit("blocked")))
      .withColumn("error_code",
        when(!col("allow_delete_query"), lit("42501")).cast("string"))

  /** D7 emptyBucket / delete-all-before: cutoff delete (storage.ts:326-343,
    * object-admin-delete-all-before.ts:21). The reference batches ≤500 rows
    * per delete because each is a Postgres transaction; one partitioned batch
    * job replaces the loop. */
  def deleteAllBefore(objects: DataFrame, bucket: String,
                      before: Column): (DataFrame, DataFrame) =
    deleteWhere(objects, col("bucket_id") === bucket && col("created_at") < before)

  /** E6 object-admin-delete worker, batch form
    * (object-admin-delete.ts:74-100): each doomed object expands to TWO
    * backend keys — `bucket/name/version` (adapter.ts:255-257 joins with the
    * path separator) plus its `.info` sidecar — and deletions go out in
    * batches of `batchSize` objects = 2·batchSize keys, half the S3 1000-key
    * delete cap (limits.ts:19-21). Returns one row per batch with the key
    * payload aggregated to (n_objects, n_keys, name span).
    *
    * Scale shape: batch numbering is a row_number window PER BUCKET (name
    * order — the reference pages the same way), so buckets batch in
    * parallel; within one bucket the numbering is a single sorted task,
    * matching the reference's own serial paging. A corpus-wide admin sweep
    * over ONE giant bucket would pre-shard by name range first, so each
    * shard numbers its batches in its own task. */
  def adminDeleteBatches(objects: DataFrame, bucket: String, before: Column,
                         batchSize: Int = 500): DataFrame = {
    val doomed = objects
      .filter(col("bucket_id") === bucket && col("created_at") < before)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_id")).orderBy(col("name"))
    doomed
      .withColumn("batch",
        floor((row_number().over(w) - 1) / lit(batchSize)).cast("long"))
      .groupBy(col("bucket_id"), col("batch"))
      .agg(count(lit(1)).as("n_objects"),
        (count(lit(1)) * 2).as("n_keys"),
        // span by NAME order (the batch order) — min/max of the concatenated
        // key string can disagree with it when a name contains a byte < '/'
        min_by(concat_ws("/", col("bucket_id"), col("name"), col("version")),
          col("name")).as("first_key"),
        max_by(concat_ws("/", col("bucket_id"), col("name"), col("version")),
          col("name")).as("last_key"))
  }
}
