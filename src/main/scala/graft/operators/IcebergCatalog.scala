package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg REST-catalog state as relations (SURVEY §2.11 I1–I5, reference
  * src/storage/protocols/iceberg/catalog/tenant-catalog.ts +
  * migrations/tenant/0038). The engine stores `iceberg_namespaces` /
  * `iceberg_tables` as plain relations; catalog verbs become listing (O1)
  * and diff (J2-pattern) queries.
  */
object IcebergCatalog {

  /** Synthetic catalog relations from the star schema: nations → namespaces,
    * (nation, region) pairs → tables, deterministic in both engines. */
  def namespaces(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.nation(spark, dir).select(
      col("n_nationkey").cast("string").as("id"),
      concat(lit("bkt-"), col("n_regionkey")).as("bucket_id"),
      lower(regexp_replace(col("n_name"), " ", "_")).as("name"))

  def tables(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.supplier(spark, dir).select(
      concat(lit("tbl-"), col("s_suppkey")).as("id"),
      col("s_nationkey").cast("string").as("namespace_id"),
      lower(regexp_replace(col("s_name"), "#", "_")).as("name"),
      concat(lit("s3://warehouse/"), col("s_nationkey"), lit("/"), col("s_suppkey"),
        lit("/metadata.json")).as("location"))

  /** I3 listTables: keyset-paginated listing within a namespace
    * (tenant-catalog.ts:287-326). */
  def listTables(tables: DataFrame, namespaceId: String,
                 after: Option[String] = None, pageSize: Int = 100): DataFrame =
    tables.filter(col("namespace_id") === namespaceId)
      .filter(after.map(col("name") > _).getOrElse(lit(true)))
      .orderBy(col("name")).limit(pageSize)

  /** I2 quota check: per-tenant namespace/table counts vs limits
    * (multitenant/0019:1-4 — defaults 10 namespaces, 10 tables). */
  def quotaUsage(namespaces: DataFrame, tables: DataFrame): DataFrame =
    namespaces.groupBy(col("bucket_id"))
      .agg(count(lit(1)).as("n_namespaces"))
      .join(
        tables.join(namespaces.select(col("id").as("namespace_id"), col("bucket_id")),
          Seq("namespace_id"))
          .groupBy(col("bucket_id")).agg(count(lit(1)).as("n_tables")),
        Seq("bucket_id"), "full_outer")

  /** I2 commitTable: the optimistic metadata-location swap
    * (tenant-catalog.ts:178-409) in batch form. A commit request
    * `(id, expected_location, new_location)` succeeds iff its expectation
    * matches the table's current location — the CAS the REST catalog runs
    * per-commit, applied as one broadcast-join rewrite over the catalog
    * relation. Returns (new catalog state, per-request outcome). */
  def commitTables(tables: DataFrame, requests: DataFrame): (DataFrame, DataFrame) = {
    val joined = tables.join(broadcast(requests), Seq("id"), "left")
    val updated = joined.withColumn("location",
      when(col("expected_location") === col("location"), col("new_location"))
        .otherwise(col("location")))
      .drop("expected_location", "new_location")
    val outcomes = tables.join(broadcast(requests), Seq("id"))
      .select(col("id"),
        when(col("expected_location") === col("location"), lit("committed"))
          .otherwise(lit("conflict")).as("outcome"))
    (updated, outcomes)
  }

  /** I4 dropNamespace + async cleanup (tenant-catalog.ts:550-662): the drop
    * removes catalog rows AND enqueues one `delete-iceberg-resources` job per
    * dropped table (events/iceberg/delete-iceberg-resources.ts:23) so the
    * warehouse files are reclaimed asynchronously. Batch form: one predicate
    * over namespaces → (surviving namespaces, surviving tables, cleanup-event
    * rows). Event rows carry the queue name and a location-keyed singleton
    * key, so re-running the drop is idempotent (pg-boss `exactly_once`). */
  def dropNamespaces(namespaces: DataFrame, tables: DataFrame,
                     dropPred: org.apache.spark.sql.Column):
      (DataFrame, DataFrame, DataFrame) = {
    val droppedNs = namespaces.filter(dropPred).select(col("id").as("namespace_id"))
    val survivingNs = namespaces.filter(!dropPred)
    // dropped-namespace set is tiny vs the catalog: broadcast semi/anti joins
    val survivingTables = tables.join(broadcast(droppedNs), Seq("namespace_id"), "left_anti")
    val cleanupEvents = tables
      .join(broadcast(droppedNs), Seq("namespace_id"), "left_semi")
      .select(
        lit("delete-iceberg-resources").as("queue"),
        concat(lit("delete_"), col("id")).as("singleton_key"),
        concat(lit("{\"tableId\":\""), col("id"),
          lit("\",\"location\":\""), col("location"), lit("\"}")).as("payload"))
    (survivingNs, survivingTables, cleanupEvents)
  }

  /** Snapshot expiry + orphan-file GC planning — the Iceberg maintenance
    * job beside compaction (`expireSnapshots`): retire snapshots older than
    * the cutoff (always retaining each table's CURRENT snapshot, the
    * retain-last ≥ 1 contract) and find the data files reachable ONLY from
    * retired snapshots — those are safe to physically delete.
    *
    * Inputs: `snapshots` (table_id, snapshot_id, ts) — catalog metadata,
    * thousands of rows, broadcasts; `refs` (snapshot_id, file, bytes) —
    * the manifest-entry relation, the big side (file paths are
    * table-relative: liveness is per (table, file)). Shape: one manifest
    * scan fans into live/expired distinct file sets (partial-agg'd), the
    * deletable set is the J2-style anti-join — no step holds more than the
    * distinct-file relation, and nothing ever touches data bytes.
    *
    * Precondition: `bytes` is a function of (table_id, file) — every ref
    * to the same table file carries the same size. The per-file
    * aggregation keeps `max(bytes)`, so refs that disagree on a file's
    * size are not detected and `deletable_bytes` counts the largest.
    *
    * Returns one census row per table: (table_id, n_snapshots, n_expired,
    * n_live_files, n_deletable_files, deletable_bytes). */
  def expireSnapshots(snapshots: DataFrame, refs: DataFrame,
                      cutoff: org.apache.spark.sql.Column): DataFrame = {
    val s0 = snapshots.select(col("table_id"), col("snapshot_id"), col("ts"))
    val latest = s0.groupBy(col("table_id"))
      .agg(max(struct(col("ts"), col("snapshot_id"))).as("m"))
      .select(col("table_id"), col("m").getField("snapshot_id").as("snapshot_id"),
        lit(1).as("is_latest"))
    val flagged = s0.join(broadcast(latest), Seq("table_id", "snapshot_id"), "left")
      .withColumn("expired", col("ts") < cutoff && col("is_latest").isNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flagged.count() // pin: feeds the manifest join and the census
    // Per-file liveness in ONE keyed aggregation (r14, guide §2.3/§2.4).
    // The old shape materialized the manifest-sized join into the cache,
    // then ran TWO distincts (live / expired file sets) plus a left-anti
    // join between them — three exchanges of file-sized relations and a
    // corpus-sized cache pin. A file is deletable iff it has >= 1 expired
    // ref and 0 live refs, and (by the precondition above) its bytes are
    // one value per file, so one groupBy(table_id, file) with
    // any(live)/any(expired)/any(bytes) decides everything: same sets, one
    // exchange, nothing pinned.
    val g = refs
      .join(broadcast(flagged.select(col("snapshot_id"), col("table_id"),
        col("expired"))), Seq("snapshot_id"))
      .groupBy(col("table_id"), col("file"))
      .agg(max(when(!col("expired"), 1L).otherwise(0L)).as("has_live"),
        max(when(col("expired"), 1L).otherwise(0L)).as("has_expired"),
        max(col("bytes")).as("bytes"))
    val snapC = flagged.groupBy(col("table_id")).agg(
      count(lit(1)).as("n_snapshots"),
      sum(when(col("expired"), 1L).otherwise(0L)).as("n_expired"))
    val fileC = g.groupBy(col("table_id")).agg(
      sum(col("has_live")).as("n_live_files"),
      sum(when(col("has_expired") === 1L && col("has_live") === 0L, 1L)
        .otherwise(0L)).as("n_deletable_files"),
      sum(when(col("has_expired") === 1L && col("has_live") === 0L,
        col("bytes")).otherwise(0L)).as("deletable_bytes"))
    val out = snapC.join(fileC, Seq("table_id"), "left")
      .select(col("table_id"), col("n_snapshots"), col("n_expired"),
        coalesce(col("n_live_files"), lit(0L)).as("n_live_files"),
        coalesce(col("n_deletable_files"), lit(0L)).as("n_deletable_files"),
        coalesce(col("deletable_bytes"), lit(0L)).as("deletable_bytes"))
      .orderBy(col("table_id"))
      // per-table census — eager cut, release the pin (r9 ADVICE)
      .localCheckpoint()
    flagged.unpersist()
    out
  }

  /** I5 reconciler: diff desired vs actual remote-catalog state
    * (catalog/reconciler.ts) — both directions, J2/J3 anti-join pattern. */
  def reconcilerDiff(desired: DataFrame, actual: DataFrame): DataFrame = {
    val missing = desired.join(actual, Seq("location"), "left_anti")
      .select(col("location"), lit("create").as("action"))
    val orphaned = actual.join(desired, Seq("location"), "left_anti")
      .select(col("location"), lit("drop").as("action"))
    missing.unionByName(orphaned)
  }
}
