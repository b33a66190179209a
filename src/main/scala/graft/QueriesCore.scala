package graft

import graft.operators.Listing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core query set: flagship aggregation + the listing spine (SURVEY §7
  * Phase 1). Each entry has an exact DuckDB oracle.
  */
object QueriesCore {

  /** Oracle SQL for [[Listing.listObjectsV2]] — kept as a builder so every
    * parameterization stays in sync with the Spark pipeline. */
  def listV2Sql(bucket: String, prefix: String, cap: Int,
                startAfter: Option[String], delimiter: String = "/"): String = {
    val p = prefix.length + 1
    val after = startAfter.map(t => s" AND name > '$t'").getOrElse("")
    s"""WITH ${Oracle.objectsCte},
scoped AS (SELECT * FROM objects WHERE bucket_id = '$bucket' AND name LIKE '$prefix%'$after),
wcp AS (SELECT *, CASE WHEN strpos(substr(name, $p), '$delimiter') > 0
  THEN concat('$prefix', substr(substr(name, $p), 1, strpos(substr(name, $p), '$delimiter')))
  ELSE NULL END AS cp FROM scoped)
SELECT name, is_folder, size, created_at FROM (
  SELECT cp AS name, TRUE AS is_folder, CAST(NULL AS BIGINT) AS size,
         CAST(NULL AS TIMESTAMP) AS created_at
  FROM wcp WHERE cp IS NOT NULL GROUP BY cp
  UNION ALL
  SELECT name, FALSE AS is_folder, size, created_at FROM wcp WHERE cp IS NULL
) ORDER BY name LIMIT $cap"""
  }

  def queries: Map[String, Q] = Map(
    // A1/A2-style flagship aggregation (TPC-H Q1 shape). Doubles are cast to
    // DECIMAL(18,2) before summation: exact, order-insensitive, identical in
    // both engines; final cast back to DOUBLE keeps the output schema simple.
    "q1_agg" -> Q(
      fn = (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      oracle = Some(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      doc = "A1: grouped size aggregation (0005-add-size-functions.sql:2)"),

    // ROLLUP grouping sets: subtotal + grand-total rows in ONE pass over
    // the base aggregation (Catalyst's Expand), not one scan per level —
    // the OLAP report shape. grouping_id disambiguates NULL group values
    // from rollup-generated totals.
    "q1_rollup" -> Q(
      fn = (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
              .as("sum_qty"),
            count(lit(1)).as("count_order"),
            grouping_id().cast("int").as("gid"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      oracle = Some(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  count(*) AS count_order,
          |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),
      doc = "ROLLUP subtotals/grand total in one Expand pass, grouping_id-tagged"),

    // PIVOT: per-user event-type counts as columns — the wide-report
    // reshape. Spark's pivot with an EXPLICIT value list stays a single
    // groupBy (no distinct-scan to infer columns, which at 100 TB is a
    // full extra pass); missing cells coalesce to 0.
    "events_pivot" -> Q(
      fn = (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = Tables.events(s, dir)
          .groupBy(col("user_id")).pivot("event_type", types).count()
        types.foldLeft(p)((d, t) =>
            d.withColumn(t, coalesce(col(t), lit(0L)).as(t)))
          .orderBy(col("user_id"))
      },
      oracle = Some(
        """SELECT user_id,
          |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
          |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      doc = "explicit-value-list pivot: one groupBy, no column-inference scan"),

    // S1+P2+A1: sum(size) per bucket over the objects relation.
    "a1_size_by_bucket" -> Q(
      fn = (s, dir) => Tables.objects(s, dir)
        .groupBy(col("bucket_id"))
        .agg(sum(col("size")).as("total_size"), count(lit(1)).as("n"))
        .orderBy(col("bucket_id")),
      oracle = Some(Oracle.withObjects(
        """SELECT bucket_id, CAST(sum(size) AS BIGINT) AS total_size,
          |count(*) AS n FROM objects GROUP BY bucket_id ORDER BY bucket_id""".stripMargin)),
      doc = "A1 size-by-bucket (0005:2-17)"),

    // The Phase-1 spine: delimiter listing with folder collapse.
    "list_v2_prefix" -> Q(
      fn = (s, dir) =>
        Listing.listObjectsV2(Tables.objects(s, dir), "F", "R/", Some("/"), None, 100),
      oracle = Some(listV2Sql("F", "R/", 100, None)),
      doc = "O1/U1/F7: listObjectsV2 delimiter collapse (0050:598-672)"),

    "list_v2_root" -> Q(
      fn = (s, dir) =>
        Listing.listObjectsV2(Tables.objects(s, dir), "O", "", Some("/"), None, 50),
      oracle = Some(listV2Sql("O", "", 50, None)),
      doc = "root-level delimiter listing"),

    // S3 allows ANY delimiter, not only '/' (ListObjectsV2 `delimiter` is a
    // free parameter): grouping 'R/123/item-2-…' keys by '-' collapses at
    // the first dash after the prefix — same operator, different delimiter.
    "list_v2_custom_delimiter" -> Q(
      fn = (s, dir) =>
        Listing.listObjectsV2(Tables.objects(s, dir), "F", "R/", Some("-"), None, 150),
      oracle = Some(listV2Sql("F", "R/", 150, None, delimiter = "-")),
      doc = "custom (non-slash) delimiter collapse (S3 ListObjectsV2 semantics)"),

    "list_v2_start_after" -> Q(
      fn = (s, dir) =>
        Listing.listObjectsV2(Tables.objects(s, dir), "F", "N/", Some("/"),
          Some("N/1"), 80),
      oracle = Some(listV2Sql("F", "N/", 80, Some("N/1"))),
      doc = "P4 keyset cursor + delimiter (pg.ts:633-651)"),

    "list_v2_no_delimiter" -> Q(
      fn = (s, dir) =>
        Listing.listObjectsV2(Tables.objects(s, dir), "F", "A/", None, None, 200),
      oracle = Some(Oracle.withObjects(
        """SELECT name, FALSE AS is_folder, size, created_at FROM objects
          |WHERE bucket_id = 'F' AND name LIKE 'A/%'
          |ORDER BY name LIMIT 200""".stripMargin)),
      doc = "flat keyset listing (no delimiter branch, pg.ts:581-726)"))
}
