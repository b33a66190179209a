package graft

import graft.functions.PathFns
import graft.operators.{Multimodal, ObjectStore}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 inventory: J4 child-existence semi-join, A2 counts,
  * D3 conditional update, D5 batch copy, I1 soft-delete registry, V1/V7
  * vector-index registry, and the multimodal pipeline as first-class queries.
  */
object QueriesExtra {

  /** DuckDB twin of [[graft.operators.Multimodal.vadSegments]] over the
    * audio slice of the synthetic media: framing, stub energies, and the
    * gaps-and-islands run census, ending in a `vad` CTE with one row per
    * media (media_id, n_frames, n_voice, n_segments, max_run,
    * total_voice_ms). Shared by mm_audio_vad and pipeline_asr_corpus. */
  private val vadCtes: String =
    """audio AS (SELECT doc_id AS media_id, n_chars * 10 AS duration_ms,
      |    md5(text) AS hex
      |  FROM documents WHERE doc_id % 3 = 1),
      |base AS (SELECT media_id, hex,
      |    CAST(least(greatest(duration_ms // 100, 1), 64) AS BIGINT) AS n_frames
      |  FROM audio),
      |frm AS (SELECT media_id, hex, n_frames,
      |    unnest(generate_series(0, CAST(n_frames - 1 AS INT))) AS f FROM base),
      |enr AS (SELECT media_id, f,
      |    CAST('0x' || substr(md5(concat(hex, '#', f)), 1, 4) AS INT) AS e FROM frm),
      |voi AS (SELECT media_id, f FROM enr WHERE e >= 32768),
      |isl AS (SELECT media_id, f,
      |    f - row_number() OVER (PARTITION BY media_id ORDER BY f) AS g FROM voi),
      |seg AS (SELECT media_id, g, count(*) AS run FROM isl GROUP BY 1, 2),
      |sa AS (SELECT media_id, CAST(sum(run) AS BIGINT) AS n_voice,
      |    count(*) AS n_segments, CAST(max(run) AS BIGINT) AS max_run
      |  FROM seg GROUP BY 1),
      |vad AS (SELECT b.media_id, b.n_frames,
      |    coalesce(sa.n_voice, 0) AS n_voice,
      |    CAST(coalesce(sa.n_segments, 0) AS BIGINT) AS n_segments,
      |    coalesce(sa.max_run, 0) AS max_run,
      |    coalesce(sa.n_voice, 0) * 100 AS total_voice_ms
      |  FROM base b LEFT JOIN sa USING (media_id))""".stripMargin

  /** DuckDB twin of [[graft.operators.Sketches.hllRegisters]] with
    * CTE-name prefix `p` over source CTE `src` — emitted once per operand
    * in the sketch-algebra oracles. */
  private def hllRegSql(p: String, src: String): String =
    s"""${p}hx AS (SELECT col_name, val,
       |    CAST('0x' || substr(md5(val), 1, 15) AS BIGINT) AS h FROM $src),
       |${p}rk AS (SELECT col_name, h // 281474976710656 AS bucket,
       |    CASE WHEN h % 281474976710656 = 0 THEN 49
       |         ELSE 49 - length(bin(h % 281474976710656)) END AS rank FROM ${p}hx),
       |${p}reg AS (SELECT col_name, bucket, max(rank) AS reg FROM ${p}rk GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of the estimate chain over a register CTE. */
  private def hllEstSql(p: String, regSrc: String): String =
    s"""${p}agg AS (SELECT col_name, 4096 - count(*) AS zeros,
       |    CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
       |      + (4096 - count(*)) * 562949953421312 AS sum_scaled
       |  FROM $regSrc GROUP BY 1),
       |${p}est AS (SELECT col_name, zeros,
       |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
       |      + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
       |      * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
       |      * CAST(562949953421312.0 AS DOUBLE)
       |      / CAST(sum_scaled AS DOUBLE) AS raw FROM ${p}agg),
       |${p}hll AS (SELECT col_name,
       |    CASE WHEN raw <= 10240.0 AND zeros > 0
       |      THEN round(CAST(4096.0 AS DOUBLE)
       |        * ln(CAST(4096.0 AS DOUBLE) / CAST(zeros AS DOUBLE)), 4)
       |      ELSE raw END AS hll_estimate FROM ${p}est)""".stripMargin

  def queries: Map[String, Q] = Map(

    // HLL set algebra: |clicked ∩ purchased| by inclusion–exclusion over
    // THREE register estimates (A, B, max-merged union) — answered from
    // the stored register tables alone, no raw rescan, no distinct join.
    // Subtraction amplifies relative error when the overlap is small; the
    // exact side keeps that visible.
    "sketch_hll_intersection" -> Q(
      fn = (s, dir) => {
        val ev = Tables.events(s, dir)
        // the synthetic fixture has every user in every event type, which
        // would make A = B = A ∪ B; carve overlapping-but-distinct
        // populations so the algebra is exercised (A: 2/3 of clickers,
        // B: half of purchasers, overlap: users ≡ 2 or 4 (mod 6))
        def side(t: String, pred: org.apache.spark.sql.Column) = ev
          .filter(col("event_type") === t && col("user_id").isNotNull && pred)
          .select(lit("user_id").as("col_name"),
            col("user_id").cast("string").as("val"))
        graft.operators.Sketches.hllIntersectionEstimate(
          side("click", col("user_id") % 3 =!= 0),
          side("purchase", col("user_id") % 2 === 0))
      },
      oracle = Some(
        s"""WITH ma AS (SELECT 'user_id' AS col_name,
           |    CAST(user_id AS VARCHAR) AS val FROM events
           |  WHERE event_type = 'click' AND user_id IS NOT NULL
           |    AND user_id % 3 <> 0),
           |mb AS (SELECT 'user_id' AS col_name,
           |    CAST(user_id AS VARCHAR) AS val FROM events
           |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
           |    AND user_id % 2 = 0),
           |${hllRegSql("a_", "ma")},
           |${hllRegSql("b_", "mb")},
           |u_reg AS (SELECT col_name, bucket, max(reg) AS reg FROM
           |  (SELECT * FROM a_reg UNION ALL SELECT * FROM b_reg) GROUP BY 1, 2),
           |${hllEstSql("a_", "a_reg")},
           |${hllEstSql("b_", "b_reg")},
           |${hllEstSql("u_", "u_reg")},
           |ex AS (SELECT count(*) AS exact_common FROM
           |  (SELECT val FROM ma INTERSECT SELECT val FROM mb))
           |SELECT exact_common, a_hll.hll_estimate AS est_a,
           |  b_hll.hll_estimate AS est_b, u_hll.hll_estimate AS est_union,
           |  a_hll.hll_estimate + b_hll.hll_estimate - u_hll.hll_estimate
           |    AS est_common
           |FROM ex, a_hll, b_hll, u_hll""".stripMargin),
      doc = "HLL inclusion-exclusion intersection: three register estimates, zero rescan"),

    // CDN purge coverage (cdn/cdn-cache-manager.ts purge scopes: tenant ⊃
    // bucket ⊃ object/transforms): given a mixed-scope purge batch, the
    // effective invalidation set per bucket, plus the object-level requests
    // a wider bucket purge made REDUNDANT — the dedup a purge queue consumer
    // runs before fanning requests to the CDN. Cache entries = objects; the
    // object-request set broadcasts (API-capped batch) against the entry
    // relation.
    "cdn_purge_coverage" -> Q(
      fn = (s, dir) => {
        val objects = Tables.objects(s, dir)
        val objReqs = objects.filter(col("size") % 100 === 0)
          .select(col("bucket_id"), col("name"), lit(true).as("obj_purged"))
        val bucketReqs = Seq("F")
        objects.select(col("bucket_id"), col("name"))
          .join(broadcast(objReqs), Seq("bucket_id", "name"), "left")
          .withColumn("obj_purged", coalesce(col("obj_purged"), lit(false)))
          .withColumn("bucket_purged", col("bucket_id").isin(bucketReqs: _*))
          .groupBy(col("bucket_id"))
          .agg(count(lit(1)).as("n_entries"),
            sum(when(col("bucket_purged") || col("obj_purged"), 1L).otherwise(0L))
              .as("n_invalidated"),
            sum(when(col("bucket_purged") && col("obj_purged"), 1L).otherwise(0L))
              .as("n_redundant_requests"))
          .orderBy(col("bucket_id"))
      },
      oracle = Some(Oracle.withObjects(
        """SELECT bucket_id, count(*) AS n_entries,
          |  CAST(sum(CASE WHEN bucket_id = 'F' OR size % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalidated,
          |  CAST(sum(CASE WHEN bucket_id = 'F' AND size % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant_requests
          |FROM objects GROUP BY bucket_id ORDER BY bucket_id""".stripMargin)),
      doc = "CDN purge-scope coverage + redundant-request dedup (cdn-cache-manager.ts:23-62)"),

    // Render-transform dedup (renderer/image.ts applyTransformation): raw
    // transform requests normalize to the canonical imgproxy key — clamped
    // dimensions, fixed segment order, JS-truthiness skips, resize mapping
    // — and requests sharing a key hit one rendered artifact. Top canonical
    // transforms by request count = the render-cache working set.
    "render_transform_dedup" -> Q(
      fn = (s, dir) => {
        val reqs = Tables.events(s, dir).select(
          concat(lit("obj-"), col("user_id") % 200).as("obj"),
          when(col("event_id") % 3 === 0, lit(null).cast("long"))
            .otherwise(col("event_id") % 4000).as("width"),
          when(col("event_id") % 5 === 0, lit(null).cast("long"))
            .otherwise((col("event_id") * 7) % 3000).as("height"),
          when(col("user_id") % 4 === 0, "cover")
            .when(col("user_id") % 4 === 1, "contain")
            .when(col("user_id") % 4 === 2, "fill")
            .otherwise(lit(null).cast("string")).as("resize"),
          when(col("event_id") % 7 === 0, lit(80L)).as("quality"),
          when(col("user_id") % 11 === 0, "webp")
            .when(col("user_id") % 11 === 1, "avif")
            .when(col("user_id") % 11 === 2, "origin")
            .otherwise(lit(null).cast("string")).as("format"))
        reqs.select(col("obj"), Multimodal.transformCanonical(
            col("width"), col("height"), col("resize"),
            col("quality"), col("format")).as("transform"))
          .groupBy(col("transform"))
          .agg(count(lit(1)).as("n_requests"),
            countDistinct(col("obj")).as("n_objects"))
          .orderBy(col("n_requests").desc, col("transform")).limit(20)
      },
      oracle = Some(
        """WITH req AS (SELECT
          |    concat('obj-', user_id % 200) AS obj,
          |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_id % 4000 END AS width,
          |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE (event_id * 7) % 3000 END AS height,
          |    CASE user_id % 4 WHEN 0 THEN 'cover' WHEN 1 THEN 'contain'
          |         WHEN 2 THEN 'fill' ELSE NULL END AS resize,
          |    CASE WHEN event_id % 7 = 0 THEN 80 ELSE NULL END AS quality,
          |    CASE user_id % 11 WHEN 0 THEN 'webp' WHEN 1 THEN 'avif'
          |         WHEN 2 THEN 'origin' ELSE NULL END AS format
          |  FROM events),
          |c AS (SELECT obj, concat_ws('/',
          |    CASE WHEN height IS NOT NULL AND height != 0
          |         THEN 'height:' || least(greatest(height, 1), 2560) END,
          |    CASE WHEN width IS NOT NULL AND width != 0
          |         THEN 'width:' || least(greatest(width, 1), 2560) END,
          |    CASE WHEN (width IS NOT NULL AND width != 0) OR (height IS NOT NULL AND height != 0)
          |         THEN 'resizing_type:' || CASE WHEN resize = 'contain' THEN 'fit'
          |              WHEN resize = 'fill' THEN 'force' ELSE 'fill' END END,
          |    CASE WHEN quality IS NOT NULL AND quality != 0 THEN 'quality:' || quality END,
          |    CASE WHEN format IS NOT NULL AND format != 'origin' THEN 'format:' || format END
          |  ) AS transform FROM req)
          |SELECT transform, count(*) AS n_requests, count(DISTINCT obj) AS n_objects
          |FROM c GROUP BY transform
          |ORDER BY n_requests DESC, transform LIMIT 20""".stripMargin),
      doc = "render-transform canonicalization + dedup (renderer/image.ts:298-349)"),

    // J4 semi-join existence: which candidate prefixes have ≥1 child below
    // them. The reference probes EXISTS ... LIKE 'p/%' per prefix row
    // (0026:81-104); the batch form derives every object's ancestor set once
    // (F6) and turns the probe into an equality join — no LIKE scan per
    // candidate, shuffles on an 8-byte-ish prefix key, scales to any depth.
    "j4_child_exists" -> Q(
      fn = (s, dir) => {
        val objects = Tables.objects(s, dir).filter(col("bucket_id") === "F")
        val parents = objects
          .filter(size(split(col("name"), "/")) === 3)
          .select(regexp_replace(col("name"), "/[^/]+$", "").as("prefix")).distinct()
        val candidates = parents.unionByName(
          parents.select(concat(col("prefix"), lit("x")).as("prefix")))
        val ancestors = objects
          .select(explode(PathFns.getPrefixes(col("name"))).as("prefix")).distinct()
          .withColumn("has_children", lit(true))
        candidates.join(ancestors, Seq("prefix"), "left")
          .select(col("prefix"),
            coalesce(col("has_children"), lit(false)).as("has_children"))
          .orderBy(col("prefix"))
      },
      oracle = Some(Oracle.withObjects(
        """, f AS (SELECT name FROM objects WHERE bucket_id = 'F'),
          |parents AS (SELECT DISTINCT regexp_replace(name, '/[^/]+$', '') AS prefix
          |            FROM f WHERE len(string_split(name, '/')) = 3),
          |cands AS (SELECT prefix FROM parents
          |          UNION ALL SELECT prefix || 'x' FROM parents)
          |SELECT c.prefix,
          |       EXISTS (SELECT 1 FROM f o WHERE o.name LIKE c.prefix || '/%')
          |         AS has_children
          |FROM cands c ORDER BY prefix""".stripMargin)),
      doc = "J4 child-existence probe as ancestor-set equality join (0026:81-104)"),

    // A2 count objects in bucket (pg.ts:498-535).
    "a2_count_objects" -> Q(
      fn = (s, dir) => Tables.objects(s, dir)
        .groupBy(col("bucket_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket_id")),
      oracle = Some(Oracle.withObjects(
        "SELECT bucket_id, count(*) AS n FROM objects GROUP BY bucket_id ORDER BY bucket_id")),
      doc = "A2 COUNT(*) per bucket (pg.ts:498-535)"),

    // D3 conditional update: rewrite matching rows, count by the new values.
    "d3_update_metadata" -> Q(
      fn = (s, dir) => {
        val updated = ObjectStore.updateWhere(Tables.objects(s, dir),
          col("bucket_id") === "F" && col("mimetype") === "text/plain",
          Map("mimetype" -> lit("text/markdown")))
        updated.groupBy(col("bucket_id"), col("mimetype"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket_id"), col("mimetype"))
      },
      oracle = Some(Oracle.withObjects(
        """SELECT bucket_id,
          |  CASE WHEN bucket_id = 'F' AND mimetype = 'text/plain'
          |       THEN 'text/markdown' ELSE mimetype END AS mimetype,
          |  count(*) AS n
          |FROM objects GROUP BY 1, 2 ORDER BY bucket_id, mimetype""".stripMargin)),
      doc = "D3 UPDATE ... RETURNING as conditional rewrite (pg.ts:963-1002)"),

    // D5 batch copy: re-key a source set under copy/, fresh version, merge.
    "d5_copy_batch" -> Q(
      fn = (s, dir) => {
        val objects = Tables.objects(s, dir).filter(col("bucket_id") === "F")
        val copied = objects.filter(col("name").startsWith("R/9"))
          .withColumn("name", concat(lit("copy/"), col("name")))
          .withColumn("version", lit("v-copy"))
        ObjectStore.upsert(objects, copied)
          .filter(col("name").startsWith("copy/") || col("name").startsWith("R/9"))
          .select(col("name"), col("version"), col("size"))
          .orderBy(col("name"))
      },
      oracle = Some(Oracle.withObjects(
        """, f AS (SELECT * FROM objects WHERE bucket_id = 'F'),
          |copies AS (SELECT concat('copy/', name) AS name, 'v-copy' AS version, size
          |           FROM f WHERE name LIKE 'R/9%'),
          |all_rows AS (SELECT name, version, size FROM f
          |             UNION ALL SELECT name, version, size FROM copies)
          |SELECT name, version, size FROM all_rows
          |WHERE name LIKE 'copy/%' OR name LIKE 'R/9%'
          |ORDER BY name""".stripMargin)),
      doc = "D5 copyObject batch form, new version at destination (object.ts:301-459)"),

    // P8 over objects.user_metadata: the reference's custom-metadata filter
    // surface (0025-custom-metadata.sql; object.ts carries user_metadata on
    // every write path). Bare-scalar $eq + $gte range through the same DSL
    // translator the vector filters use; NULL user_metadata never matches.
    "p8_object_user_metadata" -> Q(
      // one json_tuple pass extracts every referenced field (identical
      // get_json_object semantics), so each row parses its JSON once — the
      // DSL predicate and the projection both read the extracted columns.
      // 2.4 s -> ~1 s at sf0.1 (300k rows in the bucket, 5 parses -> 1).
      fn = (s, dir) => Tables.objects(s, dir)
        .filter(col("bucket_id") === "F")
        .select(col("name"), col("user_metadata"),
          json_tuple(col("user_metadata"), "tier", "idx"))
        .withColumnRenamed("c0", "tier").withColumnRenamed("c1", "idx_txt")
        .filter(graft.functions.FilterDsl.filterWith(col("user_metadata"),
          Map("tier" -> col("tier"), "idx" -> col("idx_txt")),
          """{"tier": "gold", "idx": {"$gte": 50}}"""))
        .select(col("name"), col("tier"), col("idx_txt").cast("int").as("idx"))
        .orderBy(col("name")),
      oracle = Some(Oracle.withObjects(
        """SELECT name, json_extract_string(user_metadata, '$.tier') AS tier,
          |       CAST(json_extract_string(user_metadata, '$.idx') AS INT) AS idx
          |FROM objects WHERE bucket_id = 'F'
          |  AND coalesce(json_extract_string(user_metadata, '$.tier') = 'gold', FALSE)
          |  AND coalesce(TRY_CAST(json_extract_string(user_metadata, '$.idx') AS DOUBLE) >= 50, FALSE)
          |ORDER BY name""".stripMargin)),
      doc = "P8 filter DSL over objects.user_metadata (0025-custom-metadata.sql)"),

    // D5 metadata-directive REPLACE with preserveUnspecifiedFileMetadata:
    // the copy takes the request's user_metadata, keeps the source mimetype
    // (unspecified file metadata preserved), fresh version (object.ts:335-352).
    "d5_copy_metadata_merge" -> Q(
      fn = (s, dir) => {
        val objects = Tables.objects(s, dir)
        // source key is a query parameter (min R/9* name), like the
        // reference's sourceKey argument
        val srcName = objects
          .filter(col("bucket_id") === "F" && col("name").startsWith("R/9"))
          .agg(min(col("name"))).head.getString(0)
        ObjectStore.copyObject(objects, "F", srcName, "copy-meta/dest.dat",
            "v-copy2", copyMetadata = false,
            newUserMetadata = Some("""{"copied":"yes"}"""),
            newMimetype = None, preserveUnspecifiedFileMetadata = true)
          .filter(col("bucket_id") === "F" &&
            col("name").isin(srcName, "copy-meta/dest.dat"))
          .select(col("name"), col("version"), col("mimetype"), col("user_metadata"))
          .orderBy(col("name"))
      },
      oracle = Some(Oracle.withObjects(
        """, f AS (SELECT * FROM objects WHERE bucket_id = 'F'),
          |src AS (SELECT min(name) AS sn FROM f WHERE name LIKE 'R/9%'),
          |rows_out AS (
          |  SELECT f.name, f.version, f.mimetype, f.user_metadata
          |  FROM f, src WHERE f.name = src.sn
          |  UNION ALL
          |  SELECT 'copy-meta/dest.dat' AS name, 'v-copy2' AS version,
          |         f.mimetype, '{"copied":"yes"}' AS user_metadata
          |  FROM f, src WHERE f.name = src.sn)
          |SELECT * FROM rows_out ORDER BY name""".stripMargin)),
      doc = "D5 REPLACE + preserveUnspecifiedFileMetadata merge (object.ts:335-352)"),

    // I1/I4 analytics-bucket registry with soft delete (deleted_at).
    "i1_analytics_buckets" -> Q(
      fn = (s, dir) => Tables.nation(s, dir)
        .select(concat(lit("bkt-"), col("n_nationkey")).as("id"),
          lower(regexp_replace(col("n_name"), " ", "_")).as("name"),
          when(col("n_nationkey") % 3 === 0,
            to_timestamp(lit("2026-01-01 00:00:00"))).as("deleted_at"))
        .filter(col("deleted_at").isNull)
        .select(col("id"), col("name"))
        .orderBy(col("id")),
      oracle = Some(
        """SELECT concat('bkt-', n_nationkey) AS id,
          |  lower(replace(n_name, ' ', '_')) AS name
          |FROM nation WHERE n_nationkey % 3 != 0
          |ORDER BY id""".stripMargin),
      doc = "I1/I4 soft-deleted ANALYTICS bucket registry (0038:18, storage.ts:159-198)"),

    // V1/V7 vector-index registry + distance-metric resolution (broadcast
    // lookup instead of the reference's pg_opclass introspection join).
    "v7_metric_resolution" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val indexes = Tables.nation(s, dir).select(
          concat(lit("idx-"), col("n_nationkey")).as("name"),
          (lit(64) + (col("n_nationkey") % 4) * 64).cast("int").as("dimension"),
          when(col("n_nationkey") % 2 === 0, "cosine").otherwise("euclidean")
            .as("distance_metric"))
        val opclasses = Seq(
          ("cosine", "halfvec_cosine_ops"), ("euclidean", "halfvec_l2_ops"))
          .toDF("distance_metric", "opclass")
        indexes.join(broadcast(opclasses), Seq("distance_metric"))
          .select(col("name"), col("dimension"), col("distance_metric"), col("opclass"))
          .orderBy(col("name"))
      },
      oracle = Some(
        """SELECT concat('idx-', n_nationkey) AS name,
          |  CAST(64 + (n_nationkey % 4) * 64 AS INT) AS dimension,
          |  CASE WHEN n_nationkey % 2 = 0 THEN 'cosine' ELSE 'euclidean' END
          |    AS distance_metric,
          |  CASE WHEN n_nationkey % 2 = 0 THEN 'halfvec_cosine_ops'
          |       ELSE 'halfvec_l2_ops' END AS opclass
          |FROM nation ORDER BY name""".stripMargin),
      doc = "V1/V7 index registry + opclass↔metric map (pgvector/index.ts:325-336,894-918)"),

    // Multipart listing with delimiter collapse — the A4 DISTINCT ON variant
    // over s3_multipart_uploads (0021:28-67): folders from collapsed key
    // prefixes, leaf uploads keep (key, upload_id).
    "s3_list_uploads_collapsed" -> Q(
      fn = (s, dir) => {
        val uploads = Tables.orders(s, dir).select(
          when(col("o_orderkey") % 10 === 0,
            concat(lit("U/"), col("o_orderkey"), lit(".bin")))
            .otherwise(concat(lit("U/"), substring(col("o_orderpriority"), 1, 1),
              lit("/"), col("o_orderkey"), lit(".bin"))).as("key"),
          concat(lit("upload-"), col("o_orderkey")).as("upload_id"))
        val withCp = uploads.withColumn("cp",
          PathFns.commonPrefix(col("key"), "U/"))
        val folders = withCp.filter(col("cp").isNotNull)
          .groupBy(col("cp").as("key"))
          .agg(count(lit(1)).as("_n"))
          .select(col("key"), lit(true).as("is_folder"),
            lit(null).cast("string").as("upload_id"))
        val leaves = withCp.filter(col("cp").isNull)
          .select(col("key"), lit(false).as("is_folder"), col("upload_id"))
        folders.unionByName(leaves).orderBy(col("key")).limit(1000)
      },
      oracle = Some(
        """WITH uploads AS (SELECT
          |    CASE WHEN o_orderkey % 10 = 0 THEN concat('U/', o_orderkey, '.bin')
          |         ELSE concat('U/', substr(o_orderpriority, 1, 1), '/', o_orderkey, '.bin')
          |    END AS key,
          |    concat('upload-', o_orderkey) AS upload_id
          |  FROM orders),
          |cp AS (SELECT key, upload_id,
          |    CASE WHEN strpos(substr(key, 3), '/') > 0
          |         THEN substr(key, 1, 2 + strpos(substr(key, 3), '/')) END AS c
          |  FROM uploads),
          |folders AS (SELECT DISTINCT c AS key, TRUE AS is_folder,
          |    CAST(NULL AS VARCHAR) AS upload_id FROM cp WHERE c IS NOT NULL),
          |leaves AS (SELECT key, FALSE AS is_folder, upload_id FROM cp WHERE c IS NULL)
          |SELECT * FROM (SELECT * FROM folders UNION ALL SELECT * FROM leaves)
          |ORDER BY key LIMIT 1000""".stripMargin),
      doc = "ListMultipartUploads delimiter collapse (0021:28-67, A4 variant)"),

    // I2 optimistic commit: CAS on metadata location, batch form.
    "i2_commit_swap" -> Q(
      fn = (s, dir) => {
        val tables = operators.IcebergCatalog.tables(s, dir)
        val requests = tables
          .filter(expr("CAST(substr(id, 5) AS BIGINT) % 7").isin(0L, 1L))
          .select(col("id"),
            when(expr("CAST(substr(id, 5) AS BIGINT) % 7") === 0, col("location"))
              .otherwise(concat(col("location"), lit(".stale"))).as("expected_location"),
            concat(col("location"), lit(".v2")).as("new_location"))
        val (_, outcomes) = operators.IcebergCatalog.commitTables(tables, requests)
        outcomes.orderBy(col("id"))
      },
      oracle = Some(
        """WITH tables AS (SELECT concat('tbl-', s_suppkey) AS id, s_suppkey,
          |  concat('s3://warehouse/', s_nationkey, '/', s_suppkey, '/metadata.json')
          |    AS location FROM supplier)
          |SELECT id, CASE WHEN s_suppkey % 7 = 0 THEN 'committed'
          |                ELSE 'conflict' END AS outcome
          |FROM tables WHERE s_suppkey % 7 IN (0, 1) ORDER BY id""".stripMargin),
      doc = "I2 optimistic metadata-location CAS (tenant-catalog.ts:178-409)"),

    // Multimodal: metadata-only aggregation — Catalyst prunes the binary
    // column from the scan (verified in MultimodalSpec via ReadSchema).
    // Fixed-point PageRank over the co-purchase graph (parts sharing an
    // order): 3 iterations in int64 SCALE=1e12 arithmetic — associative,
    // commutative, bit-identical under any partitioning or engine, which
    // float PageRank's order-dependent double sums are not. The oracle
    // replays the full iteration chain as generated CTEs.
    "graph_pagerank" -> Q(
      fn = (s, dir) => {
        // stored distinct adjacency: no per-call dedup agg in the kernel
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        graft.operators.Graph.pagerankFixedPoint(e, 3, assumeDistinct = true)
          .orderBy(col("rank").desc, col("node")).limit(20)
      },
      oracle = Some {
        val iterCtes = (1 to 3).map { k =>
          s"""r$k AS (SELECT e.dst AS v,
             |    (15 * (1000000000000 // n.n)) // 100
             |      + (85 * CAST(sum(r.r // deg.d) AS BIGINT)) // 100 AS r
             |  FROM e JOIN r${k - 1} r ON e.src = r.v
             |         JOIN deg ON e.src = deg.src CROSS JOIN n
             |  GROUP BY e.dst, n.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS v, 1000000000000 // n.n AS r FROM deg CROSS JOIN n),
           |$iterCtes
           |SELECT v AS node, r AS rank FROM r3
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin
      },
      doc = "fixed-point integer PageRank (bit-reproducible iterative graph kernel)"),


    // Multi-source BFS over the co-purchase graph: hop-distance census
    // from the id%1000 seed set. Frontier/visited stay node-sized; the
    // oracle unrolls the same three supersteps as explicit CTEs.
    "graph_bfs_layers" -> Q(
      fn = (s, dir) => {
        // stored DISTINCT adjacency, not the multi-edge expansion: BFS
        // reachability is invariant under edge multiplicity (the oracle's
        // `e` is SELECT DISTINCT), and the deduped relation cuts the
        // per-hop join fanout before each frontier `distinct` (r13)
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        val nodes = e.select(col("src").as("id")).distinct()
        graft.operators.Graph.bfsLayers(e,
          nodes.filter(col("id") % 1000 === 0), maxHops = 3)
          .orderBy(col("dist"))
      },
      oracle = Some(
        """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |nodes AS (SELECT DISTINCT src AS id FROM e),
          |v0 AS (SELECT id, 0 AS dist FROM nodes WHERE id % 1000 = 0),
          |f1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN v0 ON e.src = v0.id
          |  WHERE e.dst NOT IN (SELECT id FROM v0)),
          |v1 AS (SELECT * FROM v0 UNION ALL SELECT id, 1 FROM f1),
          |f2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN f1 ON e.src = f1.id
          |  WHERE e.dst NOT IN (SELECT id FROM v1)),
          |v2 AS (SELECT * FROM v1 UNION ALL SELECT id, 2 FROM f2),
          |f3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN f2 ON e.src = f2.id
          |  WHERE e.dst NOT IN (SELECT id FROM v2)),
          |v3 AS (SELECT * FROM v2 UNION ALL SELECT id, 3 FROM f3),
          |r AS (SELECT dist, count(*) AS n_nodes FROM v3 GROUP BY 1
          |      UNION ALL
          |      SELECT -1 AS dist, count(*) AS n_nodes FROM nodes
          |      WHERE id NOT IN (SELECT id FROM v3))
          |SELECT dist, n_nodes FROM r WHERE n_nodes > 0 ORDER BY dist""".stripMargin),
      doc = "multi-source BFS hop census: bounded Pregel supersteps, node-sized frontiers"),

    // Sampled harmonic centrality (Eppstein & Wang 2004 budget): per-probe
    // BFS to 3 hops with a (root, id)-keyed frontier — all 8 probe waves
    // advance in the same superstep, cost |S|·|V| not |V|², and the
    // centrality Σ 1/d is graded as the EXACT integer 6·n1 + 3·n2 + 2·n3
    // (×lcm(1..3) — no float division anywhere). Oracle unrolls the same
    // three supersteps with root in the frontier key.
    "graph_harmonic_centrality" -> Q(
      fn = (s, dir) => {
        // stored DISTINCT adjacency (oracle `e` is SELECT DISTINCT): the
        // per-hop reach census is multiplicity-invariant, and the deduped
        // relation shrinks every superstep's join fanout (r13)
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        val seeds = e.select(col("src").as("id")).distinct()
          .filter(col("id") % 1000 === 0).orderBy(col("id")).limit(8)
        graft.operators.Graph.perSourceBfsCensus(e, seeds, maxHops = 3)
          .groupBy(col("root"))
          .agg(sum(when(col("dist") === 1, col("n_nodes")).otherwise(0L)).as("n1"),
            sum(when(col("dist") === 2, col("n_nodes")).otherwise(0L)).as("n2"),
            sum(when(col("dist") === 3, col("n_nodes")).otherwise(0L)).as("n3"))
          .select(col("root"), col("n1"), col("n2"), col("n3"),
            (col("n1") * 6 + col("n2") * 3 + col("n3") * 2).as("h6"))
          .orderBy(col("root"))
      },
      oracle = Some(
        """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |s AS (SELECT DISTINCT src AS id FROM e WHERE src % 1000 = 0
          |      ORDER BY id LIMIT 8),
          |v0 AS (SELECT id AS root, id, 0 AS dist FROM s),
          |f1 AS (SELECT DISTINCT v0.root, e.dst AS id
          |  FROM e JOIN v0 ON e.src = v0.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v0 p
          |    WHERE p.root = v0.root AND p.id = e.dst)),
          |v1 AS (SELECT * FROM v0 UNION ALL SELECT root, id, 1 FROM f1),
          |f2 AS (SELECT DISTINCT f1.root, e.dst AS id
          |  FROM e JOIN f1 ON e.src = f1.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v1 p
          |    WHERE p.root = f1.root AND p.id = e.dst)),
          |v2 AS (SELECT * FROM v1 UNION ALL SELECT root, id, 2 FROM f2),
          |f3 AS (SELECT DISTINCT f2.root, e.dst AS id
          |  FROM e JOIN f2 ON e.src = f2.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v2 p
          |    WHERE p.root = f2.root AND p.id = e.dst)),
          |v3 AS (SELECT * FROM v2 UNION ALL SELECT root, id, 3 FROM f3)
          |SELECT root,
          |  CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |  CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          |  CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
          |  CAST(sum(CASE WHEN dist = 1 THEN 6 WHEN dist = 2 THEN 3
          |      WHEN dist = 3 THEN 2 ELSE 0 END) AS BIGINT) AS h6
          |FROM v3 WHERE dist > 0 GROUP BY root ORDER BY root""".stripMargin),
      doc = "sampled harmonic centrality: per-probe 3-hop BFS, exact ×6 integer harmonic sum"),

    // Log₂-binned degree distribution of the co-purchase graph — the first
    // readout of any graph curation pass (a straight line in log-log bins ⇒
    // power law ⇒ hub-aware algorithms needed; a bell ⇒ near-regular).
    // Binning is bit length (⌊log₂ d⌋ + 1) — pure integer both engines, no
    // libm — and the census (nodes, edges-endpoints, max degree per bin)
    // is exact integers off one degree aggregation. Scale: edge dedup +
    // one groupBy; the histogram relation is ≤ 64 rows.
    "graph_degree_histogram" -> Q(
      fn = (s, dir) => {
        // stored adjacency is already distinct: no per-call dedup shuffle
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        deg.withColumn("bin", length(expr("bin(d)")).cast("long"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("total_deg"),
            min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
          .withColumn("bin_lo", expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT) - 1)"))
          .select(col("bin"), col("bin_lo"), col("n_nodes"),
            col("total_deg"), col("min_deg"), col("max_deg"))
          .orderBy(col("bin"))
      },
      oracle = Some(
        """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
          |b AS (SELECT d, CAST(length(printf('%b', d)) AS BIGINT) AS bin
          |  FROM deg)
          |SELECT bin, CAST(1 AS BIGINT) << CAST(bin - 1 AS INT) AS bin_lo,
          |  CAST(count(*) AS BIGINT) AS n_nodes,
          |  CAST(sum(d) AS BIGINT) AS total_deg,
          |  CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin),
      doc = "log2-binned degree distribution: bit-length bins (no libm), exact per-bin census — the power-law readout"),

    // Sampled stress centrality (Shimbel 1953) over the co-purchase graph:
    // how many shortest paths from the 8 probe roots pass THROUGH each
    // node — the all-integer member of the betweenness family (betweenness
    // proper needs rational dependency accumulation; stress keeps Brandes'
    // two-pass structure exact, so Spark and DuckDB agree bit-for-bit).
    // Forward σ (path counts) and backward g (continuation counts) are
    // bounded Pregel supersteps in Graph.stressCentrality; the oracle
    // unrolls both passes as explicit per-hop CTEs. Σσ·g rides
    // DECIMAL(38,0) and grades as a digit string (ordering on the exact
    // value, not the string).
    "graph_stress_centrality" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        // the stored adjacency is already distinct — skip the per-call
        // edge-sized dedup shuffle (r10; values identical by construction)
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        val seeds = e.select(col("src").as("id")).distinct()
          .filter(col("id") % 1000 === 0).orderBy(col("id")).limit(8)
        graft.operators.Graph.stressCentrality(e, seeds, maxHops = 3,
          assumeDistinct = true)
          .filter(col("dist").between(1, 2))
          .select(col("id").as("node"),
            (col("sigma").cast(dec) * col("g")).as("st"))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_roots"), sum(col("st")).as("stress_dec"))
          .orderBy(col("stress_dec").desc, col("node")).limit(20)
          .select(col("node"), col("n_roots"),
            col("stress_dec").cast("string").as("stress"))
      },
      oracle = Some(
        """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |s AS (SELECT DISTINCT src AS id FROM e WHERE src % 1000 = 0
          |      ORDER BY id LIMIT 8),
          |v0 AS (SELECT id AS root, id, 1 AS sigma FROM s),
          |f1 AS (SELECT v0.root, e.dst AS id, sum(v0.sigma) AS sigma
          |  FROM e JOIN v0 ON e.src = v0.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v0 p
          |    WHERE p.root = v0.root AND p.id = e.dst)
          |  GROUP BY 1, 2),
          |v1 AS (SELECT root, id FROM v0 UNION ALL SELECT root, id FROM f1),
          |f2 AS (SELECT f1.root, e.dst AS id, sum(f1.sigma) AS sigma
          |  FROM e JOIN f1 ON e.src = f1.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v1 p
          |    WHERE p.root = f1.root AND p.id = e.dst)
          |  GROUP BY 1, 2),
          |v2 AS (SELECT root, id FROM v1 UNION ALL SELECT root, id FROM f2),
          |f3 AS (SELECT f2.root, e.dst AS id, sum(f2.sigma) AS sigma
          |  FROM e JOIN f2 ON e.src = f2.id
          |  WHERE NOT EXISTS (SELECT 1 FROM v2 p
          |    WHERE p.root = f2.root AND p.id = e.dst)
          |  GROUP BY 1, 2),
          |c3 AS (SELECT f3.root, e.src AS id, count(*) AS cg
          |  FROM e JOIN f3 ON e.dst = f3.id GROUP BY 1, 2),
          |g2 AS (SELECT f2.root, f2.id, f2.sigma, coalesce(c3.cg, 0) AS g
          |  FROM f2 LEFT JOIN c3 ON f2.root = c3.root AND f2.id = c3.id),
          |c2 AS (SELECT g2.root, e.src AS id, sum(1 + g2.g) AS cg
          |  FROM e JOIN g2 ON e.dst = g2.id GROUP BY 1, 2),
          |g1 AS (SELECT f1.root, f1.id, f1.sigma, coalesce(c2.cg, 0) AS g
          |  FROM f1 LEFT JOIN c2 ON f1.root = c2.root AND f1.id = c2.id),
          |st AS (SELECT root, id, CAST(sigma AS HUGEINT) * g AS stress FROM g1
          |  UNION ALL
          |  SELECT root, id, CAST(sigma AS HUGEINT) * g AS stress FROM g2)
          |SELECT id AS node, CAST(count(*) AS BIGINT) AS n_roots,
          |  CAST(sum(stress) AS VARCHAR) AS stress
          |FROM st GROUP BY 1
          |ORDER BY sum(stress) DESC, node LIMIT 20""".stripMargin),
      doc = "sampled stress centrality: exact-integer Brandes two-pass (σ forward, continuation counts backward), top-20 through-traffic nodes"),

    // Deterministic pseudo-random walks over the co-purchase graph —
    // DeepWalk's sampling primitive with the RNG replaced by a keyed
    // md5-60 hash, so Spark, DuckDB and every shard draw the IDENTICAL
    // walk (distributed walk sampling must be reproducible or the corpus
    // isn't). 8 seeds × 4 walks × 4 hops; each hop is one equi-join of
    // the frontier against the dst-sorted indexed adjacency. The graded
    // surface is the full path string + end node — any divergence in hash,
    // adjacency order or modulus breaks the hash match.
    "graph_random_walks" -> Q(
      fn = (s, dir) => {
        // walks ride the STORED indexed adjacency (CSR-style layout fixture,
        // Tables.coPurchaseAdjacency) — re-ranking the edge list per query
        // was ~3 s of every call (r10); production keeps the index.
        val adj = Tables.coPurchaseAdjacency(s, dir)
        val seeds = adj.select(col("src").as("id")).distinct()
          .filter(col("id") % 1000 === 0).orderBy(col("id")).limit(8)
        graft.operators.Graph.hashWalksIndexed(adj, seeds,
            steps = 4, walksPerSeed = 4)
          .orderBy(col("seed"), col("walk_r"))
      },
      oracle = Some {
        // single-line hash expr: the outer stripMargin would re-strip any
        // continuation line that begins with the '||' concat operator
        val hopCtes = (1 to 4).map { t =>
          s"""w$t AS (SELECT w.seed, w.r, n.dst AS node,
             |    w.path || '->' || CAST(n.dst AS VARCHAR) AS path
             |  FROM w${t - 1} w JOIN deg d ON d.src = w.node
             |  JOIN nbr n ON n.src = w.node AND n.idx =
             |    CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) || ':' || CAST(w.r AS VARCHAR) || ':' || '$t'), 1, 15) AS BIGINT) % d.deg + 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |nbr AS (SELECT src, dst, row_number() OVER (
           |    PARTITION BY src ORDER BY dst) AS idx FROM e),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |s AS (SELECT DISTINCT src AS seed FROM e WHERE src % 1000 = 0
           |      ORDER BY seed LIMIT 8),
           |w0 AS (SELECT seed, r, seed AS node, CAST(seed AS VARCHAR) AS path
           |  FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr),
           |$hopCtes
           |SELECT seed, r AS walk_r, path, node AS end_node
           |FROM w4 ORDER BY seed, walk_r""".stripMargin
      },
      doc = "deterministic hash-keyed random walks (DeepWalk sampling): path + end node graded, 4 hops via indexed-adjacency equi-joins"),


    // Consistent-hash ring placement: 8 servers x 16 virtual nodes on the
    // md5-60-bit ring; each object lands on the first vnode clockwise from
    // its hash (wrap to the ring minimum). Census per server: objects +
    // bytes under the full ring, and objects GAINED when server s0
    // departs — consistent hashing's whole point is that only s0's share
    // moves (graded exactly). The ring is broadcast; assignment is one
    // conditional min over ring-side rows with map-side combine.
    "store_consistent_hashing" -> Q(
      fn = (s, dir) => {
        // the ring is a compile-time CONSTANT (md5 of fixed vnode labels):
        // compute it driver-side and ship the sorted (pos, server) arrays
        // as literals — assignment is then a 128-entry successor lookup
        // inside one codegen'd projection, zero joins and zero shuffles
        // per object (the earlier relational crossJoin×groupBy form cost
        // ~99 s at sf0.1; this form is one scan). The DuckDB oracle keeps
        // the relational formulation — the hash-match proves the lookup
        // and the relation agree ring-wide.
        def md5pos(str: String): Long = {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(str.getBytes("UTF-8"))
          java.lang.Long.parseLong(
            d.map("%02x".format(_)).mkString.substring(0, 15), 16)
        }
        val ring = for (srv <- 0 until 8; v <- 0 until 16)
          yield (srv, md5pos(s"s$srv:$v"))
        def assignCol(nodes: Seq[(Int, Long)],
                      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val sorted = nodes.sortBy(_._2)
          val srvArr = typedLit(sorted.map(_._1))
          // index of the first vnode clockwise from h (count of pos < h) as
          // a compile-time BINARY-SEARCH when-tree: depth ⌈log₂ 128⌉ = 7
          // codegen'd comparisons per row, replacing the interpreted
          // 128-lambda filter() fold (HOFs don't codegen — the old form
          // paid ~240 closure calls per object and dominated the line)
          def lowerBound(lo: Int, hi: Int): org.apache.spark.sql.Column =
            if (lo == hi) lit(lo)
            else {
              val mid = (lo + hi) / 2
              when(h <= lit(sorted(mid)._2), lowerBound(lo, mid))
                .otherwise(lowerBound(mid + 1, hi))
            }
          val idx = lowerBound(0, sorted.size)
          element_at(srvArr,
            when(idx === sorted.size, lit(0)).otherwise(idx) + 1)
        }
        val objs = Tables.objects(s, dir).select(col("name"), col("size"),
          // == conv(substring(md5(name),1,15),16,10): top-60-bit kernel read
          // straight off the digest (no hex string, no base-16 parse)
          graft.functions.VectorExprs.md5Top60(col("name")).as("h"))
        val j = objs
          .withColumn("srv_full", assignCol(ring, col("h")))
          .withColumn("srv_minus0", assignCol(ring.filter(_._1 != 0), col("h")))
        j.groupBy(col("srv_full").as("server"))
          .agg(count(lit(1)).as("n_objects"),
            sum(col("size")).as("bytes"),
            sum(when(col("srv_minus0") =!= col("srv_full"), 1L).otherwise(0L))
              .as("n_moved_out"))
          .orderBy(col("server"))
      },
      oracle = Some(Oracle.withObjects(
        """, ring AS (SELECT srv.s AS server,
          |    CAST('0x' || substr(md5('s' || srv.s || ':' || vn.v), 1, 15) AS BIGINT) AS pos
          |  FROM generate_series(0, 7) srv(s) CROSS JOIN generate_series(0, 15) vn(v)),
          |o AS (SELECT name, size,
          |    CAST('0x' || substr(md5(name), 1, 15) AS BIGINT) AS h FROM objects),
          |a1 AS (SELECT o.name,
          |    coalesce(arg_min(CASE WHEN r.pos >= o.h THEN r.server END,
          |                     CASE WHEN r.pos >= o.h THEN r.pos END),
          |             arg_min(r.server, r.pos)) AS srv_full
          |  FROM o CROSS JOIN ring r GROUP BY o.name),
          |a2 AS (SELECT o.name,
          |    coalesce(arg_min(CASE WHEN r.pos >= o.h THEN r.server END,
          |                     CASE WHEN r.pos >= o.h THEN r.pos END),
          |             arg_min(r.server, r.pos)) AS srv_minus0
          |  FROM o CROSS JOIN ring r WHERE r.server <> 0 GROUP BY o.name)
          |SELECT a1.srv_full AS server, count(*) AS n_objects,
          |  CAST(sum(o.size) AS BIGINT) AS bytes,
          |  CAST(sum(CASE WHEN a2.srv_minus0 <> a1.srv_full THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_moved_out
          |FROM o JOIN a1 USING (name) JOIN a2 USING (name)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
      doc = "consistent-hash ring placement + departure rebalance: only the lost server's share moves"),

    // Rendezvous (highest-random-weight) hashing — the ringless placement
    // scheme storage routers use when vnode tables are unwanted: each object
    // goes to argmax over servers of hash(object, server). No ring state at
    // all, and on a server departure exactly that server's objects move
    // (every other object's argmax is unchanged by removing a non-winning
    // candidate) — graded by the n_moved_out column, which can be nonzero
    // only for the departed server's share. Assignment is 8 md5 columns and
    // one struct-max inside a single codegen'd projection: zero joins, zero
    // shuffles per object, scan-linear at any scale (vs the ring's binary
    // search — HRW trades O(servers) hashes for zero placement state).
    "store_rendezvous_hashing" -> Q(
      fn = (s, dir) => {
        def score(srv: Int) = graft.functions.VectorExprs.md5Top60(
          concat(col("name"), lit(s"#s$srv")))
        // argmax by (score, server): md5 ties are impossible in practice but
        // the (h, s) struct ordering keeps the pick total regardless. The 8
        // scores are materialized ONCE in a prior projection — both argmaxes
        // (full ring, ring minus s0) reuse them, halving the md5 work.
        def assign(servers: Seq[Int]) =
          array_max(array(servers.map(v =>
            struct(col(s"h$v").as("h"), lit(v).as("s"))): _*)).getField("s")
        Tables.objects(s, dir)
          .select(Seq(col("name"), col("size")) ++
            (0 until 8).map(v => score(v).as(s"h$v")): _*)
          .select(col("name"), col("size"),
            assign(0 until 8).as("srv_full"), assign(1 until 8).as("srv_minus0"))
          .groupBy(col("srv_full").as("server"))
          .agg(count(lit(1)).as("n_objects"),
            sum(col("size")).as("bytes"),
            sum(when(col("srv_minus0") =!= col("srv_full"), 1L).otherwise(0L))
              .as("n_moved_out"))
          .orderBy(col("server"))
      },
      oracle = Some(Oracle.withObjects(
        """, sc AS (SELECT o.name, o.size, srv.s,
          |    CAST('0x' || substr(md5(o.name || '#s' || srv.s), 1, 15) AS BIGINT) AS h
          |  FROM objects o CROSS JOIN generate_series(0, 7) srv(s)),
          |a1 AS (SELECT name, size, s AS srv_full FROM (
          |    SELECT name, size, s, row_number() OVER (
          |      PARTITION BY name ORDER BY h DESC, s DESC) AS rn FROM sc)
          |  WHERE rn = 1),
          |a2 AS (SELECT name, s AS srv_minus0 FROM (
          |    SELECT name, s, row_number() OVER (
          |      PARTITION BY name ORDER BY h DESC, s DESC) AS rn FROM sc WHERE s <> 0)
          |  WHERE rn = 1)
          |SELECT a1.srv_full AS server, count(*) AS n_objects,
          |  CAST(sum(a1.size) AS BIGINT) AS bytes,
          |  CAST(sum(CASE WHEN a2.srv_minus0 <> a1.srv_full THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_moved_out
          |FROM a1 JOIN a2 USING (name)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),
      doc = "rendezvous (HRW) hashing placement + departure proof: argmax-hash assignment, only the departed server's objects move"),

    // Triangle enumeration over the support-thresholded co-purchase graph:
    // degree-ordered orientation bounds the wedge join by m^1.5 however
    // hot any hub node is; the support >= 2 floor is the frequent-itemset
    // prefilter that keeps co-occurrence graphs from densifying.
    "graph_triangles" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchasePairs(s, dir)
        graft.operators.Graph.triangles(e)
          .orderBy(col("n1"), col("n2"), col("n3"))
      },
      oracle = Some(
        """WITH co AS (SELECT DISTINCT a.l_orderkey AS ok,
          |    a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |e AS (SELECT u, v FROM co GROUP BY u, v HAVING count(*) >= 2),
          |deg AS (SELECT n, count(*) AS d FROM
          |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
          |o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
          |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
          |      FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
          |tri AS (SELECT list_sort([a.s, a.t, b.t]) AS l
          |        FROM o a JOIN o b ON a.s = b.s AND a.t < b.t
          |        JOIN o c ON c.s = a.t AND c.t = b.t)
          |SELECT l[1] AS n1, l[2] AS n2, l[3] AS n3 FROM tri
          |ORDER BY n1, n2, n3""".stripMargin),
      doc = "degree-ordered triangle enumeration (bounded wedge join, no hub blowup)"),

    // Blocked record linkage: match corrupted part names (one char deleted
    // at a key-derived position) back to the canonical relation via a
    // rarest-token probe over an inverted index — candidates bounded by
    // the smallest inverted list, best match per record by combinable
    // min(struct(dist, id)). No all-pairs, no per-key window.
    "link_best_match" -> Q(
      fn = (s, dir) => {
        val part = Tables.table(s, dir, "part")
        val clean = part.select(col("p_partkey"), col("p_name"))
        val dirty = part.filter(col("p_partkey") % 10 === 0)
          .select(col("p_partkey").as("did"),
            expr("concat(substring(p_name, 1, p_partkey % 5 + 1), " +
              "substring(p_name, p_partkey % 5 + 3))").as("dname"))
        graft.operators.Linkage.bestMatches(
            dirty, "did", "dname", clean, "p_partkey", "p_name", 3)
          .orderBy(col("dirty_id"))
      },
      oracle = Some(
        """WITH clean AS (SELECT p_partkey AS id, p_name AS name FROM part),
          |dirty AS (SELECT p_partkey AS did,
          |    substr(p_name, 1, p_partkey % 5 + 1)
          |      || substr(p_name, p_partkey % 5 + 3) AS dname
          |  FROM part WHERE p_partkey % 10 = 0),
          |inv AS (SELECT id, name, unnest(list_distinct(string_split(name, ' '))) AS tok
          |        FROM clean),
          |dfc AS (SELECT tok, count(*) AS c FROM inv GROUP BY tok),
          |probe AS (SELECT did, dname,
          |    split_part(min(lpad(CAST(c AS VARCHAR), 10, '0') || '|' || tok), '|', 2) AS tok
          |  FROM (SELECT did, dname, unnest(list_distinct(string_split(dname, ' '))) AS tok
          |        FROM dirty) dt JOIN dfc USING (tok)
          |  GROUP BY did, dname),
          |scored AS (SELECT p.did, p.dname, i.id, i.name,
          |    CAST(levenshtein(p.dname, i.name) AS INT) AS dist,
          |    row_number() OVER (PARTITION BY p.did
          |      ORDER BY levenshtein(p.dname, i.name), i.id) AS rn
          |  FROM probe p JOIN inv i ON p.tok = i.tok
          |  WHERE levenshtein(p.dname, i.name) <= 3)
          |SELECT did AS dirty_id, dname AS dirty_name, id AS match_id,
          |       name AS match_name, dist
          |FROM scored WHERE rn = 1 ORDER BY dirty_id""".stripMargin),
      doc = "entity resolution: rarest-token-probe blocking + best edit-distance match"),

    // Dataset profiling: per-column census (rows / nulls / exact distinct /
    // native-typed min-max) over the lossless-varchar columns of `orders` —
    // the trust-but-verify pass before a new data drop enters the pipeline.
    // One wide reduce + one melt-based two-level distinct (Profile.scala).
    "profile_columns" -> Q(
      fn = (s, dir) =>
        graft.operators.Profile.profile(Tables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
          .orderBy(col("col_name")),
      oracle = Some(
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_val,
             |  CAST(max($c) AS VARCHAR) AS max_val FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
      doc = "per-column profile census: one wide reduce + melt-based exact distinct"),

    // Snapshot drift census: the data-card diff between two corpus
    // versions. "Yesterday" = docs below the 90th doc_id percentile with
    // lang nulled on a deterministic slice — the drift the census must
    // surface (row growth, null-rate change, distinct shift, range flag).
    "profile_drift" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        val old = d.filter(col("doc_id") % 10 =!= 9)
          .withColumn("lang",
            when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")))
        graft.operators.Profile.profileDrift(old, d,
          Seq("doc_id", "lang", "source", "n_chars"))
      },
      oracle = Some {
        def prof(src: String, sfx: String) =
          Seq("doc_id", "lang", "source", "n_chars").map { c =>
            s"""SELECT '$c' AS col_name, count(*) AS n_rows_$sfx,
               |  count(*) - count($c) AS n_null_$sfx,
               |  count(DISTINCT $c) AS n_distinct_$sfx,
               |  CAST(min($c) AS VARCHAR) AS min_$sfx,
               |  CAST(max($c) AS VARCHAR) AS max_$sfx FROM $src""".stripMargin
          }.mkString("(", "\nUNION ALL\n", ")")
        s"""WITH old AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           |    source, n_chars
           |  FROM documents WHERE doc_id % 10 <> 9),
           |pa AS ${prof("old", "old")},
           |pb AS ${prof("documents", "new")}
           |SELECT pa.col_name, n_rows_old, n_rows_new,
           |  n_rows_new - n_rows_old AS row_delta,
           |  n_null_old, n_null_new,
           |  n_distinct_old, n_distinct_new,
           |  n_distinct_new - n_distinct_old AS distinct_delta,
           |  NOT (min_new IS NOT DISTINCT FROM min_old)
           |    OR NOT (max_new IS NOT DISTINCT FROM max_old) AS range_changed
           |FROM pa JOIN pb ON pa.col_name = pb.col_name
           |ORDER BY pa.col_name""".stripMargin
      },
      doc = "snapshot drift census: per-column row/null/distinct deltas + range flags"),

    // Mergeable distinct-count sketch: HyperLogLog (p=12) formulated
    // relationally so partial aggregation IS the register merge — the
    // shuffle moves ≤4096 register rows per column, never data rows. The
    // oracle replays the identical 60-bit-md5 + max-rank + exact-integer
    // harmonic sum pipeline, certifying the sketch bit-for-bit
    // (operators/Sketches.scala has the portability contract).
    "sketch_hll_distinct" -> Q(
      fn = (s, dir) =>
        graft.operators.Sketches.hllDistinct(Tables.events(s, dir),
          Seq("event_id", "event_type", "user_id")),
      oracle = Some(
        """WITH m AS (
          |  SELECT col_name, val FROM (
          |    SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS val FROM events
          |    UNION ALL SELECT 'event_type', event_type FROM events
          |    UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
          |  ) WHERE val IS NOT NULL),
          |hx AS (SELECT col_name, val,
          |    CAST('0x' || substr(md5(val), 1, 15) AS BIGINT) AS h FROM m),
          |rk AS (SELECT col_name, h // 281474976710656 AS bucket,
          |    CASE WHEN h % 281474976710656 = 0 THEN 49
          |         ELSE 49 - length(bin(h % 281474976710656)) END AS rank FROM hx),
          |reg AS (SELECT col_name, bucket, max(rank) AS reg FROM rk GROUP BY 1, 2),
          |agg AS (SELECT col_name, 4096 - count(*) AS zeros,
          |    CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
          |      + (4096 - count(*)) * 562949953421312 AS sum_scaled
          |  FROM reg GROUP BY 1),
          |est AS (SELECT col_name, zeros,
          |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |      + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
          |      * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
          |      * CAST(562949953421312.0 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS raw FROM agg),
          |hll AS (SELECT col_name,
          |    CASE WHEN raw <= 10240.0 AND zeros > 0
          |      THEN round(CAST(4096.0 AS DOUBLE)
          |        * ln(CAST(4096.0 AS DOUBLE) / CAST(zeros AS DOUBLE)), 4)
          |      ELSE raw END AS hll_estimate FROM est),
          |ex AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
          |    count(*) AS exact_distinct
          |  FROM (SELECT col_name, val, count(*) AS c FROM m GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT ex.col_name, n_rows, exact_distinct, hll_estimate,
          |  (hll_estimate - CAST(exact_distinct AS DOUBLE))
          |    / CAST(exact_distinct AS DOUBLE) * 100.0 AS rel_err_pct
          |FROM ex JOIN hll ON ex.col_name = hll.col_name
          |ORDER BY 1""".stripMargin),
      doc = "HyperLogLog distinct sketch as a relation: map-side register merge, exact-int harmonic sum"),

    // Count-min sketch point estimates over user_id — all-integer, the
    // sketch build bounded at depth×width cells per map task, min-over-rows
    // estimates always ≥ truth (one-sided error, spec-asserted). The oracle
    // replays the seeded-hash sketch cell-for-cell.
    "sketch_cms_counts" -> Q(
      fn = (s, dir) =>
        graft.operators.Sketches.cmsCounts(Tables.events(s, dir), "user_id")
          .select(col("val").cast("bigint").as("user_id"), col("n_true"),
            col("n_cms"), col("overcount"))
          .orderBy(col("user_id")),
      oracle = Some(
        """WITH vals AS (SELECT CAST(user_id AS VARCHAR) AS val FROM events
          |  WHERE user_id IS NOT NULL),
          |js AS (SELECT unnest(range(4)) AS j),
          |cells AS (SELECT j,
          |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |      AS BIGINT) % 1024 AS bucket, count(*) AS c
          |  FROM vals CROSS JOIN js GROUP BY 1, 2),
          |truth AS (SELECT val, count(*) AS n_true FROM vals GROUP BY 1),
          |probe AS (SELECT val, j,
          |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |      AS BIGINT) % 1024 AS bucket
          |  FROM truth CROSS JOIN js),
          |est AS (SELECT val, min(c) AS n_cms
          |  FROM probe JOIN cells USING (j, bucket) GROUP BY 1)
          |SELECT CAST(t.val AS BIGINT) AS user_id, n_true, n_cms,
          |  n_cms - n_true AS overcount
          |FROM truth t JOIN est USING (val) ORDER BY user_id""".stripMargin),
      doc = "count-min sketch: bounded cell relation, min-over-rows point estimates"),

    // HLL as an aggregation primitive: distinct users PER event_type. Same
    // register kernel keyed by the group — a hot group still partial-aggs
    // to ≤4096 registers per map task, so group skew never reaches the
    // shuffle. Oracle replays the kernel keyed the same way.
    "sketch_hll_by_group" -> Q(
      fn = (s, dir) =>
        graft.operators.Sketches.hllDistinctByGroup(Tables.events(s, dir),
          "event_type", "user_id"),
      oracle = Some(
        """WITH m AS (SELECT event_type AS col_name,
          |    CAST(user_id AS VARCHAR) AS val FROM events
          |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
          |hx AS (SELECT col_name, val,
          |    CAST('0x' || substr(md5(val), 1, 15) AS BIGINT) AS h FROM m),
          |rk AS (SELECT col_name, h // 281474976710656 AS bucket,
          |    CASE WHEN h % 281474976710656 = 0 THEN 49
          |         ELSE 49 - length(bin(h % 281474976710656)) END AS rank FROM hx),
          |reg AS (SELECT col_name, bucket, max(rank) AS reg FROM rk GROUP BY 1, 2),
          |agg AS (SELECT col_name, 4096 - count(*) AS zeros,
          |    CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
          |      + (4096 - count(*)) * 562949953421312 AS sum_scaled
          |  FROM reg GROUP BY 1),
          |est AS (SELECT col_name, zeros,
          |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |      + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
          |      * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
          |      * CAST(562949953421312.0 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS raw FROM agg),
          |hll AS (SELECT col_name,
          |    CASE WHEN raw <= 10240.0 AND zeros > 0
          |      THEN round(CAST(4096.0 AS DOUBLE)
          |        * ln(CAST(4096.0 AS DOUBLE) / CAST(zeros AS DOUBLE)), 4)
          |      ELSE raw END AS hll_estimate FROM est),
          |ex AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
          |    count(*) AS exact_distinct
          |  FROM (SELECT col_name, val, count(*) AS c FROM m GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT ex.col_name AS event_type, n_rows, exact_distinct, hll_estimate,
          |  (hll_estimate - CAST(exact_distinct AS DOUBLE))
          |    / CAST(exact_distinct AS DOUBLE) * 100.0 AS rel_err_pct
          |FROM ex JOIN hll ON ex.col_name = hll.col_name
          |ORDER BY 1""".stripMargin),
      doc = "HLL distinct-per-group: register merge keyed by group, skew-immune"),

    // Sketch algebra: two half-month register tables union by max(reg) and
    // estimate — NO raw row is rescanned. Registers form a semilattice, so
    // merged registers == registers of the concatenated data; the oracle
    // proves it by sketching ALL rows directly. This is the sketch-as-
    // materialized-view pattern: daily register tables roll up to monthly
    // distinct counts at register cost.
    "sketch_hll_union" -> Q(
      fn = (s, dir) => {
        import graft.operators.Sketches
        import org.apache.spark.sql.{Column, DataFrame}
        val ev = Tables.events(s, dir)
        def part(f: Column): DataFrame =
          ev.filter(f).select(lit("user_id").as("col_name"),
            col("user_id").cast("string").as("val"))
            .filter(col("val").isNotNull)
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val merged = Sketches.hllMergeEstimate(Seq(
          Sketches.hllRegisters(part(col("ts") < cut)),
          Sketches.hllRegisters(part(col("ts") >= cut))))
        val exact = ev.filter(col("user_id").isNotNull)
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        merged.crossJoin(exact)
          .select(col("col_name"), lit(2).as("n_parts"),
            col("exact_distinct"), col("hll_estimate"),
            ((col("hll_estimate") - col("exact_distinct").cast("double")) /
              col("exact_distinct").cast("double") * lit(100.0))
              .as("rel_err_pct"))
      },
      oracle = Some(
        """WITH m AS (SELECT 'user_id' AS col_name,
          |    CAST(user_id AS VARCHAR) AS val FROM events
          |  WHERE user_id IS NOT NULL),
          |hx AS (SELECT col_name, val,
          |    CAST('0x' || substr(md5(val), 1, 15) AS BIGINT) AS h FROM m),
          |rk AS (SELECT col_name, h // 281474976710656 AS bucket,
          |    CASE WHEN h % 281474976710656 = 0 THEN 49
          |         ELSE 49 - length(bin(h % 281474976710656)) END AS rank FROM hx),
          |reg AS (SELECT col_name, bucket, max(rank) AS reg FROM rk GROUP BY 1, 2),
          |agg AS (SELECT col_name, 4096 - count(*) AS zeros,
          |    CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
          |      + (4096 - count(*)) * 562949953421312 AS sum_scaled
          |  FROM reg GROUP BY 1),
          |est AS (SELECT col_name, zeros,
          |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
          |      + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
          |      * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
          |      * CAST(562949953421312.0 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS raw FROM agg),
          |hll AS (SELECT col_name,
          |    CASE WHEN raw <= 10240.0 AND zeros > 0
          |      THEN round(CAST(4096.0 AS DOUBLE)
          |        * ln(CAST(4096.0 AS DOUBLE) / CAST(zeros AS DOUBLE)), 4)
          |      ELSE raw END AS hll_estimate FROM est),
          |ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events
          |  WHERE user_id IS NOT NULL)
          |SELECT col_name, 2 AS n_parts, exact_distinct, hll_estimate,
          |  (hll_estimate - CAST(exact_distinct AS DOUBLE))
          |    / CAST(exact_distinct AS DOUBLE) * 100.0 AS rel_err_pct
          |FROM hll, ex""".stripMargin),
      doc = "HLL register-table union: semilattice merge == direct sketch, zero rescan"),

    // Join-cardinality estimation from CMS cells — optimizer statistics:
    // |A ⋈ B| = Σ_v fA(v)·fB(v), estimated as min over depth rows of the
    // cellwise product sum. Reads 2·depth·width cells, never the
    // relations; collisions only ADD cross terms (one-sided). All-integer,
    // oracle replays the cells.
    "sketch_join_cardinality" -> Q(
      fn = (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.operators.Sketches.cmsJoinCardinality(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), "user_id")
      },
      oracle = Some(
        """WITH va AS (SELECT CAST(user_id AS VARCHAR) AS val FROM events
          |  WHERE event_type = 'click' AND user_id IS NOT NULL),
          |vb AS (SELECT CAST(user_id AS VARCHAR) AS val FROM events
          |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
          |js AS (SELECT unnest(range(4)) AS j),
          |ca AS (SELECT j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |    AS BIGINT) % 1024 AS bucket, count(*) AS c
          |  FROM va CROSS JOIN js GROUP BY 1, 2),
          |cb AS (SELECT j, CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |    AS BIGINT) % 1024 AS bucket, count(*) AS c
          |  FROM vb CROSS JOIN js GROUP BY 1, 2),
          |s AS (SELECT ca.j, CAST(sum(ca.c * cb.c) AS BIGINT) AS s
          |  FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket GROUP BY 1),
          |est AS (SELECT min(s) AS cms_card FROM s),
          |ex AS (SELECT CAST(coalesce(sum(fa.c * fb.c), 0) AS BIGINT) AS exact_card
          |  FROM (SELECT val, count(*) AS c FROM va GROUP BY 1) fa
          |  JOIN (SELECT val, count(*) AS c FROM vb GROUP BY 1) fb USING (val))
          |SELECT exact_card, coalesce(cms_card, 0) AS cms_card,
          |  coalesce(cms_card, 0) - exact_card AS overcount
          |FROM ex, est""".stripMargin),
      doc = "CMS join-cardinality estimate: cellwise product sums, one-sided, relation-free"),

    // AMS/tug-of-war F₂ sketch (Alon-Matias-Szegedy 1996): the SECOND
    // frequency moment Σf² — the self-join size, the planner statistic the
    // CMS probe above estimates pairwise and the skew diagnostic for
    // repartition decisions. Sixteen ±1 sign sketches S_j = Σ_rows s_j(v),
    // each an exact integer sum, E[S²] = F₂. Scale shape: ONE scan, one
    // md5 per row, the 16 sketches are sixteen parallel long-sum aggregate
    // COLUMNS (no row multiplication, map-side combine collapses every
    // partition to one 16-long row); the exact-F₂ pass is kept only for
    // the accuracy report, as in hllDistinct. Signs come from the parity
    // of 16 md5 hex digits; ΣS² and F₂ ride DECIMAL(38,0) and grade as
    // digit strings (S ≤ n ⇒ ΣS² ≤ 16n²), the ratio is one IEEE tail.
    "sketch_ams_f2" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val ev = Tables.events(s, dir)
          .select(col("user_id").cast("string").as("v"))
        val withH = ev.select(md5(col("v")).as("h"))
        val sums = withH.agg(count(lit(1)).as("n_rows"),
          (0 until 16).map { j =>
            sum(expr(s"(cast(conv(substring(h, ${j + 1}, 1), 16, 10)" +
              s" as bigint) % 2) * 2 - 1").as("sgn")).as(s"s$j")
          }: _*)
        val est = sums.withColumn("f2_est_x16",
          (0 until 16).map(j => col(s"s$j").cast(dec) * col(s"s$j"))
            .reduce(_ + _))
        val exact = ev.groupBy(col("v")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("c").cast(dec) * col("c")).as("f2"))
        est.crossJoin(broadcast(exact))
          .select(col("n_rows"), col("n_keys"),
            col("f2").cast("string").as("f2_exact"),
            col("f2_est_x16").cast("string").as("f2_est_x16"),
            (round(col("f2_est_x16").cast("double")
              / (lit(16.0) * col("f2").cast("double")), 9) + 0.0)
              .as("est_over_exact"))
      },
      oracle = Some {
        val sCols = (0 until 16).map { j =>
          s"    sum((CAST('0x' || substr(h, ${j + 1}, 1) AS BIGINT) % 2) * 2 - 1) AS s$j"
        }.mkString(",\n")
        val sq = (0 until 16).map(j => s"s$j * s$j").mkString(" + ")
        s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
           |hh AS (SELECT md5(v) AS h FROM ev),
           |s AS (SELECT count(*) AS n_rows,
           |$sCols
           |  FROM hh),
           |f AS (SELECT v, count(*) AS c FROM ev GROUP BY 1),
           |x AS (SELECT count(*) AS n_keys,
           |    sum(CAST(c AS HUGEINT) * c) AS f2 FROM f)
           |SELECT CAST(s.n_rows AS BIGINT) AS n_rows,
           |  CAST(x.n_keys AS BIGINT) AS n_keys,
           |  CAST(x.f2 AS VARCHAR) AS f2_exact,
           |  CAST($sq AS VARCHAR) AS f2_est_x16,
           |  round(CAST($sq AS DOUBLE)
           |    / (CAST(16.0 AS DOUBLE) * CAST(x.f2 AS DOUBLE)), 9) + 0.0
           |    AS est_over_exact
           |FROM s, x""".stripMargin
      },
      doc = "AMS tug-of-war F₂ (self-join size) sketch: 16 exact ±1 sign sums in one scan, digit-string moments, one IEEE ratio"),

    // Range-selectivity estimation from an equi-depth histogram — the
    // classic planner statistic beside the CMS join-cardinality probe:
    // decile bounds are exact order statistics (distributed prefix sum),
    // the estimate reads the 10-row bound relation only. Full buckets
    // count exactly; the single partial bucket interpolates uniformly —
    // one fixed IEEE term selected by max(), so no order-dependent float
    // sum exists anywhere.
    "stats_range_estimate" -> Q(
      fn = (s, dir) =>
        graft.operators.Sketches.equidepthRangeEstimate(
          Tables.objects(s, dir), "size", lo = 30000L, hi = 70000L),
      oracle = Some(Oracle.withObjects(
        """, vals AS (SELECT size AS v FROM objects WHERE size IS NOT NULL),
          |h AS (SELECT v, count(*) AS c FROM vals GROUP BY 1),
          |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
          |cc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          |    AS cum FROM h),
          |q AS (SELECT p.pct, min(cc.v) AS value
          |  FROM (VALUES (10),(20),(30),(40),(50),(60),(70),(80),(90),(100))
          |    p(pct), cc, t
          |  WHERE cc.cum >= (t.n * p.pct + 99) // 100 GROUP BY p.pct),
          |bounds AS (SELECT * FROM q
          |  UNION ALL SELECT 0 AS pct, min(v) AS value FROM vals),
          |pairs AS (SELECT p.value AS blo, b.value AS bhi
          |  FROM bounds b JOIN bounds p ON b.pct = p.pct + 10),
          |est AS (SELECT n, CAST(floor(
          |    (CAST(n AS DOUBLE)
          |       * CAST(sum(CASE WHEN bhi <= 70000 THEN 1 ELSE 0 END) AS DOUBLE)
          |       / CAST(10.0 AS DOUBLE)
          |     + coalesce(max(CASE WHEN blo < 70000 AND 70000 < bhi
          |         THEN CAST(70000 - blo AS DOUBLE) / CAST(bhi - blo AS DOUBLE)
          |         END), 0.0) * (CAST(n AS DOUBLE) / CAST(10.0 AS DOUBLE)))
          |  - (CAST(n AS DOUBLE)
          |       * CAST(sum(CASE WHEN bhi <= 29999 THEN 1 ELSE 0 END) AS DOUBLE)
          |       / CAST(10.0 AS DOUBLE)
          |     + coalesce(max(CASE WHEN blo < 29999 AND 29999 < bhi
          |         THEN CAST(29999 - blo AS DOUBLE) / CAST(bhi - blo AS DOUBLE)
          |         END), 0.0) * (CAST(n AS DOUBLE) / CAST(10.0 AS DOUBLE)))
          |  ) AS BIGINT) AS est_rows
          |  FROM pairs, t GROUP BY n),
          |ex AS (SELECT count(*) AS exact_rows FROM vals
          |  WHERE v BETWEEN 30000 AND 70000)
          |SELECT n AS n_rows, exact_rows, est_rows,
          |  est_rows - exact_rows AS err_rows
          |FROM est, ex""".stripMargin)),
      doc = "equi-depth range selectivity: exact decile bounds, 10-row estimate probe"),

    // Zone-map pruning census: per-chunk min/max name under SORTED vs
    // hash-NATURAL placement, probed by the 20 hottest folder ranges —
    // chunks_sorted vs chunks_natural is the row-group-skipping I/O ratio
    // clustered layout buys at 100 TB.
    "stats_zonemap_pruning" -> Q(
      fn = (s, dir) =>
        graft.operators.Layout.zoneMapPruningCensus(
          Tables.objects(s, dir), chunkRows = 256, topPrefixes = 20),
      oracle = Some(Oracle.withObjects(
        """, o AS (SELECT name FROM objects),
          |r AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS rn FROM o),
          |zs AS (SELECT rn // 256 AS chunk, min(name) AS zmin, max(name) AS zmax
          |  FROM r GROUP BY 1),
          |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM zs),
          |zn AS (SELECT h % nc.n AS chunk, min(name) AS zmin, max(name) AS zmax
          |  FROM (SELECT name,
          |      CAST('0x' || substr(md5(name), 1, 15) AS BIGINT) AS h FROM o)
          |    CROSS JOIN nc GROUP BY 1),
          |f AS (SELECT concat(split_part(name, '/', 1), '/', split_part(name, '/', 2)) AS prefix,
          |    count(*) AS n_objects
          |  FROM o GROUP BY 1 ORDER BY n_objects DESC, prefix LIMIT 20),
          |p AS (SELECT prefix, n_objects, prefix || '/' AS lo, prefix || '0' AS hi FROM f),
          |cs AS (SELECT p.prefix, p.n_objects, count(zs.zmin) AS chunks_sorted
          |  FROM p LEFT JOIN zs ON zs.zmax >= p.lo AND zs.zmin < p.hi GROUP BY 1, 2),
          |cn AS (SELECT p.prefix, p.n_objects, count(zn.zmin) AS chunks_natural
          |  FROM p LEFT JOIN zn ON zn.zmax >= p.lo AND zn.zmin < p.hi GROUP BY 1, 2)
          |SELECT cs.prefix, cs.n_objects, cs.chunks_sorted, cn.chunks_natural,
          |  nc.n AS total_chunks
          |FROM cs JOIN cn ON cs.prefix = cn.prefix CROSS JOIN nc
          |ORDER BY cs.prefix""".stripMargin)),
      doc = "zone-map (min/max) chunk pruning: sorted vs natural layout I/O census over hot folder ranges"),

    // Bloom-filter runtime join pruning — the dynamic-filter pattern: an
    // 8 KB bitmap built from the SMALL join side cuts the big probe side
    // map-side (zero shuffle per pruned row) before the exact join runs.
    // False positives only waste a probe (the exact join keeps correctness);
    // no false negatives by construction (SketchesSpec asserts both). The
    // oracle replays the filter relationally: position semi-join,
    // pass ⇔ all k positions present.
    "sketch_bloom_prefilter" -> Q(
      fn = (s, dir) => {
        val build = Tables.s3Keys(s, dir)
          .filter(col("size").between(45000, 55000))
        val probe = Tables.objects(s, dir)
          .filter(col("mimetype") =!= "image/png")
        graft.operators.Sketches.bloomPrefilterCensus(
          probe, "name", build, "key")
      },
      oracle = Some(Oracle.withS3(
        """, build AS (SELECT DISTINCT key AS val FROM s3_keys
          |    WHERE size BETWEEN 45000 AND 55000),
          |probe AS (SELECT DISTINCT name AS val FROM objects
          |    WHERE mimetype <> 'image/png'),
          |js AS (SELECT unnest(range(3)) AS j),
          |bits AS (SELECT DISTINCT
          |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |      AS BIGINT) % 65536 AS bit
          |  FROM build CROSS JOIN js),
          |pos AS (SELECT val,
          |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || val), 1, 15)
          |      AS BIGINT) % 65536 AS bit
          |  FROM probe CROSS JOIN js),
          |hit AS (SELECT p.val, count(*) AS ntot, count(b.bit) AS nhit
          |  FROM pos p LEFT JOIN bits b USING (bit) GROUP BY 1),
          |fl AS (SELECT h.val, (nhit = ntot) AS pass, (b.val IS NOT NULL) AS inb
          |  FROM hit h LEFT JOIN build b ON h.val = b.val)
          |SELECT CAST(count(*) AS BIGINT) AS n_probe,
          |  (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
          |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
          |  CAST(sum(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
          |  CAST(sum(CASE WHEN pass AND NOT inb THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_false_positive
          |FROM fl""".stripMargin)),
      doc = "Bloom runtime prefilter: broadcast 8 KB bitmap, map-side cut, fp census"),

    // Per-bucket storage growth trend — capacity planning as one
    // partial-aggregable pass: daily ingested bytes regress on the day
    // index via the five classic sums; slope is a single exact int64/int64
    // division (ships unrounded), intercept a fixed chain over it. A
    // 100 TB history reduces to five scalars per bucket map-side.
    "store_growth_trend" -> Q(
      fn = (s, dir) => {
        val daily = Tables.objects(s, dir)
          .select(col("bucket_id"),
            datediff(col("created_at").cast("date"),
              lit("1992-01-01").cast("date")).as("day"),
            col("size"))
          .groupBy(col("bucket_id"), col("day"))
          .agg(sum(col("size")).as("bytes"))
        graft.operators.Profile.linearTrend(daily, "bucket_id", "day", "bytes")
          .select(col("bucket_id"), col("n").as("n_days"),
            col("sy").as("total_bytes"), col("slope"), col("intercept"))
          .orderBy(col("bucket_id"))
      },
      oracle = Some(Oracle.withObjects(
        """, daily AS (SELECT bucket_id,
          |    CAST(CAST(created_at AS DATE) - DATE '1992-01-01' AS BIGINT) AS day,
          |    CAST(sum(size) AS BIGINT) AS bytes
          |  FROM objects GROUP BY 1, 2),
          |s AS (SELECT bucket_id, count(*) AS n,
          |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(bytes) AS BIGINT) AS sy,
          |    CAST(sum(day * bytes) AS BIGINT) AS sxy,
          |    CAST(sum(day * day) AS BIGINT) AS sxx
          |  FROM daily GROUP BY 1),
          |f AS (SELECT bucket_id, n, sy, n * sxx - sx * sx AS den, sx, sxy
          |  FROM s)
          |SELECT bucket_id, n AS n_days, sy AS total_bytes,
          |  CASE WHEN den <> 0 THEN
          |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(den AS DOUBLE) END
          |    AS slope,
          |  CASE WHEN den <> 0 THEN
          |    (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
          |       / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
          |      / CAST(n AS DOUBLE) END AS intercept
          |FROM f ORDER BY bucket_id""".stripMargin)),
      doc = "per-bucket growth regression: five exact sums, one exact division, map-side reducible"),

    // Small-file compaction planning — the storage-maintenance job
    // (Iceberg/Delta OPTIMIZE, object-store compactors): pack sub-threshold
    // files into target-sized, name-CONTIGUOUS batches via an exclusive
    // prefix sum windowed by (bucket, folder) — the compactor's bounded
    // unit (a global window here would sort every file in one task). The
    // bin id is floor(prefix-sum / target): next-fit packing, one pass, no
    // driver loop. Oracle replays the window; CAST keeps the running sum
    // BIGINT (DuckDB windows int sums as HUGEINT).
    "store_compaction_plan" -> Q(
      fn = (s, dir) =>
        graft.operators.Layout.compactionPlan(
          Tables.objects(s, dir), sizeThreshold = 30000L, targetBytes = 200000L),
      oracle = Some(Oracle.withObjects(
        """, small AS (SELECT bucket_id, string_split(name, '/')[1] AS folder,
          |    name, size FROM objects WHERE size < 30000),
          |c AS (SELECT bucket_id, folder, name, size,
          |    CAST(coalesce(sum(size) OVER (PARTITION BY bucket_id, folder
          |      ORDER BY name ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      0) AS BIGINT) AS cum FROM small),
          |b AS (SELECT bucket_id, folder, name, size, cum // 200000 AS bin FROM c)
          |SELECT bucket_id, folder, bin, count(*) AS n_files,
          |  CAST(sum(size) AS BIGINT) AS total_bytes,
          |  min(name) AS first_name, max(name) AS last_name
          |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
      doc = "small-file compaction plan: keyed prefix-sum next-fit packing, name-contiguous batches"),

    // Reed-Solomon erasure-coding plan: RS(k=8, m=2) over 64 KiB chunks —
    // the durability layout a 100 TB blob store actually runs (1.25×
    // amplification vs replication's 3×). Per object the stripe count is
    // a pure integer ceil ((size + kB−1) DIV kB — no float, no overflow);
    // the per-bucket census grades data/parity/padding bytes as exact
    // BIGINT sums plus ONE division-at-the-end amplification ratio
    // (round9 of two exact-int doubles — correctly rounded both engines).
    // One codegen'd scan + groupBy with map-side combine: embarrassingly
    // parallel at any scale.
    "store_erasure_coding_plan" -> Q(
      fn = (s, dir) => {
        val o = Tables.objects(s, dir).select(col("bucket_id"), col("size"))
          .withColumn("stripes",
            greatest(lit(1L), expr("(size + 524287) DIV 524288")))
        o.groupBy(col("bucket_id"))
          .agg(count(lit(1)).as("n_objects"),
            sum(col("size")).as("data_bytes"),
            sum(col("stripes")).as("n_stripes"),
            sum(col("stripes") * lit(131072L)).as("parity_bytes"),
            sum(col("stripes") * lit(524288L) - col("size")).as("padding_bytes"))
          .withColumn("overhead",
            round((col("parity_bytes") + col("padding_bytes")).cast("double")
              / col("data_bytes").cast("double"), 9) + lit(0.0))
          .orderBy(col("bucket_id"))
      },
      oracle = Some(Oracle.withObjects(
        """, p AS (SELECT bucket_id, size,
          |    greatest(1, (size + 524287) // 524288) AS stripes
          |  FROM objects),
          |g AS (SELECT bucket_id, count(*) AS n_objects,
          |    CAST(sum(size) AS BIGINT) AS data_bytes,
          |    CAST(sum(stripes) AS BIGINT) AS n_stripes,
          |    CAST(sum(stripes * 131072) AS BIGINT) AS parity_bytes,
          |    CAST(sum(stripes * 524288 - size) AS BIGINT) AS padding_bytes
          |  FROM p GROUP BY 1)
          |SELECT bucket_id, n_objects, data_bytes, n_stripes, parity_bytes,
          |  padding_bytes,
          |  round(CAST(parity_bytes + padding_bytes AS DOUBLE)
          |    / CAST(data_bytes AS DOUBLE), 9) + 0.0 AS overhead
          |FROM g ORDER BY bucket_id""".stripMargin)),
      doc = "RS(8,2) erasure-coding plan: exact stripe/parity/padding census per bucket + storage-amplification ratio"),

    // Welch's unequal-variance t-test, per source vs the REST of the
    // corpus — the continuous-metric sibling of events_ab_contingency's
    // χ² (categorical). Sufficient statistics are integer (n, Σx, Σx²,
    // summed as DECIMAL(38,0) so Σx² can't overflow int64 at corpus
    // scale; the rest-of-corpus side is global − group, so ONE pass
    // computes every test). The float tail is a FIXED IEEE sequence over
    // exact-integer-sourced doubles: means, Welch variance terms u_i =
    // s_i²/n_i, t = Δm/√(u₁+u₂), Welch–Satterthwaite dof — identical
    // association both engines, graded round-9.
    "profile_welch_ttest" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
        val per = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n1"),
            sum(col("n_chars").cast(dec)).as("s1"),
            sum(col("n_chars").cast(dec) * col("n_chars")).as("q1"))
        val tot = d.agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast(dec)).as("s"),
          sum(col("n_chars").cast(dec) * col("n_chars")).as("q"))
        val j = per.crossJoin(broadcast(tot))
          .filter(col("n1") >= 2 && (col("n") - col("n1")) >= 2)
          .withColumn("n1d", col("n1").cast("double"))
          .withColumn("n2d", (col("n") - col("n1")).cast("double"))
          .withColumn("m1", col("s1").cast("double") / col("n1d"))
          .withColumn("m2", (col("s") - col("s1")).cast("double") / col("n2d"))
          .withColumn("v1",
            (col("q1").cast("double")
              - col("s1").cast("double") * col("s1").cast("double") / col("n1d"))
              / (col("n1d") - lit(1.0)))
          .withColumn("v2",
            ((col("q") - col("q1")).cast("double")
              - (col("s") - col("s1")).cast("double")
                * (col("s") - col("s1")).cast("double") / col("n2d"))
              / (col("n2d") - lit(1.0)))
          .withColumn("u1", col("v1") / col("n1d"))
          .withColumn("u2", col("v2") / col("n2d"))
        j.select(col("source"), col("n1").as("n_docs"),
            (round(col("m1"), 9) + 0.0).as("mean_chars"),
            (round((col("m1") - col("m2")) / sqrt(col("u1") + col("u2")), 9)
              + 0.0).as("t_stat"),
            (round((col("u1") + col("u2")) * (col("u1") + col("u2"))
              / (col("u1") * col("u1") / (col("n1d") - lit(1.0))
                + col("u2") * col("u2") / (col("n2d") - lit(1.0))), 9) + 0.0)
              .as("welch_dof"))
          .orderBy(col("source"))
      },
      oracle = Some(
        """WITH per AS (SELECT source, count(*) AS n1,
          |    sum(n_chars) AS s1, sum(CAST(n_chars AS HUGEINT) * n_chars) AS q1
          |  FROM documents GROUP BY 1),
          |tot AS (SELECT count(*) AS n, sum(n_chars) AS s,
          |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS q FROM documents),
          |z AS (SELECT source, n1,
          |    CAST(n1 AS DOUBLE) AS n1d, CAST(n - n1 AS DOUBLE) AS n2d,
          |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
          |    CAST(s - s1 AS DOUBLE) / CAST(n - n1 AS DOUBLE) AS m2,
          |    (CAST(q1 AS DOUBLE)
          |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          |      / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
          |    (CAST(q - q1 AS DOUBLE)
          |      - CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)
          |        / CAST(n - n1 AS DOUBLE))
          |      / (CAST(n - n1 AS DOUBLE) - 1.0) AS v2
          |  FROM per CROSS JOIN tot
          |  WHERE n1 >= 2 AND n - n1 >= 2),
          |u AS (SELECT source, n1, m1, m2, n1d, n2d,
          |    v1 / n1d AS u1, v2 / n2d AS u2 FROM z)
          |SELECT source, n1 AS n_docs,
          |  round(m1, 9) + 0.0 AS mean_chars,
          |  round((m1 - m2) / sqrt(u1 + u2), 9) + 0.0 AS t_stat,
          |  round((u1 + u2) * (u1 + u2)
          |    / (u1 * u1 / (n1d - 1.0) + u2 * u2 / (n2d - 1.0)), 9) + 0.0
          |    AS welch_dof
          |FROM u ORDER BY source""".stripMargin),
      doc = "Welch unequal-variance t-test per source vs rest: decimal-safe integer moments, fixed IEEE tail, round-9"),

    // Cramér's V association strength between the two categorical corpus
    // axes (lang × source) — the profiler's "are these columns independent"
    // number behind stratification and mixing decisions. χ² is computed on
    // the 10¹² integer grid (the pagerank/TextRank house trick): per cell,
    // term = ⌊n_ij²·10¹² / (r_i·c_j)⌋ is an exact integer division (floor
    // truncation is deterministic on both engines), Σterm is an exact
    // DECIMAL sum, and χ²_fp = n·Σterm − n·10¹² — so no order-dependent
    // float accumulation exists across the (bounded, |langs|·|sources|)
    // cells. V = sqrt(χ²/(n·(min(r,c)−1))) is the single IEEE tail.
    // greatest(…, 0) guards the truncation-induced tiny negative under
    // exact independence. Scale: two broadcast margin joins, one scan.
    "profile_cramers_v" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = Tables.documents(s, dir).select(col("lang"), col("source"))
        val cells = d.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("nij"))
        val rm = cells.groupBy(col("lang")).agg(sum(col("nij")).as("rm"))
        val cm = cells.groupBy(col("source")).agg(sum(col("nij")).as("cm"))
        val terms = cells.join(broadcast(rm), "lang")
          .join(broadcast(cm), "source")
          .withColumn("term", expr("(CAST(nij AS DECIMAL(38,0)) * nij" +
            " * 1000000000000) div (CAST(rm AS DECIMAL(38,0)) * cm)"))
        val agg = terms.agg(sum(col("nij")).as("n"),
          sum(col("term").cast(dec)).as("sfp"),
          countDistinct(col("lang")).as("nl"),
          countDistinct(col("source")).as("ns"))
        agg
          // degenerate guard: a single-lang or single-source corpus makes
          // the V denominator (least−1) zero — Spark would emit NaN while
          // DuckDB returns NULL, diverging engines (r9 ADVICE). V is
          // undefined there; emit no row, mirrored in the oracle.
          .filter(least(col("nl"), col("ns")) >= 2L)
          .withColumn("chi2_fp", greatest(
            (col("n").cast(dec) * col("sfp")
              - col("n").cast(dec) * lit(1000000000000L)).cast(dec),
            lit(0).cast(dec)))
          .select(col("n").as("n_docs"), col("nl").as("n_lang"),
            col("ns").as("n_source"),
            col("chi2_fp").cast("string").as("chi2_fp"),
            (round(sqrt(col("chi2_fp").cast("double")
              / (col("n").cast("double")
                * (least(col("nl"), col("ns")) - 1L).cast("double")
                * lit(1.0e12))), 9) + 0.0).as("cramers_v"))
      },
      oracle = Some(
        """WITH cells AS (SELECT lang, source, count(*) AS nij
          |  FROM documents GROUP BY 1, 2),
          |r AS (SELECT lang, sum(nij) AS rm FROM cells GROUP BY 1),
          |c AS (SELECT source, sum(nij) AS cm FROM cells GROUP BY 1),
          |terms AS (SELECT cells.nij,
          |    (CAST(cells.nij AS HUGEINT) * cells.nij * 1000000000000)
          |      // (CAST(r.rm AS HUGEINT) * c.cm) AS term
          |  FROM cells JOIN r USING (lang) JOIN c USING (source)),
          |a AS (SELECT sum(nij) AS n, sum(term) AS sfp,
          |    (SELECT count(*) FROM r) AS nl,
          |    (SELECT count(*) FROM c) AS ns FROM terms),
          |z AS (SELECT n, nl, ns,
          |    greatest(CAST(n AS HUGEINT) * sfp
          |      - CAST(n AS HUGEINT) * 1000000000000, 0) AS chi2
          |  FROM a)
          |SELECT CAST(n AS BIGINT) AS n_docs, CAST(nl AS BIGINT) AS n_lang,
          |  CAST(ns AS BIGINT) AS n_source,
          |  CAST(chi2 AS VARCHAR) AS chi2_fp,
          |  round(sqrt(CAST(chi2 AS DOUBLE)
          |    / (CAST(n AS DOUBLE) * CAST(least(nl, ns) - 1 AS DOUBLE)
          |      * CAST(1000000000000.0 AS DOUBLE))), 9) + 0.0 AS cramers_v
          |FROM z WHERE least(nl, ns) >= 2""".stripMargin),
      doc = "Cramér's V for lang×source: integer-grid χ² (10¹² fixed point, exact cell divisions), one IEEE sqrt tail"),

    // Mann-Whitney U per source vs rest-of-corpus on n_chars — the
    // nonparametric sibling of profile_welch_ttest (rank-sum drift with no
    // normality assumption; the workhorse two-sample test for skewed
    // length/quality distributions). Tie-averaged ranks ride the ×2 trick
    // (2·avgrank(v) = 2·cnt(≤v) − cnt(=v) + 1) so the rank-sum core is
    // exact integers; the tie-corrected normal z gets ONE fixed IEEE tail.
    // Scale shape: ranks are computed over the VALUE HISTOGRAM, not the
    // rows — the windows sort |distinct n_chars| × |sources| rows (both
    // bounded: value domain ≤ max doc length, sources a small census),
    // never the corpus, so the keyed sort stays tiny at 100 TB. 2U₁ stays
    // under 2^63 while n < ~2·10⁹ docs (2U₁ ≤ 2·n₁·n₂); tie cubes route
    // through DECIMAL(38,0).
    "profile_mann_whitney" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
        val hist = d.groupBy(col("source"), col("n_chars"))
          .agg(count(lit(1)).as("c"))
        val srcs = d.select(col("source").as("cmp")).distinct()
        val u = hist.crossJoin(broadcast(srcs))
          .groupBy(col("cmp"), col("n_chars"))
          .agg(sum(col("c")).as("t"),
            sum(when(col("source") === col("cmp"), col("c")).otherwise(0L))
              .as("t1"))
        val w = Window.partitionBy(col("cmp")).orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val r = u.withColumn("cle", sum(col("t")).over(w))
        val agg = r.groupBy(col("cmp"))
          .agg(sum(col("t1")).as("n1"), sum(col("t")).as("n"),
            sum(col("t1").cast(dec)
              * (lit(2L) * col("cle") - col("t") + 1L)).as("r1x2"),
            sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("tt"))
        // 2U₁ stays DECIMAL end-to-end and is GRADED as a digit string —
        // the unchecked decimal→long cast silently nulled past 2^63
        // (~2·10⁹ docs, reachable at 100 TB) while DuckDB's CAST errors,
        // diverging engines instead of failing loudly (r9 ADVICE). The
        // z_stat double conversion is correctly rounded from the exact
        // integer in both engines (one IEEE op, not a silent wrap).
        agg.withColumn("n2", col("n") - col("n1"))
          .filter(col("n1") >= 1L && col("n2") >= 1L)
          .withColumn("u1x2",
            (col("r1x2") - col("n1").cast(dec) * (col("n1") + 1L))
              .cast(dec))
          .withColumn("n1d", col("n1").cast("double"))
          .withColumn("n2d", col("n2").cast("double"))
          .withColumn("nd", col("n").cast("double"))
          .withColumn("varu", col("n1d") * col("n2d") / lit(12.0)
            * ((col("nd") + lit(1.0))
              - col("tt").cast("double")
                / (col("nd") * (col("nd") - lit(1.0)))))
          .filter(col("varu") > lit(0.0))
          .select(col("cmp").as("source"), col("n1").as("n_src"),
            col("n2").as("n_rest"), col("u1x2").cast("string").as("u_x2"),
            (round((col("u1x2").cast("double") - col("n1d") * col("n2d"))
              / (lit(2.0) * sqrt(col("varu"))), 9) + 0.0).as("z_stat"))
          .orderBy(col("source"))
      },
      oracle = Some(
        """WITH hist AS (SELECT source, n_chars, count(*) AS c
          |  FROM documents GROUP BY 1, 2),
          |srcs AS (SELECT DISTINCT source AS cmp FROM documents),
          |u AS (SELECT s.cmp, h.n_chars, sum(h.c) AS t,
          |    sum(CASE WHEN h.source = s.cmp THEN h.c ELSE 0 END) AS t1
          |  FROM hist h CROSS JOIN srcs s GROUP BY 1, 2),
          |r AS (SELECT cmp, t, t1,
          |    sum(t) OVER (PARTITION BY cmp ORDER BY n_chars
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle
          |  FROM u),
          |agg AS (SELECT cmp, sum(t1) AS n1, sum(t) AS n,
          |    sum(CAST(t1 AS HUGEINT) * (2 * cle - t + 1)) AS r1x2,
          |    sum(CAST(t AS HUGEINT) * t * t - t) AS tt
          |  FROM r GROUP BY 1),
          |z AS (SELECT cmp, n1, n - n1 AS n2,
          |    r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS u1x2,
          |    CAST(n1 AS DOUBLE) AS n1d, CAST(n - n1 AS DOUBLE) AS n2d,
          |    CAST(n AS DOUBLE) AS nd, CAST(tt AS DOUBLE) AS td
          |  FROM agg WHERE n1 >= 1 AND n - n1 >= 1),
          |v AS (SELECT cmp, n1, n2, u1x2, n1d, n2d,
          |    n1d * n2d / CAST(12.0 AS DOUBLE)
          |      * ((nd + CAST(1.0 AS DOUBLE))
          |        - td / (nd * (nd - CAST(1.0 AS DOUBLE)))) AS varu
          |  FROM z)
          |SELECT cmp AS source, CAST(n1 AS BIGINT) AS n_src,
          |  CAST(n2 AS BIGINT) AS n_rest, CAST(u1x2 AS VARCHAR) AS u_x2,
          |  round((CAST(u1x2 AS DOUBLE) - n1d * n2d)
          |    / (CAST(2.0 AS DOUBLE) * sqrt(varu)), 9) + 0.0 AS z_stat
          |FROM v WHERE varu > 0 ORDER BY source""".stripMargin),
      doc = "Mann-Whitney U per source vs rest: exact ×2 tie-averaged rank sums over the value histogram, tie-corrected z, round-9"),

    // Spearman rank correlation per source between document length
    // (n_chars) and whitespace token count — the rank-based sibling of
    // profile_correlation_matrix (monotone association, tie- and
    // outlier-robust; the profiler's default when columns are skewed).
    // Tie-averaged ranks use the same ×2 histogram trick as
    // profile_mann_whitney, and Σ 2·avgrank = n(n+1) EXACTLY, so centering
    // is pure integer algebra: num = Σrx·ry − n(n+1)², dxx/dyy likewise.
    // Those moments are DECIMAL(38,0)-exact (|2r| ≤ 2n ⇒ sums ≤ 4n³) and
    // graded as digit strings (the r8 house rule for integers that can
    // pass 2^53); ρ gets one IEEE tail. Scale shape: both rank windows
    // sort per-source VALUE HISTOGRAMS (bounded domains), and the rank
    // joins broadcast those histograms back onto the corpus — no
    // corpus-sized sort anywhere.
    "profile_spearman" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = Tables.documents(s, dir)
          .select(col("source"), col("n_chars").as("x"),
            (length(col("text"))
              - length(expr("replace(text, ' ', '')")) + lit(1L)).as("y"))
        def rank2(v: String, out: String): org.apache.spark.sql.DataFrame = {
          val h = d.groupBy(col("source"), col(v)).agg(count(lit(1)).as("t"))
          val w = Window.partitionBy(col("source")).orderBy(col(v))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          h.withColumn(out,
              lit(2L) * sum(col("t")).over(w) - col("t") + 1L)
            .select(col("source"), col(v), col(out))
        }
        val r = d
          .join(broadcast(rank2("x", "rx2")), Seq("source", "x"))
          .join(broadcast(rank2("y", "ry2")), Seq("source", "y"))
        val agg = r.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("rx2").cast(dec) * col("ry2")).as("sxy"),
            sum(col("rx2").cast(dec) * col("rx2")).as("sxx"),
            sum(col("ry2").cast(dec) * col("ry2")).as("syy"))
        agg.filter(col("n") >= 2L)
          .withColumn("nc",
            col("n").cast(dec) * (col("n") + 1L) * (col("n") + 1L))
          .withColumn("num", col("sxy") - col("nc"))
          .withColumn("dxx", col("sxx") - col("nc"))
          .withColumn("dyy", col("syy") - col("nc"))
          .filter(col("dxx") > 0 && col("dyy") > 0)
          .select(col("source"), col("n").as("n_docs"),
            col("num").cast("string").as("num"),
            col("dxx").cast("string").as("dxx"),
            col("dyy").cast("string").as("dyy"),
            (round(col("num").cast("double")
              / sqrt(col("dxx").cast("double") * col("dyy").cast("double")),
              9) + 0.0).as("rho"))
          .orderBy(col("source"))
      },
      oracle = Some(
        """WITH d AS (SELECT source, n_chars AS x,
          |    length(text) - length(replace(text, ' ', '')) + 1 AS y
          |  FROM documents),
          |hx AS (SELECT source, x, count(*) AS t FROM d GROUP BY 1, 2),
          |rx AS (SELECT source, x,
          |    2 * sum(t) OVER (PARTITION BY source ORDER BY x
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t + 1
          |      AS rx2
          |  FROM hx),
          |hy AS (SELECT source, y, count(*) AS t FROM d GROUP BY 1, 2),
          |ry AS (SELECT source, y,
          |    2 * sum(t) OVER (PARTITION BY source ORDER BY y
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t + 1
          |      AS ry2
          |  FROM hy),
          |r AS (SELECT d.source, rx.rx2, ry.ry2 FROM d
          |  JOIN rx ON d.source = rx.source AND d.x = rx.x
          |  JOIN ry ON d.source = ry.source AND d.y = ry.y),
          |agg AS (SELECT source, count(*) AS n,
          |    sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
          |    sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
          |    sum(CAST(ry2 AS HUGEINT) * ry2) AS syy
          |  FROM r GROUP BY 1),
          |c AS (SELECT source, n,
          |    sxy - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS num,
          |    sxx - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS dxx,
          |    syy - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS dyy
          |  FROM agg WHERE n >= 2)
          |SELECT source, CAST(n AS BIGINT) AS n_docs,
          |  CAST(num AS VARCHAR) AS num, CAST(dxx AS VARCHAR) AS dxx,
          |  CAST(dyy AS VARCHAR) AS dyy,
          |  round(CAST(num AS DOUBLE)
          |    / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 9) + 0.0
          |    AS rho
          |FROM c WHERE dxx > 0 AND dyy > 0 ORDER BY source""".stripMargin),
      doc = "Spearman rank correlation per source (chars vs tokens): ×2 tie-averaged ranks from value histograms, exact centered moments as digit strings, round-9"),

    // Z-order clustered layout: events written once partitioned by Morton
    // bucket over (user_id, ts); a 2-D box query prunes to the intersecting
    // buckets' directories (ZorderLayoutSpec asserts numFiles) and the
    // residual predicate keeps exactness, so the oracle is the plain box
    // filter. The layout build is a one-time cost (ensureZordered), like
    // the MinHash signature tables.
    "zorder_box_query" -> Q(
      fn = (s, dir) => {
        import graft.operators.Layout
        val path = Warehouse.dir + "/zorder_events"
        val b = Layout.ensureZordered(Tables.events(s, dir),
          col("user_id"), unix_micros(col("ts")), path)
        val yLo = 1704672000e6 // 2024-01-08T00:00:00Z in micros
        val yHi = 1705363200e6 // 2024-01-16T00:00:00Z
        Layout.boxQuery(s, path, b, 3.0, 9.0, yLo, yHi,
            residual = col("user_id").between(3, 9) &&
              col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
              col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      oracle = Some(
        """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          |  event_type, value
          |FROM events
          |WHERE user_id BETWEEN 3 AND 9
          |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
          |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
          |ORDER BY event_id""".stripMargin),
      doc = "Z-order layout box query: Morton-bucket partition pruning + exact residual"),

    "mm_media_stats" -> Q(
      fn = (s, dir) => Multimodal.mediaStats(Multimodal.syntheticMedia(s, dir))
        .orderBy(col("kind")),
      oracle = Some(
        """WITH media AS (SELECT
          |    CASE WHEN doc_id % 3 = 0 THEN 'image'
          |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          |    CAST(doc_id % 1920 + 1 AS INT) AS width,
          |    n_chars * 10 AS duration_ms
          |  FROM documents)
          |SELECT kind, count(*) AS n, max(width) AS max_width,
          |  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
          |FROM media GROUP BY kind ORDER BY kind""".stripMargin),
      doc = "Multimodal metadata-first stats; binary column pruned from scan"),

    // Resize planning for the image lane: aspect-preserving 512-letterbox
    // geometry as exact integer cross-multiplication; per-orientation
    // padding-waste census. Metadata-only scan (binary column pruned).
    "mm_resize_plan" -> Q(
      fn = (s, dir) =>
        // the fixture's ids are small, so syntheticMedia's %1920/%1080 dims
        // collapse to squares — spread them with coprime multipliers (the
        // oracle mirrors the same augmentation)
        Multimodal.resizePlan(Multimodal.syntheticMedia(s, dir)
          .withColumn("width", (pmod(col("media_id") * 37, lit(1920)) + 1).cast("int"))
          .withColumn("height", (pmod(col("media_id") * 59, lit(1080)) + 1).cast("int")),
          512)
          .orderBy(col("orientation")),
      oracle = Some(
        """WITH media AS (SELECT CAST((doc_id * 37) % 1920 + 1 AS BIGINT) AS w,
          |    CAST((doc_id * 59) % 1080 + 1 AS BIGINT) AS h
          |  FROM documents WHERE doc_id % 3 = 0),
          |p AS (SELECT
          |    CASE WHEN w > h THEN 'landscape' WHEN w < h THEN 'portrait'
          |         ELSE 'square' END AS orientation,
          |    CASE WHEN w >= h THEN CAST(512 AS BIGINT) ELSE (w * 512) // h END AS new_w,
          |    CASE WHEN w >= h THEN (h * 512) // w ELSE CAST(512 AS BIGINT) END AS new_h
          |  FROM media)
          |SELECT orientation, count(*) AS n,
          |  CAST(sum(262144 - new_w * new_h) AS BIGINT) AS pad_px,
          |  CAST(max(262144 - new_w * new_h) AS BIGINT) AS max_pad_px,
          |  CAST(sum(new_w * new_h) AS BIGINT) AS out_px
          |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "image resize plan: integer letterbox geometry + per-orientation padding census"),

    // Multimodal: frame-sampling plumbing (bounded per-media frame indexes).
    "mm_frame_sample" -> Q(
      fn = (s, dir) => Multimodal
        .sampleFrameIndexes(Multimodal.syntheticMedia(s, dir))
        .select(col("media_id"),
          size(col("frame_ts_ms")).as("n_frames"),
          element_at(col("frame_ts_ms"), 1).as("first_ts"),
          element_at(col("frame_ts_ms"), -1).as("last_ts"))
        .orderBy(col("media_id")),
      oracle = Some(
        """WITH media AS (SELECT doc_id AS media_id, n_chars * 10 AS duration_ms
          |  FROM documents),
          |f AS (SELECT media_id,
          |    least(CAST((duration_ms - 1) // 1000 + 1 AS INT), 8) AS n_frames
          |  FROM media)
          |SELECT media_id, n_frames,
          |  CAST(0 AS BIGINT) AS first_ts,
          |  CAST((n_frames - 1) * 1000 AS BIGINT) AS last_ts
          |FROM f ORDER BY media_id""".stripMargin),
      doc = "Multimodal frame sampling (every 1000ms, ≤8 frames)"),

    // Multimodal: VAD segmentation over audio blobs — silence-split
    // utterance census for ASR corpus prep. Framing, thresholding, and the
    // maximal-run detection are one row-local mapPartitions pass (zero
    // shuffle); the stub energy kernel (md5-derived, see Multimodal) keeps
    // the whole path oracle-replayable: the oracle re-derives every frame
    // energy and rebuilds the runs with gaps-and-islands SQL.
    "mm_audio_vad" -> Q(
      fn = (s, dir) => Multimodal.vadSegments(
          Multimodal.syntheticMedia(s, dir).filter(col("kind") === "audio"))
        .orderBy(col("media_id")),
      oracle = Some(
        s"""WITH $vadCtes
           |SELECT media_id, n_frames, n_voice, n_segments, max_run, total_voice_ms
           |FROM vad ORDER BY media_id""".stripMargin),
      doc = "Multimodal audio VAD: stub energy, real framing/run-census plumbing (islands-replayed oracle)"),

    // The ASR-corpus capstone: VAD → voice-ratio admission gate →
    // duration-packed training shards. Composes mm_audio_vad's census, a
    // cross-multiplied admission gate (voiced ≥ 40% of frames), and the
    // keyed prefix-sum next-fit packing kernel (store_compaction_plan's
    // shape) into per-language ~60 s shard manifests — the end-to-end
    // speech-data preparation pipeline, all exact integers.
    "pipeline_asr_corpus" -> Q(
      fn = (s, dir) => {
        val vad = Multimodal.vadSegments(
          Multimodal.syntheticMedia(s, dir).filter(col("kind") === "audio"))
        val kept = vad.filter(col("n_voice") * 5 >= col("n_frames") * 2 &&
          col("n_segments") >= 1)
        val langs = Tables.documents(s, dir)
          .select(col("doc_id").as("media_id"), col("lang"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("media_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        kept.join(langs, Seq("media_id"))
          .withColumn("cum", coalesce(sum(col("total_voice_ms")).over(w), lit(0L)))
          .withColumn("shard", expr("cum div 60000"))
          .groupBy(col("lang"), col("shard"))
          .agg(count(lit(1)).as("n_utts"),
            sum(col("total_voice_ms")).as("shard_ms"),
            min(col("media_id")).as("first_utt"),
            max(col("media_id")).as("last_utt"))
          .orderBy(col("lang"), col("shard"))
      },
      oracle = Some(
        s"""WITH $vadCtes,
           |kept AS (SELECT v.*, d.lang FROM vad v
           |  JOIN documents d ON v.media_id = d.doc_id
           |  WHERE n_voice * 5 >= n_frames * 2 AND n_segments >= 1),
           |c AS (SELECT *, CAST(coalesce(sum(total_voice_ms) OVER (
           |    PARTITION BY lang ORDER BY media_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
           |  FROM kept),
           |sh AS (SELECT lang, media_id, total_voice_ms, cum // 60000 AS shard FROM c)
           |SELECT lang, shard, count(*) AS n_utts,
           |  CAST(sum(total_voice_ms) AS BIGINT) AS shard_ms,
           |  min(media_id) AS first_utt, max(media_id) AS last_utt
           |FROM sh GROUP BY lang, shard ORDER BY lang, shard""".stripMargin),
      doc = "ASR corpus capstone: VAD gate + per-language duration-packed shard manifests (exact ints)"),

    // The REAL-decode arm of the extraction family (r12 verdict item 3):
    // genuine RIFF/WAVE containers (WavCodec.encodePcm16Mono — LIST/INFO
    // chunks, pad bytes, varying chunk order) decoded back by a real
    // chunk-walking parser (WavCodec.decodePcm16) and censused in exact
    // integers. The oracle replays the PCM recurrence + container byte
    // arithmetic analytically, so a wrong chunk size, endianness slip, or
    // pad-byte miss on EITHER side of the codec shifts the hashed numbers.
    // 100 TB path: identical to mm_extract_features — decode amortizes
    // per partition via mapPartitions, zero shuffle, binary column pruned
    // unless actually decoded.
    "mm_wav_decode" -> Q(
      fn = (s, dir) => Multimodal.extractWavFeatures(Multimodal.wavMedia(s, dir))
        .orderBy(col("media_id")),
      oracle = Some(
        """WITH m AS (SELECT doc_id AS media_id,
          |    200 + doc_id % 312 AS n,
          |    CAST(CASE WHEN doc_id % 5 < 2 THEN 8000 ELSE 16000 END AS INT)
          |      AS sample_rate,
          |    6 + len(CAST(doc_id AS VARCHAR)) AS nmlen
          |  FROM documents WHERE doc_id % 3 = 1),
          |s AS (SELECT media_id, i,
          |    ((media_id * 48271 + i * 40503) % 65536) - 32768 AS smp
          |  FROM m CROSS JOIN (SELECT unnest(range(512)) AS i) WHERE i < n),
          |fr AS (SELECT media_id, i // 64 AS f, sum(smp * smp) AS fe
          |  FROM s GROUP BY 1, 2),
          |agg AS (SELECT media_id, CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
          |    CAST(max(abs(smp)) AS BIGINT) AS max_abs FROM s GROUP BY 1),
          |lf AS (SELECT media_id, CAST(count(*) FILTER (WHERE fe > 23104000000)
          |    AS BIGINT) AS n_loud_frames FROM fr GROUP BY 1)
          |SELECT m.media_id,
          |  CAST(44 + 2 * m.n + CASE WHEN m.media_id % 4 = 1
          |    THEN 20 + m.nmlen + m.nmlen % 2 ELSE 0 END AS BIGINT) AS payload_bytes,
          |  m.sample_rate, CAST(m.n AS BIGINT) AS n_samples,
          |  agg.sum_sq, agg.max_abs, lf.n_loud_frames
          |FROM m JOIN agg USING (media_id) JOIN lf USING (media_id)
          |ORDER BY media_id""".stripMargin),
      doc = "REAL WAV codec arm: RIFF encode + chunk-walk decode + integer PCM census (oracle replays container bytes + samples)"),

    // The REAL-decode arm for the IMAGE modality (sibling of mm_wav_decode):
    // genuine 24bpp BI_RGB BMP containers (BmpCodec.encodeRgb24 — bottom-up
    // AND top-down row order, 40-byte AND 108-byte V4 headers, all four
    // row-pad widths) decoded back by a real parser that seeks the pixel
    // offset and NORMALIZES row order, censused in exact integers. The
    // oracle replays the pixel recurrence + container byte arithmetic
    // analytically; top_luma sums the top half of the NORMALIZED grid, so
    // a bottom-up/top-down slip leaves sum_luma intact and breaks the hash.
    // 100 TB path: identical to mm_wav_decode — decode amortizes per
    // partition via mapPartitions, zero shuffle.
    "mm_bmp_decode" -> Q(
      fn = (s, dir) => Multimodal.extractBmpFeatures(Multimodal.bmpMedia(s, dir))
        .orderBy(col("media_id")),
      oracle = Some(
        """WITH m AS (SELECT doc_id AS media_id,
          |    3 + (doc_id // 3) % 14 AS w, 2 + doc_id % 7 AS h,
          |    CASE WHEN doc_id % 5 = 0 THEN 108 ELSE 40 END AS hdr
          |  FROM documents WHERE doc_id % 3 = 0),
          |px AS (SELECT media_id, w, h, x, y,
          |    77 * ((media_id + 3 * x + 7 * y) % 256)
          |    + 150 * ((2 * media_id + 5 * x + y) % 256)
          |    + 29 * ((3 * media_id + x + 11 * y) % 256) AS luma
          |  FROM m CROSS JOIN (SELECT unnest(range(16)) AS x)
          |         CROSS JOIN (SELECT unnest(range(8)) AS y)
          |  WHERE x < w AND y < h),
          |agg AS (SELECT media_id,
          |    CAST(sum(luma) AS BIGINT) AS sum_luma,
          |    CAST(max(luma) AS BIGINT) AS max_luma,
          |    CAST(coalesce(sum(luma) FILTER (WHERE y < h // 2), 0) AS BIGINT)
          |      AS top_luma,
          |    CAST(count(*) FILTER (WHERE luma >= 32768) AS BIGINT) AS n_bright
          |  FROM px GROUP BY 1)
          |SELECT m.media_id,
          |  CAST(14 + m.hdr + ((3 * m.w + 3) // 4) * 4 * m.h AS BIGINT)
          |    AS payload_bytes,
          |  CAST(m.w AS INT) AS width, CAST(m.h AS INT) AS height,
          |  agg.sum_luma, agg.max_luma, agg.top_luma, agg.n_bright
          |FROM m JOIN agg USING (media_id)
          |ORDER BY media_id""".stripMargin),
      doc = "REAL BMP codec arm: encode (4 container variants) + normalize-decode + integer luma census (oracle replays pixels + bytes)"),

    // REAL perceptual hash over decoded pixels: the real-decode arm of
    // mm_phash_dedup. bmpWithReencodes emits byte-level-DIFFERENT,
    // pixel-IDENTICAL twins (row order flipped + other header size), and
    // the aHash runs over BmpCodec's normalized luma grid — so the twin's
    // four blocks equal the original's exactly iff the decoder earns its
    // normalization. The oracle replays the pixel recurrence only (it
    // never sees the container choice): any byte-sensitivity in the
    // decode would diverge. Integer cross-multiplied mean threshold
    // (cellSum*n > totalSum*cellN) — no float means; empty 8x8 cells
    // (w < 8) are 0-bits by the same comparison.
    "mm_bmp_phash" -> Q(
      fn = (s, dir) => Multimodal.bmpPhashBlocks(Multimodal.bmpWithReencodes(s, dir))
        .orderBy(col("media_id")),
      oracle = Some(
        """WITH ids AS (SELECT doc_id AS media_id, doc_id AS src, false AS reencode
          |    FROM documents WHERE doc_id % 3 = 0
          |  UNION ALL
          |  SELECT -(doc_id + 1), doc_id, true
          |    FROM documents WHERE doc_id % 15 = 0),
          |m AS (SELECT media_id, src, reencode,
          |    3 + (src // 3) % 14 AS w, 2 + src % 7 AS h FROM ids),
          |px AS (SELECT media_id, reencode, w, h, x, y,
          |    77 * ((src + 3 * x + 7 * y) % 256)
          |    + 150 * ((2 * src + 5 * x + y) % 256)
          |    + 29 * ((3 * src + x + 11 * y) % 256) AS luma
          |  FROM m CROSS JOIN (SELECT unnest(range(16)) AS x)
          |         CROSS JOIN (SELECT unnest(range(8)) AS y)
          |  WHERE x < w AND y < h),
          |cell AS (SELECT media_id, reencode,
          |    ((y * 8) // h) * 8 + (x * 8) // w AS j,
          |    sum(luma) AS cs, count(*) AS cn
          |  FROM px GROUP BY 1, 2, 3),
          |tot AS (SELECT media_id, sum(luma) AS ts, count(*) AS tn
          |  FROM px GROUP BY 1),
          |bits AS (SELECT c.media_id, c.reencode, c.j
          |  FROM cell c JOIN tot t ON c.media_id = t.media_id
          |  WHERE c.cs * t.tn > t.ts * c.cn),
          |blk AS (SELECT media_id, reencode, j // 16 AS b,
          |    CAST(sum(1 << (j % 16)) AS INT) AS v
          |  FROM bits GROUP BY 1, 2, 3)
          |SELECT i.media_id, i.reencode,
          |  CAST(coalesce(max(v) FILTER (WHERE b = 0), 0) AS INT) AS b0,
          |  CAST(coalesce(max(v) FILTER (WHERE b = 1), 0) AS INT) AS b1,
          |  CAST(coalesce(max(v) FILTER (WHERE b = 2), 0) AS INT) AS b2,
          |  CAST(coalesce(max(v) FILTER (WHERE b = 3), 0) AS INT) AS b3
          |FROM ids i LEFT JOIN blk ON i.media_id = blk.media_id
          |GROUP BY 1, 2 ORDER BY i.media_id""".stripMargin),
      doc = "REAL image aHash: byte-different pixel-identical re-encodes hash equal over the normalized decode (oracle replays pixels, blind to container)"),

    // Multimodal: per-partition feature extraction (stubbed decode kernel) —
    // not SQL-expressible, driver records a rows-only check.
    // The stub kernel emits dyadic k/65536 bins (md5-derived), so the
    // squared norm is an EXACT double (common denominator 2^32, Σk² < 2^36)
    // and the oracle replays decode→extract→norm bin-for-bin — the row
    // that was no_oracle in r2-r4 is now hash-checked end to end. The
    // mapPartitions batch plumbing (the real-codec seam) is unchanged.
    "mm_extract_features" -> Q(
      fn = (s, dir) => {
        val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(s, dir))
        feats.select(col("media_id"), col("kind"),
          graft.functions.VectorExprs.vecDot(col("features"), col("features"))
            .as("feat_norm2"))
          .orderBy(col("media_id"))
      },
      oracle = Some(
        """WITH media AS (SELECT doc_id AS media_id,
          |    CASE WHEN doc_id % 3 = 0 THEN 'image'
          |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          |    md5(text) AS hex
          |  FROM documents),
          |bins AS (SELECT media_id, kind,
          |    CAST(('0x' || substr(md5(hex || '|' || CAST(j AS VARCHAR)), 1, 4))
          |      AS BIGINT) AS k
          |  FROM media CROSS JOIN (SELECT unnest(range(16)) AS j)),
          |n2 AS (SELECT media_id, kind, CAST(sum(k * k) AS BIGINT) AS sk
          |  FROM bins GROUP BY 1, 2)
          |SELECT media_id, kind,
          |  CAST(sk AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS feat_norm2
          |FROM n2 ORDER BY media_id""".stripMargin),
      doc = "Multimodal decode+extract via mapPartitions (stub kernel, real plumbing, exact-dyadic norm oracle)"),

    // Hierarchical storage usage ("du -s" per folder): every object fans
    // out to its ancestor prefixes (bounded by path depth, here ≤ 2 — the
    // depth cap is applied BEFORE the aggregation so deep trees never
    // inflate the shuffle), then one combinable groupBy. This is the
    // rollup behind per-folder quota dashboards; at 100 TB it is one
    // explode + one partial-agg'd shuffle keyed by prefix.
    "du_prefix_rollup" -> Q(
      fn = (s, dir) => {
        val o = Tables.objects(s, dir)
        o.select(explode(PathFns.getPrefixes(col("name"))).as("prefix"),
            col("size"))
          .withColumn("depth", size(split(col("prefix"), "/")))
          .filter(col("depth") <= 2)
          .groupBy(col("prefix"), col("depth"))
          .agg(count(lit(1)).as("n_objects"), sum(col("size")).as("total_bytes"))
          .orderBy(col("prefix"))
      },
      oracle = Some(Oracle.withObjects(
        """, pr AS (SELECT unnest(list_transform(
          |    generate_series(1, len(string_split(name, '/')) - 1),
          |    i -> array_to_string(string_split(name, '/')[1:i], '/'))) AS prefix,
          |    size FROM objects)
          |SELECT prefix, CAST(len(string_split(prefix, '/')) AS INT) AS depth,
          |       count(*) AS n_objects, CAST(sum(size) AS BIGINT) AS total_bytes
          |FROM pr WHERE len(string_split(prefix, '/')) <= 2
          |GROUP BY 1, 2 ORDER BY prefix""".stripMargin)),
      doc = "hierarchical du rollup: ancestor-prefix explode + combinable census"),

    // S3-lifecycle policy evaluation: a handful of (bucket, prefix,
    // min-age, action) rules against the whole object relation. Rules are
    // a driver-side literal dim (broadcast — never a shuffle); an object
    // matching several rules takes the LOWEST rule_id (min(struct) — the
    // S3 semantics where a more specific earlier rule wins). Age compares
    // in whole days against a fixed as-of date, all integer.
    "lifecycle_policy_eval" -> Q(
      fn = (s, dir) => {
        val rules = Seq(
          (1, "F", "A/", 1500, "expire"),
          (2, "F", "", 2000, "archive"),
          (3, "O", "N/", 1000, "archive"))
        val asOf = to_timestamp(lit("2002-01-01 00:00:00"))
        import s.implicits._
        val ruleDf = rules
          .toDF("rule_id", "rule_bucket", "rule_prefix", "min_age_days", "action")
        Tables.objects(s, dir)
          .join(broadcast(ruleDf),
            col("bucket_id") === col("rule_bucket") &&
              col("name").startsWith(col("rule_prefix")) &&
              datediff(asOf, col("created_at")) > col("min_age_days"))
          .groupBy(col("bucket_id"), col("name"), col("size"))
          .agg(min(struct(col("rule_id"), col("action"))).as("r"))
          .groupBy(col("r.rule_id").as("rule_id"), col("r.action").as("action"))
          .agg(count(lit(1)).as("n_objects"), sum(col("size")).as("total_bytes"))
          .orderBy(col("rule_id"))
      },
      oracle = Some(Oracle.withObjects(
        """, rules AS (SELECT * FROM (VALUES
          |    (1, 'F', 'A/', 1500, 'expire'),
          |    (2, 'F', '', 2000, 'archive'),
          |    (3, 'O', 'N/', 1000, 'archive'))
          |  AS t(rule_id, rule_bucket, rule_prefix, min_age_days, action)),
          |m AS (SELECT o.bucket_id, o.name, o.size,
          |    min(struct_pack(rule_id := r.rule_id, action := r.action)) AS r
          |  FROM objects o JOIN rules r
          |    ON o.bucket_id = r.rule_bucket
          |   AND starts_with(o.name, r.rule_prefix)
          |   AND date_diff('day', o.created_at, TIMESTAMP '2002-01-01') > r.min_age_days
          |  GROUP BY 1, 2, 3)
          |SELECT struct_extract(r, 'rule_id') AS rule_id,
          |       struct_extract(r, 'action') AS action,
          |       count(*) AS n_objects, CAST(sum(size) AS BIGINT) AS total_bytes
          |FROM m GROUP BY 1, 2 ORDER BY rule_id""".stripMargin)),
      doc = "lifecycle rule evaluation: broadcast rule dim, lowest-rule-wins min(struct)"),

    // KMV / theta-sketch distinct algebra: orders that HAVE lineitems ∩
    // finished orders, estimated from two 64-value sketches (see
    // Sketches.kmvIntersectionEstimate — membership-in-union-sample, not
    // inclusion–exclusion). The k-min is a distributed top-k; estimates
    // are unrounded IEEE chains the oracle replays bit-for-bit.
    // Quantile estimation as a MERGEABLE sketch: deterministic bottom-k
    // uniform sample by the md5-60-bit key hash (the KMV construction,
    // read out for order statistics instead of cardinality). The k=256
    // bottom-k runs as TakeOrderedAndProject (per-task heaps, no global
    // sort); deciles are raw stored values — zero double arithmetic — so
    // the oracle hash-matches bit-for-bit. Completes the sketch family:
    // HLL (distinct), CMS (frequency), KMV (set algebra), Bloom
    // (membership), bottom-k (quantiles).
    "sketch_bottomk_quantiles" -> Q(
      fn = (s, dir) => {
        val keyed = Tables.lineitem(s, dir).select(
          col("l_extendedprice").as("v"),
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_suppkey"), col("l_partkey"),
            floor(col("l_extendedprice")).cast("long"),
            unix_millis(col("l_shipdate").cast("timestamp")),
            col("l_linestatus")).as("key"))
        graft.operators.Sketches.bottomKQuantiles(keyed, k = 256)
      },
      oracle = Some(
        """WITH s AS (SELECT l_extendedprice AS v,
          |    CAST('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber,
          |      l_suppkey, l_partkey, CAST(floor(l_extendedprice) AS BIGINT),
          |      epoch_ms(l_shipdate), l_linestatus)), 1, 15) AS BIGINT) AS h
          |  FROM lineitem),
          |k AS (SELECT v, h FROM s ORDER BY h LIMIT 256),
          |r AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
          |             count(*) OVER () AS n FROM k)
          |SELECT d.decile, r.v AS est_value, r.n AS sample_n
          |FROM (SELECT unnest(range(1, 10)) AS decile) d
          |JOIN r ON r.rn = 1 + ((r.n - 1) * d.decile) // 10
          |ORDER BY d.decile""".stripMargin),
      doc = "bottom-k-by-hash quantile sketch: mergeable KMV sample, order-statistic readout, TakeOrderedAndProject plan"),

    "sketch_kmv_distinct" -> Q(
      fn = (s, dir) => {
        val a = Tables.lineitem(s, dir)
          .select(col("l_orderkey").cast("string").as("val"))
        val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").cast("string").as("val"))
        graft.operators.Sketches.kmvIntersectionEstimate(a, b, k = 64)
      },
      oracle = Some(
        """WITH ha AS (SELECT DISTINCT
          |    CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
          |  FROM lineitem),
          |hb AS (SELECT DISTINCT
          |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
          |  FROM orders WHERE o_orderstatus = 'F'),
          |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
          |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
          |ku AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
          |       ORDER BY h LIMIT 64),
          |ea AS (SELECT CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |         / CAST(max(h) AS DOUBLE) AS kmv_a FROM ka),
          |eb AS (SELECT CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |         / CAST(max(h) AS DOUBLE) AS kmv_b FROM kb),
          |eu AS (SELECT CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |         / CAST(max(h) AS DOUBLE) AS kmv_union FROM ku),
          |cm AS (SELECT count(*) AS n FROM ku
          |       WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
          |ex AS (SELECT (SELECT count(*) FROM ha) AS exact_a,
          |              (SELECT count(*) FROM hb) AS exact_b,
          |              (SELECT count(*) FROM (SELECT h FROM ha INTERSECT
          |                                     SELECT h FROM hb)) AS exact_common)
          |SELECT exact_a, exact_b, exact_common, kmv_a, kmv_b, kmv_union,
          |       CAST(cm.n AS DOUBLE) * kmv_union / CAST(64 AS DOUBLE) AS kmv_common
          |FROM ex, ea, eb, eu, cm""".stripMargin),
      doc = "KMV/theta distinct sketches with union + membership-based intersection estimate"),

    // Community detection by synchronous label propagation over the
    // co-purchase graph (3 fixed rounds; most-frequent neighbor label,
    // ties to the smallest). The oracle replays every round as a
    // generated CTE — the hash-match certifies the whole label lineage,
    // including tie resolution. Top-20 community census output.
    "graph_label_propagation" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        graft.operators.Graph.labelPropagation(e, 3, assumeDistinct = true)
          .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
          .orderBy(col("n_members").desc, col("label")).limit(20)
      },
      oracle = Some {
        val iterCtes = (1 to 3).map { k =>
          s"""c$k AS (SELECT e.dst, l.label, count(*) AS c
             |  FROM e JOIN lab${k - 1} l ON e.src = l.v GROUP BY 1, 2),
             |lab$k AS (SELECT dst AS v, struct_extract(
             |    min(struct_pack(nc := -c, l := label)), 'l') AS label
             |  FROM c$k GROUP BY dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |lab0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
           |$iterCtes
           |SELECT label, count(*) AS n_members FROM lab3
           |GROUP BY label ORDER BY n_members DESC, label LIMIT 20""".stripMargin
      },
      doc = "synchronous label-propagation communities: integer argmax, round lineage oracle-replayed"),

    // Synchronized Louvain phase-1 over the co-purchase graph — the
    // modularity-GAIN mover that label propagation (frequency argmax)
    // approximates: each round every node re-prices staying vs joining each
    // neighbor community by the exact ΔQ numerator 2m·k_{v,C} − k_v·Σtot(C∖v),
    // all integers (deterministic at any partitioning), ties to the smallest
    // community id. Two synchronized rounds, both replayed by the oracle as
    // generated CTEs — the hash-match certifies every gain comparison and
    // tie-break in the lineage. Top-20 community census with total degree.
    "graph_louvain_sync" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        graft.operators.Graph.louvainSync(e, 2, assumeDistinct = true)
          .groupBy(col("c").as("community"))
          .agg(count(lit(1)).as("n_members"), sum(col("k")).as("tot_deg"))
          .orderBy(col("n_members").desc, col("community")).limit(20)
      },
      oracle = Some {
        val roundCtes = (1 to 2).map { r =>
          s"""tot$r AS (SELECT c, CAST(sum(k) AS BIGINT) AS tot
             |  FROM c${r - 1} JOIN deg USING (v) GROUP BY c),
             |kk$r AS (SELECT v, cc, max(kic) AS kic FROM (
             |    SELECT e.src AS v, l.c AS cc, count(*) AS kic
             |    FROM e JOIN c${r - 1} l ON e.dst = l.v GROUP BY 1, 2
             |  UNION ALL SELECT v, c AS cc, 0 FROM c${r - 1}) GROUP BY 1, 2),
             |sc$r AS (SELECT k2.v, k2.cc,
             |    mm.m2 * k2.kic - d.k *
             |      (t.tot - CASE WHEN me.c = k2.cc THEN d.k ELSE 0 END) AS score
             |  FROM kk$r k2
             |  JOIN c${r - 1} me ON me.v = k2.v
             |  JOIN deg d ON d.v = k2.v
             |  JOIN tot$r t ON t.c = k2.cc
             |  CROSS JOIN mm),
             |c$r AS (SELECT v, struct_extract(
             |    min(struct_pack(ns := -score, l := cc)), 'l') AS c
             |  FROM sc$r GROUP BY v)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |deg AS (SELECT src AS v, count(*) AS k FROM e GROUP BY 1),
           |mm AS (SELECT count(*) AS m2 FROM e),
           |c0 AS (SELECT v, v AS c FROM deg),
           |$roundCtes
           |SELECT c AS community, count(*) AS n_members,
           |  CAST(sum(k) AS BIGINT) AS tot_deg
           |FROM c2 JOIN deg USING (v)
           |GROUP BY c ORDER BY n_members DESC, community LIMIT 20""".stripMargin
      },
      doc = "synchronized Louvain phase-1: exact integer modularity-gain moves, 2 rounds oracle-replayed, top-20 community census"),

    // Core peeling over the co-purchase graph — the graph-curation gate
    // (spam rings / boilerplate link farms live outside dense cores).
    // The gate is MEAN-degree (deg·n ≥ Σdeg, cross-multiplied ints): a
    // fixed k peels nothing at 10× the corpus density, this rule adapts
    // with zero tuned constants. Three synchronous rounds; per-round
    // census of surviving nodes/edges, all exact integers, every round
    // replayed by the oracle as a generated CTE chain.
    "graph_kcore" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        graft.operators.Graph.meanCorePeel(e, rounds = 3, assumeDistinct = true)
      },
      oracle = Some {
        val roundCtes = (1 to 3).map { r =>
          s"""d$r AS (SELECT src, count(*) AS deg FROM e${r - 1} GROUP BY src),
             |t$r AS (SELECT count(*) AS n, CAST(sum(deg) AS BIGINT) AS s FROM d$r),
             |k$r AS (SELECT src AS v FROM d$r, t$r WHERE deg * n >= s),
             |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN k$r a ON e.src = a.v JOIN k$r b ON e.dst = b.v)""".stripMargin
        }.mkString(",\n")
        val arms = (1 to 3).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS round,
             |  (SELECT count(*) FROM k$r) AS n_nodes,
             |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |$roundCtes
           |$arms
           |ORDER BY round""".stripMargin
      },
      doc = "mean-degree core peeling census: 3 rounds, scale-free integer gate + semi-joins, lineage oracle-replayed"),

    // Functional-dependency audit (the Metanome/data-profiling primitive
    // behind schema inference and key discovery): for each candidate
    // X→Y, the count of X-groups carrying >1 distinct Y. Each candidate
    // is one two-level partial-aggregable groupBy — no pair explosion,
    // no sort; candidates run independently (a real profiler fans them
    // out). Flag sums CAST to BIGINT per the repo invariant.
    "profile_fd_audit" -> Q(
      fn = (s, dir) => {
        val o = Tables.objects(s, dir)
        val cands = Seq(("name", "version"), ("version", "mimetype"),
          ("owner_id", "bucket_id"), ("mimetype", "bucket_id"))
        cands.map { case (x, y) =>
          o.groupBy(col(x)).agg(countDistinct(col(y)).as("ny"))
            .agg(count(lit(1)).as("n_groups"),
              sum(when(col("ny") > 1, 1L).otherwise(0L)).as("n_violating"))
            .select(lit(x).as("lhs"), lit(y).as("rhs"),
              col("n_groups"), col("n_violating"),
              (col("n_violating") === 0).as("fd_holds"))
        }.reduce(_ unionByName _).orderBy(col("lhs"), col("rhs"))
      },
      oracle = Some {
        val cands = Seq(("name", "version"), ("version", "mimetype"),
          ("owner_id", "bucket_id"), ("mimetype", "bucket_id"))
        val arms = cands.map { case (x, y) =>
          s"""SELECT '$x' AS lhs, '$y' AS rhs, count(*) AS n_groups,
             |  CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
             |  CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS fd_holds
             |FROM (SELECT $x, count(DISTINCT $y) AS ny FROM objects GROUP BY $x)"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        Oracle.withObjects(s"$arms\nORDER BY lhs, rhs")
      },
      doc = "functional-dependency audit: per-candidate two-level agg, the key/schema-discovery probe"),

    // k-anonymity census over quasi-identifiers — the re-identification
    // audit a PII-bearing corpus needs before release (a STRUCTURAL risk
    // measure, complementing content scrubbing). Equivalence classes on
    // (lang, source, size-bin); the class-size histogram shows how many
    // rows sit in classes below the k=5 threshold. Two combinable
    // aggregations — the first shuffles one row per class, the second one
    // row per class SIZE.
    "profile_k_anonymity" -> Q(
      fn = (s, dir) => Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("size_bin"))
        .groupBy(col("lang"), col("source"), col("size_bin"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("k").as("class_size"))
        .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_rows"))
        .withColumn("risky", col("class_size") < 5)
        .orderBy(col("class_size")),
      oracle = Some(
        """WITH classes AS (
          |  SELECT lang, source, n_chars // 100 AS size_bin, count(*) AS k
          |  FROM documents GROUP BY 1, 2, 3)
          |SELECT k AS class_size, count(*) AS n_classes,
          |  CAST(sum(k) AS BIGINT) AS n_rows, k < 5 AS risky
          |FROM classes GROUP BY k ORDER BY class_size""".stripMargin),
      doc = "k-anonymity census: quasi-identifier class-size histogram, k<5 risk flag"),

    // Perceptual-hash near-dup detection for IMAGES — the visual twin of
    // MinHash text dedup (a multimodal corpus dedups re-encoded/resized
    // copies that byte-level hashing can never match). 64-bit aHash over
    // the decoded 8×8 luma grid (stub decode, oracle-replayable), then
    // Manku-style blocking: 4×16-bit blocks, candidates share ≥1 block
    // (guaranteed complete for Hamming ≤ 3 by pigeonhole), verify ≤ 3 —
    // the gate matches the blocking's completeness radius, so the result
    // is exactly "all pairs within Hamming 3", not a blocking-dependent
    // subset (a ≤6 gate over 4 blocks drops pairs differing in all four).
    // The banded self-join is O(n) — a 16-bit block collides for
    // unrelated images w.p. ~2^-16, so candidates ≈ true pairs; never
    // an all-pairs comparison. Hash relation persists+pins before the
    // self-join (repo invariant: kernels must not run twice).
    "mm_phash_dedup" -> Q(
      fn = (s, dir) => {
        val hashed = Multimodal.phashBlocks(Multimodal.imagesWithReencodes(s, dir))
        graft.operators.CacheOnce.pin(hashed); hashed.count()
        val melted = hashed.select(col("media_id"),
          col("b0"), col("b1"), col("b2"), col("b3"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
            .as(Seq("band", "bval")))
        val a = melted.alias("a"); val b = melted.alias("b")
        a.join(b, col("a.band") === col("b.band") &&
            col("a.bval") === col("b.bval") &&
            col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
            (expr("bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1) + " +
              "bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3)"))
              .cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .withColumn("reencode_pair", col("media_b") === col("media_a") + 1000000L)
          .orderBy(col("media_a"), col("media_b"))
      },
      oracle = Some(
        """WITH img AS (SELECT doc_id AS media_id, md5(text) AS hex
          |  FROM documents WHERE doc_id % 3 = 0),
          |orig AS (SELECT media_id, hex, list_transform(range(64), j ->
          |    CAST(('0x' || substr(md5(hex || '~' || CAST(j AS VARCHAR)), 1, 4))
          |      AS BIGINT)) AS luma
          |  FROM img),
          |tw AS (SELECT media_id + 1000000 AS media_id,
          |    list_transform(range(64), j -> CASE WHEN j = p0 OR j = p1 OR j = p2
          |      THEN (luma[j + 1] + 7777) % 65536 ELSE luma[j + 1] END) AS luma
          |  FROM (SELECT media_id, luma,
          |      CAST(('0x' || substr(md5(hex || '!0'), 1, 4)) AS BIGINT) % 64 AS p0,
          |      CAST(('0x' || substr(md5(hex || '!1'), 1, 4)) AS BIGINT) % 64 AS p1,
          |      CAST(('0x' || substr(md5(hex || '!2'), 1, 4)) AS BIGINT) % 64 AS p2
          |    FROM orig WHERE media_id % 15 = 0)),
          |allm AS (SELECT media_id, luma FROM orig
          |  UNION ALL SELECT media_id, luma FROM tw),
          |bits AS (SELECT media_id, list_transform(range(64), j ->
          |    CASE WHEN 64 * luma[j + 1] > t THEN 1 ELSE 0 END) AS bv
          |  FROM (SELECT media_id, luma, list_sum(luma) AS t FROM allm)),
          |blk AS (SELECT media_id, list_transform(range(4), b ->
          |    CAST(list_sum(list_transform(range(16),
          |      j -> bv[16 * b + j + 1] * (1 << CAST(j AS INT)))) AS BIGINT)) AS blocks
          |  FROM bits),
          |melt AS (SELECT media_id, blocks, b AS band, blocks[b + 1] AS bval
          |  FROM blk CROSS JOIN (SELECT unnest(range(4)) AS b)),
          |cand AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
          |    a.blocks AS ba, b.blocks AS bb
          |  FROM melt a JOIN melt b ON a.band = b.band AND a.bval = b.bval
          |    AND a.media_id < b.media_id)
          |SELECT media_a, media_b, hamming, media_b = media_a + 1000000 AS reencode_pair
          |FROM (SELECT media_a, media_b, CAST(list_sum(list_transform(range(4),
          |    i -> bit_count(xor(ba[i + 1], bb[i + 1])))) AS BIGINT) AS hamming
          |  FROM cand)
          |WHERE hamming <= 3 ORDER BY media_a, media_b""".stripMargin),
      doc = "perceptual-hash (aHash) image near-dup: stub luma grid, mean-threshold bits, 4x16-bit Manku blocking"),

    // Scene-change detection over video blobs: the shot-boundary census a
    // video-training pipeline runs before keyframe extraction (frames per
    // scene decide sampling density; 1-scene clips are static slides).
    // One mapPartitions pass, zero shuffle — the census rides out with
    // the row; at 100 TB this is scan-bound embarrassing parallelism.
    "mm_scene_cuts" -> Q(
      fn = (s, dir) =>
        Multimodal.sceneCuts(
          Multimodal.syntheticMedia(s, dir).filter(col("kind") === "video"))
          .orderBy(col("media_id")),
      oracle = Some(
        """WITH vid AS (SELECT doc_id AS media_id,
          |    least(greatest((n_chars * 10) // 250, 1), 48) AS n, md5(text) AS hex
          |  FROM documents WHERE doc_id % 3 = 2),
          |e AS (SELECT media_id, f,
          |    CAST(('0x' || substr(md5(hex || '@' || CAST(f AS VARCHAR)), 1, 4))
          |      AS BIGINT) AS e
          |  FROM (SELECT media_id, hex, unnest(range(n)) AS f FROM vid)),
          |d AS (SELECT media_id, f, e,
          |    lag(e) OVER (PARTITION BY media_id ORDER BY f) AS pe FROM e),
          |c AS (SELECT media_id, f, CASE WHEN pe IS NOT NULL
          |      AND abs(e - pe) >= 24576 THEN 1 ELSE 0 END AS cut FROM d),
          |sc AS (SELECT media_id, f, sum(cut) OVER (PARTITION BY media_id
          |    ORDER BY f ROWS UNBOUNDED PRECEDING) AS scene FROM c),
          |per AS (SELECT media_id, scene, count(*) AS len FROM sc GROUP BY 1, 2)
          |SELECT media_id, CAST(sum(len) AS BIGINT) AS n_frames,
          |  CAST(count(*) - 1 AS BIGINT) AS n_cuts, count(*) AS n_scenes,
          |  CAST(max(len) AS BIGINT) AS longest_scene
          |FROM per GROUP BY media_id ORDER BY media_id""".stripMargin),
      doc = "video shot-boundary census: stub frame energies, consecutive-delta cuts, row-local scene runs"),

    // Mutual-information census between two categorical columns — the
    // data-card association measure (is `source` informative about
    // `lang`? a skewed crawl shows up here before it skews training).
    // All counts exact integers; PMI/MI terms are one exact int→double
    // division then ln(), rounded 1e-9 per the repo invariant (last-ulp
    // libm disagreement absorbed; everything before the ln is
    // bit-identical cross-engine). Three combinable aggs + two broadcast
    // joins + a 1-row broadcast total — no shuffle beyond the group-bys.
    "profile_mutual_info" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir).select(col("lang"), col("source"))
        val xy = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
        val x = d.groupBy(col("lang")).agg(count(lit(1)).as("n_x"))
        val y = d.groupBy(col("source")).agg(count(lit(1)).as("n_y"))
        val t = d.agg(count(lit(1)).as("n"))
        // n·n_xy / n_x·n_y overflow int64 past ~3e9 rows: cast each factor
        // to double FIRST — IEEE multiply is correctly rounded and order
        // is fixed, so both engines produce the identical bits.
        val ratio = (col("n").cast("double") * col("n_xy").cast("double")) /
          (col("n_x").cast("double") * col("n_y").cast("double"))
        xy.join(broadcast(x), "lang").join(broadcast(y), "source").crossJoin(t)
          .select(col("lang"), col("source"), col("n_xy"), col("n_x"), col("n_y"),
            round(log(ratio), 9).as("pmi"),
            round((col("n_xy").cast("double") / col("n").cast("double")) *
              log(ratio), 9).as("mi_term"))
          .orderBy(col("lang"), col("source"))
      },
      oracle = Some(
        """WITH xy AS (SELECT lang, source, count(*) AS n_xy FROM documents GROUP BY 1, 2),
          |x AS (SELECT lang, count(*) AS n_x FROM documents GROUP BY 1),
          |y AS (SELECT source, count(*) AS n_y FROM documents GROUP BY 1),
          |t AS (SELECT count(*) AS n FROM documents)
          |SELECT lang, source, n_xy, n_x, n_y,
          |  round(ln((CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE))
          |    / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9) AS pmi,
          |  round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) *
          |    ln((CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE))
          |      / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9) AS mi_term
          |FROM xy JOIN x USING (lang) JOIN y USING (source) CROSS JOIN t
          |ORDER BY lang, source""".stripMargin),
      doc = "mutual-information census (lang x source): exact joint counts, round-9 PMI/MI terms"),

    // Approximate-query-processing error census: a 10% hash-deterministic
    // Bernoulli sample (md5 of doc_id — rerun-stable, no RNG state),
    // per-group scaled estimates vs the exact counts. This is the
    // measurement that licenses sample-first pipelines at 100 TB: the
    // sample is a pushed-down filter on a scan (no shuffle), and the
    // census quantifies the per-group error you buy with it. Estimates
    // and errors are exact integers; rel_err is one exact-int division
    // rounded 1e-9.
    "stats_aqp_sample" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        val est = d.filter(expr(
            "cast(conv(substring(md5(concat('aqp|', cast(doc_id as string))), " +
              "1, 4), 16, 10) as bigint) % 10 = 0"))
          .groupBy(col("lang")).agg((count(lit(1)) * 10).as("est_docs"))
        val exact = d.groupBy(col("lang")).agg(count(lit(1)).as("true_docs"))
        val e = coalesce(col("est_docs"), lit(0L))
        exact.join(est, Seq("lang"), "left")
          .select(col("lang"), col("true_docs"), e.as("est_docs"),
            abs(e - col("true_docs")).as("abs_err"),
            round(abs(e - col("true_docs")).cast("double") /
              col("true_docs").cast("double"), 9).as("rel_err"))
          .orderBy(col("lang"))
      },
      oracle = Some(
        """WITH s AS (SELECT lang FROM documents
          |  WHERE CAST(('0x' || substr(md5('aqp|' || CAST(doc_id AS VARCHAR)),
          |    1, 4)) AS BIGINT) % 10 = 0),
          |est AS (SELECT lang, 10 * count(*) AS est_docs FROM s GROUP BY 1),
          |ex AS (SELECT lang, count(*) AS true_docs FROM documents GROUP BY 1)
          |SELECT lang, true_docs, coalesce(est_docs, 0) AS est_docs,
          |  CAST(abs(coalesce(est_docs, 0) - true_docs) AS BIGINT) AS abs_err,
          |  round(CAST(abs(coalesce(est_docs, 0) - true_docs) AS DOUBLE)
          |    / true_docs, 9) AS rel_err
          |FROM ex LEFT JOIN est USING (lang) ORDER BY lang""".stripMargin),
      doc = "AQP error census: 10% hash-Bernoulli sample, scaled integer estimates vs exact, round-9 relative error"),

    // Lorenz-curve deciles of per-user activity — the distributional
    // readout behind the single Gini number: which share of events the
    // bottom k/10 of users account for, per event type. Users rank by
    // (count, user_id) — a total order both engines replay — into ntile
    // deciles (standard SQL semantics: equal buckets, remainder to the
    // leading ones); per decile the census is exact integers and the
    // cumulative share is ONE division of exact ints, round-9. Both
    // windows are KEYED by event_type (user ranking per type, 10-row
    // cumulative per type) — no global sort at any scale.
    "events_lorenz_deciles" -> Q(
      fn = (s, dir) => {
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("n"), col("user_id"))
        val wCum = Window.partitionBy(col("event_type"))
          .orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(col("event_type"))
        val u = Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .withColumn("decile", ntile(10).over(wRank))
        u.groupBy(col("event_type"), col("decile"))
          .agg(count(lit(1)).as("n_users"), sum(col("n")).as("sum_events"))
          .withColumn("cum_events", sum(col("sum_events")).over(wCum))
          .withColumn("tot", sum(col("sum_events")).over(wTot))
          .select(col("event_type"), col("decile").cast("long").as("decile"),
            col("n_users"), col("sum_events"), col("cum_events"),
            (round(col("cum_events").cast("double") / col("tot").cast("double"), 9)
              + 0.0).as("cum_share"))
          .orderBy(col("event_type"), col("decile"))
      },
      oracle = Some(
        """WITH u AS (SELECT event_type, user_id, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |d AS (SELECT event_type, n, ntile(10) OVER (
          |    PARTITION BY event_type ORDER BY n, user_id) AS decile FROM u),
          |g AS (SELECT event_type, decile, count(*) AS n_users,
          |    CAST(sum(n) AS BIGINT) AS sum_events FROM d GROUP BY 1, 2),
          |c AS (SELECT *, CAST(sum(sum_events) OVER (PARTITION BY event_type
          |      ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_events,
          |    CAST(sum(sum_events) OVER (PARTITION BY event_type) AS BIGINT) AS tot
          |  FROM g)
          |SELECT event_type, CAST(decile AS BIGINT) AS decile, n_users,
          |  sum_events, cum_events,
          |  round(CAST(cum_events AS DOUBLE) / CAST(tot AS DOUBLE), 9) + 0.0
          |    AS cum_share
          |FROM c ORDER BY event_type, decile""".stripMargin),
      doc = "Lorenz deciles per event type: keyed ntile ranking, exact integer censuses, round-9 cumulative share"),

    // Gini concentration of the source mix per language — the data-card
    // number that says "this slice of the corpus is dominated by a few
    // crawls" before that skew becomes a training bias. Computed from the
    // sorted-rank identity G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) over
    // per-(lang,source) counts: one keyed row_number window over group
    // cardinality (sources per lang — tiny at any corpus size), all
    // integer until the final round-9 ratio. Exact numerator/denominator
    // are graded alongside so the double never carries the comparison.
    "profile_gini" -> Q(
      fn = (s, dir) => {
        val cnt = Tables.documents(s, dir)
          .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("x"))
        val w = Window.partitionBy(col("lang")).orderBy(col("x"), col("source"))
        val num = lit(2L) * col("wsum") -
          (col("n_sources") + lit(1L)) * col("n_docs")
        val den = col("n_sources") * col("n_docs")
        cnt.withColumn("i", row_number().over(w).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("n_docs"),
            sum(col("i") * col("x")).as("wsum"))
          .select(col("lang"), col("n_sources"), col("n_docs"),
            num.as("gini_num"), den.as("gini_den"),
            round(num.cast("double") / den.cast("double"), 9).as("gini"))
          .orderBy(col("lang"))
      },
      oracle = Some(
        """WITH cnt AS (SELECT lang, source, count(*) AS x
          |  FROM documents GROUP BY 1, 2),
          |r AS (SELECT lang, x, row_number() OVER (PARTITION BY lang
          |    ORDER BY x, source) AS i FROM cnt),
          |g AS (SELECT lang, count(*) AS n, sum(x) AS tot, sum(i * x) AS wsum
          |  FROM r GROUP BY 1)
          |SELECT lang, CAST(n AS BIGINT) AS n_sources, CAST(tot AS BIGINT) AS n_docs,
          |  CAST(2 * wsum - (n + 1) * tot AS BIGINT) AS gini_num,
          |  CAST(n * tot AS BIGINT) AS gini_den,
          |  round(CAST(2 * wsum - (n + 1) * tot AS DOUBLE) / (n * tot), 9) AS gini
          |FROM g ORDER BY lang""".stripMargin),
      doc = "Gini source-concentration per lang: sorted-rank identity, exact integer num/den, round-9 ratio"),

    // Two-sample Kolmogorov–Smirnov drift census: each language's doc-length
    // distribution vs the `en` reference. The scalable shape is the merged
    // CDF — union both samples tagged 0/1, ONE sort per comparison group,
    // and cumulative counts from a RANGE-framed window (the frame includes
    // value ties, which is exactly CDF-at-value semantics). D is the max of
    // |c1·n2 − c2·n1| — cross-multiplied EXACT integers; the /n1·n2
    // normalization happens once at the end, round-9. No correlated
    // subqueries, no all-pairs: cost is a sort per comparison, and each
    // comparison touches only its two groups.
    "profile_ks_drift" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        val langs = d.filter(col("lang") =!= "en")
          .select(col("lang").as("cmp")).distinct()
        val u = d.join(broadcast(langs),
            col("lang") === col("cmp") || col("lang") === lit("en"))
          .select(col("cmp"), col("n_chars"),
            when(col("lang") === "en", 0L).otherwise(1L).as("g"))
        val w = Window.partitionBy(col("cmp")).orderBy(col("n_chars"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val c = u.withColumn("c1", sum(col("g")).over(w))
          .withColumn("c2", sum(lit(1L) - col("g")).over(w))
        val t = u.groupBy(col("cmp"))
          .agg(sum(col("g")).as("n1"), sum(lit(1L) - col("g")).as("n2"))
        c.join(broadcast(t), "cmp")
          .groupBy(col("cmp"), col("n1"), col("n2"))
          .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
            .as("ks_num"))
          .select(col("cmp").as("lang"), col("n1").as("n_lang"),
            col("n2").as("n_en"), col("ks_num"),
            (col("n1") * col("n2")).as("ks_den"),
            round(col("ks_num").cast("double") /
              (col("n1") * col("n2")).cast("double"), 9).as("ks_d"))
          .orderBy(col("lang"))
      },
      oracle = Some(
        """WITH langs AS (SELECT DISTINCT lang FROM documents WHERE lang <> 'en'),
          |u AS (SELECT l.lang AS cmp, d.n_chars,
          |    CASE WHEN d.lang = 'en' THEN 0 ELSE 1 END AS g
          |  FROM documents d JOIN langs l ON d.lang = l.lang OR d.lang = 'en'),
          |c AS (SELECT cmp, n_chars, g,
          |    sum(g) OVER w AS c1, sum(1 - g) OVER w AS c2
          |  FROM u WINDOW w AS (PARTITION BY cmp ORDER BY n_chars
          |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |t AS (SELECT cmp, sum(g) AS n1, sum(1 - g) AS n2 FROM u GROUP BY 1)
          |SELECT cmp AS lang, CAST(n1 AS BIGINT) AS n_lang,
          |  CAST(n2 AS BIGINT) AS n_en,
          |  CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
          |  CAST(n1 * n2 AS BIGINT) AS ks_den,
          |  round(CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE) / (n1 * n2), 9)
          |    AS ks_d
          |FROM c JOIN t USING (cmp) GROUP BY cmp, n1, n2
          |ORDER BY lang""".stripMargin),
      doc = "two-sample KS drift vs the en reference: merged-CDF window with tie-correct RANGE frame, exact cross-multiplied D"),

    // Audio near-dup detection via constellation fingerprints — the audio
    // sibling of mm_phash_dedup (a speech/music corpus dedups re-encoded
    // copies at the signal level, never the byte level). Landmarks are
    // (peak-band, next-peak-band, Δt) hashes; matching is ONE equi-join on
    // the hash (never all-pairs: ~1 media per hash value at any corpus
    // size, so candidate volume ≈ true-pair volume). Gate ≥3 shared
    // landmarks: at sf0.01 recovers 26/34 planted twins with 5 chance
    // pairs; the 8 misses have ≤3 landmarks total (clips too short to
    // fingerprint — inherent, and n_shared is emitted so callers can
    // trade precision for recall). Hash relation persists+pins before the
    // self-join (repo invariant: kernels must not run twice).
    "mm_audio_fingerprint" -> Q(
      fn = (s, dir) => {
        val h = Multimodal.constellationHashes(
          Multimodal.audioWithReencodes(s, dir))
        graft.operators.CacheOnce.pin(h); h.count()
        val a = h.alias("a"); val b = h.alias("b")
        a.join(b, col("a.hash") === col("b.hash") &&
            col("a.media_id") < col("b.media_id"))
          .groupBy(col("a.media_id").as("media_a"),
            col("b.media_id").as("media_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .withColumn("is_reencode", col("media_b") === col("media_a") + 2000000L)
          .orderBy(col("media_a"), col("media_b"))
      },
      oracle = Some(
        """WITH aud AS (SELECT doc_id AS media_id, md5(text) AS hex,
          |    CAST(least(greatest((n_chars * 10) // 100, 1), 64) AS BIGINT) AS n
          |  FROM documents WHERE doc_id % 3 = 1),
          |orig AS (SELECT media_id, hex, n, f,
          |    CAST(('0x' || substr(md5(hex || '#' || CAST(f AS VARCHAR)), 1, 4))
          |      AS BIGINT) AS e
          |  FROM (SELECT media_id, hex, n, unnest(range(n)) AS f FROM aud)),
          |twsel AS (SELECT media_id, hex, n,
          |    CAST(('0x' || substr(md5(hex || '!a0'), 1, 4)) AS BIGINT) % n AS q0,
          |    CAST(('0x' || substr(md5(hex || '!a1'), 1, 4)) AS BIGINT) % n AS q1,
          |    CAST(('0x' || substr(md5(hex || '!a2'), 1, 4)) AS BIGINT) % n AS q2
          |  FROM aud WHERE media_id % 15 = 1),
          |tw AS (SELECT t.media_id + 2000000 AS media_id, o.f,
          |    CASE WHEN o.f = t.q0 OR o.f = t.q1 OR o.f = t.q2
          |      THEN (o.e + 997) % 65536 ELSE o.e END AS e
          |  FROM twsel t JOIN orig o ON o.media_id = t.media_id),
          |alle AS (SELECT media_id, f, e FROM orig
          |  UNION ALL SELECT media_id, f, e FROM tw),
          |nb AS (SELECT media_id, f, e, lag(e) OVER w AS ep, lead(e) OVER w AS en
          |  FROM alle WINDOW w AS (PARTITION BY media_id ORDER BY f)),
          |pk AS (SELECT media_id, f, e FROM nb
          |  WHERE ep IS NOT NULL AND en IS NOT NULL AND e > ep AND e > en),
          |lm AS (SELECT media_id, e AS e1, lead(e) OVER w AS e2,
          |    lead(f) OVER w - f AS dt
          |  FROM pk WINDOW w AS (PARTITION BY media_id ORDER BY f)),
          |h AS (SELECT DISTINCT media_id,
          |    (e1 // 2048) * 1024 + (e2 // 2048) * 32 + dt AS hash
          |  FROM lm WHERE e2 IS NOT NULL AND dt <= 31),
          |m AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
          |    count(*) AS n_shared
          |  FROM h a JOIN h b ON a.hash = b.hash AND a.media_id < b.media_id
          |  GROUP BY 1, 2)
          |SELECT media_a, media_b, n_shared,
          |  media_b = media_a + 2000000 AS is_reencode
          |FROM m WHERE n_shared >= 3 ORDER BY media_a, media_b""".stripMargin),
      doc = "audio constellation-fingerprint near-dup: stub frame energies, strict local peaks, (band,band,dt) landmark equi-join, gate >= 3 shared"),

    // Community-quality evaluation: Newman modularity of the label-prop
    // partition over the co-purchase graph — the metric that says whether
    // the communities are real structure or noise before anything samples
    // by them. Exact integers throughout: with R directed edge rows
    // (2m endpoints), each community contributes
    //   q_c = (R·w_c − d_c²) / R²
    // where w_c = within-community directed rows and d_c = degree mass —
    // the numerator is graded as an exact BIGINT, the round-9 ratio rides
    // along. Cost beyond label-prop itself: two broadcast label joins +
    // two keyed aggs; the community relation is label-cardinality-sized.
    "graph_modularity" -> Q(
      fn = (s, dir) => {
        // globally distinct (the same co-purchase pair recurs across
        // orders, and degree/edge masses must count it once): the stored
        // adjacency is already the distinct set — no per-call dedup shuffle
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        val lab = graft.operators.Graph.labelPropagation(e, 3,
          assumeDistinct = true)
        val r = e.agg(count(lit(1)).as("rr"))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val dc = deg.join(lab.withColumnRenamed("v", "src"), "src")
          .groupBy(col("label"))
          .agg(sum(col("deg")).as("d_c"), count(lit(1)).as("n_members"))
        val wc = e
          .join(lab.select(col("v").as("src"), col("label").as("slab")), "src")
          .join(lab.select(col("v").as("dst"), col("label").as("dlab")), "dst")
          .filter(col("slab") === col("dlab"))
          .groupBy(col("slab").as("label")).agg(count(lit(1)).as("w_c"))
        dc.join(wc, Seq("label"), "left").crossJoin(r)
          .select(col("label"), col("n_members"), col("d_c"),
            coalesce(col("w_c"), lit(0L)).as("w_c"), col("rr"),
            (col("rr") * coalesce(col("w_c"), lit(0L)) -
              col("d_c") * col("d_c")).as("q_num"),
            round((col("rr") * coalesce(col("w_c"), lit(0L)) -
              col("d_c") * col("d_c")).cast("double") /
              (col("rr") * col("rr")).cast("double"), 9).as("q_c"))
          .orderBy(col("n_members").desc, col("label")).limit(20)
      },
      oracle = Some {
        val iterCtes = (1 to 3).map { k =>
          s"""c$k AS (SELECT e.dst, l.label, count(*) AS c
             |  FROM e JOIN lab${k - 1} l ON e.src = l.v GROUP BY 1, 2),
             |lab$k AS (SELECT dst AS v, struct_extract(
             |    min(struct_pack(nc := -c, l := label)), 'l') AS label
             |  FROM c$k GROUP BY dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |lab0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
           |$iterCtes,
           |r AS (SELECT count(*) AS rr FROM e),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |dc AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_c,
           |    count(*) AS n_members
           |  FROM deg d JOIN lab3 l ON d.src = l.v GROUP BY 1),
           |wc AS (SELECT ls.label, count(*) AS w_c
           |  FROM e JOIN lab3 ls ON e.src = ls.v JOIN lab3 ld ON e.dst = ld.v
           |  WHERE ls.label = ld.label GROUP BY 1)
           |SELECT label, n_members, d_c, coalesce(w_c, 0) AS w_c, rr,
           |  CAST(rr * coalesce(w_c, 0) - d_c * d_c AS BIGINT) AS q_num,
           |  round(CAST(rr * coalesce(w_c, 0) - d_c * d_c AS DOUBLE)
           |    / CAST(rr * rr AS DOUBLE), 9) AS q_c
           |FROM dc LEFT JOIN wc USING (label) CROSS JOIN r
           |ORDER BY n_members DESC, label LIMIT 20""".stripMargin
      },
      doc = "Newman modularity of the label-prop partition: exact BIGINT q_num = R*w_c - d_c^2 per community, round-9 ratio"),

    // The multimodal-curation capstone: one admission plan across all
    // three media kinds, composed from the operator family this round
    // built — images drop perceptual-hash near-dups (aHash + Manku
    // banding, reject the LATER copy of each matched pair), audio drops
    // low-voice clips (VAD share < 50%, cross-multiplied ints), video
    // drops static slides (single-scene shot census). Each branch is the
    // already-verified kernel; this query certifies their COMPOSITION
    // end-to-end against one oracle. Per-branch costs are the operators'
    // own (banded self-join / zero-shuffle row-local passes).
    "pipeline_multimodal_curation" -> Q(
      fn = (s, dir) => {
        // image branch: near-dup rejection via phash blocks
        val hashed = Multimodal.phashBlocks(Multimodal.imagesWithReencodes(s, dir))
        graft.operators.CacheOnce.pin(hashed); hashed.count()
        val melted = hashed.select(col("media_id"),
          col("b0"), col("b1"), col("b2"), col("b3"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
            .as(Seq("band", "bval")))
        val dup = melted.alias("a")
          .join(melted.alias("b"), col("a.band") === col("b.band") &&
            col("a.bval") === col("b.bval") &&
            col("a.media_id") < col("b.media_id"))
          .select(col("b.media_id").as("media_id"),
            expr("bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1) + " +
              "bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3)").as("hamming"))
          .filter(col("hamming") <= 3)
          .select(col("media_id")).distinct()
        val imgBranch = hashed
          .join(dup.withColumn("rej", lit(1L)), Seq("media_id"), "left")
          .agg(lit("image").as("kind"), count(lit(1)).as("n_total"),
            sum(coalesce(col("rej"), lit(0L))).as("n_rejected"))
        // audio branch: voice share < 50%
        val vad = Multimodal.vadSegments(
          Multimodal.syntheticMedia(s, dir).filter(col("kind") === "audio"))
        val audBranch = vad.agg(lit("audio").as("kind"),
          count(lit(1)).as("n_total"),
          sum(when(lit(2L) * col("n_voice") < col("n_frames"), 1L)
            .otherwise(0L)).as("n_rejected"))
        // video branch: single-scene statics
        val scenes = Multimodal.sceneCuts(
          Multimodal.syntheticMedia(s, dir).filter(col("kind") === "video"))
        val vidBranch = scenes.agg(lit("video").as("kind"),
          count(lit(1)).as("n_total"),
          sum(when(col("n_scenes") === 1L, 1L).otherwise(0L)).as("n_rejected"))
        imgBranch.unionByName(audBranch).unionByName(vidBranch)
          .select(col("kind"), col("n_total"), col("n_rejected"),
            (col("n_total") - col("n_rejected")).as("n_admitted"))
          .orderBy(col("kind"))
      },
      oracle = Some(
        """WITH img AS (SELECT doc_id AS media_id, md5(text) AS hex
          |  FROM documents WHERE doc_id % 3 = 0),
          |orig AS (SELECT media_id, hex, list_transform(range(64), j ->
          |    CAST(('0x' || substr(md5(hex || '~' || CAST(j AS VARCHAR)), 1, 4))
          |      AS BIGINT)) AS luma
          |  FROM img),
          |tw AS (SELECT media_id + 1000000 AS media_id,
          |    list_transform(range(64), j -> CASE WHEN j = p0 OR j = p1 OR j = p2
          |      THEN (luma[j + 1] + 7777) % 65536 ELSE luma[j + 1] END) AS luma
          |  FROM (SELECT media_id, luma,
          |      CAST(('0x' || substr(md5(hex || '!0'), 1, 4)) AS BIGINT) % 64 AS p0,
          |      CAST(('0x' || substr(md5(hex || '!1'), 1, 4)) AS BIGINT) % 64 AS p1,
          |      CAST(('0x' || substr(md5(hex || '!2'), 1, 4)) AS BIGINT) % 64 AS p2
          |    FROM orig WHERE media_id % 15 = 0)),
          |allm AS (SELECT media_id, luma FROM orig
          |  UNION ALL SELECT media_id, luma FROM tw),
          |bits AS (SELECT media_id, list_transform(range(64), j ->
          |    CASE WHEN 64 * luma[j + 1] > t THEN 1 ELSE 0 END) AS bv
          |  FROM (SELECT media_id, luma, list_sum(luma) AS t FROM allm)),
          |blk AS (SELECT media_id, list_transform(range(4), b ->
          |    CAST(list_sum(list_transform(range(16),
          |      j -> bv[16 * b + j + 1] * (1 << CAST(j AS INT)))) AS BIGINT))
          |    AS blocks
          |  FROM bits),
          |melt AS (SELECT media_id, blocks, b AS band, blocks[b + 1] AS bval
          |  FROM blk CROSS JOIN (SELECT unnest(range(4)) AS b)),
          |cand AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
          |    a.blocks AS ba, b.blocks AS bb
          |  FROM melt a JOIN melt b ON a.band = b.band AND a.bval = b.bval
          |    AND a.media_id < b.media_id),
          |dup AS (SELECT DISTINCT media_b FROM (
          |  SELECT media_a, media_b, CAST(list_sum(list_transform(range(4),
          |      i -> bit_count(xor(ba[i + 1], bb[i + 1])))) AS BIGINT) AS hamming
          |  FROM cand) WHERE hamming <= 3),
          |img_branch AS (SELECT 'image' AS kind, count(*) AS n_total,
          |    CAST(count(*) FILTER (WHERE media_id IN (SELECT media_b FROM dup))
          |      AS BIGINT) AS n_rejected
          |  FROM allm),
          |audio AS (SELECT doc_id AS media_id, n_chars * 10 AS duration_ms,
          |    md5(text) AS hex
          |  FROM documents WHERE doc_id % 3 = 1),
          |abase AS (SELECT media_id, hex,
          |    CAST(least(greatest(duration_ms // 100, 1), 64) AS BIGINT)
          |      AS n_frames FROM audio),
          |afrm AS (SELECT media_id, n_frames, f,
          |    CAST('0x' || substr(md5(concat(hex, '#', f)), 1, 4) AS INT) AS e
          |  FROM (SELECT media_id, hex, n_frames,
          |      unnest(generate_series(0, CAST(n_frames - 1 AS INT))) AS f
          |    FROM abase)),
          |avoice AS (SELECT media_id, any_value(n_frames) AS n_frames,
          |    count(*) FILTER (WHERE e >= 32768) AS n_voice
          |  FROM afrm GROUP BY media_id),
          |aud_branch AS (SELECT 'audio' AS kind, count(*) AS n_total,
          |    CAST(count(*) FILTER (WHERE 2 * n_voice < n_frames) AS BIGINT)
          |      AS n_rejected
          |  FROM avoice),
          |vid AS (SELECT doc_id AS media_id,
          |    least(greatest((n_chars * 10) // 250, 1), 48) AS n, md5(text) AS hex
          |  FROM documents WHERE doc_id % 3 = 2),
          |ve AS (SELECT media_id, f,
          |    CAST(('0x' || substr(md5(hex || '@' || CAST(f AS VARCHAR)), 1, 4))
          |      AS BIGINT) AS e
          |  FROM (SELECT media_id, hex, unnest(range(n)) AS f FROM vid)),
          |vd AS (SELECT media_id, f, e,
          |    lag(e) OVER (PARTITION BY media_id ORDER BY f) AS pe FROM ve),
          |vs AS (SELECT media_id, CAST(1 + sum(CASE WHEN pe IS NOT NULL
          |      AND abs(e - pe) >= 24576 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_scenes
          |  FROM vd GROUP BY media_id),
          |vid_branch AS (SELECT 'video' AS kind, count(*) AS n_total,
          |    CAST(count(*) FILTER (WHERE n_scenes = 1) AS BIGINT) AS n_rejected
          |  FROM vs)
          |SELECT kind, n_total, n_rejected, n_total - n_rejected AS n_admitted
          |FROM (SELECT * FROM img_branch UNION ALL SELECT * FROM aud_branch
          |  UNION ALL SELECT * FROM vid_branch) ORDER BY kind""".stripMargin),
      doc = "multimodal curation capstone: phash dedup + VAD voice gate + scene statics, one admission plan across kinds"),

    // Degree assortativity (Newman 2002) of the co-purchase graph: the
    // Pearson correlation of excess degrees across edge endpoints — the
    // one-number answer to "do hubs link to hubs?" that decides whether
    // degree-based partitioning will skew. Both edge orientations are in
    // the relation, so the two marginals are identical and
    // r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²). Moments are exact BIGINTs
    // (one shuffle for degrees + one broadcastable degree join); only the
    // n·Σ products need DECIMAL(38,0) — n·Σxy can pass 2^63 at corpus
    // scale. Final ratio is one IEEE division, round-9.
    "graph_assortativity" -> Q(
      fn = (s, dir) => {
        // stored DISTINCT adjacency (src =!= dst pre-applied): skips the
        // per-call edge-sized dedup shuffle; moments unchanged (r13)
        val e = Tables.coPurchaseAdjacency(s, dir).select(col("src"), col("dst"))
        graft.operators.Graph.assortativityMoments(e, assumeDistinct = true)
      },
      oracle = Some(
        """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |deg AS (SELECT src, count(*) - 1 AS dx FROM e GROUP BY 1),
          |j AS (SELECT ds.dx, dd.dx AS dy
          |  FROM e JOIN deg ds ON e.src = ds.src JOIN deg dd ON e.dst = dd.src),
          |m AS (SELECT count(*) AS n, CAST(sum(dx) AS BIGINT) AS sx,
          |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
          |    CAST(sum(dx * dy) AS BIGINT) AS sxy FROM j),
          |nn AS (SELECT count(*) AS n_nodes FROM deg)
          |SELECT n, n_nodes, sx, sxx, sxy,
          |  CAST(CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx
          |    AS DECIMAL(38,0)) AS VARCHAR) AS r_num,
          |  CAST(CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx
          |    AS DECIMAL(38,0)) AS VARCHAR) AS r_den,
          |  round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
          |        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
          |    / CAST(CAST(n AS DECIMAL(38,0)) * sxx
          |        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 9) AS assortativity
          |FROM m CROSS JOIN nn""".stripMargin),
      doc = "degree assortativity: exact BIGINT excess-degree moments, DECIMAL(38,0) n-products, one round-9 Pearson r"),

    // Common-neighbor link prediction over the support-thresholded
    // co-purchase graph: score every NON-adjacent pair by shared-neighbor
    // count + Jaccard, keep the top 20 — the recommender primitive
    // ("parts bought together with both of these"). The wedge join is the
    // SAME Σd² shape as graph_triangles and shares its densification
    // guard (the support ≥ 2 floor); the candidate set never goes through
    // all-pairs. Scores are exact integers; Jaccard ships as num/den +
    // one round-9 division.
    "graph_link_prediction" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchasePairs(s, dir)
        graft.operators.Graph.commonNeighborPairs(e)
          .orderBy(col("cn").desc, col("p"), col("q")).limit(20)
      },
      oracle = Some(
        """WITH co AS (SELECT DISTINCT a.l_orderkey AS ok,
          |    a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |e AS (SELECT u, v FROM co GROUP BY u, v HAVING count(*) >= 2),
          |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
          |deg AS (SELECT a, count(*) AS d FROM adj GROUP BY a),
          |w AS (SELECT x.b AS p, y.b AS q, count(*) AS cn
          |  FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b GROUP BY 1, 2),
          |nw AS (SELECT w.p, w.q, w.cn
          |  FROM w LEFT JOIN e ON w.p = e.u AND w.q = e.v WHERE e.u IS NULL)
          |SELECT p, q, cn, dp.d AS deg_p, dq.d AS deg_q,
          |  dp.d + dq.d - cn AS j_den,
          |  round(CAST(cn AS DOUBLE) / (dp.d + dq.d - cn), 9) AS jaccard
          |FROM nw JOIN deg dp ON nw.p = dp.a JOIN deg dq ON nw.q = dq.a
          |ORDER BY cn DESC, p, q LIMIT 20""".stripMargin),
      doc = "common-neighbor + Jaccard link prediction over non-adjacent pairs: wedge join with support-floor guard, top-20"),

    // Pairwise Pearson correlation matrix over lineitem's numeric columns
    // — the numeric-profiling companion of profile_mutual_info. Columns
    // are quantized to exact integers FIRST (floor of one
    // correctly-rounded multiply — the house float discipline), so every
    // moment (Σx, Σx², Σxy) is exact; products route through
    // DECIMAL(38,0) because Σxy·n passes 2^63 at corpus scale. The melt
    // to (col_x, col_y) pairs is row-local (6 structs per row), the agg
    // is one map-side-combinable groupBy over SIX keys; r is computed
    // num/√den·√den with correctly-rounded IEEE ops only, round-9.
    "profile_correlation_matrix" -> Q(
      fn = (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val base = Tables.lineitem(s, dir).select(
          floor(col("l_quantity")).cast("long").as("q"),
          floor(col("l_extendedprice")).cast("long").as("p"),
          floor(col("l_discount") * 100000).cast("long").as("d"),
          floor(col("l_tax") * 100000).cast("long").as("t"))
        def pr(nx: String, xc: String, ny: String, yc: String) =
          struct(lit(nx).as("col_x"), lit(ny).as("col_y"),
            col(xc).as("x"), col(yc).as("y"))
        val pairs = base.select(explode(array(
          pr("discount", "d", "extendedprice", "p"),
          pr("discount", "d", "quantity", "q"),
          pr("discount", "d", "tax", "t"),
          pr("extendedprice", "p", "quantity", "q"),
          pr("extendedprice", "p", "tax", "t"),
          pr("quantity", "q", "tax", "t"))).as("pr"))
          .select(col("pr.col_x"), col("pr.col_y"), col("pr.x"), col("pr.y"))
        val m = pairs.groupBy(col("col_x"), col("col_y")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast(DecimalType(38, 0)) * col("x")).cast(DecimalType(38, 0)).as("sxx"),
          sum(col("y").cast(DecimalType(38, 0)) * col("y")).cast(DecimalType(38, 0)).as("syy"),
          sum(col("x").cast(DecimalType(38, 0)) * col("y")).cast(DecimalType(38, 0)).as("sxy"))
        val num = (col("n").cast(DecimalType(38, 0)) * col("sxy") -
          col("sx").cast(DecimalType(38, 0)) * col("sy")).cast(DecimalType(38, 0))
        val vx = (col("n").cast(DecimalType(38, 0)) * col("sxx") -
          col("sx").cast(DecimalType(38, 0)) * col("sx")).cast(DecimalType(38, 0))
        val vy = (col("n").cast(DecimalType(38, 0)) * col("syy") -
          col("sy").cast(DecimalType(38, 0)) * col("sy")).cast(DecimalType(38, 0))
        // sxx/syy/sxy are DECIMAL(38,0) second moments that pass 2^53 at
        // corpus scale: grade them as exact digit strings.
        m.select(col("col_x"), col("col_y"), col("n"), col("sx"), col("sy"),
          col("sxx").cast("string").as("sxx"),
          col("syy").cast("string").as("syy"),
          col("sxy").cast("string").as("sxy"),
          round(num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 9).as("r"))
          .orderBy(col("col_x"), col("col_y"))
      },
      oracle = Some(
        """WITH base AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS q,
          |    CAST(floor(l_extendedprice) AS BIGINT) AS p,
          |    CAST(floor(l_discount * 100000) AS BIGINT) AS d,
          |    CAST(floor(l_tax * 100000) AS BIGINT) AS t
          |  FROM lineitem),
          |pairs AS (
          |  SELECT 'discount' AS col_x, 'extendedprice' AS col_y, d AS x, p AS y FROM base
          |  UNION ALL SELECT 'discount', 'quantity', d, q FROM base
          |  UNION ALL SELECT 'discount', 'tax', d, t FROM base
          |  UNION ALL SELECT 'extendedprice', 'quantity', p, q FROM base
          |  UNION ALL SELECT 'extendedprice', 'tax', p, t FROM base
          |  UNION ALL SELECT 'quantity', 'tax', q, t FROM base),
          |m AS (SELECT col_x, col_y, count(*) AS n,
          |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |    CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
          |    CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy,
          |    CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy
          |  FROM pairs GROUP BY 1, 2)
          |SELECT col_x, col_y, n, sx, sy,
          |  CAST(sxx AS VARCHAR) AS sxx, CAST(syy AS VARCHAR) AS syy,
          |  CAST(sxy AS VARCHAR) AS sxy,
          |  round(CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
          |      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
          |    / (sqrt(CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
          |        - CAST(sx AS HUGEINT) * sx AS DOUBLE))
          |     * sqrt(CAST(CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
          |        - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 9) AS r
          |FROM m ORDER BY col_x, col_y""".stripMargin),
      doc = "pairwise Pearson matrix: integer-quantized columns, exact DECIMAL(38,0) moments, round-9 r via IEEE sqrt/div"),

    // Local clustering coefficient census over the support-thresholded
    // co-purchase graph: cc(v) = 2·t(v) / d(v)(d(v)−1) — how close each
    // node's neighborhood is to a clique, the standard cohesion feature
    // next to assortativity's global mixing number. Triangle counts come
    // from the SAME degree-ordered enumeration as graph_triangles (m^1.5
    // bound, no hub blowup) exploded to per-node counts; the coefficient
    // is an exact rational graded as num/den beside the round-9 ratio.
    // Top-20 under the exact (t, node) total order.
    "graph_clustering_coeff" -> Q(
      fn = (s, dir) => {
        val e = Tables.coPurchasePairs(s, dir)
        graft.operators.CacheOnce.pin(e); e.count() // feeds triangles AND the degree census
        val tv = graft.operators.Graph.triangles(e)
          .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("t"))
        val deg = e.select(col("u").as("node"))
          .unionByName(e.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        deg.join(tv, Seq("node"), "left")
          .select(col("node"), col("d"),
            coalesce(col("t"), lit(0L)).as("t"))
          .filter(col("d") >= 2)
          .select(col("node"), col("d"), col("t"),
            (col("t") * 2).as("cc_num"),
            (col("d") * (col("d") - 1)).as("cc_den"),
            round((col("t") * 2).cast("double") /
              (col("d") * (col("d") - 1)).cast("double"), 9).as("cc"))
          .orderBy(col("t").desc, col("node")).limit(20)
      },
      oracle = Some(
        """WITH co AS (SELECT DISTINCT a.l_orderkey AS ok,
          |    a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |e AS (SELECT u, v FROM co GROUP BY u, v HAVING count(*) >= 2),
          |deg0 AS (SELECT n, count(*) AS d FROM
          |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
          |o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
          |             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
          |      FROM e JOIN deg0 du ON e.u = du.n JOIN deg0 dv ON e.v = dv.n),
          |tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
          |        FROM o a JOIN o b ON a.s = b.s AND a.t < b.t
          |        JOIN o c ON c.s = a.t AND c.t = b.t),
          |tv AS (SELECT node, count(*) AS t FROM
          |  (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
          |SELECT d.n AS node, d.d, coalesce(tv.t, 0) AS t,
          |  coalesce(tv.t, 0) * 2 AS cc_num, d.d * (d.d - 1) AS cc_den,
          |  round(CAST(coalesce(tv.t, 0) * 2 AS DOUBLE)
          |    / (d.d * (d.d - 1)), 9) AS cc
          |FROM deg0 d LEFT JOIN tv ON d.n = tv.node
          |WHERE d.d >= 2
          |ORDER BY t DESC, node LIMIT 20""".stripMargin),
      doc = "local clustering coefficients from degree-ordered triangle counts: exact 2t/d(d-1) rationals, top-20"))
}
