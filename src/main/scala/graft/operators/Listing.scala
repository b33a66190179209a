package graft.operators

import graft.functions.PathFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hierarchical listing / search over the `objects` relation — the engine's
  * core operator family (SURVEY §3.1, reference
  * src/storage/object.ts:619-721 + migrations/tenant/0050-search-v2-optimised.sql).
  *
  * Spark-first shape: `filter(prefix, cursor) → coalesce(1) → entry →
  * aggregate → orderBy → limit`, one job of one task ([[entries]]). The
  * reference's hybrid skip-scan (O(k·log n) index seeks) exists because
  * Postgres reads heap pages; here predicate pushdown prunes row groups and
  * pages on `bucket_id`/`name` min-max stats, and the rows left are read
  * once, with no shuffle. Trade-off: a listing is single-task, so a root
  * listing of a huge bucket runs on one thread, as one Postgres backend
  * running 0050 does.
  */
object Listing {

  /** One row per listing entry of `scoped`, in one pass: a row under a
    * folder maps to `folder(cp)` (`cp` its common prefix), any other row to
    * its own key, grouped by (entry `name`, `is_folder`) so a file named
    * like an rtrimmed folder (`A/123` beside `A/123/x`) stays its own row.
    * `aggs` may read `cp`, NULL on a file's row ([[fileOnly]]).
    * `coalesce(1)` adds no shuffle and already meets the aggregate's
    * clustering requirement, so Catalyst plans no Exchange: the listing and
    * the sort or top-k above it are one job, one stage and one task. */
  private def entries(scoped: DataFrame, cp: Column, folder: Column => Column,
                      aggs: Column*): DataFrame =
    scoped.coalesce(1)
      .withColumn("cp", cp)
      .groupBy(coalesce(folder(col("cp")), col("name")).as("name"),
        col("cp").isNotNull.as("is_folder"))
      .agg(aggs.head, aggs.tail: _*)

  /** A file's own `c` in an [[entries]] aggregate; NULL on a folder row
    * (reference 0027:29-36, object.ts:663-667). */
  private def fileOnly(c: String): Column = min(when(col("cp").isNull, col(c))).as(c)

  /** ListObjectsV2 (S3 semantics, reference s3-handler.ts:204-276 +
    * storage.search_v2 0050:598-672): delimiter collapse into common
    * prefixes, byte-ordered keyset pagination via `startAfter`, page cap.
    *
    * Scale notes: `limit` caps at 1000 (s3-handler.ts:219) so the result is
    * tiny; everything before the limit is one scan of only the keys under
    * `prefix` past the cursor (pushed-down filters) into one aggregate, in
    * one task with no shuffle ([[entries]]).
    */
  def listObjectsV2(objects: DataFrame, bucket: String, prefix: String,
                    delimiter: Option[String] = Some("/"),
                    startAfter: Option[String] = None,
                    maxKeys: Int = 1000): DataFrame = {
    val cap = math.min(maxKeys, 1000)
    val scoped = objects
      .filter(col("bucket_id") === bucket && hasPrefix(col("name"), prefix))
      .filter(startAfter.map(t => col("name") > lit(t)).getOrElse(lit(true)))
    delimiter match {
      case Some(d) =>
        entries(scoped, commonPrefix(col("name"), prefix, d), identity,
          fileOnly("size"), fileOnly("created_at"))
          .orderBy(col("name")).limit(cap)
      case None =>
        scoped.select(col("name"), lit(false).as("is_folder"), col("size"),
          col("created_at")).orderBy(col("name")).limit(cap)
    }
  }

  /** Legacy `storage.search` (0002:131-147 via 0050:327+): case-insensitive
    * prefix match, sorted by lower(name) byte-order, OFFSET pagination. */
  def searchLegacy(objects: DataFrame, bucket: String, prefix: String,
                   limit: Int = 100, offset: Int = 0): DataFrame = {
    val cap = math.min(limit, 1500)
    val scoped = objects.filter(col("bucket_id") === bucket &&
      hasPrefixCI(col("name"), prefix))
    entries(scoped, commonPrefix(col("name"), prefix, "/"), identity,
      fileOnly("size"), fileOnly("created_at"))
      .orderBy(lower(col("name")), col("name"))
      .offset(offset).limit(cap)
  }

  /** `storage.search_by_timestamp` (0050:676-790, A5): folders aggregate
    * MIN(created_at) as both created/updated; keyset pagination on the
    * ms-truncated (timestamp, name) row value. */
  def searchByTimestamp(objects: DataFrame, bucket: String, prefix: String,
                        after: Option[(String, String)] = None,
                        limit: Int = 100): DataFrame = {
    val cap = math.min(limit, 1500)
    val scoped = objects.filter(col("bucket_id") === bucket &&
      hasPrefix(col("name"), prefix))
    val listed = entries(scoped, commonPrefix(col("name"), prefix, "/"), identity,
      min(col("created_at")).as("created_at"))
    val paged = after match {
      case Some((ts, tok)) =>
        // cursor timestamp parses in the session tz (UTC) — never via
        // java.sql.Timestamp, whose valueOf uses the JVM default tz
        listed.filter(keysetAfter(col("created_at"), col("name"),
          to_timestamp(lit(ts)), lit(tok)))
      case None => listed
    }
    paged.orderBy(truncMs(col("created_at")), col("name")).limit(cap)
  }

  /** Whitelisted dynamic sort (O3, 0023:22-42 / pg.ts:616-625): sortColumn ∈
    * {name, updated_at, created_at}, else default name asc; name is always the
    * tiebreak (O2).
    *
    * `after` is the O5 keyset cursor on the DYNAMIC sort key — the reference's
    * `(sortBy.after, nextToken)` pair (pg.ts:633-651): the page predicate is
    * the row value `ROW(date_trunc(ms, sortCol), name) >/< ROW(after, token)`
    * with the operator following the sort order, so "sort by modified,
    * page 2" stays an index-range scan, never OFFSET. An empty after-value
    * coalesces to epoch exactly as the reference's
    * `COALESCE(NULLIF($n,'')::timestamptz, 'epoch')`. */
  def sortedListing(objects: DataFrame, bucket: String, prefix: String,
                    sortColumn: String, sortOrder: String, limit: Int,
                    after: Option[(String, String)] = None): DataFrame = {
    val colName = sortColumn match {
      case "updated_at" | "created_at" | "last_accessed_at" => sortColumn
      case _ => "name"
    }
    val key: Column =
      if (colName == "name") col("name") else truncMs(col(colName))
    val desc = sortOrder.toLowerCase == "desc"
    val (k1, k2) =
      if (desc) (key.desc, col("name").desc) else (key.asc, col("name").asc)
    val scoped = objects
      .filter(col("bucket_id") === bucket && hasPrefix(col("name"), prefix))
    val paged = after match {
      case Some((av, tok)) if colName != "name" =>
        val aTs = to_timestamp(lit(if (av.isEmpty) "1970-01-01 00:00:00" else av))
        scoped.filter(
          if (desc) keysetBefore(col(colName), col("name"), aTs, lit(tok))
          else keysetAfter(col(colName), col("name"), aTs, lit(tok)))
      case Some((_, tok)) =>
        scoped.filter(if (desc) col("name") < tok else col("name") > tok)
      case None => scoped
    }
    paged.orderBy(k1, k2).limit(math.min(limit, 1500))
  }

  /** Sorted list-v2 WITH delimiter collapse (0050:694-790 `search_v2` sorted
    * variant): folders aggregate MIN(child created_at) as BOTH timestamps
    * ("to match the old prefixes table behavior", 0050:726) and are rtrim'd
    * of the delimiter; the combined relation sorts on
    * `COALESCE(date_trunc(ms, sortCol), epoch)` with byte-ordered name
    * tiebreak, and the O5 cursor is the same row-value predicate as
    * [[sortedListing]]. One aggregate + top-k in one task — the
    * listObjectsV2 plan shape with a sort key swapped in. A folder and a
    * file of the same name (`A/123` beside `A/123/x`) tie on name; the
    * folder sorts first ascending and last descending. */
  def sortedListingV2(objects: DataFrame, bucket: String, prefix: String,
                      sortColumn: String, sortOrder: String, limit: Int,
                      after: Option[(String, String)] = None): DataFrame = {
    val colName = sortColumn match {
      case "updated_at" | "created_at" | "last_accessed_at" => sortColumn
      case _ => "name"
    }
    val scoped = objects
      .filter(col("bucket_id") === bucket && hasPrefix(col("name"), prefix))
    // the sort column must survive the aggregate: folders carry NULL
    // last_accessed_at (0050:733 — epoch-coalesced by the sort key), files
    // carry theirs when the relation has one
    val laa =
      if (objects.columns.contains("last_accessed_at")) fileOnly("last_accessed_at")
      else lit(null).cast("timestamp").as("last_accessed_at")
    val combined = entries(scoped, commonPrefix(col("name"), prefix, "/"), rtrim(_, "/"),
        min(col("created_at")).as("created_at"), fileOnly("updated_at"), laa)
      .select(col("name"), col("is_folder").as("is_prefix"),
        when(col("is_folder"), col("created_at")).otherwise(col("updated_at"))
          .as("updated_at"),
        col("created_at"), col("last_accessed_at"))
    val epoch = to_timestamp(lit("1970-01-01 00:00:00"))
    val key: Column =
      if (colName == "name") col("name")
      else coalesce(truncMs(col(colName)), epoch)
    val desc = sortOrder.toLowerCase == "desc"
    val paged = after match {
      case Some((av, tok)) if colName != "name" =>
        val aTs = to_timestamp(lit(if (av.isEmpty) "1970-01-01 00:00:00" else av))
        combined.filter(
          if (desc) keysetBefore(coalesce(col(colName), epoch), col("name"), aTs, lit(tok))
          else keysetAfter(coalesce(col(colName), epoch), col("name"), aTs, lit(tok)))
      case Some((_, tok)) =>
        combined.filter(if (desc) col("name") < tok else col("name") > tok)
      case None => combined
    }
    val order =
      if (desc) Seq(key.desc, col("name").desc, col("is_prefix").asc)
      else Seq(key.asc, col("name").asc, col("is_prefix").desc)
    paged.orderBy(order: _*).limit(math.min(limit, 1500))
      .select(col("name"), col("is_prefix"), col("updated_at"), col("created_at"))
  }

  /** listBuckets (pg.ts:746-789): optional contains-search on `name` with
    * escaped-LIKE semantics — the reference wraps the user term in
    * `%escapeLike(term)%` (pg.ts:753-756), so `%`/`_` inside the term match
    * LITERALLY; in Spark that is a plain case-insensitive `contains`
    * ([[ilikeContains]]) — no pattern compilation at all. Whitelisted sort +
    * LIMIT/OFFSET pagination as in the reference; `id` tiebreaks for a total
    * order. Bucket catalogs are small dims (the relation broadcast-joins
    * everywhere else), so OFFSET here is not a scale concern. */
  def listBuckets(buckets: DataFrame, search: Option[String] = None,
                  sortColumn: String = "name", sortOrder: String = "asc",
                  limit: Int = 100, offset: Int = 0): DataFrame = {
    val filtered = search.filter(_.nonEmpty)
      .map(t => buckets.filter(ilikeContains(col("name"), t)))
      .getOrElse(buckets)
    val sortKey = sortColumn match {
      case "id" | "name" | "created_at" => col(sortColumn)
      case _ => col("name")
    }
    val ordered = sortOrder.toLowerCase match {
      case "desc" => filtered.orderBy(sortKey.desc, col("id").desc)
      case _ => filtered.orderBy(sortKey.asc, col("id").asc)
    }
    ordered.offset(offset).limit(limit)
  }

  /** W2 skip-scan peek, declarative twin: first-key-per-folder under a
    * prefix. The reference's skip-scan loop (0050:228-316) enumerates
    * folders by repeated `ORDER BY name COLLATE "C" LIMIT 1` seeks — each
    * iteration peeks the smallest name past an advancing lower bound and
    * jumps over the whole subtree. What the loop RETURNS is exactly this
    * relation: each folder with the peeked (minimum) key beneath it — plus
    * `n_entries`, which the index-seek version can't see without heap reads
    * (its O(k·log n) win is precisely NOT counting). The [[entries]] shape:
    * the pruned rows are read by one task into one aggregate and sorted in
    * place, with no shuffle. [[skipScanFolders]] replays the reference's
    * actual seek loop; `DmlOpsSpec` pins loop ≡ relation. */
  def foldersPeek(objects: DataFrame, bucket: String, prefix: String): DataFrame =
    objects
      .filter(col("bucket_id") === bucket && hasPrefix(col("name"), prefix))
      .coalesce(1)
      .withColumn("cp", commonPrefix(col("name"), prefix, "/"))
      .filter(col("cp").isNotNull)
      .groupBy(col("cp").as("folder"))
      .agg(min(col("name")).as("first_key"), count(lit(1)).as("n_entries"))
      .orderBy(col("folder"))

  /** W2 skip-scan peek, faithful replay of the reference loop
    * (0050:228-316): peek the smallest name above the seek bound; if it
    * opens a folder, emit the folder and seek to the successor of
    * `folder || '/'` (skipping its whole subtree in one jump); if it's a
    * leaf file, advance past the file. O(k) limit-1 Spark jobs for k
    * folders — each an index-seek analog (pushed bucket/name predicates +
    * TakeOrderedAndProject(1)). The batch idiom [[foldersPeek]] beats this
    * whenever k is large; the loop exists for parity with the reference's
    * O(k·log n) plan shape and for listings where k ≪ row count and the
    * relation is name-sorted parquet (row-group min/max stats make each
    * peek touch ~1 row group — the btree-seek replacement, SURVEY §4). */
  def skipScanFolders(objects: DataFrame, bucket: String, prefix: String,
                      maxFolders: Int = 1000): Seq[(String, String)] = {
    val scoped = objects
      .filter(col("bucket_id") === bucket && hasPrefix(col("name"), prefix))
      .select(col("name"))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var lower = prefix // seek bound: next peek is the min name STRICTLY above
    var done = false
    while (!done && out.size < maxFolders) {
      val peek = scoped.filter(col("name") > lit(lower))
        .orderBy(col("name")).limit(1).collect()
      if (peek.isEmpty) done = true
      else {
        val name = peek(0).getString(0)
        val rest = name.substring(prefix.length)
        val slash = rest.indexOf('/')
        if (slash < 0) lower = name // leaf at this level: step past the file
        else {
          val folder = prefix + rest.substring(0, slash + 1)
          out += ((folder, name))
          // jump the subtree: successor('x/') = 'x0' ('/'+1 = '0' in bytes)
          lower = folder.init + (folder.last + 1).toChar
        }
      }
    }
    out.toSeq
  }

  /** O5 continuation-token page: decode → [[sortedListing]] — the wiring the
    * reference does in `ListObjectsV2` when `nextToken` carries a
    * `sortColumnAfter` row-value cursor (pg.ts:633-651, object.ts:676-712). */
  def sortedListingPage(objects: DataFrame, bucket: String, prefix: String,
                        token: String, limit: Int): DataFrame = {
    val c = graft.functions.TokenCodec.decode(token)
    val after =
      if (c.startAfter.isEmpty && c.sortColumnAfter.isEmpty) None
      else Some((c.sortColumnAfter.getOrElse(""), c.startAfter))
    sortedListing(objects, bucket, prefix, c.sortColumn, c.sortOrder, limit, after)
  }
}
