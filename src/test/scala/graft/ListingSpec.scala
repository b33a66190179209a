package graft

import graft.functions.TokenCodec
import graft.operators.Listing

/** Listing semantics against a reference-shaped fixture: delimiter collapse,
  * folder-row NULL shape, cursors, caps — mirrors the behaviors inventoried
  * in the reference's acceptance/API_COVERAGE.md (listing continuation /
  * start-after / delimiter).
  */
class ListingSpec extends SparkTestBase {
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2020-06-01 12:00:00.123")
  private def objectsDf = Seq(
    ("b1", "a.txt"), ("b1", "dir/x.txt"), ("b1", "dir/y.txt"),
    ("b1", "dir/sub/z.txt"), ("b1", "dirx"), ("b1", "e/1"), ("b2", "other")
  ).map { case (b, n) => (b, n, 100L, ts) }
    .toDF("bucket_id", "name", "size", "created_at")

  test("delimiter collapse: folders + leaves, byte-ordered") {
    val got = Listing.listObjectsV2(objectsDf, "b1", "", Some("/"), None, 100)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.isNullAt(2)))
    // folder rows carry trailing '/' and NULL metadata (0027:29-36)
    assert(got.toSeq == Seq(
      ("a.txt", false, false), ("dir/", true, true), ("dirx", false, false),
      ("e/", true, true)))
  }

  test("prefix scoping + startAfter cursor") {
    val got = Listing.listObjectsV2(objectsDf, "b1", "dir/", Some("/"), Some("dir/x.txt"), 100)
      .select("name").collect().map(_.getString(0))
    assert(got.toSeq == Seq("dir/y.txt"))
    // 'dir/sub/' folder sorts before the cursor → excluded; before it:
    val all = Listing.listObjectsV2(objectsDf, "b1", "dir/", Some("/"), None, 100)
      .select("name").collect().map(_.getString(0))
    assert(all.toSeq == Seq("dir/sub/", "dir/x.txt", "dir/y.txt"))
  }

  test("maxKeys caps the page (≤1000) and bucket scoping holds") {
    assert(Listing.listObjectsV2(objectsDf, "b1", "", Some("/"), None, 2).count() == 2)
    assert(Listing.listObjectsV2(objectsDf, "b2", "", Some("/"), None, 100)
      .select("name").collect().map(_.getString(0)).toSeq == Seq("other"))
  }

  test("no-delimiter flat listing returns leaves only") {
    val got = Listing.listObjectsV2(objectsDf, "b1", "dir/", None, None, 100)
      .select("name").collect().map(_.getString(0))
    assert(got.toSeq == Seq("dir/sub/z.txt", "dir/x.txt", "dir/y.txt"))
  }

  test("legacy search is case-insensitive and offset-paginated") {
    val df = Seq(("b1", "Dir/A.txt"), ("b1", "dir/b.txt"), ("b1", "DIR/c.txt"))
      .map { case (b, n) => (b, n, 1L, ts) }
      .toDF("bucket_id", "name", "size", "created_at")
    val got = Listing.searchLegacy(df, "b1", "dir/", 10, 0)
      .select("name").collect().map(_.getString(0))
    assert(got.toSeq == Seq("Dir/A.txt", "dir/b.txt", "DIR/c.txt"))
    assert(Listing.searchLegacy(df, "b1", "dir/", 10, 2).count() == 1)
  }

  test("EncodingType=url keys match encodeURIComponent semantics") {
    val df = Seq("dir/my file(1)!*~'.txt", "café/x.dat")
      .map(n => (n, false, 1L, ts)).toDF("name", "is_folder", "size", "created_at")
    val got = graft.operators.S3Response
      .listBucketResult(df, encodingType = Some("url"))
      .select("key").collect().map(_.getString(0)).toSet
    // encodeURIComponent: '/' → %2F, space → %20, é → %C3%A9,
    // and ! ( ) * ~ ' stay literal
    assert(got == Set("dir%2Fmy%20file(1)!*~'.txt", "caf%C3%A9%2Fx.dat"))
  }

  test("continuation token round-trips (O5/F14)") {
    val c = TokenCodec.Cursor("dir/x.txt", "created_at", "desc", Some("2020-06-01"))
    assert(TokenCodec.decode(TokenCodec.encode(c)) == c)
    val (page, next) = TokenCodec.paginate(Seq("a", "b", "c"), 2, (s: String) => s)
    assert(page == Seq("a", "b") && next.isDefined)
    assert(TokenCodec.decode(next.get).startAfter == "b")
    assert(TokenCodec.paginate(Seq("a"), 2, (s: String) => s)._2.isEmpty)
  }

  test("searchByTimestamp composite cursor: ms-truncated row-value comparison (P5/F11)") {
    // a and b share the same millisecond (differ at micros) — the cursor
    // truncates to ms, so only the name tiebreak separates them (0039:43-52)
    val df = Seq(
      ("b1", "a", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.123400")),
      ("b1", "b", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.123900")),
      ("b1", "c", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.124000")),
      ("b1", "d", java.sql.Timestamp.valueOf("2019-12-31 00:00:00.0"))
    ).map { case (b, n, t) => (b, n, 1L, t) }
      .toDF("bucket_id", "name", "size", "created_at")
    val got = Listing.searchByTimestamp(df, "b1", "",
      Some(("2020-01-01 00:00:00.123", "a")), 10)
      .select("name").collect().map(_.getString(0))
    // after (ms .123, "a"): b (same ms, name tiebreak) and c (later ms);
    // a itself and the earlier d are excluded
    assert(got.toSeq == Seq("b", "c"))
  }

  test("searchByTimestamp: folders aggregate MIN(created_at)") {
    val df = Seq(
      ("b1", "d/1", java.sql.Timestamp.valueOf("2020-01-02 00:00:00")),
      ("b1", "d/2", java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      ("b1", "leaf", java.sql.Timestamp.valueOf("2020-01-03 00:00:00"))
    ).map { case (b, n, t) => (b, n, 1L, t) }
      .toDF("bucket_id", "name", "size", "created_at")
    val got = Listing.searchByTimestamp(df, "b1", "", None, 10)
      .collect().map(r => (r.getString(0), r.getTimestamp(2).toString))
    assert(got.toSeq == Seq(
      ("d/", "2020-01-01 00:00:00.0"), ("leaf", "2020-01-03 00:00:00.0")))
  }

  test("listBuckets search: % and _ in the term match literally (escaped-LIKE)") {
    val df = Seq("bkt_a_100%", "bkt_aX100Y", "bkt_b.media", "plain")
      .map(n => (n, n)).toDF("id", "name")
    // unescaped ILIKE '%_100%%' would match bkt_aX100Y ('_' as wildcard);
    // escaped semantics match only the literal substring
    val got = Listing.listBuckets(df, Some("_100%"))
      .select("name").collect().map(_.getString(0))
    assert(got.toSeq == Seq("bkt_a_100%"))
    // case-insensitive: BKT_A lowercases and matches both bkt_a* names
    // (byte-ordered: 'X' < '_')
    val ci = Listing.listBuckets(df, Some("BKT_A"))
      .select("name").collect().map(_.getString(0))
    assert(ci.toSeq == Seq("bkt_aX100Y", "bkt_a_100%"))
  }

  test("O5 dynamic-sort cursor pages tile the DESC listing without gaps/overlap") {
    val objects = Tables.objects(spark, sfDir)
    val full = Listing.sortedListing(objects, "F", "N/", "updated_at", "desc", 300)
      .select("name").collect().map(_.getString(0)).toSeq
    val page1 = Listing.sortedListing(objects, "F", "N/", "updated_at", "desc", 100)
      .select("name", "updated_at").collect()
    val last = page1.last
    val lastTs = (last.getAs[Any]("updated_at") match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case d: java.time.LocalDateTime => d
      case i: java.time.Instant => java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    }).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val token = graft.functions.TokenCodec.encode(graft.functions.TokenCodec.Cursor(
      startAfter = last.getAs[String]("name"), sortColumn = "updated_at",
      sortOrder = "desc", sortColumnAfter = Some(lastTs)))
    val page2 = Listing.sortedListingPage(objects, "F", "N/", token, 100)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(page1.map(_.getString(0)).toSeq == full.take(100))
    assert(page2 == full.slice(100, 200))
  }
}
