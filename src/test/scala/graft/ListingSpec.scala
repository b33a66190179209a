package graft

import graft.functions.TokenCodec
import graft.operators.Listing
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Listing semantics against a reference-shaped fixture: delimiter collapse,
  * folder-row NULL shape, cursors, caps — mirrors the behaviors inventoried
  * in the reference's acceptance/API_COVERAGE.md (listing continuation /
  * start-after / delimiter). Then the plan shape every delimiter listing
  * keeps (one job, no shuffle), and the listings against plain Scala models
  * of their semantics over random key sets.
  */
class ListingSpec extends SparkTestBase {
  import ListingSpec.Obj
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

  // ── plan shape: a delimiter listing is one Spark job with no shuffle ──

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc) // earlier jobs' events must not reach it
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("delimiter listings and foldersPeek plan no shuffle and run one Spark job") {
    val objects = Tables.objects(spark, sfDir)
    // a key inside one of R/'s folders, so the page starts mid-folder
    val cursor = Listing.listObjectsV2(objects, "F", "R/", None, None, 1000)
      .collect().map(_.getString(0)).find(_.indexOf('/', 2) > 0).get
    val listings: Seq[(String, DataFrame)] = Seq(
      "listObjectsV2" -> Listing.listObjectsV2(objects, "F", "R/", Some("/"), None, 100),
      "listObjectsV2 startAfter" ->
        Listing.listObjectsV2(objects, "F", "R/", Some("/"), Some(cursor), 100),
      "searchLegacy" -> Listing.searchLegacy(objects, "F", "r/", 50, 20),
      "sortedListingV2 by name" ->
        Listing.sortedListingV2(objects, "F", "N/", "name", "asc", 100),
      "sortedListingV2 by created_at" ->
        Listing.sortedListingV2(objects, "F", "N/", "created_at", "desc", 100),
      "searchByTimestamp" -> Listing.searchByTimestamp(objects, "F", "R/",
        Some(("1996-06-01 00:00:00", "R/")), 150),
      "foldersPeek" -> Listing.foldersPeek(objects, "F", "R/"))
    for ((what, df) <- listings) {
      val jobs = jobsOf(df.collect())
      // descends into AQE's final plan and its query stages
      val plan = df.queryExecution.executedPlan
      assert(new AdaptiveSparkPlanHelper {}.collect(plan) { case x: ShuffleExchangeLike => x }
        .isEmpty, s"$what plans a shuffle:\n$plan")
      assert(jobs == 1, s"$what ran $jobs Spark jobs:\n$plan")
    }
  }

  // ── the listings against brute-force models over random key sets ──

  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def truncMs(us: Long): Long = Math.floorDiv(us, 1000L) * 1000L
  /** A cursor timestamp as the session (UTC) parses it. */
  private def cursorTs(us: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .format(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC))

  private def frame(objs: Seq[Obj]): DataFrame = {
    def ts(us: Long) = java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000))
    objs.map(o => (o.bucket, o.name, o.size, ts(o.created), ts(o.updated)))
      .toDF("bucket_id", "name", "size", "created_at", "updated_at")
  }

  private def cpOf(name: String, prefix: String, d: String): Option[String] = {
    val i = name.indexOf(d, prefix.length)
    if (i >= 0) Some(name.substring(0, i + d.length)) else None
  }

  /** (name, is_folder, size, created µs) rows, folders with NULL metadata. */
  private type Entry = (String, Boolean, Option[Long], Option[Long])
  private def modelEntries(scoped: Seq[Obj], prefix: String, d: String): Seq[Entry] = {
    val (under, files) = scoped.partition(o => cpOf(o.name, prefix, d).isDefined)
    under.flatMap(o => cpOf(o.name, prefix, d)).distinct.map(f => (f, true, None, None)) ++
      files.map(o => (o.name, false, Some(o.size), Some(o.created)))
  }
  private def entryRow(r: Row): Entry = (r.getString(0), r.getBoolean(1),
    if (r.isNullAt(2)) None else Some(r.getLong(2)),
    if (r.isNullAt(3)) None else Some(micros(r.getTimestamp(3))))

  private def modelListV2(objs: Seq[Obj], b: String, prefix: String, d: String,
                          after: Option[String], maxKeys: Int): Seq[Entry] =
    modelEntries(objs.filter(o => o.bucket == b && o.name.startsWith(prefix) &&
      after.forall(o.name > _)), prefix, d).sortBy(_._1).take(math.min(maxKeys, 1000))

  private def modelSearchLegacy(objs: Seq[Obj], b: String, prefix: String,
                                limit: Int, offset: Int): Seq[Entry] =
    modelEntries(objs.filter(o => o.bucket == b &&
      o.name.toLowerCase.startsWith(prefix.toLowerCase)), prefix, "/")
      .sortBy(e => (e._1.toLowerCase, e._1)).slice(offset, offset + math.min(limit, 1500))

  /** Folders and files of one level with their (updated, created) µs: a
    * folder takes MIN(created_at) of its keys as both. */
  private def modelTimed(objs: Seq[Obj], b: String, prefix: String,
                         folder: String => String): Seq[(String, Boolean, Long, Long)] = {
    val scoped = objs.filter(o => o.bucket == b && o.name.startsWith(prefix))
    val (under, files) = scoped.partition(o => cpOf(o.name, prefix, "/").isDefined)
    under.groupBy(o => folder(cpOf(o.name, prefix, "/").get)).toSeq.map { case (f, os) =>
      val c = os.map(_.created).min
      (f, true, c, c)
    } ++ files.map(o => (o.name, false, o.updated, o.created))
  }

  private def modelSearchByTimestamp(objs: Seq[Obj], b: String, prefix: String,
                                     after: Option[(Long, String)], limit: Int)
      : Seq[(String, Boolean, Long)] =
    modelTimed(objs, b, prefix, identity)
      .map(e => (e._1, e._2, e._4))
      .filter(e => after.forall { case (a, tok) =>
        truncMs(e._3) > a || (truncMs(e._3) == a && e._1 > tok) })
      .sortBy(e => (truncMs(e._3), e._1)).take(math.min(limit, 1500))

  private def modelSortedV2(objs: Seq[Obj], b: String, prefix: String, sortCol: String,
                            desc: Boolean, after: Option[(Long, String)], limit: Int)
      : Seq[(String, Boolean, Long, Long)] = {
    val all = modelTimed(objs, b, prefix, _.reverse.dropWhile(_ == '/').reverse)
    def key(e: (String, Boolean, Long, Long)): Long =
      if (sortCol == "name") 0L else truncMs(if (sortCol == "created_at") e._4 else e._3)
    // a name cursor carries a = 0, the key of every row sorted by name
    val paged = all.filter(e => after.forall { case (a, tok) =>
      val k = key(e)
      if (desc) k < a || (k == a && e._1 < tok) else k > a || (k == a && e._1 > tok) })
    // ascending: key, name, then the folder before a file of the same name
    val asc = paged.sortBy(e => (key(e), e._1, !e._2))
    (if (desc) asc.reverse else asc).take(math.min(limit, 1500))
  }

  /** Random buckets over a small alphabet, so keys ending in the delimiter,
    * `a/b` beside `a/b/c`, mixed case and equal milliseconds are common. */
  private def randomObjects(seed: Long): Seq[Obj] = {
    val r = new scala.util.Random(seed)
    val segs = Seq("a", "b", "A", "ab", "B", "a-b", "")
    def key(): String = {
      val k = Seq.fill(1 + r.nextInt(3))(segs(r.nextInt(segs.length))).mkString("/")
      if (r.nextInt(5) == 0) k + "/" else k
    }
    val t0 = 1577836800000000L // 2020-01-01 00:00:00 UTC
    for {
      b <- Seq("b1", "b2")
      name <- Seq.fill(10 + r.nextInt(40))(key()).filter(_.nonEmpty).distinct
    } yield {
      val created = t0 + r.nextInt(4) * 1000L + r.nextInt(1000)
      Obj(b, name, r.nextInt(1000).toLong, created, created + r.nextInt(3) * 1000L)
    }
  }

  private val fixedObjects: Seq[Obj] = {
    val t0 = 1577836800000000L
    Seq("a/", "a/b", "a/b/", "a/b/c", "a/b-c", "a//x", "A/b", "ab", "ab/c", "b", "b-c")
      .zipWithIndex.map { case (n, i) => Obj("b1", n, i.toLong, t0 + (i % 3) * 1000L + i, t0 + i) }
  }

  test("listObjectsV2 and searchLegacy match the model over random key sets") {
    for ((objs, seed) <- (fixedObjects +: (1L to 2L).map(randomObjects)).zipWithIndex) {
      val df = frame(objs)
      val r = new scala.util.Random(seed.toLong)
      val names = objs.filter(_.bucket == "b1").map(_.name)
      def pick(): String = names(r.nextInt(names.length))
      for (prefix <- Seq("", "a", "a/", "a/b", "A", pick().take(2)); d <- Seq("/", "-")) {
        val inFolder = names.filter(n => n.startsWith(prefix) && cpOf(n, prefix, d).isDefined)
        val afters = None +: inFolder.headOption.map(Some(_)).toSeq :+ Some(prefix + "a/a")
        for (after <- afters; maxKeys <- Seq(1, 1000)) {
          val got = Listing.listObjectsV2(df, "b1", prefix, Some(d), after, maxKeys)
            .collect().map(entryRow).toSeq
          assert(got == modelListV2(objs, "b1", prefix, d, after, maxKeys),
            s"listObjectsV2 set=$seed prefix='$prefix' d='$d' after=$after maxKeys=$maxKeys")
        }
      }
      for (prefix <- Seq("", "a", "A/", "a/b"); offset <- Seq(0, 2); limit <- Seq(1, 1000)) {
        val got = Listing.searchLegacy(df, "b1", prefix, limit, offset)
          .collect().map(entryRow).toSeq
        assert(got == modelSearchLegacy(objs, "b1", prefix, limit, offset),
          s"searchLegacy set=$seed prefix='$prefix' offset=$offset limit=$limit")
      }
    }
  }

  test("sortedListingV2 and searchByTimestamp match the model over random key sets") {
    for ((objs, seed) <- (fixedObjects +: (5L to 6L).map(randomObjects)).zipWithIndex) {
      val df = frame(objs)
      val b1 = objs.filter(_.bucket == "b1")
      // cursors on an existing (ms-truncated timestamp, name), so equal
      // milliseconds leave only the name to separate rows
      val cursors = None +: b1.take(2).map(o => Some((truncMs(o.created), o.name)))
      for (prefix <- Seq("", "a", "a/"); cur <- cursors) {
        for (limit <- Seq(1, 1000)) {
          val got = Listing.searchByTimestamp(df, "b1", prefix,
            cur.map { case (us, n) => (cursorTs(us), n) }, limit)
            .collect().map(x => (x.getString(0), x.getBoolean(1), micros(x.getTimestamp(2)))).toSeq
          assert(got == modelSearchByTimestamp(objs, "b1", prefix, cur, limit),
            s"searchByTimestamp set=$seed prefix='$prefix' cursor=$cur limit=$limit")
        }
        for (sortCol <- Seq("name", "created_at", "updated_at"); desc <- Seq(false, true);
             limit <- if (cur.isEmpty) Seq(1, 1000) else Seq(1000)) {
          val after = cur.map { case (us, n) => (if (sortCol == "name") "" else cursorTs(us), n) }
          val got = Listing.sortedListingV2(df, "b1", prefix, sortCol,
            if (desc) "desc" else "asc", limit, after)
            .collect().map(x => (x.getString(0), x.getBoolean(1),
              micros(x.getTimestamp(2)), micros(x.getTimestamp(3)))).toSeq
          val want = modelSortedV2(objs, "b1", prefix, sortCol, desc,
            cur.map { case (us, n) => (if (sortCol == "name") 0L else us, n) }, limit)
          assert(got == want,
            s"sortedListingV2 set=$seed prefix='$prefix' $sortCol desc=$desc cursor=$cur limit=$limit")
        }
      }
    }
  }
}

object ListingSpec {
  /** One key of the listing models: bucket, name, size and µs timestamps. */
  final case class Obj(bucket: String, name: String, size: Long, created: Long, updated: Long)
}
