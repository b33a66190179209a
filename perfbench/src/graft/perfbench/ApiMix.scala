package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{IcebergCatalog, Listing, Multipart, ObjectStore, Scanner}

/** The fixtures api_mix reads, resolved once per set-up like a server's table
  * handles: `objects` and multipart `parts` (stored layouts built by
  * `Tables`), the Iceberg catalog, and a seeded pool of existing keys the
  * clients draw requests from. */
final class ApiFixture(spark: SparkSession, dir: String, val seed: Long,
                       build: (String, => DataFrame) => DataFrame) {
  val objects: DataFrame = build("objects", Tables.objects(spark, dir))
  val parts: DataFrame = build("parts", Tables.multipartParts(spark, dir))
  val catalog: DataFrame = build("iceberg_tables", IcebergCatalog.tables(spark, dir))

  /** ~1/64 of the keys per bucket, name-sorted: the existing keys requests
    * name (lookups, updates, deletes, copy/move sources). */
  val pool: Map[String, Array[String]] = objects
    .filter(pmod(xxhash64(col("name"), lit(seed)), lit(64)) === 0)
    .select(col("bucket_id"), col("name")).collect()
    .groupBy(_.getString(0)).map { case (b, rs) => b -> rs.map(_.getString(1)).sorted }
  val buckets: Array[String] = pool.keys.toArray.sorted

  /** Listing prefixes ranked for a Zipf draw: root, the three flag folders,
    * then order folders and bare order prefixes in a seeded order. */
  val prefixes: Array[String] = {
    val deep = pool.values.flatten.toArray.sorted.flatMap { n =>
      val i = n.indexOf('/')
      val j = n.indexOf('/', i + 1)
      val k = n.indexOf('-', i + 1)
      Seq(if (j > 0) n.substring(0, j + 1) else n.substring(0, k),
        n.substring(0, math.min(i + 3, n.length)))
    }.distinct
    Array("", "A/", "N/", "R/") ++ Check.shuffle(deep.toSeq, Inputs.rng(seed, 20, 0))
  }
  private val zipfCdf: Array[Double] = {
    val w = prefixes.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def zipfPrefix(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    prefixes(math.min(if (i >= 0) i else -i - 1, prefixes.length - 1))
  }

  /** Built on first use, which is after the timed phase. */
  lazy val oracle = new ApiOracle(objects, parts, catalog)
}

/** Brute-force reference for api_mix: the fixture rows in name-sorted arrays
  * and the listing semantics of `QueriesCore.listV2Sql` re-implemented over
  * them, plus expected (row count, xor of row hashes) of committed states. */
final class ApiOracle(objects: DataFrame, parts: DataFrame, catalog: DataFrame) {
  final class Bucket(val names: Array[String], val sizes: Array[Long],
                     val created: Array[Long], val updated: Array[Long],
                     val versions: Array[String])
  val buckets: Map[String, Bucket] = objects
    .select("bucket_id", "name", "size", "created_at", "updated_at", "version")
    .collect().groupBy(_.getString(0)).map { case (b, rs0) =>
      val rs = rs0.sortBy(_.getString(1))
      b -> new Bucket(rs.map(_.getString(1)), rs.map(_.getLong(2)),
        rs.map(r => Check.micros(r.getTimestamp(3))),
        rs.map(r => Check.micros(r.getTimestamp(4))), rs.map(_.getString(5)))
    }
  private val empty = new Bucket(Array(), Array(), Array(), Array(), Array())
  def bucket(b: String): Bucket = buckets.getOrElse(b, empty)

  val tables: Map[String, String] =
    catalog.select("id", "location").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def lowerBound(a: Array[String], k: String): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m).compareTo(k) < 0) lo = m + 1 else hi = m }
    lo
  }

  /** Indices of keys under `prefix` (byte order = String order for ASCII). */
  private def range(b: Bucket, prefix: String): Range = {
    val lo = lowerBound(b.names, prefix)
    var hi = lo
    while (hi < b.names.length && b.names(hi).startsWith(prefix)) hi += 1
    lo until hi
  }
  private def cp(name: String, prefix: String): Option[String] = {
    val p = name.indexOf('/', prefix.length)
    if (p >= 0) Some(name.substring(0, p + 1)) else None
  }

  /** (name, is_folder, size, created µs) rows of listObjectsV2. */
  def listV2(bucket: String, prefix: String, startAfter: Option[String], cap: Int)
      : Seq[(String, Boolean, Option[Long], Option[Long])] = {
    val b = this.bucket(bucket)
    val rows = range(b, prefix).filter(i => startAfter.forall(b.names(i) > _))
      .map(i => (i, cp(b.names(i), prefix)))
    val folders = rows.flatMap(_._2).distinct.map(f => (f, true, None, None))
    val files = rows.filter(_._2.isEmpty).map { case (i, _) =>
      (b.names(i), false, Some(b.sizes(i)), Some(b.created(i)))
    }
    (folders ++ files).sortBy(_._1).take(cap)
  }

  /** Legacy search: case-insensitive prefix, ordered by (lower(name), name). */
  def searchLegacy(bucket: String, prefix: String, limit: Int, offset: Int)
      : Seq[(String, Boolean, Option[Long], Option[Long])] = {
    val b = this.bucket(bucket)
    val hits = b.names.indices.filter(i => b.names(i).regionMatches(true, 0, prefix, 0, prefix.length))
    val withCp = hits.map(i => (i, cp(b.names(i), prefix)))
    val folders = withCp.flatMap(_._2).distinct.map(f => (f, true, Option.empty[Long], Option.empty[Long]))
    val files = withCp.filter(_._2.isEmpty).map { case (i, _) =>
      (b.names(i), false, Option(b.sizes(i)), Option(b.created(i)))
    }
    (folders ++ files).sortBy(r => (r._1.toLowerCase, r._1)).slice(offset, offset + limit)
  }

  /** search_v2 sorted variant: (name, is_prefix, updated µs, created µs). */
  def sortedV2(bucket: String, prefix: String, sortCol: String, desc: Boolean, limit: Int)
      : Seq[(String, Boolean, Long, Long)] = {
    val b = this.bucket(bucket)
    val withCp = range(b, prefix).map(i => (i, cp(b.names(i), prefix)))
    val folders = withCp.filter(_._2.isDefined).groupBy(x => x._2.get.replaceAll("/+$", ""))
      .map { case (n, xs) => val c = xs.map(x => b.created(x._1)).min; (n, true, c, c) }
    val files = withCp.filter(_._2.isEmpty).map { case (i, _) =>
      (b.names(i), false, b.updated(i), b.created(i))
    }
    val all = (folders.toSeq ++ files)
    val key = (r: (String, Boolean, Long, Long)) =>
      if (sortCol == "name") (0L, r._1) else ((if (sortCol == "created_at") r._4 else r._3) / 1000 * 1000, r._1)
    val asc = all.sortWith { (x, y) =>
      val (kx, ky) = (key(x), key(y))
      if (kx._1 != ky._1) kx._1 < ky._1 else kx._2 < ky._2
    }
    (if (desc) asc.reverse else asc).take(limit)
  }

  def find(keys: Seq[String]): Seq[(String, String)] = {
    val ks = keys.toSet
    buckets.toSeq.flatMap { case (bn, b) => ks.toSeq.flatMap { k =>
      var i = lowerBound(b.names, k)
      val out = Seq.newBuilder[(String, String)]
      while (i < b.names.length && b.names(i) == k) { out += ((bn, k)); i += 1 }
      out.result()
    } }.sorted
  }

  /** All parts of one upload, sorted here rather than by the engine. */
  def listParts(upload: String, after: Int): Seq[(Int, Long)] =
    parts.filter(col("upload_id") === upload).select("part_number", "size").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted.filter(_._1 > after).take(1000)

  /** Expected (rows, xor of xxhash64(name, version)) of a bucket after
    * replacing the rows named in `drop` and adding `add` (name, version). */
  def stateAfter(bucket: String, drop: Set[String], add: Seq[(String, String)]): (Long, Long) = {
    val b = this.bucket(bucket)
    var n = 0L; var x = 0L
    b.names.indices.foreach { i =>
      if (!drop.contains(b.names(i))) { n += 1; x ^= Check.hash(b.names(i), b.versions(i)) }
    }
    add.foreach { case (k, v) => n += 1; x ^= Check.hash(k, v) }
    (n, x)
  }
  def version(bucket: String, name: String): String = {
    val b = this.bucket(bucket)
    b.versions(lowerBound(b.names, name))
  }
}

/** One api_mix client: 80 % reads (listObjectsV2 at Zipf-popular prefixes,
  * half of those after a full page continuing it; legacy and sorted search
  * pages; key lookups; ListParts) and 20 % writes (upsert / delete batches
  * of 1-500 keys, move, copy, Iceberg commits), each write persisted as a
  * copy-on-write commit of the touched bucket in the fixture's layout. */
final class ApiClient(spark: SparkSession, fx: ApiFixture, client: Int,
                      commits: String) extends Client {
  private val r = Inputs.rng(fx.seed, 100 + client, 0)
  private var n = 0
  /** (bucket, prefix, maxKeys, last key) of a full listing page. */
  @volatile private var nextPage: Option[(String, String, Int, String)] = None

  private def bucket() = fx.buckets(r.nextInt(fx.buckets.length))
  private def poolKey(b: String) = fx.pool(b)(r.nextInt(fx.pool(b).length))
  private def batchSize(max: Int) = 1 + (math.pow(r.nextDouble(), 2) * (max - 1)).toInt
  private def distinctKeys(b: String, k: Int): Seq[String] = {
    val s = scala.collection.mutable.LinkedHashSet[String]()
    while (s.size < math.min(k, fx.pool(b).length)) s += poolKey(b)
    s.toSeq
  }
  private def rows(df: DataFrame): Array[Row] = df.collect()
  private def same[A](got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None
    else Some(s"${got.length} rows vs ${want.length} expected; first diff " +
      got.zipAll(want, null, null).find(x => x._1 != x._2))

  /** Each cycle of ten requests sends exactly 8 reads and 2 writes, in a
    * seeded order, so every run has the same mix however short it is. */
  private val cycle = Seq("list", "list", "list", "list", "search", "sorted", "find", "parts",
    "write", "write")
  private var slots: List[String] = Nil
  /** Writes follow a fixed cycle from a seeded start: 3 upserts, 2 deletes,
    * 2 moves, 2 copies and 1 Iceberg commit in every 10. */
  private val writeCycle = Seq("upsert", "delete", "upsert", "move", "delete", "copy",
    "upsert", "move", "copy", "iceberg")
  private var writes = r.nextInt(writeCycle.length)

  def warmUp(): Seq[Op] = Seq(listV2(), findObjects())

  def next(): (Op, Boolean) = {
    n += 1
    if (slots.isEmpty) slots = Check.shuffle(cycle, r).toList
    val slot = slots.head
    slots = slots.tail
    val check = r.nextInt(5) == 0
    val op = slot match {
      case "list" => listV2()
      case "search" => searchLegacy()
      case "sorted" => sortedV2()
      case "find" => findObjects()
      case "parts" => listParts()
      case _ =>
        writes += 1
        writeCycle(writes % writeCycle.length) match {
          case "upsert" => upsert()
          case "delete" => delete()
          case "move" => moveOrCopy(move = true)
          case "copy" => moveOrCopy(move = false)
          case _ => icebergCommit()
        }
    }
    (op, check)
  }

  private def listRow(x: Row) = (x.getString(0), x.getBoolean(1),
    if (x.isNullAt(2)) None else Some(x.getLong(2)),
    if (x.isNullAt(3)) None else Some(Check.micros(x.getTimestamp(3))))

  private def listV2(): Op = {
    val cont = nextPage.filter(_ => r.nextBoolean())
    val (b, prefix, maxKeys, after) = cont match {
      case Some((b, p, m, last)) => (b, p, m, Some(last))
      case None => (bucket(), fx.zipfPrefix(r), Array(100, 250, 1000)(r.nextInt(3)), None)
    }
    Op(if (cont.isDefined) "list_v2_page" else "list_v2", write = false,
      () => Listing.listObjectsV2(fx.objects, b, prefix, Some("/"), after, maxKeys),
      df => {
        val rs = rows(df)
        nextPage = if (rs.length == maxKeys) Some((b, prefix, maxKeys, rs.last.getString(0))) else None
        rs
      },
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(listRow),
        fx.oracle.listV2(b, prefix, after, maxKeys)))
  }

  private def searchLegacy(): Op = {
    val (b, prefix, offset) = (bucket(), fx.zipfPrefix(r), 100 * r.nextInt(3))
    Op("search_legacy", write = false,
      () => Listing.searchLegacy(fx.objects, b, prefix, 100, offset), rows,
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(listRow),
        fx.oracle.searchLegacy(b, prefix, 100, offset)))
  }

  private def sortedV2(): Op = {
    val (b, prefix) = (bucket(), fx.zipfPrefix(r))
    val sortCol = if (r.nextBoolean()) "name" else "created_at"
    val desc = r.nextBoolean()
    Op("sorted_v2", write = false,
      () => Listing.sortedListingV2(fx.objects, b, prefix, sortCol,
        if (desc) "desc" else "asc", 100), rows,
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(x => (x.getString(0),
        x.getBoolean(1), Check.micros(x.getTimestamp(2)), Check.micros(x.getTimestamp(3)))),
        fx.oracle.sortedV2(b, prefix, sortCol, desc, 100)))
  }

  private def findObjects(): Op = {
    val b = bucket()
    val keys = distinctKeys(b, batchSize(100)) ++ Seq(s"missing/$client-$n.dat")
    Op("find_objects", write = false,
      () => Scanner.findObjects(fx.objects,
        spark.createDataFrame(keys.map(Row(_)).toList.asJava,
          StructType(Seq(StructField("key", StringType))))),
      df => rows(df.select("bucket_id", "name")),
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(x => (x.getString(0), x.getString(1))).sorted,
        fx.oracle.find(keys)))
  }

  private def listParts(): Op = {
    val k = poolKey(bucket())
    val upload = "upload-" + k.substring(2).takeWhile(c => c != '/' && c != '-')
    val after = r.nextInt(3)
    Op("list_parts", write = false,
      () => Multipart.listParts(fx.parts, upload, after), rows,
      res => same(res.asInstanceOf[Array[Row]].toSeq.map(x => (x.getInt(2), x.getLong(3))),
        fx.oracle.listParts(upload, after)))
  }

  // --- writes: copy-on-write commit of the touched bucket partition ---

  private def commitDir() = s"$commits/c$client-$n"

  /** Persists a bucket's new state in the fixture's layout (partitioned by
    * bucket, name-sorted — `Tables.materialized`). */
  private def persist(state: DataFrame, b: String, dir: String): String = {
    state.filter(col("bucket_id") === b).repartition(col("bucket_id"))
      .sortWithinPartitions(col("name")).write.partitionBy("bucket_id").parquet(dir)
    dir
  }

  private def committed(dir: String, want: (Long, Long)): Option[String] = {
    val got = Check.countXor(spark.read.parquet(dir), xxhash64(col("name"), col("version")))
    if (got == want) None else Some(s"commit (rows, xor) $got, expected $want")
  }

  private val incomingSchema = StructType(Seq("name", "bucket_id", "owner_id", "size",
    "created_at", "updated_at", "version", "mimetype", "user_metadata").map(fx.objects.schema(_)))

  private def upsert(): Op = {
    val b = bucket()
    val k = batchSize(500)
    val existing = distinctKeys(b, k / 2)
    val fresh = (0 until k - existing.length).map(i => s"N/$client-$n/up-$i.dat")
    val version = s"v-$client-$n"
    val ts = new Timestamp(1500000000000L + r.nextInt(1000000) * 1000L)
    val incoming = (existing ++ fresh).map(name => Row(name, b, s"user-$client",
      r.nextInt(100000).toLong, ts, ts, version, "text/plain", """{"tier":"gold"}"""))
    val dir = commitDir()
    Op("upsert", write = true,
      () => ObjectStore.upsert(fx.objects,
        spark.createDataFrame(incoming.toList.asJava, incomingSchema)),
      df => persist(df, b, dir),
      _ => committed(dir, fx.oracle.stateAfter(b, (existing ++ fresh).toSet,
        (existing ++ fresh).map(_ -> version))),
      Some(dir), incoming.map(Check.rowBytes).sum)
  }

  private def delete(): Op = {
    val b = bucket()
    val keys = distinctKeys(b, batchSize(500))
    val dir = commitDir()
    Op("delete", write = true,
      () => ObjectStore.deleteWhere(fx.objects,
        col("bucket_id") === b && col("name").isin(keys: _*))._1,
      df => persist(df, b, dir),
      _ => committed(dir, fx.oracle.stateAfter(b, keys.toSet, Nil)),
      Some(dir), keys.map(_.length.toLong).sum)
  }

  private def moveOrCopy(move: Boolean): Op = {
    val b = bucket()
    val src = poolKey(b)
    val dest = s"$src.${if (move) "moved" else "copy"}-$client-$n"
    val version = s"v-$client-$n"
    val dir = commitDir()
    Op(if (move) "move" else "copy", write = true,
      () => if (move) ObjectStore.moveObject(fx.objects, b, src, dest, version)
            else ObjectStore.copyObject(fx.objects, b, src, dest, version),
      df => persist(df, b, dir),
      _ => committed(dir, fx.oracle.stateAfter(b, if (move) Set(src) else Set.empty,
        Seq(dest -> version))),
      Some(dir), (src.length + dest.length).toLong)
  }

  private def icebergCommit(): Op = {
    val k = 1 + r.nextInt(20)
    val ids = (0 until k).map(_ => 1L + r.nextInt(Inputs.Suppliers)).distinct
    val reqs = ids.map { s =>
      val cur = s"s3://warehouse/${Inputs.supplierNation(fx.seed, s)}/$s/metadata.json"
      val stale = r.nextInt(5) == 0
      (s"tbl-$s", if (stale) cur + ".stale" else cur, s"s3://warehouse/new/$client-$n/$s.json", !stale)
    }
    val dir = commitDir()
    var outcomes: DataFrame = null
    Op("iceberg_commit", write = true,
      () => {
        val req = spark.createDataFrame(reqs.map(x => Row(x._1, x._2, x._3)).toList.asJava,
          StructType(Seq("id", "expected_location", "new_location")
            .map(StructField(_, StringType))))
        val (state, o) = IcebergCatalog.commitTables(fx.catalog, req)
        outcomes = o
        state
      },
      df => { df.write.parquet(dir); outcomes.collect() },
      res => {
        val got = res.asInstanceOf[Array[Row]].map(x => x.getString(0) -> x.getString(1)).toMap
        val want = reqs.map(x => x._1 -> (if (x._4) "committed" else "conflict")).toMap
        val after = fx.oracle.tables ++ reqs.filter(_._4).map(x => x._1 -> x._3)
        val wantState = (after.size.toLong, after.foldLeft(0L)((a, kv) => a ^ Check.hash(kv._1, kv._2)))
        val gotState = Check.countXor(spark.read.parquet(dir), xxhash64(col("id"), col("location")))
        if (got != want) Some(s"outcomes $got, expected $want")
        else if (gotState != wantState) Some(s"catalog (rows, xor) $gotState, expected $wantState")
        else None
      },
      Some(dir), reqs.map(x => (x._1.length + x._2.length + x._3.length).toLong).sum)
  }
}
