package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Multipart, PrefixIndex, Scanner}

/** The relations a scanner pass reads: `objects` (600k keys), the S3-side
  * listing `s3_keys` (~430k keys) and multipart `parts`, all stored layouts
  * built by `Tables`. */
final class OrphanFixture(spark: SparkSession, dir: String,
                          build: (String, => DataFrame) => DataFrame) {
  val objects: DataFrame = build("objects", Tables.objects(spark, dir))
  val s3Keys: DataFrame = build("s3_keys", Tables.s3Keys(spark, dir))
  val parts: DataFrame = build("parts", Tables.multipartParts(spark, dir))
  /** Built on first use, which is after the timed phase. */
  lazy val oracle = new OrphanOracle(objects, s3Keys, parts)
}

/** Hash-set reference for one pass, from the fixture rows. */
final class OrphanOracle(objects: DataFrame, s3Keys: DataFrame, parts: DataFrame) {
  private val obj = objects.select("bucket_id", "name").collect()
    .map(r => (r.getString(0), r.getString(1)))
  private val s3 = s3Keys.select("key", "size").collect().map(r => (r.getString(0), r.getLong(1)))
  private val names = obj.iterator.map(_._2).toSet
  private val keys = s3.iterator.map(_._1).toSet

  val orphanS3: Seq[(String, Long)] = s3.filterNot(x => names(x._1)).toSeq.sorted
  val orphanDb: Seq[(String, String)] = obj.filterNot(x => keys(x._2)).toSeq.sorted

  def xor(rows: Iterator[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, x), r) => (n + 1, x ^ Check.hash(r: _*)) }

  val backup: (Long, Long) = xor(orphanS3.iterator.map { case (k, s) =>
    Seq(s"${OrphanPass.Tenant}/$k", k, s"__internal/$k", s) })

  val prefixes: (Long, Long) = xor(obj.iterator.flatMap { case (b, n) =>
    val seg = n.split("/", -1)
    (1 until seg.length).map(i => (b, seg.take(i).mkString("/")))
  }.toSeq.groupBy(identity).iterator.map { case ((b, p), xs) => Seq(b, p, xs.length.toLong) })

  val progress: (Long, Long) = xor(parts.select("upload_id", "part_number", "size").collect()
    .groupBy(_.getString(0)).iterator.map { case (u, rs) =>
      Seq(u, rs.map(_.getLong(2)).sum, rs.length.toLong, rs.map(_.getInt(1)).max.toLong)
    })
}

/** One pass of the orphan scanner, run back-to-back as a batch job: the two
  * anti-joins (their orphans paged back to the driver), then the persisted
  * products — the backup-job queue, the rebuilt `storage.prefixes`
  * relation and the multipart progress rollup. */
object OrphanPass {
  val Tenant = "tenant-bench"

  def steps(spark: SparkSession, fx: OrphanFixture, out: String): Seq[Op] = {
    def persisted(kind: String, compose: () => DataFrame, name: String,
                  hash: DataFrame => (Long, Long), want: => (Long, Long)): Op = {
      val dir = s"$out/$name"
      Op(kind, write = true, compose, _.write.parquet(dir),
        _ => {
          val got = hash(spark.read.parquet(dir))
          if (got == want) None else Some(s"(rows, xor) $got, expected $want")
        }, Some(dir))
    }
    Seq(
      Op("orphan_s3", write = false,
        () => Scanner.orphanedS3Keys(fx.s3Keys, fx.objects), _.collect(),
        res => same(res.asInstanceOf[Array[Row]].toSeq.map(r => (r.getString(0), r.getLong(1))).sorted,
          fx.oracle.orphanS3)),
      Op("orphan_db", write = false,
        () => Scanner.orphanedDbRows(fx.objects, fx.s3Keys).select("bucket_id", "name"),
        _.collect(),
        res => same(res.asInstanceOf[Array[Row]].toSeq.map(r => (r.getString(0), r.getString(1))).sorted,
          fx.oracle.orphanDb)),
      persisted("backup_jobs",
        () => Scanner.backupJobs(Scanner.orphanedS3Keys(fx.s3Keys, fx.objects), Tenant),
        "backup", df => Check.countXor(df, xxhash64(col("singleton_key"), col("source_key"),
          col("destination_key"), col("size"))), fx.oracle.backup),
      persisted("derive_prefixes", () => PrefixIndex.derivePrefixes(fx.objects), "prefixes",
        df => Check.countXor(df, xxhash64(col("bucket_id"), col("prefix"), col("n_under"))),
        fx.oracle.prefixes),
      persisted("upload_progress", () => Multipart.uploadProgress(fx.parts), "progress",
        df => Check.countXor(df, xxhash64(col("upload_id"), col("in_progress_size"),
          col("num_parts"), col("max_part").cast("long"))), fx.oracle.progress))
  }

  private def same[A](got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None else Some(s"${got.length} rows vs ${want.length} expected")
}
