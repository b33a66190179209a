package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4: bulk object-byte analytics (SURVEY §2.1, reference
  * src/storage/backend/adapter.ts:79-249 + src/storage/range.ts:9-56).
  *
  * The reference streams object bytes one at a time (GET/PUT/copy with an
  * optional Range header). The bulk-analytic equivalent is a distributed
  * byte scan: `binaryFile` enumerates and reads the blob tree in parallel
  * (Hadoop FS — s3a:// behaves exactly like file:// at 1000 executors),
  * and per-object byte work (ETag digests, Range resolution) becomes
  * codegen'd expressions over the `content` column. Listing-only queries
  * never deserialize bytes — Spark prunes `content` out of the scan
  * (SourcesSpec asserts ReadSchema) — so the same source serves both the
  * J2/J3 manifest anti-joins and genuine byte passes like this one.
  */
object BlobStore {

  /** Materialize the `documents` corpus as a local blob tree, one
    * `doc_<id>.txt` per row (UTF-8 bytes of `text`), once per testdata
    * generation — keyed on the same source fingerprint as
    * [[graft.Tables]]'s materialized relations so a driver regen can never
    * serve stale blobs. Writes happen executor-side (`foreachPartition`,
    * the shape S3 multipart PUTs would take) into a scratch directory that
    * is atomically renamed into place, so concurrent sessions cannot
    * observe a half-written tree.
    */
  def ensureBlobTree(spark: SparkSession, dir: String): String = {
    val out = s"/tmp/graft_blobs/${graft.Tables.sourceFingerprint(dir)}"
    val outDir = new java.io.File(out)
    if (!outDir.exists()) {
      val tmp = new java.io.File(s"$out.tmp-${ProcessHandle.current().pid()}")
      tmp.mkdirs()
      val tmpPath = tmp.getAbsolutePath
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val id = r.getLong(0)
            val bytes = r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(f"$tmpPath/doc_$id%07d.txt"), bytes)
          }
        }
      // atomic publish; a concurrent winner already renamed → clean up ours
      if (!tmp.renameTo(outDir)) {
        tmp.listFiles().foreach(_.delete()); tmp.delete()
      }
    }
    out
  }

  /** The byte scan: (doc_id, size, etag) read back from blob bytes — the
    * bulk form of the reference's headObject/ETag path. `etag` is the md5
    * of the object bytes, exactly S3's single-part ETag. */
  def byteScan(spark: SparkSession, root: String): DataFrame =
    spark.read.format("binaryFile").load(root)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        length(col("content")).cast("long").as("size"),
        md5(col("content")).as("etag"))
}
