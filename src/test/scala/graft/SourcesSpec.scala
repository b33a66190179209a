package graft

import graft.operators.Scanner
import graft.sources.FileListing

import java.nio.file.{Files, Paths}

/** S2 file-system listing source: parallel manifest scan that never reads
  * object bytes, feeding the J2/J3 orphan anti-joins. */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTree(): String = {
    val root = Files.createTempDirectory("s2tree").toString
    Seq("a/x.dat" -> "xx", "a/y.dat" -> "yyyy", "b/z.dat" -> "z", "top.txt" -> "tt")
      .foreach { case (k, content) =>
        val p = Paths.get(root, k)
        Files.createDirectories(p.getParent)
        Files.write(p, content.getBytes)
      }
    root
  }

  test("lists a tree recursively with relative keys and sizes") {
    val root = mkTree()
    val got = FileListing.listFiles(spark, root)
      .select("key", "size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a/x.dat" -> 2L, "a/y.dat" -> 4L, "b/z.dat" -> 1L, "top.txt" -> 2L))
  }

  test("metadata-only listing prunes the content column from the scan") {
    val root = mkTree()
    val plan = FileListing.listFiles(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("content"), "manifest scan must not read file bytes")
  }

  test("glob filter restricts the listing (prefix pushdown analog)") {
    val root = mkTree()
    val got = FileListing.listFiles(spark, root, Some("*.dat"))
      .select("key").collect().map(_.getString(0)).toSet
    assert(got == Set("a/x.dat", "a/y.dat", "b/z.dat"))
  }

  test("S4 blob tree round-trips documents byte-for-byte (binaryFile scan)") {
    val dir = "/root/testdata/sf0.001"
    val root = graft.sources.BlobStore.ensureBlobTree(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val scanned = graft.sources.BlobStore.byteScan(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(scanned.length == docs.size)
    scanned.foreach { case (id, size, etag) =>
      val bytes = docs(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(size == bytes.length, s"doc $id size")
      val expected = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
      assert(etag == expected, s"doc $id etag")
    }
  }

  test("feeds the orphan anti-joins (J2/J3) directly") {
    val root = mkTree()
    val listing = FileListing.listFiles(spark, root).select($"key", $"size")
    val objects = Seq("a/x.dat", "b/z.dat", "gone.dat").toDF("name")
    val s3Orphans = Scanner.orphanedS3Keys(listing, objects)
      .select("key").collect().map(_.getString(0)).toSet
    val dbOrphans = Scanner.orphanedDbRows(objects, listing)
      .select("name").collect().map(_.getString(0)).toSet
    assert(s3Orphans == Set("a/y.dat", "top.txt"))
    assert(dbOrphans == Set("gone.dat"))
  }
}
