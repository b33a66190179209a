package graft

import graft.functions.PathFns._
import org.apache.spark.sql.functions.col

/** PathFns vs naive Scala reference implementations, checked over seeded
  * random S3-ish keys (SURVEY §5: common-prefix derivation vs naive spec).
  */
class PathFnsSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def seg: String =
    (1 to (1 + rnd.nextInt(6))).map(_ => "abcxyz019-_.".charAt(rnd.nextInt(12))).mkString
  private def key: String = (1 to (1 + rnd.nextInt(4))).map(_ => seg).mkString("/")
  private val keys: Seq[String] = Seq.fill(200)(key) ++
    Seq("a/b/c.dat", "a.dat", "a/b/", "x", "a/a/a/a/a")

  private def run(ks: Seq[String], c: org.apache.spark.sql.Column): Seq[Any] =
    ks.toDF("name").select(c).collect().map(_.get(0)).toSeq

  test("filename/level/foldername match naive spec") {
    val parts = keys.map(_.split("/", -1).toSeq)
    assert(run(keys, filename(col("name"))) == keys.map(_.split("/", -1).last))
    assert(run(keys, getLevel(col("name"))) == parts.map(_.length))
    assert(run(keys, foldername(col("name"))).map(_.asInstanceOf[collection.Seq[String]].toSeq) ==
      parts.map(_.dropRight(1)))
  }

  test("extension: text after the last dot of the filename") {
    assert(run(Seq("a/b/c.tar.gz", "a/b/noext", "x.png"), extension(col("name"))) ==
      Seq("gz", "noext", "png"))
  }

  test("getPrefixes lists all ancestors") {
    val got = run(Seq("a/b/c/d"), getPrefixes(col("name"))).head.asInstanceOf[collection.Seq[String]].toSeq
    assert(got == Seq("a", "a/b", "a/b/c"))
  }

  test("getPrefix strips the last segment, '' at root") {
    assert(run(Seq("a/b/c.dat", "c.dat", "a/b/"), getPrefix(col("name"))) ==
      Seq("a/b", "", "a"))
  }

  test("commonPrefix: first delimiter-terminated segment after prefix, NULL for leaves") {
    def naive(k: String, prefix: String): String = {
      val rest = k.drop(prefix.length)
      val i = rest.indexOf('/')
      if (i >= 0) k.take(prefix.length) + rest.take(i + 1) else null
    }
    assert(run(keys, commonPrefix(col("name"), "")) == keys.map(naive(_, "")))
    val under = keys.filter(_.startsWith("a"))
    assert(run(under, commonPrefix(col("name"), "a")) == under.map(naive(_, "a")))
    // case-preserving slice: CI prefix match must display the key's bytes
    assert(run(Seq("R/10/a.dat", "R/10.dat"), commonPrefix(col("name"), "r/")) ==
      Seq("R/10/", null))
  }

  test("successor computes the next-string upper bound (0050:210-216)") {
    assert(run(Seq("abc", "a/"), successor(col("name"))) == Seq("abd", "a0"))
  }

  test("keyset predicate: composite row-value comparison (P5)") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.123")),
      ("b", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.123")),
      ("c", java.sql.Timestamp.valueOf("2020-01-01 00:00:00.124"))
    ).toDF("name", "ts")
    val got = df.filter(keysetAfter(col("ts"), col("name"),
      to_timestamp(lit("2020-01-01 00:00:00.123")), lit("a")))
      .select("name").collect().map(_.getString(0)).toSeq
    assert(got == Seq("b", "c"))
  }
}
