package graft

import graft.functions.FilterDsl
import graft.operators.Vectors
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The generated code on the S3Vectors read path must not depend on the
  * request's values. Spark writes numeric literals into the generated Java
  * source, so a per-request number that reaches it misses the codegen cache
  * and pays a Janino compile on every request. Each case runs one request,
  * then a second that differs only in its values, and asserts that the
  * second compiles nothing (Spark's own compile counter). */
class CodegenStabilitySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vectors: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("codegen_stability")
      .toString + "/vectors"
    val rnd = new scala.util.Random(7)
    (1L to 200L).map { i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1), s"""{"year": ${1990 + i % 30}}""")
    }.toDF("key", "embedding", "metadata").write.parquet(path)
    spark.read.parquet(path)
  }

  /** Compiles made by `request(second)` after `request(first)` has run. */
  private def compilesOfSecond[A](first: A, second: A)(request: A => DataFrame): Long = {
    request(first).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    request(second).collect()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  for (metric <- Seq("cosine", "euclidean"))
    test(s"$metric kNN: a new query vector compiles no new class") {
      val n = compilesOfSecond(Seq.fill(8)(0.5), Seq.tabulate(8)(i => i - 3.5)) { q =>
        Vectors.knn(vectors, "key", "embedding", q, metric, 10).select("key", "distance")
      }
      assert(n == 0)
    }

  for ((op, first, second) <- Seq(("$gte", "1995", "2003"), ("$lt", "2001", "1993"),
      ("$eq", "1999", "2010"), ("$in", "[1995, 2003]", "[1991, 2017]")))
    test(s"filter $op: a new number compiles no new class") {
      val n = compilesOfSecond(first, second) { y =>
        vectors.filter(FilterDsl.filter(col("metadata"), s"""{"year": {"$op": $y}}"""))
          .select("key")
      }
      assert(n == 0)
    }
}
