package graft

import graft.functions.Validators
import graft.operators.Vectors
import org.scalatest.funsuite.AnyFunSuite

/** Test-for-test port of the reference's S3Vectors request-validation battery
  * (/root/reference/src/test/pgvector-adapter.test.ts:228-530): every invalid
  * request is rejected BEFORE any query executes; limits from
  * vector/limits.ts:4-11. */
class VectorLimitsSpec extends AnyFunSuite {

  test("maxResults: 0 and 1001 rejected, omitted defaults to the 500 page size") {
    assert(Validators.validateListMaxResults(Some(0)).isLeft)
    assert(Validators.validateListMaxResults(Some(1001)).isLeft)
    assert(Validators.validateListMaxResults(None) == Right(500))
    assert(Validators.validateListMaxResults(Some(1000)) == Right(1000))
  }

  test("GetVectors: key count above 100 and over-length keys rejected") {
    val tooMany = (0 until 101).map(i => s"key-$i")
    assert(Validators.validateVectorKeys(tooMany, Validators.MaxGetVectorKeys)
      .contains("keys must contain between 1 and 100 entries"))
    val longKey = Seq("a" * 1025)
    assert(Validators.validateVectorKeys(longKey, Validators.MaxGetVectorKeys)
      .contains("keys must be between 1 and 1024 characters"))
    assert(Validators.validateVectorKeys(Seq("ok"), Validators.MaxGetVectorKeys).isEmpty)
  }

  test("DeleteVectors: key count above 500 and over-length keys rejected") {
    val tooMany = (0 until 501).map(i => s"key-$i")
    assert(Validators.validateVectorKeys(tooMany, Validators.MaxDeleteVectorKeys)
      .contains("keys must contain between 1 and 500 entries"))
    assert(Validators.validateVectorKeys(Seq(""), Validators.MaxDeleteVectorKeys).isDefined)
  }

  test("PutVectors: count bound, duplicate keys, over-length key rejected") {
    val tooMany = (0 until 501).map(i => s"k$i" -> "{}")
    assert(Validators.validatePutVectorsBatch(tooMany)
      .contains("vectors must contain between 1 and 500 entries"))
    assert(Validators.validatePutVectorsBatch(Seq("dup" -> "{}", "dup" -> "{}"))
      .contains("Duplicate vector key 'dup' in request"))
    assert(Validators.validatePutVectorsBatch(Seq(("a" * 1025) -> "{}")).isDefined)
    assert(Validators.validatePutVectorsBatch(Seq("a" -> "{}", "b" -> "{}")).isEmpty)
  }

  test("metadata shape: nested objects and nested arrays rejected, scalar lists allowed") {
    assert(Validators.validateMetadataShape("k", """{"genre":{"nested":true}}""")
      .exists(_.contains("must not be nested objects")))
    assert(Validators.validateMetadataShape("k", """{"tags":[["a"]]}""")
      .exists(_.contains("only scalar values")))
    assert(Validators.validateMetadataShape("k", """{"tags":["a","b"],"n":3}""").isEmpty)
    assert(Validators.validateMetadataShape("k", """{"s":"x","b":true}""").isEmpty)
    // batch path surfaces the same shape errors
    assert(Validators.validatePutVectorsBatch(
      Seq("k" -> """{"m":{"x":1}}""")).isDefined)
  }

  test("operators reject over-limit key lists instead of truncating") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, i)).toDF("vec_id", "label")
    intercept[IllegalArgumentException] {
      Vectors.getByKeys(df, "vec_id", (1L to 101L).toSeq)
    }
    intercept[IllegalArgumentException] {
      Vectors.deleteByKeys(df, "vec_id", (1L to 501L).toSeq)
    }
    val vecs = (1L to 10L).map(i => (i, Seq(i.toDouble, 1.0))).toDF("vec_id", "emb")
    for (metric <- Seq("l2", "Euclidean", "dot")) intercept[IllegalArgumentException] {
      Vectors.knn(vecs, "vec_id", "emb", Seq(1.0, 0.0), metric, 5)
    }
    for (k <- Seq(0, 101)) intercept[IllegalArgumentException] {
      Vectors.knn(vecs, "vec_id", "emb", Seq(1.0, 0.0), "cosine", k)
    }
    assert(Vectors.getByKeys(df, "vec_id", Seq(1L, 2L)).count() == 2)
    for (metric <- Seq("cosine", "euclidean"); k <- Seq(1, 100))
      assert(Vectors.knn(vecs, "vec_id", "emb", Seq(1.0, 0.0), metric, k)
        .count() == math.min(k, 10))
  }

  test("cosine kNN ranks a zero vector last with distance NaN instead of failing") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val vecs = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "emb")
    def run(metric: String): Seq[(Long, Double)] =
      Vectors.knn(vecs, "vec_id", "emb", Seq(1.0, 0.0), metric, 3)
        .select("vec_id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cos = run("cosine")
    assert(cos.map(_._1) == Seq(2L, 3L, 1L))
    assert(cos(0)._2 == 0.0 && cos(1)._2 == 1.0 && cos(2)._2.isNaN)
    assert(run("euclidean") == Seq((2L, 0.0), (1L, 1.0), (3L, 1.414213562)))
  }

  test("upsert is last-wins by priority and deterministic") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val batches = Seq((1L, "v1", 1), (1L, "v2", 2), (2L, "w1", 1))
      .toDF("key", "value", "priority")
    val got = Vectors.upsert(batches, "key", "priority")
      .orderBy("key").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "v2"), (2L, "w1")))
  }
}
