package graft

import graft.functions.FilterDsl
import org.apache.spark.sql.functions.col

/** Filter-DSL semantics, mirroring the reference's translator corpus
  * (src/storage/protocols/vector/adapter/pgvector/filter.test.ts — the
  * closest thing the reference has to an operator-semantics spec). The
  * reference asserts generated SQL text; here each case asserts the
  * *behavior* of the translated predicate on a fixture relation.
  */
class FilterDslSpec extends SparkTestBase {
  import spark.implicits._

  private val rows = Seq(
    (1L, """{"genre": "rock", "year": 1990, "tags": ["live", "remix"]}"""),
    (2L, """{"genre": "pop", "year": 2001, "tags": ["studio"]}"""),
    (3L, """{"genre": "rock", "year": 2010}"""),
    (4L, """{"year": "not-a-number"}"""),
    (5L, """{"genre": ["rock", "indie"], "year": 1985}"""),
    (6L, """{"genre": null, "year": 1970, "active": true, "user-id": "abc"}"""))

  private def ids(filterJson: String): Seq[Long] =
    rows.toDF("id", "m")
      .filter(FilterDsl.filter(col("m"), filterJson))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  // ── implicit equality (filter.test.ts:48-79) ──

  test("$eq scalar") { assert(ids("""{"genre": {"$eq": "pop"}}""") == Seq(2L)) }

  test("bare scalar is implicit $eq") { assert(ids("""{"genre": "pop"}""") == Seq(2L)) }

  test("implicit equality: boolean stringifies like jsonb ->> text") {
    assert(ids("""{"active": true}""") == Seq(6L))
  }

  test("$eq matches inside array values (scalar-or-array semantics)") {
    assert(ids("""{"genre": "rock"}""") == Seq(1L, 3L, 5L))
  }

  test("embedded quotes stay literal (no escaping pitfalls)") {
    assert(ids("""{"genre": "it's"}""") == Seq())
  }

  // ── arbitrary metadata keys (filter.test.ts:81-106) ──

  test("keys with hyphens address the right field") {
    assert(ids("""{"user-id": "abc"}""") == Seq(6L))
  }

  // ── field operators (filter.test.ts:108-168) ──

  test("$ne excludes missing AND json-null fields (SQL null semantics: ->> of json null is NULL)") {
    assert(ids("""{"genre": {"$ne": "rock"}}""") == Seq(2L))
  }

  test("$ne over array field = NOT contains") {
    assert(ids("""{"tags": {"$ne": "live"}}""") == Seq(2L))
  }

  test("numeric comparisons guarded by type: non-numbers never match") {
    assert(ids("""{"year": {"$gte": 1990}}""") == Seq(1L, 2L, 3L))
    assert(ids("""{"year": {"$lt": 2000}}""") == Seq(1L, 5L, 6L))
  }

  test("$in bridges to array-valued fields (= ANY over elements)") {
    assert(ids("""{"genre": {"$in": ["pop", "indie"]}}""") == Seq(2L, 5L))
    assert(ids("""{"tags": {"$in": ["studio", "live"]}}""") == Seq(1L, 2L))
  }

  test("$nin: array field containing any candidate is excluded; missing/null field never matches") {
    assert(ids("""{"genre": {"$nin": ["rock"]}}""") == Seq(2L))
    assert(ids("""{"tags": {"$nin": ["remix"]}}""") == Seq(2L))
  }

  test("numeric $in/$nin: scalars, numeric text, arrays, missing and non-numeric fields") {
    val nums = Seq(
      (1L, """{"n": 3}"""),
      (2L, """{"n": 3.0}"""),
      (3L, """{"n": "3"}"""),
      (4L, """{"n": [1, 7]}"""),
      (5L, """{"n": "seven"}"""),
      (6L, """{"n": null}"""),
      (7L, """{"m": 3}"""),
      (8L, """{"n": 4}"""))
    def numIds(filterJson: String): Seq[Long] =
      nums.toDF("id", "m").filter(FilterDsl.filter(col("m"), filterJson))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(numIds("""{"n": {"$in": [3, 7]}}""") == Seq(1L, 2L, 3L, 4L))
    assert(numIds("""{"n": {"$in": [1.5]}}""") == Seq())
    assert(numIds("""{"n": {"$in": [4]}}""") == Seq(8L))
    // $nin needs the field present and non-null; non-numeric text is "not in"
    assert(numIds("""{"n": {"$nin": [3, 7]}}""") == Seq(5L, 8L))
    assert(numIds("""{"n": {"$nin": [1]}}""") == Seq(1L, 2L, 3L, 5L, 8L))
  }

  test("$exists is key presence, not non-null (jsonb_exists semantics)") {
    assert(ids("""{"genre": {"$exists": true}}""") == Seq(1L, 2L, 3L, 5L, 6L))
    assert(ids("""{"genre": {"$exists": false}}""") == Seq(4L))
  }

  // ── logical composition (filter.test.ts:171-220) ──

  test("$and / $or / implicit top-level AND") {
    assert(ids("""{"$and": [{"genre": "rock"}, {"year": {"$gte": 2000}}]}""") == Seq(3L))
    assert(ids("""{"$or": [{"genre": "pop"}, {"year": {"$lte": 1985}}]}""") == Seq(2L, 5L, 6L))
    assert(ids("""{"genre": "rock", "year": {"$lt": 2000}}""") == Seq(1L, 5L))
  }

  test("range on the same field combines as AND") {
    assert(ids("""{"year": {"$gt": 1985, "$lt": 2005}}""") == Seq(1L, 2L))
  }

  test("nested $and within $or") {
    assert(ids("""{"$or": [{"$and": [{"genre": "rock"}, {"year": {"$lt": 2000}}]},
                           {"genre": "pop"}]}""") == Seq(1L, 2L, 5L))
  }

  // ── invalid inputs (filter.test.ts:242-288) ──

  test("unknown operator rejected") {
    intercept[IllegalArgumentException](ids("""{"a": {"$regex": "x"}}"""))
  }

  test("empty filter / empty $and / empty $or rejected") {
    intercept[IllegalArgumentException](ids("""{}"""))
    intercept[IllegalArgumentException](ids("""{"$and": []}"""))
    intercept[IllegalArgumentException](ids("""{"$or": []}"""))
  }

  test("logical operator mixed with field key rejected") {
    intercept[IllegalArgumentException](ids("""{"$and": [{"a": 1}], "b": 2}"""))
  }

  test("unknown $-prefix at field position rejected") {
    intercept[IllegalArgumentException](ids("""{"$weird": 1}"""))
  }

  test("empty operator object rejected") {
    intercept[IllegalArgumentException](ids("""{"a": {}}"""))
  }

  test("$in / $nin with empty array rejected") {
    intercept[IllegalArgumentException](ids("""{"a": {"$in": []}}"""))
    intercept[IllegalArgumentException](ids("""{"a": {"$nin": []}}"""))
  }

  test("$exists with non-boolean rejected") {
    intercept[IllegalArgumentException](ids("""{"a": {"$exists": "yes"}}"""))
  }

  test("range operator with non-number rejected") {
    intercept[IllegalArgumentException](ids("""{"a": {"$gt": "x"}}"""))
  }

  test("filterWith on json_tuple-extracted fields matches the parse-per-field path") {
    import org.apache.spark.sql.functions.json_tuple
    val df = rows.toDF("id", "m")
      .select(col("id"), col("m"), json_tuple(col("m"), "genre", "year"))
      .withColumnRenamed("c0", "g").withColumnRenamed("c1", "y")
    // every DSL shape the extracted columns participate in: eq + array
    // bridge, range over try_cast, $ne/$nin null semantics
    for (f <- Seq(
        """{"genre": "rock", "year": {"$gte": 1990}}""",
        """{"genre": {"$ne": "rock"}}""",
        """{"year": {"$in": [1970, 2001]}}""",
        """{"$or": [{"genre": "pop"}, {"year": {"$lt": 1980}}]}""")) {
      val expect = ids(f)
      val got = df.filter(FilterDsl.filterWith(col("m"),
          Map("genre" -> col("g"), "year" -> col("y")), f))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
      assert(got == expect, s"filterWith mismatch for $f")
    }
  }
}
