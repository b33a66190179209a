package graft

import graft.operators.Incremental
import org.apache.spark.sql.functions._

/** Incremental maintenance: the algebraic-merge equality (refresh ==
  * full recompute, including groups present in only one input) and SCD2
  * interval invariants (contiguous, non-overlapping, one current row). */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  test("mvRefresh over a split equals the full recompute, any group overlap") {
    val all = ((1 to 300).map(i => (s"g${i % 7}", i.toDouble)) ++
      Seq(("only_old", 1.0), ("only_new", 2.0))).toDF("k", "v")
    val old = all.filter(col("v") <= 150 || col("k") === "only_old")
    val neu = all.filter(col("v") > 150 && col("k") =!= "only_old")
    val merged = Incremental.mvRefresh(
        Incremental.partialAgg(old, Seq("k"), "v"),
        Incremental.partialAgg(neu, Seq("k"), "v"), Seq("k"))
      .select(col("k"), col("n"), col("s").cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Incremental.partialAgg(all, Seq("k"), "v")
      .select(col("k"), col("n"), col("s").cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(merged == full)
  }

  test("scd2 intervals tile each key's timeline with exactly one current row") {
    val log = Seq((1L, 10L, "a", 100L), (1L, 11L, "b", 200L), (1L, 12L, "c", 150L),
      (2L, 13L, "x", 50L)).toDF("k", "id", "state", "tsv")
      .withColumn("ts", timestamp_micros(col("tsv") * 1000000L))
    val got = Incremental.scd2FromLog(log, "k", "ts", "id")
      .select(col("k"), col("state"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .collect()
    val byKey = got.groupBy(_.getLong(0))
    byKey.foreach { case (_, rows) =>
      assert(rows.count(_.getBoolean(4)) == 1, "exactly one current row per key")
      val sorted = rows.sortBy(_.getTimestamp(2).getTime)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(3) == b.getTimestamp(2),
            "valid_to must equal the next row's valid_from (half-open tiling)")
        case _ => ()
      }
      assert(sorted.last.getTimestamp(3) == null, "last interval open-ended")
    }
    // time order, not log order: key 1 is a(100) -> c(150) -> b(200)
    val k1 = byKey(1L).sortBy(_.getTimestamp(2).getTime).map(_.getString(1)).toSeq
    assert(k1 == Seq("a", "c", "b"))
  }

  test("stateAt equals the SCD2 interval containing the timestamp") {
    val log = Seq(
      (1L, 10L, "a", "2024-01-01 00:00:00"),
      (1L, 11L, "b", "2024-01-05 00:00:00"),
      (1L, 12L, "c", "2024-01-09 00:00:00"),
      (2L, 13L, "x", "2024-01-06 00:00:00"),
      (3L, 14L, "q", "2024-01-08 00:00:00")
    ).toDF("k", "id", "state", "tss")
      .withColumn("tsv", col("tss").cast("timestamp")).drop("tss")
    val at = to_timestamp(lit("2024-01-07 00:00:00"))
    val got = Incremental.stateAt(log, "k", "tsv", "id", at, Seq("state"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("state"))).toSet
    // at Jan 7: key 1 is on "b", key 2 on "x", key 3 not yet born
    assert(got == Set((1L, "b"), (2L, "x")))
    // must agree with filtering the materialized SCD2 intervals
    val viaScd2 = Incremental.scd2FromLog(log, "k", "tsv", "id")
      .filter(col("valid_from") <= at &&
        (col("valid_to").isNull || col("valid_to") > at))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("state"))).toSet
    assert(got == viaScd2)
  }
}
