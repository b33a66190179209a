package graft

import graft.operators.{Linkage, Profile}

/** Round-3 pipeline additions: profiling, record linkage and per-group
  * trend kernels. */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("profile: nulls, exact distinct, native-typed min/max") {
    val df = Seq[(java.lang.Long, String)]((10L, "x"), (9L, "y"), (9L, null), (null, "x"))
      .toDF("k", "s")
    val r = Profile.profile(df, Seq("k", "s")).orderBy("col_name")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getString(4), x.getString(5)))
    // min/max must be native-typed (9 < 10 numerically; "10" < "9" would be wrong)
    assert(r.toSeq == Seq(
      ("k", 4L, 1L, 2L, "9", "10"),
      ("s", 4L, 1L, 2L, "x", "y")))
  }

  test("linkage: rarest-token probe finds best match; out-of-range candidates drop") {
    val clean = Seq((1L, "red widget"), (2L, "blue widget"), (3L, "red bolt"))
      .toDF("id", "name")
    val dirty = Seq((10L, "rd widget"), (11L, "blue bot"), (12L, "red blot"))
      .toDF("did", "dname")
    val r = Linkage.bestMatches(dirty, "did", "dname", clean, "id", "name", 3)
      .orderBy("dirty_id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getString(3), x.getInt(4)))
    // 10 probes "widget" (df 2, rarest in-vocab) → best is id 1 at dist 1;
    // 11 probes "blue" but its only candidate is 5 edits away → absent;
    // 12's "blot" is out-of-vocab, probes "red" → id 3 at dist 2.
    assert(r.toSeq == Seq(
      (10L, "rd widget", 1L, "red widget", 1),
      (12L, "red blot", 3L, "red bolt", 2)))
  }

  test("linearTrend recovers an exact fit; degenerate x gives NULL slope") {
    import graft.operators.Profile
    // g1: perfect line y = 3x + 7; g2: all points share one x
    val pts = ((0 to 20).map(x => ("g1", x.toLong, 3L * x + 7L)) ++
      Seq(("g2", 5L, 10L), ("g2", 5L, 20L))).toDF("g", "x", "y")
    val r = Profile.linearTrend(pts, "g", "x", "y").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").getAs[Double]("slope") == 3.0)
    assert(r("g1").getAs[Double]("intercept") == 7.0)
    assert(r("g2").isNullAt(r("g2").fieldIndex("slope")))
    // partitioning independence (integer sums are exact in any order)
    val r2 = Profile.linearTrend(pts.repartition(7), "g", "x", "y").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("g1").toSeq == r2("g1").toSeq)
  }

}
