package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression guard for the round-10 cache-release sweep: every
  * bounded-output operator must leave the session's DataFrame-level cache
  * registry EMPTY after its result materializes — `df.persist` registers in
  * the CacheManager and is held by a strong reference until an explicit
  * unpersist, so one missed release per operator accumulates across a
  * 341-query registry session (the r9 ADVICE leak class). RDD-level
  * localCheckpoint blocks are cleaner-managed and deliberately not counted.
  * Operators with corpus-sized output are documented exemptions and not
  * asserted here. */
class CacheHygieneSpec extends SparkTestBase {
  import spark.implicits._

  private def cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  private def assertClean(label: String)(result: DataFrame): Unit = {
    result.count()
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheRegistryEmpty(cs),
      s"$label left entries in the DataFrame cache registry")
  }

  private def edges: DataFrame = {
    // hub edges keep the degree sequence non-uniform (a regular graph has
    // zero assortativity variance, which divides by zero under ANSI)
    val pairs = (1 to 60).flatMap { i =>
      val a = (i % 12).toLong; val b = ((i * 7 + 3) % 12).toLong
      if (a == b) Nil else Seq((a, b), (b, a))
    } ++ (2 to 9).flatMap(i => Seq((0L, i.toLong), (i.toLong, 0L)))
    pairs.toDF("src", "dst")
  }

  test("graph kernels release their caches") {
    spark.catalog.clearCache()
    val und = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v")).distinct()
    val seeds = Seq(1L, 2L).toDF("id")
    assertClean("pagerankFixedPoint")(Graph.pagerankFixedPoint(edges, 2))
    assertClean("labelPropagation")(Graph.labelPropagation(edges, 2))
    assertClean("louvainSync")(Graph.louvainSync(edges, 2))
    assertClean("triangles")(Graph.triangles(und))
    assertClean("bfsLayers")(Graph.bfsLayers(edges, seeds, 3))
    assertClean("perSourceBfsCensus")(Graph.perSourceBfsCensus(edges, seeds, 3))
    assertClean("stressCentrality")(Graph.stressCentrality(edges, seeds, 2))
    assertClean("commonNeighborPairs")(Graph.commonNeighborPairs(und))
    assertClean("assortativityMoments")(Graph.assortativityMoments(edges))
    assertClean("kcorePeel")(Graph.kcorePeel(edges, 2, 2))
    assertClean("hashWalks")(Graph.hashWalks(edges, seeds, 2, 2))
  }

  test("sketch estimators release their caches") {
    spark.catalog.clearCache()
    val a = (1 to 50).map(i => ("c", s"v$i")).toDF("col_name", "val")
    val b = (25 to 80).map(i => ("c", s"v$i")).toDF("col_name", "val")
    assertClean("hllIntersectionEstimate")(Sketches.hllIntersectionEstimate(a, b))
    assertClean("kmvIntersectionEstimate")(
      Sketches.kmvIntersectionEstimate(a, b, 16))
    assertClean("bloomPrefilterCensus")(
      Sketches.bloomPrefilterCensus(a, "val", b, "val"))
    assertClean("equidepthRangeEstimate")(Sketches.equidepthRangeEstimate(
      (1 to 200).map(_.toLong).toDF("v"), "v", 40, 120))
  }

  test("text, profile, and temporal kernels release their caches") {
    spark.catalog.clearCache()
    assertClean("gapFillHourly")(Temporal.gapFillHourly(
      (1 to 50).map(i => (s"k${i % 2}",
        java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 20}%02d:00:00"), i.toLong))
        .toDF("k", "ts", "v"), "k", "ts", "v"))
  }
}
