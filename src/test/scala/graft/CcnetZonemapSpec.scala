package graft

import graft.operators.Layout

/** Zone-map pruning census invariants. */
class CcnetZonemapSpec extends SparkTestBase {
  import spark.implicits._

  test("zoneMapPruningCensus: sorted layout prunes, natural layout reads everything") {
    // 40 folders × 25 objects, names cluster by folder when sorted
    val objs = (for (f <- 1 to 40; i <- 1 to 25)
      yield (f"dir/f$f%03d/obj-$i%03d", 1L)).toDF("name", "size")
    val out = Layout.zoneMapPruningCensus(objs, chunkRows = 25, topPrefixes = 5)
      .collect()
    assert(out.length == 5)
    out.foreach { r =>
      val sorted = r.getAs[Long]("chunks_sorted")
      val natural = r.getAs[Long]("chunks_natural")
      val total = r.getAs[Long]("total_chunks")
      assert(total == 40L)
      // chunk size == folder size and names sort by folder → ≤ 2 chunks
      assert(sorted <= 2L, s"sorted layout read $sorted chunks")
      // hash placement scatters the 25 objects across ~19 of 40 chunks
      // (E = 40·(1−(1−1/40)^25) ≈ 18.6) — an order more I/O than sorted
      assert(natural > sorted)
      assert(natural >= 10L, s"natural layout should read many chunks, read $natural")
    }
  }
}
