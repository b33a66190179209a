package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout: a space-filling 1-D clustering key
  * over two dimensions, so a 2-D box predicate prunes at the DIRECTORY
  * level instead of scanning the full relation. This is the
  * mechanism behind Delta/Iceberg `OPTIMIZE ZORDER BY`: co-locate rows
  * whose (x, y) cells are close on the curve, then let ordinary Hive-style
  * partition pruning (plus parquet min/max on the sorted z column within
  * files) skip everything outside the query box.
  *
  * Grid: each dimension quantized to 2^5 = 32 cells over the layout's
  * observed [lo, hi] bounds → 1024 z cells, grouped 16-per-partition into
  * 64 z-contiguous buckets. The box → bucket decomposition enumerates the
  * ≤1024-cell grid on the driver — exact, and O(grid), never O(data), so
  * the planning cost is the same at 100 TB as at 100 MB (the general form
  * of this decomposition is the BIGMIN/LITMAX z-range algorithm; at this
  * fixed grid size plain enumeration is already exact).
  *
  * Scale shape: ONE repartition by bucket at write time (the one-time
  * layout cost, amortized like the MinHash signature tables); every
  * subsequent box query reads only the intersecting buckets' files —
  * `ZorderLayoutSpec` asserts the executed scan's numFiles metric equals
  * the files under those directories alone.
  */
object Layout {

  /** Bits per dimension: 32×32 grid. */
  val GridBits = 5
  /** Cells per dimension. */
  val CellsPerDim: Int = 1 << GridBits
  /** Contiguous z cells per partition bucket: 1024 cells → 64 buckets. */
  val BucketShift = 4

  /** Layout-time dimension bounds (recorded at build, reused by queries). */
  final case class ZBounds(xLo: Double, xHi: Double, yLo: Double, yHi: Double)

  /** Morton interleave of two [0, 32) cell indexes: x bits at odd
    * positions, y at even — a fold of shift/mask terms that stays inside
    * whole-stage codegen. */
  def interleave(qx: Column, qy: Column): Column =
    (0 until GridBits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(qx, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(qy, i).bitwiseAND(lit(1L)), 2 * i)
    }

  /** Driver-side twin of [[interleave]] for box decomposition. */
  def interleaveLong(qx: Long, qy: Long): Long =
    (0 until GridBits).foldLeft(0L) { (acc, i) =>
      acc | (((qx >> i) & 1L) << (2 * i + 1)) | (((qy >> i) & 1L) << (2 * i))
    }

  /** Clamped linear quantization of `v` into [0, CellsPerDim). A degenerate
    * dimension (hi ≤ lo: constant column, or empty-input bounds) maps every
    * row to cell 0 — the naive `(v-lo)/step` would divide by zero and float
    * NaN through the clamp. */
  def quantize(v: Column, lo: Double, hi: Double): Column = {
    val step = (hi - lo) / CellsPerDim
    if (!(step > 0)) lit(0L)
    else least(greatest(floor((v - lit(lo)) / lit(step)), lit(0.0)),
      lit((CellsPerDim - 1).toDouble)).cast("long")
  }

  /** Driver-side twin of [[quantize]], degenerate-bounds guard included. */
  def quantizeDouble(v: Double, lo: Double, hi: Double): Long = {
    val step = (hi - lo) / CellsPerDim
    if (!(step > 0)) 0L
    else math.min(math.max(math.floor((v - lo) / step), 0.0),
      (CellsPerDim - 1).toDouble).toLong
  }

  /** Write `df` z-ordered on (xCol, yCol) under `path`, partitioned by the
    * z bucket and sorted by the full z value within partitions (parquet
    * row-group min/max then prunes within a bucket too). Returns the
    * recorded bounds. One shuffle; the layout build is a one-time cost. */
  def writeZordered(df: DataFrame, xCol: Column, yCol: Column,
                    path: String): ZBounds = {
    val r = df.agg(min(xCol).cast("double"), max(xCol).cast("double"),
      min(yCol).cast("double"), max(yCol).cast("double")).head
    // empty input → null aggregates; record degenerate bounds (every row —
    // there are none — would land in cell 0) instead of NPEing
    val b = if (r.isNullAt(0) || r.isNullAt(2)) ZBounds(0.0, 0.0, 0.0, 0.0)
      else ZBounds(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val z = interleave(quantize(xCol.cast("double"), b.xLo, b.xHi),
      quantize(yCol.cast("double"), b.yLo, b.yHi))
    df.withColumn("z", z)
      .withColumn("zbucket", shiftright(col("z"), BucketShift))
      .repartition(col("zbucket"))
      .sortWithinPartitions(col("zbucket"), col("z"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(path)
    b
  }

  /** The distinct z buckets intersecting the box — driver enumeration of
    * the fixed grid, O(1024) regardless of data size, sorted for
    * deterministic IN-list plans. */
  def boxBuckets(b: ZBounds, xLo: Double, xHi: Double,
                 yLo: Double, yHi: Double): Seq[Long] = {
    val (qx0, qx1) = (quantizeDouble(xLo, b.xLo, b.xHi),
      quantizeDouble(xHi, b.xLo, b.xHi))
    val (qy0, qy1) = (quantizeDouble(yLo, b.yLo, b.yHi),
      quantizeDouble(yHi, b.yLo, b.yHi))
    (for { qx <- qx0 to qx1; qy <- qy0 to qy1 }
      yield interleaveLong(qx, qy) >> BucketShift).distinct.sorted
  }

  /** Box query over a stored layout: bucket IN-list prunes directories,
    * the residual predicate keeps exactness. `residual` re-applies the box
    * on the raw columns — the buckets are a superset (cell granularity). */
  def boxQuery(spark: SparkSession, path: String, b: ZBounds,
               xLo: Double, xHi: Double, yLo: Double, yHi: Double,
               residual: Column): DataFrame = {
    val buckets = boxBuckets(b, xLo, xHi, yLo, yHi)
    spark.read.parquet(path)
      .filter(col("zbucket").isin(buckets: _*))
      .filter(residual)
  }

  // Per-process build cache: path → bounds (the per-pid warehouse dir makes
  // stale cross-process directories impossible; see NOTES.md invariants).
  private val built = new java.util.concurrent.ConcurrentHashMap[String, ZBounds]()

  /** Build the layout once per process (bench/notebook loops must not pay
    * the CTAS per query).
    * `df` is by-name: never computed on the skip path. */
  def ensureZordered(df: => DataFrame, xCol: Column, yCol: Column,
                     path: String): ZBounds =
    built.computeIfAbsent(path, _ => writeZordered(df, xCol, yCol, path))

  /** Small-file compaction planning — the maintenance job every object
    * store and table format runs (Iceberg/Delta `OPTIMIZE`, storage-node
    * compactors): files under `sizeThreshold` are greedily packed, in key
    * order, into target-sized output batches. Key order (not size order)
    * keeps each output batch a CONTIGUOUS name range, so range listings
    * and prefix scans over the compacted result stay one-file-per-range.
    *
    * The bin id is `floor(exclusive-prefix-sum / targetBytes)` — the
    * classic next-fit packing expressed as a window: deterministic, one
    * pass, no driver loop. The window partitions by (bucket, top-level
    * folder), the compactor's natural unit — partitions are folder-sized,
    * never corpus-sized, so the sort inside each window stays bounded at
    * 100 TB (the same argument as the keyed quantile windows; a global
    * unpartitioned window here would sort every file in one task).
    *
    * Returns one row per planned output batch:
    * (bucket_id, folder, bin, n_files, total_bytes, first_name, last_name). */
  def compactionPlan(objects: DataFrame, sizeThreshold: Long,
                     targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val small = objects.filter(col("size") < sizeThreshold)
      .select(col("bucket_id"), split(col("name"), "/").getItem(0).as("folder"),
        col("name"), col("size"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_id"), col("folder")).orderBy(col("name"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    small
      .withColumn("cum", coalesce(sum(col("size")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum DIV $targetBytes"))
      .groupBy(col("bucket_id"), col("folder"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"),
        min(col("name")).as("first_name"), max(col("name")).as("last_name"))
      .orderBy(col("bucket_id"), col("folder"), col("bin"))
  }
  /** Zone-map (min/max-per-chunk) pruning census — the quantitative case
    * for clustered layout at 100 TB. Chunks of `chunkRows` names model
    * parquet row-groups under two layouts: SORTED (name-ranked via
    * [[Prefix.withRankAndCumSum]] — no global window) and NATURAL
    * (md5-hash placement over the same chunk count — arrival order). For
    * the `topPrefixes` hottest folders, counts how many chunks each
    * folder-range predicate must read per layout: exactly the row-group
    * min/max skipping a parquet scan does, so `chunks_sorted` vs
    * `chunks_natural` IS the I/O ratio a 100 TB reader pays for ignoring
    * layout. The zone-map relation is data/chunkRows rows; the predicate
    * probe is a broadcast range join over it (O(preds × chunks), never
    * O(data)). */
  def zoneMapPruningCensus(objects: DataFrame, chunkRows: Int = 256,
                           topPrefixes: Int = 20): DataFrame = {
    val names = objects.select(col("name"))
    // parquet-footer count: feeds the boundary filter below (the global
    // last row is the final — possibly partial — chunk's zmax)
    val nRows = names.count()
    val ranked = Prefix.withRankAndCumSum(names, Seq(col("name")), lit(1L), 32)
      .select(col("name"), col("rnk"), expr(s"(rnk - 1) div $chunkRows").as("chunk"))
    // Only chunk-BOUNDARY rows decide a zone map: rank and name share one
    // total order, so zmin = the chunk's first-rank name and zmax = its
    // last-rank name (full chunks end at rnk % chunkRows == 0, the final
    // partial chunk at rnk == nRows). Filtering to those rows before the
    // aggregation shuffles 2 rows per chunk instead of every name
    // (600k → ~5k at sf0.1, guide §2.3); min/max over exactly the boundary
    // rows is identical to min/max over the full chunk.
    val zSorted = ranked
      .filter((col("rnk") - 1) % chunkRows === 0 ||
        col("rnk") % chunkRows === 0 || col("rnk") === nRows)
      .groupBy(col("chunk"))
      .agg(min(col("name")).as("zmin"), max(col("name")).as("zmax"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nChunks = zSorted.count() // chunk-count scalar, rides in as a literal
    val h = expr("cast(conv(substring(md5(name), 1, 15), 16, 10) as bigint)")
    val zNat = names.select(col("name"), (h % nChunks).as("chunk"))
      .groupBy(col("chunk"))
      .agg(min(col("name")).as("zmin"), max(col("name")).as("zmax"))
    val folders = names
      .select(concat(split_part(col("name"), lit("/"), lit(1)), lit("/"),
        split_part(col("name"), lit("/"), lit(2))).as("prefix"))
      .groupBy(col("prefix")).agg(count(lit(1)).as("n_objects"))
      .orderBy(col("n_objects").desc, col("prefix")).limit(topPrefixes)
    val preds = folders.select(col("prefix"), col("n_objects"),
      concat(col("prefix"), lit("/")).as("lo"),
      concat(col("prefix"), lit("0")).as("hi"))
    def surviving(zm: DataFrame, out: String): DataFrame =
      preds
        .join(broadcast(zm), col("zmax") >= col("lo") && col("zmin") < col("hi"), "left")
        .groupBy(col("prefix"), col("n_objects"))
        .agg(count(col("zmin")).as(out))
    val out = surviving(zSorted, "chunks_sorted")
      .join(surviving(zNat, "chunks_natural"), Seq("prefix", "n_objects"))
      .withColumn("total_chunks", lit(nChunks))
      .orderBy(col("prefix"))
      // per-prefix census — eager cut, release the pin (r9 ADVICE)
      .localCheckpoint()
    zSorted.unpersist()
    out
  }
}
