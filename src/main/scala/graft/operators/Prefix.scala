package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed two-pass prefix sums — the scale-safe replacement for a
  * global `Window.orderBy` (which moves ALL data to a single partition).
  * Range-partition in the target order, census the partitions (a
  * partition-count-sized collect), broadcast the exclusive offsets back,
  * and run the running sum per PARTITION KEY.
  */
object Prefix {

  /** `df` plus `rnk` (1-based global rank) and `cum` (inclusive running
    * total of `weight`, a LONG column) in the total order of `sortCols`.
    * The result is persisted (two consumers: census + downstream reads);
    * caller unpersists when done if it cares. Every window in the plan
    * carries a partition spec. */
  def withRankAndCumSum(df: DataFrame, sortCols: Seq[Column],
                        weight: Column, nPart: Int): DataFrame = {
    // CORRECTNESS freeze: the driver census below reads the
    // range-partitioned relation once and the returned lazy result reads it
    // again — a recompute could re-sample different range bounds, shifting
    // _pid under the collected offsets. localCheckpoint (not persist)
    // freezes ONE materialization that cannot recompute, lives outside the
    // DataFrame cache registry (CacheHygieneSpec asserts operators leave it
    // empty), and is reclaimed by the context cleaner once unreferenced.
    val parted = df.repartitionByRange(nPart, sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val census = parted.groupBy(col("_pid"))
      .agg(count(lit(1)).as("rows"), sum(weight).as("mass"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = census.scanLeft((0L, 0L)) { case ((ro, mo), (_, r, m)) =>
      (ro + r, mo + m)
    }.init
    val offRows = map(census.map(_._1).zip(offsets)
      .flatMap { case (p, (ro, _)) => Seq(lit(p), lit(ro)) }: _*)
    val offMass = map(census.map(_._1).zip(offsets)
      .flatMap { case (p, (_, mo)) => Seq(lit(p), lit(mo)) }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(sortCols: _*)
    parted
      .withColumn("rnk", element_at(offRows, col("_pid")) + row_number().over(w))
      .withColumn("cum", element_at(offMass, col("_pid")) + sum(weight).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .drop("_pid")
  }

  /** `df` plus `run_max_excl` — the maximum of `value` (a LONG column) over
    * all STRICTLY-preceding rows in the total order of `sortCols` (null on
    * the global first row). The watermark primitive: what a streaming
    * engine's high-water mark would have read when each row arrived. Same
    * two-pass shape as [[withRankAndCumSum]]: range-partition on the sort
    * key, one tiny per-partition max census to the driver, then a
    * partition-local window seeded with the prefix max of earlier
    * partitions — no global window at any size. */
  def withRunningMaxExcl(df: DataFrame, sortCols: Seq[Column],
                         value: Column, nPart: Int): DataFrame = {
    // same correctness freeze as withRankAndCumSum above
    val parted = df.repartitionByRange(nPart, sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val census = parted.groupBy(col("_pid")).agg(max(value).as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offs = census.scanLeft(Long.MinValue) {
      case (acc, (_, m)) => math.max(acc, m)
    }.init
    val offMap = map(census.map(_._1).zip(offs)
      .flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    parted
      .withColumn("_prior", greatest(
        coalesce(max(value).over(w), lit(Long.MinValue)),
        element_at(offMap, col("_pid"))))
      .withColumn("run_max_excl",
        when(col("_prior") === Long.MinValue, lit(null).cast("long"))
          .otherwise(col("_prior")))
      .drop("_pid", "_prior")
  }
}
