package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling — the per-column census (rows, nulls, exact distinct,
  * native min/max) a pipeline runs before trusting a new drop of data.
  * Two bounded passes, both scale-shaped:
  *
  *   1. ONE wide reduce computes every column's null count and native-typed
  *      min/max in a single row (no shuffle beyond the one-row combine) —
  *      min/max are taken in the column's own type FIRST and stringified
  *      after, so integer columns don't sort lexicographically.
  *   2. Exact distinct counts melt the projected columns to (col, value)
  *      pairs — a ×ncols blowup of the PROJECTED data only, then the
  *      standard two-level distinct (groupBy pair → count per col), so
  *      reducer keys are distinct values, never rows.
  *
  * Restricted to columns whose varchar cast is engine-portable (integers,
  * strings); float/timestamp formatting differs across engines and belongs
  * in typed queries, not a stringly census.
  */
object Profile {

  /** Per-column profile rows: (col_name, n_rows, n_null, n_distinct,
    * min_val, max_val), one row per requested column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      min(col(c)).cast("string").as(s"min_$c"),
      max(col(c)).cast("string").as(s"max_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = wide.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_null"),
        col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))): _*)).as("p"))
      .select(col("p.col_name"), col("p.n_rows"), col("p.n_null"),
        col("p.min_val"), col("p.max_val"))
    val dist = df.select(posexplode(array(cols.map(c => col(c).cast("string")): _*))
        .as(Seq("i", "v")))
      .filter(col("v").isNotNull)
      .groupBy(col("i"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("i")).agg(count(lit(1)).as("n_distinct"))
      .select(element_at(array(cols.map(lit): _*), col("i").cast("int") + 1)
        .as("col_name"), col("n_distinct"))
    perCol.join(dist, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_val"), col("max_val"))
  }

  /** Snapshot drift census — the data-card diff between two corpus
    * versions ("did yesterday's pipeline change the shape of the data"):
    * both snapshots run the same [[profile]] reduction, and the per-column
    * join reports row/null/distinct deltas plus a range-change flag. Two
    * bounded profile passes, a |cols|-row join — nothing here scales with
    * the data beyond the profiles themselves. */
  def profileDrift(oldDf: DataFrame, newDf: DataFrame,
                   cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, sfx: String) = profile(df, cols).select(
      col("col_name"), col("n_rows").as(s"n_rows_$sfx"),
      col("n_null").as(s"n_null_$sfx"), col("n_distinct").as(s"n_distinct_$sfx"),
      col("min_val").as(s"min_$sfx"), col("max_val").as(s"max_$sfx"))
    side(oldDf, "old").join(side(newDf, "new"), Seq("col_name"))
      .withColumn("row_delta", col("n_rows_new") - col("n_rows_old"))
      .withColumn("distinct_delta", col("n_distinct_new") - col("n_distinct_old"))
      .withColumn("range_changed",
        not(col("min_new") <=> col("min_old")) ||
          not(col("max_new") <=> col("max_old")))
      .select(col("col_name"), col("n_rows_old"), col("n_rows_new"),
        col("row_delta"), col("n_null_old"), col("n_null_new"),
        col("n_distinct_old"), col("n_distinct_new"), col("distinct_delta"),
        col("range_changed"))
      .orderBy(col("col_name"))
  }

  /** Per-group least-squares trend — capacity planning ("bytes/day per
    * bucket, when does it hit quota") as ONE partial-aggregable pass: the
    * five classic sums (n, Σx, Σy, Σxy, Σx²) reduce map-side like any
    * count, so a 100 TB history fits in five scalars per group. With
    * integer x (day index) and integer y (daily bytes) every sum is exact
    * int64 (cast the products to DECIMAL when Σxy could cross 2^62 —
    * daily-bucket magnitudes here stay far below), the slope is ONE exact
    * int/int division (IEEE-identical in any engine, ships unrounded) and
    * the intercept a fixed chain over it. Degenerate groups (single x
    * value) yield NULL slope rather than a crash. */
  def linearTrend(points: DataFrame, groupCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    points.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        when(col("den") =!= 0L,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            col("den").cast("double")))
      .withColumn("intercept",
        when(col("den") =!= 0L,
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n").cast("double")))
      .drop("den")
  }
}
