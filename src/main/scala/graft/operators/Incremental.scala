package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-maintenance primitives: the two patterns that keep a 100 TB
  * warehouse from rescanning history.
  *
  *  - [[mvRefresh]]: a materialized aggregate is a table of PARTIAL states
  *    (sums/counts — the algebraic aggregates). Refreshing with a new
  *    batch is `stored ∪ partial(batch) → re-reduce`: the batch is scanned
  *    once and the merge touches only group-cardinality rows. The refresh
  *    result is provably identical to a full recompute because the
  *    aggregates are commutative monoids — which is exactly what the
  *    oracle checks (it recomputes from ALL rows).
  *  - [[scd2FromLog]]: reconstruct slowly-changing-dimension (type 2)
  *    validity intervals from an append-only change log — per key, each
  *    change is valid from its own timestamp until the next change
  *    (half-open), the final state open-ended. One keyed window (`lead`),
  *    O(1) state per key, the standard warehouse history table.
  */
object Incremental {

  /** Merge a stored aggregate table with a new batch. `keys` are the group
    * columns; both inputs must carry `n` (count) and `s` (decimal sum)
    * partial columns — see [[partialAgg]] for deriving them. */
  def mvRefresh(stored: DataFrame, batchPartial: DataFrame,
                keys: Seq[String]): DataFrame =
    stored.unionByName(batchPartial)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

  /** Partial-aggregate a raw relation into the mergeable (n, s) state. */
  def partialAgg(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("s"))

  /** SCD2 validity intervals from a change log: one row per log entry with
    * `valid_from` = its own timestamp, `valid_to` = the NEXT entry's
    * timestamp for the key (NULL while current), `is_current` on the last.
    * Total order inside a key: (ts, tiebreak) — tiebreak must be unique. */
  def scd2FromLog(log: DataFrame, key: String, ts: String,
                  tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    log.withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Time-travel read: each key's state AS OF `at` — the row whose validity
    * interval contains the timestamp. Equivalent to filtering
    * [[scd2FromLog]] on `valid_from <= at < valid_to`, but formulated the
    * way a 100 TB read should be: the time predicate pushes into the scan
    * (partition/row-group pruning on the log's time layout) and ONE
    * partial-aggregated `max(struct(ts, tiebreak, payload))` picks the
    * last-before-`at` row per key — no window materializing history, no
    * per-key sort, reducer state is one struct per key. Keys with no event
    * by `at` simply don't exist yet and are absent, matching the SCD2
    * interval semantics. (ts, tiebreak) must be unique per key (the log
    * contract), so the payload columns never steer the max. */
  def stateAt(log: DataFrame, key: String, ts: String, tiebreak: String,
              at: org.apache.spark.sql.Column,
              payload: Seq[String]): DataFrame = {
    val fields = Seq(ts, tiebreak) ++ payload
    log.filter(col(ts) <= at)
      .groupBy(col(key))
      .agg(max(struct(fields.map(col): _*)).as("m"))
      .select(col(key) +: fields.map(f => col(s"m.$f").as(f)): _*)
  }
}
