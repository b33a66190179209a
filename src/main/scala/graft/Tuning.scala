package graft
import org.apache.spark.sql.SparkSession

/** Shared performance defaults for every graft session (Verify / Explain /
  * PlanAudit and the storage benchmark's session).
  *
  * `spark.sql.autoBroadcastJoinThreshold = 64m` (guide §3.1): many of the
  * registry's mid-size join sides are lazy join/agg derivations whose size
  * ESTIMATES run far above their true size, so the stock 10 MB gate demoted
  * genuinely broadcastable relations to sort-merge joins. 64 MB is a
  * routine production value (the guide calls "a few hundred MB usually
  * fine"; Spark's hard cap is 8 GB), and the driver/executor memory to hold
  * one 64 MB relation exists at every deployment size — the gate still
  * scales the DECISION with the data, so corpus-sized sides keep
  * sort-merging at 100 TB.
  *
  * Measured r13, interleaved same-JVM A/B over 12 join-heavy registry
  * queries at sf0.1 (3 reps, medians): total 28.54 s @ 10m → 26.68 s @ 64m
  * (−6.5%); d1_upsert_merge −31%, j3_orphan_db −14%; worst regression
  * a4_first_per_prefix +15% (0.11 s absolute).
  *
  * Rejected after the same r13 A/B:
  * `spark.sql.join.preferSortMergeJoin=false` +
  * `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m` measured
  * +26% total — shuffled-hash map builds lose to sort-merge on this
  * workload's small-partition joins.
  */
object Tuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.autoBroadcastJoinThreshold", "64m")
}
