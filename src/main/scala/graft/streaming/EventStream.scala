package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Event pipeline as Structured Streaming (SURVEY §2.9 E1–E6) — the Spark
  * shape of the reference's pg-boss queue + webhook workers
  * (src/internal/queue/event.ts, src/storage/events/ lifecycle+workers).
  *
  * The reference's streaming semantics are: at-least-once delivery,
  * `singletonKey` dedup, `startAfter` delayed visibility, per-queue
  * dead-letter queues. Mapped to: append-only event log → `readStream` with
  * watermark + `dropDuplicates` (state bounded by the watermark — the
  * retention policy pg-boss gets from its job tables, SURVEY §7 hard-part 5),
  * event-time filters, and `foreachBatch` try/catch DLQ routing.
  */
object EventStream {

  /** The event_log schema (FIXTURES.md §B). */
  val eventLogSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("queue", StringType),
    StructField("tenant_ref", StringType),
    StructField("bucket_id", StringType),
    StructField("name", StringType),
    StructField("payload", StringType),
    StructField("singleton_key", StringType),
    StructField("schedule_at", TimestampType),
    StructField("created_at", TimestampType)))

  /** E1: lifecycle events are appended to an event-log directory; consumers
    * readStream from it. */
  def readEventLog(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventLogSchema).parquet(path)

  /** E2: singleton-key dedup with a watermark bounding the dedup state —
    * pg-boss suppresses duplicate pending jobs by `singletonKey`
    * (event.ts:13). */
  def dedupSingleton(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("created_at", watermarkDelay)
      .dropDuplicates("queue", "singleton_key")

  /** E3: scheduled/delayed jobs — an event is visible only once the batch
    * time passes `schedule_at` (event.ts:117-120). In streaming form the
    * cutoff is evaluated per micro-batch. */
  def visibleAt(events: DataFrame, cutoff: java.sql.Timestamp): DataFrame =
    events.filter(col("schedule_at").isNull || col("schedule_at") <= lit(cutoff))

  /** E4/E6: consume with a handler; failures route to a dead-letter sink —
    * `<queue>-dead-letter` (event.ts:60-62). The handler runs per micro-batch
    * (at-least-once, idempotent handlers required, same as pg-boss). The
    * driver-side buffer variant is test scaffolding; [[withDlqSink]] is the
    * production shape (distributed write, no driver collect). */
  def withDlq(events: DataFrame, handle: DataFrame => Unit,
              dlqSink: mutable.Buffer[String]): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try handle(batch)
        catch {
          case e: Throwable =>
            batch.select(col("event_id")).collect()
              .foreach(r => dlqSink += s"${r.getString(0)}:${e.getMessage}")
        }
      }

  /** E4 production DLQ: a failed batch is WRITTEN to the dead-letter store
    * (append-mode parquet here; any sink format works) with the error and
    * batch id attached — no rows ever pass through the driver. */
  def withDlqSink(events: DataFrame, handle: DataFrame => Unit,
                  dlqPath: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try handle(batch)
        catch {
          case e: Throwable =>
            batch
              .withColumn("dlq_error", lit(String.valueOf(e.getMessage)))
              .withColumn("dlq_batch_id", lit(batchId))
              .write.mode("append").parquet(dlqPath)
        }
      }

  /** E6 move-jobs worker (events/pgboss/move-jobs.ts:14-120): re-queue every
    * pending job from `fromQueue` onto `toQueue` in one transaction (the
    * reference takes an advisory lock + INSERT…SELECT + DELETE). Batch twin:
    * a single relation rewrite — `deleteFromOriginal = false` keeps the
    * originals alongside the moved copies, mirroring
    * `deleteJobsFromOriginalQueue`. Idempotent under the reference's
    * singleton key (`move_<from>_to_<to>`) because re-running on the
    * rewritten relation finds no movable `fromQueue` rows left.
    *
    * `pendingStates` mirrors the reference's `state IN ('created', 'active',
    * 'retry')` guard (move-jobs.ts:110-126): only pending jobs move (copies
    * land with `state = 'created'`, move-jobs.ts:109) and only pending jobs
    * delete — completed/failed history stays on the original queue. Empty =
    * no state column required, every `fromQueue` row moves. All columns
    * (singleton_key, priority, payload, …) ride along untouched, exactly the
    * reference's column-for-column INSERT…SELECT. */
  def moveJobs(jobs: DataFrame, fromQueue: String, toQueue: String,
               deleteFromOriginal: Boolean = true,
               pendingStates: Seq[String] = Nil): DataFrame = {
    // coalesce: a NULL state must read "not pending" — without it the row
    // satisfies neither movable nor !movable (three-valued logic) and
    // silently vanishes from the rewrite
    val movable =
      if (pendingStates.isEmpty) col("queue") === fromQueue
      else col("queue") === fromQueue &&
        coalesce(col("state").isin(pendingStates: _*), lit(false))
    val moved0 = jobs.filter(movable).withColumn("queue", lit(toQueue))
    val moved =
      if (pendingStates.isEmpty) moved0
      else moved0.withColumn("state", lit("created"))
    if (deleteFromOriginal)
      jobs.filter(!movable).unionByName(moved)
    else jobs.unionByName(moved)
  }

  /** E6 dispatch input/outcome rows (webhook.ts:102-195). */
  final case class DispatchEvent(event_id: String, queue: String, payload: String)
  final case class RetryState(attempts: Int)
  final case class DispatchOutcome(event_id: String, queue: String,
                                   outcome: String, attempts: Int)

  /** E6: webhook dispatch with per-event retry bookkeeping — the pg-boss
    * `retryLimit` + dead-letter semantics (event.ts:60-62, webhook.ts:102-195)
    * as keyed custom state (`flatMapGroupsWithState`). Attempts survive across
    * redeliveries (micro-batches); success → `delivered`, exhaustion at
    * `maxAttempts` → `dead-letter`, else `retrying` with state updated.
    * `send` sees (event, attempt) so backoff policies can key on the count;
    * it must be deterministic/idempotent — at-least-once delivery, exactly
    * like the reference's workers. State is O(in-flight failing events). */
  def dispatchWithRetries(events: Dataset[DispatchEvent],
                          send: (DispatchEvent, Int) => Boolean,
                          maxAttempts: Int = 3): Dataset[DispatchOutcome] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_id)
      .flatMapGroupsWithState[RetryState, DispatchOutcome](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: String, rows: Iterator[DispatchEvent], state: GroupState[RetryState]) =>
          rows.toSeq.map { ev =>
            val attempt = state.getOption.map(_.attempts).getOrElse(0) + 1
            if (send(ev, attempt)) {
              if (state.exists) state.remove()
              DispatchOutcome(id, ev.queue, "delivered", attempt)
            } else if (attempt >= maxAttempts) {
              if (state.exists) state.remove()
              DispatchOutcome(id, ev.queue, "dead-letter", attempt)
            } else {
              state.update(RetryState(attempt))
              DispatchOutcome(id, ev.queue, "retrying", attempt)
            }
          }.iterator
      }
  }

  /** One row of the merged state+query stream [[streamingAsOf]] consumes:
    * `kind` = "state" (updates the per-key latest) or "query" (reads it). */
  final case class StateEvent(key: Long, ts: java.sql.Timestamp, kind: String,
                              event_id: Long, payload: String)
  final case class AsOfState(tsMillis: Long, tiebreak: Long, payload: String)
  final case class AsOfResult(key: Long, event_id: Long, asof_payload: Option[String])

  /** Streaming twin of [[graft.operators.Temporal.asOfJoin]]: enrich each
    * query event with the LATEST state event at or before it for the same
    * key — keyed custom state (`flatMapGroupsWithState`), O(1) state per
    * key (just the current latest), exactly the feature-lookup shape online.
    * Within a micro-batch rows fold in (ts, state-before-query, tiebreak)
    * order, matching the batch operator's tie contract; ACROSS batches the
    * stream is monotone-forward — a state row arriving after a later query
    * was already emitted cannot retro-correct it (at-least-once streaming
    * semantics; the batch as-of remains the ground-truth backfill). */
  def streamingAsOf(events: Dataset[StateEvent]): Dataset[AsOfResult] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfResult](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[StateEvent], state: GroupState[AsOfState]) =>
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.kind == "state") 0 else 1, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[AsOfResult]
          sorted.foreach { e =>
            if (e.kind == "state") {
              if (cur.forall(c => c.tsMillis < e.ts.getTime ||
                  (c.tsMillis == e.ts.getTime && c.tiebreak <= e.event_id)))
                cur = Some(AsOfState(e.ts.getTime, e.event_id, e.payload))
            } else out += AsOfResult(key, e.event_id, cur.map(_.payload))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Stream-stream interval join: purchases joined to the clicks that
    * preceded them within `windowSeconds` for the same user — the
    * streaming twin of [[graft.operators.Temporal.rangeJoinAgg]]'s match
    * relation. BOTH sides carry watermarks and the join condition bounds
    * each stream's event time relative to the other in BOTH directions
    * (`c_ts ∈ [p_ts - window, p_ts]`), which is exactly what lets Spark
    * expire buffered state: a click older than (watermark - window) can
    * never match a future purchase and is dropped. Without the two-sided
    * bound the state store grows without limit — THE operational failure
    * mode of stream-stream joins at scale. `StreamingSpec` pins parity
    * with the batch formulation across multi-batch feeds. */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
                   windowSeconds: Long,
                   watermarkDelay: String = "1 hour"): DataFrame = {
    val p = purchases.select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Streaming distinct-count state: the HLL register relation
    * ([[graft.operators.Sketches.hllRegisters]]) maintained as a streaming
    * aggregation. `max(rank)` per bucket is monotone, so update mode emits
    * register rows only as they grow and TOTAL operator state is ≤ 4096
    * rows per sketched column no matter how many events arrive — compare
    * `dropDuplicates`, whose key state grows with the distinct count
    * itself. THE way to keep "distinct users ever" queryable over an
    * unbounded stream; the final estimate is
    * [[graft.operators.Sketches.hllMergeEstimate]] over the stored
    * registers (semilattice merge — batch/stream parity is exact and
    * `StreamingSpec` pins it). */
  def streamingHllRegisters(events: DataFrame, valueCol: String): DataFrame =
    graft.operators.Sketches.hllRegisters(
      events.select(lit(valueCol).as("col_name"),
          org.apache.spark.sql.functions.col(valueCol).cast("string").as("val"))
        .filter(org.apache.spark.sql.functions.col("val").isNotNull))

  /** Windowed event-rate aggregation with watermark — the monitoring
    * counterpart (A8) in streaming form. */
  def windowedCounts(events: DataFrame, windowLength: String = "5 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("created_at", watermarkDelay)
      .groupBy(window(col("created_at"), windowLength), col("queue"))
      .agg(count(lit(1)).as("n"))

  /** Streaming gap-timeout sessionization — the native `session_window`
    * form of [[graft.operators.Temporal.sessionStats]]; `StreamingSpec`
    * pins batch/stream parity on the census. One boundary convention
    * differs: session windows are half-open `[t, t+gap)`, so a silence of
    * EXACTLY the gap seals the streaming session, while the batch op's
    * strict `>` keeps it open — off that single instant the two censuses
    * are identical. Watermark bounds the open-session state; emits one
    * row per sealed session with the same census columns (minus the
    * ordinal, which an append-mode stream cannot number globally). */
  def sessionizedStats(events: DataFrame, keyCol: String, tsCol: String,
                       gapSeconds: Long,
                       watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), s"$gapSeconds seconds"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        ((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol)))) / 1000000L)
          .cast("long").as("span_sec"))
      .drop("session_window")

  final case class FunnelEvent(user_id: Long, event_type: String,
                               ts: java.sql.Timestamp)
  final case class FunnelState(stage: Int, tsMillis: Long)
  final case class FunnelProgress(user_id: Long, stage: Int,
                                  ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.Funnel]]: the per-user funnel
    * position as keyed custom state — (stage index, timestamp of its first
    * qualifying hit), O(1) per user however long the event history. Each
    * micro-batch processes its rows in event-time order and the greedy
    * earliest progression equals the batch operator's "first qualifying
    * hit" chain (t_k = min ts of stage-k events strictly after t_{k-1}),
    * so batch/stream parity holds whenever arrival respects event-time
    * order across micro-batches (StreamingSpec pins it); events arriving
    * late behind an already-advanced stage are ignored, the standard
    * at-most-once-advance streaming funnel contract. Emits one row per
    * stage ADVANCE (append mode). */
  final case class RateEvent(event_type: String, ts: java.sql.Timestamp)
  final case class RateBuckets(buckets: List[(Long, Long)]) // (hourIdx, n) asc
  final case class RateSpike(event_type: String, hour_idx: Long, n: Long,
                             prev_hours: Int, prev_n: Long, spike: Boolean)

  /** Streaming twin of the batch `events_rate_spike` census: per-type
    * hourly counts vs the trailing-24h baseline, as keyed custom state
    * BOUNDED at ≤25 hour buckets per event type (the open hour + its
    * 24-hour lookback) no matter how long the stream runs — the
    * flatMapGroupsWithState analog of the batch RANGE frame. A bucket is
    * evaluated and emitted when a LATER hour's first event arrives
    * (hours with zero events don't exist on either side, matching the
    * batch frame over existing rows); the newest bucket stays open and
    * unemitted; events arriving behind the open hour are ignored — the
    * same late-arrival contract as [[streamingFunnel]]. The spike gate
    * is the batch one verbatim: cross-multiplied int64 with a ≥12-hour
    * baseline floor. Batch/stream parity for event-time-ordered arrival
    * is pinned by StreamingSpec. */
  def streamingRateSpikes(events: Dataset[RateEvent]): Dataset[RateSpike] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[RateBuckets, RateSpike](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[RateEvent], state: GroupState[RateBuckets]) =>
          var buckets = state.getOption.map(_.buckets).getOrElse(Nil)
          val out = Seq.newBuilder[RateSpike]
          def close(h: Long, n: Long): Unit = {
            val prev = buckets.filter { case (bh, _) => bh >= h - 24 && bh < h }
            val prevHours = prev.size
            val prevN = prev.map(_._2).sum
            out += RateSpike(key, h, n, prevHours, prevN,
              prevHours >= 12 && n * prevHours > 3L * prevN)
          }
          rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val h = Math.floorDiv(e.ts.getTime, 3600000L)
            buckets match {
              case Nil => buckets = List((h, 1L))
              case _ =>
                val (lastH, lastN) = buckets.last
                if (h == lastH)
                  buckets = buckets.init :+ ((lastH, lastN + 1L))
                else if (h > lastH) {
                  close(lastH, lastN) // the open bucket just completed
                  buckets = (buckets :+ ((h, 1L)))
                    .filter { case (bh, _) => bh >= h - 24 }
                }
                // h < lastH: late event behind the open hour — ignored
            }
          }
          state.update(RateBuckets(buckets))
          out.result().iterator
      }
  }

  def streamingFunnel(events: Dataset[FunnelEvent],
                      stages: Seq[String]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Seq.newBuilder[FunnelProgress]
          rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
            if (st.stage < stages.length && e.event_type == stages(st.stage) &&
                (st.stage == 0 || e.ts.getTime > st.tsMillis)) {
              st = FunnelState(st.stage + 1, e.ts.getTime)
              out += FunnelProgress(user, st.stage, e.ts)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HHItem(g: String, item: String)
  final case class MGState(counters: Map[String, Long], n_seen: Long)
  final case class HHCandidate(g: String, item: String, mg_count: Long, n_seen: Long)

  /** One sequential Misra–Gries pass over `items` starting from `counters0`
    * — THE fold [[streamingHeavyHitters]] applies per micro-batch, factored
    * out so the batch guarantee census (`e12_mg_guarantee_census`) grades
    * the identical code path. Deterministic in arrival order: insert is
    * gated only on size, decrement-all hits every counter equally. Returns
    * (counters, items consumed). */
  def mgFold(items: Iterator[String], counters0: Map[String, Long],
             budget: Int): (Map[String, Long], Long) = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    counters ++= counters0
    var seen = 0L
    items.foreach { item =>
      seen += 1
      counters.get(item) match {
        case Some(c) => counters(item) = c + 1
        case None if counters.size < budget => counters(item) = 1L
        case None =>
          val dead = List.newBuilder[String]
          counters.keysIterator.foreach { key =>
            val c = counters(key) - 1
            if (c == 0) dead += key else counters(key) = c
          }
          dead.result().foreach(counters.remove)
      }
    }
    (counters.toMap, seen)
  }

  /** Streaming heavy-hitters candidate stage: a per-group Misra–Gries
    * summary (4k counters) as keyed custom state — the "trending tokens
    * over an unbounded stream" shape, state bounded at 4k counters per
    * group FOREVER.
    *
    * Guarantee (the Misra–Gries pigeonhole argument): any item whose
    * share of the group's stream is STRICTLY above 1/(4k+1) is guaranteed
    * present in the current candidate set (MG with b counters never evicts
    * anything above share 1/(b+1)), so share-≥1/k items always survive.
    * Candidates are a SUPERSET with lower-bound counts — the exact-count
    * confirmation join stays a batch job, the second pass of the classic
    * two-pass algorithm. The fold is deterministic in arrival order (insert
    * gated only on size, decrement-all hits every counter equally), so
    * the streaming state after N batches equals one sequential MG pass
    * over the concatenated stream — StreamingSpec pins that parity.
    * Re-emitted each batch with the group's running n_seen. */
  def streamingHeavyHitters(rows: Dataset[HHItem], k: Int): Dataset[HHCandidate] = {
    require(k >= 2, s"heavy hitters needs k >= 2, got $k")
    val budget = 4 * k
    import rows.sparkSession.implicits._
    rows.groupByKey(_.g)
      .flatMapGroupsWithState[MGState, HHCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[HHItem], state: GroupState[MGState]) =>
          val prev = state.getOption.getOrElse(MGState(Map.empty, 0L))
          val (counters, n) = mgFold(it.map(_.item), prev.counters, budget)
          val seen = prev.n_seen + n
          state.update(MGState(counters, seen))
          counters.toSeq.sortBy(x => (-x._2, x._1)).iterator
            .map { case (item, c) => HHCandidate(g, item, c, seen) }
      }
  }

  final case class SampleRow(g: String, v: Double, key: String)
  final case class HV(h: Long, v: Double)
  final case class BottomKState(hv: Seq[HV])
  final case class DecileEstimate(g: String, decile: Int,
                                  est_value: Double, sample_n: Int)

  /** Streaming twin of [[graft.operators.Sketches.bottomKQuantiles]]: a
    * per-group bottom-k-by-hash sample maintained as keyed custom state,
    * decile estimates re-emitted whenever a group's sample changes.
    *
    * The state is BOUNDED at k (h, v) pairs per group forever — the
    * semilattice property (bottom-k of a union = bottom-k of bottom-ks)
    * means merging each micro-batch into the retained sample loses
    * nothing, so batch/stream parity is EXACT, not approximate-parity
    * (StreamingSpec pins it against the batch operator). Re-delivered
    * keys (at-least-once upstream) are absorbed by the set-union:
    * an identical (h, v) pair dedups instead of double-inserting.
    * The hash is the repo's portable md5-60-bit kernel, bit-identical
    * to the SQL `conv(substring(md5(key),1,15),16,10)` form. */
  def streamingBottomK(rows: Dataset[SampleRow], k: Int): Dataset[DecileEstimate] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.g)
      .flatMapGroupsWithState[BottomKState, DecileEstimate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[SampleRow], state: GroupState[BottomKState]) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def h60(s: String): Long = {
            val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            java.lang.Long.parseLong(hex.substring(0, 15), 16)
          }
          val prev = state.getOption.map(_.hv).getOrElse(Seq.empty)
          val merged = (prev ++ it.map(r => HV(h60(r.key), r.v)))
            .distinct.sortBy(x => (x.h, x.v)).take(k)
          if (merged == prev) Iterator.empty
          else {
            state.update(BottomKState(merged))
            val byV = merged.sortBy(x => (x.v, x.h))
            val n = byV.size
            (1 to 9).iterator.map { d =>
              val rank = (1L + ((n - 1).toLong * d) / 10L).toInt
              DecileEstimate(g, d, byV(rank - 1).v, n)
            }
          }
      }
  }


  /** Streaming 15-minute OHLC bars — the `t_resample_ohlc` twin under a
    * watermark: open/close via the same unique integer in-bar key
    * (µs offset · 1e7 + event_id), so sealed bars match the batch op
    * EXACTLY (StreamingSpec pins parity). State is one row per open
    * (type, window) pair, sealed and evicted by the watermark. */
  def streamingOhlc(events: DataFrame, watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .withColumn("k", expr("unix_micros(ts) % 900000000") * 10000000L + col("event_id"))
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(min_by(col("value"), col("k")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("k")).as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("bar_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))

  // ── events_ewma twin: keyed EWMA state fold ──
  final case class EwmaPoint(g: String, t: Long, y: Double)
  final case class EwmaState(lastT: Long, half: Double, quarter: Double, n: Long)
  final case class EwmaOut(g: String, n: Long, ewma_half: Double,
                           ewma_quarter: Double)

  /** Streaming EWMA — the `events_ewma` twin as one Double-pair of keyed
    * state per group (the smallest possible stream state: EWMA's whole
    * point is that the summary IS the state). Points fold in (t) order —
    * within a batch the iterator is sorted; across batches arrival must be
    * monotone per key (enforce upstream with a watermark + sorted
    * foreachBatch in production). Because the recurrence applies the SAME
    * IEEE ops in the SAME order as the batch fold, sealed values match
    * `events_ewma` bit-for-bit — StreamingSpec pins the parity. */
  def streamingEwma(points: Dataset[EwmaPoint]): Dataset[EwmaOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.g)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[EwmaPoint], state: GroupState[EwmaState]) =>
          val pts = it.toSeq.sortBy(_.t)
          if (pts.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse {
              val h = pts.head
              EwmaState(h.t, h.y, h.y, 1L)
            }
            val rest = if (state.exists) pts else pts.tail
            rest.foreach { p =>
              // cross-batch monotonicity is a CONTRACT, not a hope: a
              // point older than sealed state would fold into the wrong
              // position and silently corrupt the recurrence. Fail loud.
              require(p.t >= st.lastT,
                s"streamingEwma: out-of-order point for key '$g' " +
                  s"(t=${p.t} < sealed lastT=${st.lastT}); enforce a " +
                  "watermark + per-key monotone delivery upstream")
              st = EwmaState(p.t, (st.half + p.y) / 2.0,
                0.75 * st.quarter + 0.25 * p.y, st.n + 1)
            }
            state.update(st)
            Iterator.single(EwmaOut(g, st.n, st.half, st.quarter))
          }
      }
  }

  // ── events_kalman_1d twin: keyed (x̂, P, K, Σinnov²) state ──
  final case class KalmanPoint(g: String, t: Long, y: Double)
  final case class KalmanState(lastT: Long, n: Long, x: Double, p: Double,
                               k: Double, ssi: Double)
  final case class KalmanOut(g: String, n: Long, x_hat: Double, p_cov: Double,
                             gain: Double, ssi: Double)

  /** Streaming 1-D Kalman filter — the `events_kalman_1d` twin: four
    * doubles of keyed state (estimate, covariance, gain, innovation
    * energy), dyadic q=1/4 r=4, the IDENTICAL IEEE op sequence as the
    * batch `aggregate` fold, so sealed values match bit-for-bit
    * (StreamingSpec pins the parity). Same monotonicity contract as
    * [[streamingEwma]]. */
  def streamingKalman(points: Dataset[KalmanPoint]): Dataset[KalmanOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.g)
      .flatMapGroupsWithState[KalmanState, KalmanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[KalmanPoint], state: GroupState[KalmanState]) =>
          val pts = it.toSeq.sortBy(_.t)
          if (pts.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse {
              val h = pts.head
              KalmanState(h.t, 1L, h.y, 1.0, 0.0, 0.0)
            }
            val rest = if (state.exists) pts else pts.tail
            rest.foreach { pt =>
              require(pt.t > st.lastT,
                s"streamingKalman: out-of-order point for key '$g' " +
                  s"(t=${pt.t} <= sealed lastT=${st.lastT}); enforce a " +
                  "watermark + per-key monotone delivery upstream")
              val pp = st.p + 0.25
              val k = pp / (pp + 4.0)
              val innov = pt.y - st.x
              st = KalmanState(pt.t, st.n + 1L, st.x + k * innov,
                (1.0 - k) * pp, k, st.ssi + innov * innov)
            }
            state.update(st)
            Iterator.single(KalmanOut(g, st.n, st.x, st.p, st.k, st.ssi))
          }
      }
  }

  // ── events_holt_winters twin: keyed (level, trend, seasonal-queue) state ──
  final case class HwPoint(g: String, t: Long, y: Double)
  final case class HwState(lastT: Long, n: Long, warm: Seq[Double],
                           l: Double, b: Double, s: Seq[Double])
  final case class HwOut(g: String, n: Long, level: Double, trend: Double,
                         forecast_h3: Double)

  /** Streaming Holt-Winters (additive, m = 24) — the `events_holt_winters`
    * twin. State is exactly the batch fold's accumulator: after a 48-point
    * warm-up buffer (l₀ = mean(y₁..₂₄), b₀ = (mean(y₂₅..₄₈) − l₀)/24 per
    * step ⇒ /576, sᵢ = yᵢ − l₀), each point pops the seasonal-queue head
    * and appends the refreshed factor — dyadic α=1/2, β=1/4, γ=1/2, the
    * IDENTICAL IEEE op sequence as the batch `aggregate` and its DuckDB
    * recursive-CTE oracle, so sealed values match bit-for-bit
    * (StreamingSpec pins the parity). State is O(m) = O(24) doubles per
    * key — constant at any corpus scale; keys parallelize. Same
    * cross-batch monotonicity contract as [[streamingEwma]]: an
    * out-of-order point would fold into the wrong slot, so it fails loud. */
  def streamingHoltWinters(points: Dataset[HwPoint]): Dataset[HwOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.g)
      .flatMapGroupsWithState[HwState, HwOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[HwPoint], state: GroupState[HwState]) =>
          val pts = it.toSeq.sortBy(_.t)
          if (pts.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              HwState(Long.MinValue, 0L, Vector.empty, 0.0, 0.0, Vector.empty))
            pts.foreach { p =>
              require(p.t > st.lastT,
                s"streamingHoltWinters: out-of-order point for key '$g' " +
                  s"(t=${p.t} <= sealed lastT=${st.lastT}); enforce a " +
                  "watermark + per-key monotone delivery upstream")
              if (st.n < 48L) {
                val warm = st.warm :+ p.y
                if (warm.length == 48) {
                  var a1 = 0.0; warm.slice(0, 24).foreach(y => a1 += y)
                  var a2 = 0.0; warm.slice(24, 48).foreach(y => a2 += y)
                  st = HwState(p.t, 48L, Vector.empty, a1 / 24.0,
                    (a2 - a1) / 576.0, warm.slice(0, 24).map(y => y - a1 / 24.0))
                } else st = HwState(p.t, st.n + 1L, warm, 0.0, 0.0, Vector.empty)
              } else {
                val sOld = st.s.head
                val lNew = 0.5 * (p.y - sOld) + 0.5 * (st.l + st.b)
                val bNew = 0.25 * (lNew - st.l) + 0.75 * st.b
                val sNew = 0.5 * (p.y - lNew) + 0.5 * sOld
                st = HwState(p.t, st.n + 1L, Vector.empty, lNew, bNew,
                  st.s.tail :+ sNew)
              }
            }
            state.update(st)
            // batch parity: events_holt_winters emits only for series with
            // at least one folded point past the 48-hour warm-up
            if (st.n >= 49L)
              Iterator.single(HwOut(g, st.n, st.l, st.b,
                st.l + 3.0 * st.b + st.s(2)))
            else Iterator.empty
          }
      }
  }

  // ── events_peak_concurrency twin: keyed interval-sweep state ──
  final case class ConcDelta(g: String, dts: Long, net: Long)
  final case class ConcState(running: Long, peak: Long, peakAt: Long)
  final case class ConcOut(g: String, peak: Long, peak_at_us: Long)

  /** Streaming peak concurrency — the `events_peak_concurrency` twin:
    * per-timestamp aggregated ±1 deltas fold through three longs of keyed
    * state (running sum, peak, first peak instant). Same order-free
    * algebra as the batch query (deltas pre-aggregated per distinct
    * timestamp, so no tie semantics exist); deltas must arrive
    * time-monotone per key across batches, sorted within each batch. */
  def streamingPeakConcurrency(deltas: Dataset[ConcDelta]): Dataset[ConcOut] = {
    import deltas.sparkSession.implicits._
    deltas.groupByKey(_.g)
      .flatMapGroupsWithState[ConcState, ConcOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[ConcDelta], state: GroupState[ConcState]) =>
          var st = state.getOption.getOrElse(ConcState(0L, Long.MinValue, 0L))
          val ds = it.toSeq.sortBy(_.dts)
          if (ds.isEmpty) Iterator.empty
          else {
            ds.foreach { d =>
              val r = st.running + d.net
              st = if (r > st.peak) ConcState(r, r, d.dts)
              else ConcState(r, st.peak, st.peakAt)
            }
            state.update(st)
            Iterator.single(ConcOut(g, st.peak, st.peakAt))
          }
      }
  }
}
