package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D8 advisory locks in deterministic batch form (reference
  * src/storage/database/pg.ts:1255-1422 + protocols/tus/postgres-locker.ts).
  *
  * The reference serializes writers per object with Postgres advisory locks
  * keyed by `hashStringToInt(bucket/key[/version])` — DJB2-xor folded to
  * uint32 (src/internal/hashing/string-to-int.ts:1-9). Two verbs:
  * `mustLockObject` = `pg_try_advisory_xact_lock` (fail-fast when held) and
  * `waitObjectLock` = `pg_advisory_xact_lock` under a `lock_timeout` (FIFO
  * wait). A batch engine owns its inputs, so runtime mutual exclusion is
  * moot — what IS preservable is the schedule: given the full request log,
  * compute per-key grant order, which `try` attempts would have failed, and
  * which waiters would exceed their timeout. That turns the concurrency
  * machinery into an auditable relation (one shuffle on the lock key) instead
  * of hidden session state.
  */
object Locks {

  /** The reference's lock-key kernel, bit-for-bit: DJB2 variant
    * `h = ToInt32(h*33) XOR code`, seeded 5381, folded `>>> 0` to uint32
    * (string-to-int.ts:1-9). A native codegen'd expression
    * ([[graft.functions.Djb2Uint32]]) — the earlier `aggregate(split(s,''))`
    * HOF fold computed the same bits but ran interpreted per character
    * (CodegenFallback), the only non-codegen step in the schedule plan. */
  def hashStringToInt(s: Column): Column =
    graft.functions.VectorExprs.djb2Uint32(s)

  /** Deterministic grant schedule for a lock-request log.
    *
    * Input `requests` must carry `key_str` (the string fed to the hash),
    * `ts` (request time) and `requester`, plus any tiebreak columns. Output
    * adds:
    *   - `lock_key`     — uint32 advisory-lock key (the hash kernel above)
    *   - `grant_order`  — FIFO position per key (`pg_advisory_xact_lock`
    *                      queues waiters in arrival order)
    *   - `try_acquired` — what `pg_try_advisory_xact_lock` returns: true only
    *                      for the head of the queue (pg.ts:1267-1270 throws
    *                      ResourceLocked otherwise)
    *   - `wait_ahead`   — queue length in front of this request (0 = granted
    *                      immediately; `waitObjectLock` callers with a
    *                      lock_timeout give up when the wait is too long)
    *
    * One hash-partitioned window on the lock key — per-key queues scale out
    * independently; no global ordering anywhere. */
  def schedule(requests: DataFrame, tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("lock_key"))
      .orderBy(col("ts") +: tiebreak: _*)
    requests
      .withColumn("lock_key", hashStringToInt(col("key_str")))
      .withColumn("grant_order", row_number().over(w))
      .withColumn("try_acquired", col("grant_order") === 1)
      .withColumn("wait_ahead", col("grant_order") - 1)
  }
}
