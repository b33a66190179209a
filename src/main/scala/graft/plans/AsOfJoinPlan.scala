package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

/** Native as-of join: the whole-operator Catalyst seam — a custom
  * `LogicalPlan` node, a `Rule[LogicalPlan]` that pushes key predicates
  * through it, a `SparkStrategy` planning it, and a `SparkPlan` that
  * merge-scans the two sorted sides with O(1) state per key. Registered
  * via [[GraftExtensions]] (`spark.sql.extensions`) or in-session with
  * [[AsOfJoinPlan.install]].
  *
  * [[graft.operators.Temporal.asOfJoin]] composes the same semantics from
  * built-ins (union + keyed window) — the preferred formulation when
  * composition suffices. This node exists for the plan-level capabilities
  * composition cannot express:
  *
  *  - **declared distribution/ordering requirements**: the exec demands
  *    `ClusteredDistribution` on the key and (key, time) sort from BOTH
  *    children, so EnsureRequirements co-partitions the sides exactly like
  *    a sort-merge join — and bucketed/pre-sorted inputs satisfy the
  *    requirement with ZERO added exchange, which the union formulation
  *    can never do (the union itself repartitions both sides afresh).
  *  - **constant memory in the operator**: the merge iterator holds ONE
  *    candidate right row; the window formulation buffers frames in
  *    WindowExec's row container.
  *  - **optimizer participation**: Catalyst cannot push predicates through
  *    an opaque union+window pipeline, but [[PushKeyFilterThroughAsOfJoin]]
  *    mirrors left-key predicates to the right child, pruning the right
  *    scan before any shuffle.
  *
  * Contract (enforced by the [[AsOfJoinPlan.asof]] helper, which casts):
  * key / time / tiebreak are non-null longs (time = epoch micros). Match =
  * latest right row with `r.time <= l.time` on the same key; right ties on
  * time resolve to the greatest tiebreak — identical semantics to
  * `Temporal.asOfJoin` (t_asof_join_native grades against the SAME oracle).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Expression, leftTime: Expression,
                    rightKey: Expression, rightTime: Expression,
                    rightTie: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Left-key predicates prune BOTH sides of an as-of join: a right row whose
  * key fails the predicate can never be any surviving left row's match. The
  * rule splits conjuncts, keeps those whose only reference is the left key
  * attribute, and pushes them into the left child as-is and into the right
  * child with the key attribute substituted — the scan-level pruning
  * Catalyst can't infer through a custom node on its own. */
object PushKeyFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      (j.leftKey, j.rightKey) match {
        case (lk: AttributeReference, rk: AttributeReference) =>
          val (keyPreds, rest) = splitConjunctivePredicates(cond)
            .partition(p => p.references.subsetOf(AttributeSet(lk :: Nil)) &&
              p.deterministic)
          if (keyPreds.isEmpty) f
          else {
            val mirrored = keyPreds.map(_.transform {
              case a: AttributeReference if a.semanticEquals(lk) => rk
            })
            val pushed = j.copy(
              left = Filter(keyPreds.reduce(And), j.left),
              right = Filter(mirrored.reduce(And), j.right))
            rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
          }
        case _ => f
      }
  }
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, tb) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: both children clustered on the key and sorted by
  * (key, time[, tiebreak]); one linear merge pass per partition holding a
  * single candidate right row — the constant-state formulation. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, leftTime: Expression,
                        rightKey: Expression, rightTime: Expression,
                        rightTie: Expression) extends BinaryExecNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val nRight = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val nullRight = new GenericInternalRow(nRight)
        private val joined = new JoinedRow
        // one buffered right row + one retained candidate: O(1) state
        private var nextRight: InternalRow =
          if (rIter.hasNext) rIter.next() else null
        private var candidate: InternalRow = null
        private var candidateKey = 0L

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          // SQL join semantics for NULLs: a null key or time matches
          // nothing. eval() returns a null REFERENCE there — the previous
          // asInstanceOf[Long] silently unboxed it to 0L and bound null
          // rows to key 0.
          val keyV = lk.eval(l)
          val timeV = lt.eval(l)
          if (keyV == null || timeV == null) joined(l, nullRight)
          else {
            val key = keyV.asInstanceOf[Long]
            val time = timeV.asInstanceOf[Long]
            // consume right rows up to (key, time]; the LAST consumed row of
            // this key is the match (sort order makes it max (time, tie))
            var scanning = true
            while (scanning && nextRight != null) {
              val kV = rk.eval(nextRight)
              val tV = rt.eval(nextRight)
              if (kV == null || tV == null) {
                // null-keyed/timed right rows can never match any probe
                nextRight = if (rIter.hasNext) rIter.next() else null
              } else {
                val k = kV.asInstanceOf[Long]
                val t = tV.asInstanceOf[Long]
                if (k < key || (k == key && t <= time)) {
                  if (k == key) { // rows for earlier keys never match again
                    candidate = nextRight.copy()
                    candidateKey = k
                  }
                  nextRight = if (rIter.hasNext) rIter.next() else null
                } else scanning = false
              }
            }
            if (candidate != null && candidateKey == key) joined(l, candidate)
            else joined(l, nullRight)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** `spark.sql.extensions`-style registration (the config path a cluster
  * would use): injects the planner strategy, the pushdown rule, and the
  * SQL-surface function registrations ([[graft.functions.GraftFunctions]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushKeyFilterThroughAsOfJoin)
    graft.functions.GraftFunctions.register(ext)
  }
}

object AsOfJoinPlan {
  /** Idempotent in-session registration for sessions built without
    * `spark.sql.extensions` (tests, Verify). */
  def install(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(AsOfJoinStrategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!cs.experimental.extraOptimizations.contains(PushKeyFilterThroughAsOfJoin))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ PushKeyFilterThroughAsOfJoin
  }

  /** As-of join through the native plan, with the same surface as
    * [[graft.operators.Temporal.asOfJoin]]: every left row + `<prefix><col>`
    * for each right payload column (NULL when no right row precedes).
    * Key/time/tiebreak are cast to long here (time via `unix_micros`),
    * honoring the exec's non-null-long contract. */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           tiebreak: String, payloadCols: Seq[String],
           prefix: String = "asof_"): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // When the key is already a long, keep its ORIGINAL attribute as the
    // node's key: user-facing filters on that column are then syntactically
    // key predicates and PushKeyFilterThroughAsOfJoin can mirror them to
    // the right child. A derived alias would hide the equivalence.
    val keyIsLong =
      left.schema(key).dataType == org.apache.spark.sql.types.LongType
    val l0 = if (keyIsLong) left else left.withColumn("_ak", col(key).cast("long"))
    val l = l0.withColumn("_at", unix_micros(col(ts).cast("timestamp")))
    val r = right.select(Seq(col(key).cast("long").as("_bk"),
      unix_micros(col(ts).cast("timestamp")).as("_bt"),
      col(tiebreak).cast("long").as("_btb")) ++
      payloadCols.map(c => col(c).as(prefix + c)): _*)
    def attr(df: DataFrame, name: String): Attribute =
      df.queryExecution.analyzed.output.find(_.name == name).get
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    val node = AsOfJoin(lp, rp,
      attr(l, if (keyIsLong) key else "_ak"), attr(l, "_at"),
      attr(r, "_bk"), attr(r, "_bt"), attr(r, "_btb"))
    org.apache.spark.sql.classic.GraftSqlBridge.ofRows(cs, node)
      .select(left.columns.map(col) ++ payloadCols.map(c => col(prefix + c)): _*)
  }
}
