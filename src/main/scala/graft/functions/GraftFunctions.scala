package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the library's custom Catalyst expressions:
  * `spark.sql("SELECT vec_dot(a, b) ...")` works exactly like the Column
  * API (`VectorExprs.vecDot`) — same Expression node, same codegen, same
  * bit-level numerics. Registered either through [[graft.plans
  * .GraftExtensions]] (`spark.sql.extensions` — the cluster config path)
  * or in-session via [[install]] (tests, Verify).
  *
  * This is the seam that lets a SQL-only client of the engine (BI tool,
  * notebook `%%sql`, the driver's own `spark.sql`) reach the hot-loop
  * kernels — without it the custom expressions are Scala-API-only.
  */
object GraftFunctions {

  /** (name, usage, builder) for every SQL-exposed kernel. */
  private val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      "vec_dot(a, b) - exact sequential-fold dot product over numeric arrays",
      args => VecDot(args(0), args(1))),
    ("vec_l2sq",
      "vec_l2sq(a, b) - squared L2 distance over numeric arrays",
      args => VecL2Sq(args(0), args(1))))

  /** In-session registration (idempotent — re-registering replaces). */
  def install(spark: SparkSession): Unit = fns.foreach { case (name, usage, b) =>
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name), info(name, usage), b)
  }

  /** `spark.sql.extensions` path. */
  def register(ext: SparkSessionExtensions): Unit = fns.foreach { case (name, usage, b) =>
    ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
  }

  // 2-arg ctor on purpose: the 3-arg overload is (className, db, name)
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.VectorExprs", name)
}
