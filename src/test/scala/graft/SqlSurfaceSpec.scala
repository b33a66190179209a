package graft

import graft.functions.{GraftFunctions, VectorExprs}
import org.apache.spark.sql.functions._

/** The SQL-surface seam: custom Catalyst kernels reachable from pure SQL
  * text, resolving to the SAME Expression nodes as the Column API. */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("injected functions resolve in spark.sql and match the Column API") {
    GraftFunctions.install(spark)
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head.getDouble(0)
    assert(dot == 32.0)
    val l2 = spark.sql(
      "SELECT vec_l2sq(array(0.0D, 3.0D), array(4.0D, 0.0D)) AS d")
      .head.getDouble(0)
    assert(l2 == 25.0)
    // SQL vec_dot ≡ Column-API vecDot, bit for bit, on the same arrays
    val df = Seq((Seq(0.1, 0.2, 0.3), Seq(0.4, 0.5, 0.6))).toDF("a", "b")
    df.createOrReplaceTempView("sql_surface_t")
    val viaSql = spark.sql("SELECT vec_dot(a, b) AS d FROM sql_surface_t")
      .head.getDouble(0)
    val viaApi = df.select(VectorExprs.vecDot(col("a"), col("b")).as("d"))
      .head.getDouble(0)
    assert(viaSql == viaApi)
  }

  test("GraftExtensions wires functions + as-of strategy without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext) // injection itself must not throw
  }
}
