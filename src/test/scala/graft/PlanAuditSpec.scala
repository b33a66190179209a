package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the r12 PlanAudit finding: AdaptiveSparkPlanExec is a LEAF node, so
  * a plain `plan.collect` sees NOTHING under an AQE-wrapped root — the
  * r9-r11 window/cartesian audits were blind on every wrapped plan. The
  * audit must go through [[PlanAudit.allNodes]], which descends the wrapper
  * (and subqueries); this spec fails if either the wrapper stops being a
  * leaf (collect suddenly sees inside — the workaround could be retired) or
  * allNodes stops seeing inside (the audit went blind again).
  */
class PlanAuditSpec extends SparkTestBase {

  test("allNodes sees through the AQE wrapper where plain collect is blind") {
    val df = spark.range(100).toDF("id")
      .repartition(4, col("id")) // an exchange, so AQE wraps the plan
      .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
      s"fixture no longer AQE-wrapped: ${plan.getClass}")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "plain collect now descends the AQE wrapper — allNodes may be retirable")
    val seen = PlanAudit.allNodes(plan)
    assert(seen.exists(_.isInstanceOf[WindowExec]),
      s"allNodes missed the global window under AQE (saw ${seen.size} nodes)")
  }

  // r13 verdict item 5: the 64 MB session broadcast gate trusts size
  // estimates, so the audit must flag a broadcast build side that reaches a
  // corpus-sized scan with no row-limiting operator — and must NOT flag the
  // bounded shapes (aggregate / limit between scan and broadcast).
  test("unboundedCorpusScans: filter-only corpus lineage flagged, agg/limit bounded") {
    val dir = java.nio.file.Files.createTempDirectory("planaudit").toString
    val path = s"$dir/lineitem.parquet" // corpus-set name
    spark.range(1000).toDF("l_orderkey").write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      PlanAudit.unboundedCorpusScans(df.queryExecution.executedPlan).map(_._1)
    assert(scans(corpus) == Seq("lineitem.parquet"),
      "bare corpus scan must be reported")
    assert(scans(corpus.filter(col("l_orderkey") % 100 === 0)) ==
      Seq("lineitem.parquet"),
      "a filter does NOT bound rows — the estimate-trusting shape must flag")
    val grouped = corpus.groupBy(col("l_orderkey") % 10).count()
    assert(scans(grouped).isEmpty,
      "an aggregate bounds rows to the group count")
    // ...but only its Final side: the Partial half of the split bounds rows
    // per input partition, not globally, so the walk must go through it
    val partial = PlanAudit.allNodes(grouped.queryExecution.executedPlan)
      .collectFirst { case a: HashAggregateExec
        if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) => a }
      .getOrElse(fail("fixture plan has no Partial HashAggregateExec"))
    assert(PlanAudit.unboundedCorpusScans(partial).map(_._1) ==
      Seq("lineitem.parquet"), "a Partial aggregate must not bound rows")
    assert(scans(corpus.limit(10)).isEmpty, "a limit bounds rows")
    val other = s"$dir/tiny_dim.parquet"
    spark.range(10).toDF("k").write.mode("overwrite").parquet(other)
    assert(scans(spark.read.parquet(other)).isEmpty,
      "non-corpus scans are not the detector's business")
    // the reported bytes are the scan's file size — the audit's flag
    // condition (scan above the broadcast gate, build side below it) keys
    // off this, so it must be the real on-disk size, not an estimate
    val reported = PlanAudit
      .unboundedCorpusScans(corpus.queryExecution.executedPlan)
    val onDisk = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(reported.head._2 >= onDisk,
      s"scan bytes ${reported.head._2} below summed data files $onDisk")
  }
}
