package graft

import org.apache.spark.sql.SparkSession

/** Plan review tool: `runMain graft.Explain <sfDir> <query>[,<query>...]
  * [exec]` prints the formatted physical plan of each named registry query
  * (all of them if none named) — the SURVEY §4 feedback loop for checking
  * pushed filters, ReadSchema pruning, broadcast vs sort-merge joins, and
  * WholeStageCodegen spans.
  *
  * With `exec` as the 3rd arg, each query is ALSO executed through the
  * noop sink (guide §1.4) and the AQE-decided FINAL plan printed — the
  * initial plan lies about join strategy wherever AQE defers the
  * broadcast-vs-SMJ choice until runtime exchange stats land (r14: the
  * pipeline_corpus_build initial plan showed 3 SortMergeJoins that the
  * executed plan replans as broadcast).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1) args(1).split(",").toSeq else Registry.all.keys.toSeq.sorted
    val exec = args.length > 2 && {
      require(args(2) == "exec", s"unknown 3rd arg '${args(2)}'; only 'exec'")
      true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      if (exec) math.min(Runtime.getRuntime.availableProcessors, 32).toString
      else "4")
    val spark = Tuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Warehouse.dir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // In exec mode, ALSO print every INTERNAL execution (the localCheckpoint
    // / pin-count jobs operators run inside fn()) — queries whose top-level
    // plan ends at a checkpoint leaf (i6_snapshot_expiry,
    // the iterative graph family) are otherwise invisible to plan review
    // (the r13 Louvain loop plan gap, generalized).
    if (exec) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          println(s"\n---------- internal execution ($funcName, " +
            f"${durationNs / 1e9}%.3f s) ----------")
          println(qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = Registry.all(n).fn(spark, sfDir)
      df.explain("formatted")
      if (exec) {
        // a noop-sink write would spawn its OWN QueryExecution and leave
        // this one un-finalized (isFinalPlan=false) — drive THIS plan's
        // toRdd instead, which computes every column of every row like the
        // noop sink and lets AQE finalize the very plan being printed
        df.queryExecution.toRdd.count()
        println(s"\n========== $n (final plan, post execution) ==========")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
    Warehouse.cleanup()
  }
}
