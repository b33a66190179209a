package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage-service benchmark driver: one workload, one JVM, one session.
  *
  * Phases: ambient-speed probe → session (`local[nproc]`, the `Tuning`
  * defaults, as `graft.Bench` builds it) → seeded inputs → [[SetupRounds]]
  * cold set-ups (fixtures built by `Tables`, warm-up requests; `setup_s` is
  * their median) → JIT warm-up → timed phase → live heap → deferred output
  * checks → probe again → summary and one JSON line.
  *
  * `--trace 0` measures the end-to-end metrics with no listener and no spans.
  * `--trace 1` traces every other request (closed loop) or pass
  * (orphan_scan) of the same timed phase, reports the per-layer metrics of
  * the traced part, the traced-vs-untraced difference as the tracing
  * overhead, and writes the spans as JSON lines. */
object Main {
  val Workloads = Seq("api_mix", "vector_query", "orphan_scan")
  val Clients = 2
  val SetupRounds = 3
  val WarmClient = 90
  val WarmSeconds = 5.0
  /** Request types and fixtures named in the per-layer metrics. A traced run
    * of api_mix or vector_query reports all of the closed-loop ones (zero
    * where the workload has none); orphan_scan adds its own. */
  val Kinds: Seq[String] = Seq(
    "list_v2", "list_v2_page", "search_legacy", "sorted_v2", "find_objects", "list_parts",
    "upsert", "delete", "move", "copy", "iceberg_commit",
    "knn", "knn_filtered", "get_vectors", "list_vectors", "vec_upsert", "vec_delete")
  val OrphanKinds: Seq[String] =
    Seq("orphan_s3", "orphan_db", "backup_jobs", "derive_prefixes", "upload_progress")
  val Fixtures = Seq("inputs", "objects", "parts", "iceberg_tables", "vectors")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  /** Fixed single-thread CPU probe (1M MD5 digests, as `graft.Bench`'s
    * calibration): same code with a slower probe means a slower host. */
  def calibMd5(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](16)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 1000000) { buf(0) = (i & 0xff).toByte; md.update(buf); md.digest(); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val traceDir = arg(args, "--trace-dir")
    val calibStart = calibMd5()

    val tSession = System.nanoTime()
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 32)
    val spark = graft.Tuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val buildS = mutable.Map[String, mutable.Buffer[Double]]()
    def build(name: String, df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val d = df
      buildS.getOrElseUpdate(name, mutable.Buffer()) += (System.nanoTime() - t0) / 1e9
      d
    }
    val inputs = s"$work/inputs"
    val tInputs = System.nanoTime()
    if (workload == "vector_query")
      Inputs.vectors(spark, seed, cpus).write.parquet(s"$inputs/vectors")
    else Inputs.writeStar(spark, seed, inputs)
    buildS("inputs") = mutable.Buffer((System.nanoTime() - tInputs) / 1e9)

    val tracer = new Tracer
    val runner = new Runner(spark, tracer)
    val commits = s"$work/commits"

    // Each round links the inputs under a new path, so `Tables` builds every
    // fixture cold.
    val setups = (1 to SetupRounds).map { round =>
      val dir = s"$work/round$round"
      Files.linkTree(inputs, dir)
      val t0 = System.nanoTime()
      val fx: AnyRef = workload match {
        case "api_mix" => new ApiFixture(spark, dir, seed, build)
        case "vector_query" => new VecFixture(spark, s"$dir/vectors", seed, build)
        case _ => new OrphanFixture(spark, dir, build)
      }
      warmUp(spark, runner, fx, round, s"$work/warm$round")
      ((System.nanoTime() - t0) / 1e9, fx)
    }
    val fx = setups.last._2
    val setupS = Stats.median(setups.map(_._1))
    def clients(first: Int): Seq[Client] = (first until first + Clients).map { c =>
      fx match {
        case a: ApiFixture => new ApiClient(spark, a, c, commits)
        case v: VecFixture => new VecClient(spark, v, c, commits)
      }
    }

    // JIT warm-up: the full closed-loop mix, untimed and unrecorded, so the
    // hot paths are compiled before timing (request latency otherwise keeps
    // falling through the first ~15 s after set-up).
    val warmS = if (workload == "orphan_scan") 0.0 else {
      val t0 = System.nanoTime()
      ClosedLoop.run(new Runner(spark, tracer), clients(WarmClient),
        t0 + (WarmSeconds * 1e9).toLong, trace = false, check = false)
      (System.nanoTime() - t0) / 1e9
    }

    // --- timed phase ---
    // A traced run registers the listener for the whole phase and traces
    // every other request (or pass), so both halves see the same mix and
    // the same host; the untraced half is the overhead baseline.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    val passTimes = mutable.Buffer[(Double, Boolean)]()
    val sc = spark.sparkContext
    if (trace) sc.addSparkListener(tracer)
    val gc0 = gcMs
    val phaseT0 = System.nanoTime()
    val deadlineNs = phaseT0 + (seconds * 1e9).toLong
    workload match {
      case "orphan_scan" =>
        val ofx = fx.asInstanceOf[OrphanFixture]
        val r = Inputs.rng(seed, 300, 0)
        var p = 0
        while (System.nanoTime() < deadlineNs) {
          val on = trace && p % 2 == 1
          val keep = p == 0 || r.nextInt(3) == 0
          val out = s"$commits/pass$p"
          val t0 = System.nanoTime()
          OrphanPass.steps(spark, ofx, out).zipWithIndex.foreach { case (op, i) =>
            runner.run(op, s"pass$p-$i", on, keep)
          }
          passTimes += (((System.nanoTime() - t0) / 1e9, on))
          if (!keep) Files.rm(out)
          p += 1
        }
      case _ => ClosedLoop.run(runner, clients(0), deadlineNs, trace)
    }
    val phaseGcMs = gcMs - gc0
    if (trace) { tracer.awaitQuiet(); sc.removeSparkListener(tracer) }

    // --- memory, checks, probe ---
    // Spark keeps broadcast values behind soft references, which a plain
    // GC leaves in place; a failed allocation larger than the heap makes the
    // JVM clear every soft reference first. Two GCs then let the
    // ContextCleaner drop what the cleared owners held.
    try new Array[Long](Int.MaxValue / 2) catch { case _: OutOfMemoryError => () }
    System.gc(); Thread.sleep(300); System.gc()
    val heapB = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
    val rddInfo = sc.getRDDStorageInfo
    val storageB = rddInfo.map(_.memSize).sum.toDouble
    val offHeapB = rddInfo.filter(_.storageLevel.useOffHeap).map(_.memSize).sum.toDouble
    val tChecks = System.nanoTime()
    val (checked, wrong) = runner.runChecks()
    val checksS = (System.nanoTime() - tChecks) / 1e9
    val calibEnd = calibMd5()

    val recs = runner.recs.asScala.toSeq
    val ok = recs.filter(_.ok)
    val attempted = recs.length
    val failed = attempted - ok.length
    val lat = ok.map(_.ms)
    val reads = ok.filter(!_.write).map(_.ms)
    val writes = ok.filter(_.write).map(_.ms)
    // The judged metrics (BENCHMARK.json): the ones that repeat within the
    // 0.25 bound across runs on a shared 4-core host. The rest rest on few
    // samples per run at the engine's current speed (~7 writes, ~2 requests
    // beyond the p95) or, for the heap, step by ~34 MB between runs of the
    // same code; they are printed in the summary only.
    val endToEnd = if (trace) Nil else Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ok.count(_.endNs <= deadlineNs) / seconds, "op/s"),
      ("latency_p50_ms", Stats.median(lat), "ms"))
    val unjudged = Seq(
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("live_heap_mb", (heapB + offHeapB) / 1e6, "MB"),
      ("latency_p95_ms", Stats.pct(lat, 95), "ms"),
      ("read_p95_ms", Stats.pct(reads, 95), "ms"),
      ("write_p50_ms", Stats.median(writes), "ms"),
      ("write_p95_ms", Stats.pct(writes, 95), "ms")) ++
      (if (workload != "orphan_scan") Nil
       else Seq(("batch_s", Stats.median(passTimes.map(_._1).toSeq), "s")))
    val perLayer = if (!trace) Nil else {
      // closed loop: throughput ∝ 1 / mean latency, so the overhead is the
      // count-weighted per-kind median latency of traced vs untraced requests
      val overhead = if (workload == "orphan_scan") {
        val (on, off) = passTimes.partition(_._2)
        Stats.median(on.map(_._1).toSeq) / Stats.median(off.map(_._1).toSeq) - 1
      } else {
        val per = ok.groupBy(_.kind).values.flatMap { rs =>
          val (t, u) = rs.partition(_.traced)
          if (t.isEmpty || u.isEmpty) None
          else Some((rs.length * Stats.median(t.map(_.ms)), rs.length * Stats.median(u.map(_.ms))))
        }
        per.map(_._1).sum / per.map(_._2).sum - 1
      }
      val orphan = workload == "orphan_scan"
      layerMetrics(tracer, buildS.map(kv => kv._1 -> kv._2.toSeq).toMap, storageB,
        phaseGcMs / (if (orphan) passTimes.length else math.max(1, ok.length)),
        if (orphan) passTimes.count(_._2) else 0,
        if (orphan) Kinds ++ OrphanKinds else Kinds,
        if (orphan) Fixtures :+ "s3_keys" else Fixtures) ++ Seq(
        ("trace.overhead_frac", overhead, "ratio"),
        ("host.calib_start_s", calibStart, "s"),
        ("host.calib_end_s", calibEnd, "s"))
    }
    if (trace) tracer.writeSpans(s"$traceDir/$workload-seed$seed.jsonl")

    // --- report ---
    val fmt = (v: Double) => String.format(Locale.ROOT, "%.6g", Double.box(v))
    println(s"perfbench $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cpus=$cpus clients=${if (workload == "orphan_scan") 1 else Clients}")
    println(s"  session_s=${fmt(sessionS)} inputs_s=${fmt(buildS("inputs").head)} " +
      s"setup_rounds_s=${setups.map(x => fmt(x._1)).mkString(",")} warmup_s=${fmt(warmS)} " +
      s"checks_s=${fmt(checksS)}")
    println(s"  ops attempted=$attempted ok=${ok.length} reads=${ok.count(!_.write)} " +
      s"writes=${ok.count(_.write)} checked=$checked wrong=$wrong " +
      s"failed_frac=${fmt(if (attempted == 0) 1 else failed.toDouble / attempted)} ratio")
    if (workload == "orphan_scan") println(s"  passes=${passTimes.length}")
    println(s"  host calib_start_s=${fmt(calibStart)} calib_end_s=${fmt(calibEnd)}")
    runner.errors.foreach(e => println(s"  error: $e"))
    (endToEnd ++ unjudged ++ perLayer).foreach { case (n, v, u) => println(s"  $n = ${fmt(v)} $u") }
    val metrics = (endToEnd ++ perLayer).map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "0" else fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failed == 0 && checked > 0 && attempted > 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    spark.stop()
  }

  /** Warm-up closing each set-up round: JIT, codegen and the fixtures' first
    * scans. Every round sends the same read requests, drawn from a client
    * stream the timed phase never uses. */
  private def warmUp(spark: SparkSession, runner: Runner, fx: AnyRef, round: Int,
                     out: String): Unit = fx match {
    case o: OrphanFixture =>
      OrphanPass.steps(spark, o, out).foreach(op => runner.run(op, s"warm-$round", traced = false,
        keepCheck = false, record = false))
    case _ =>
      val c: Client = fx match {
        case a: ApiFixture => new ApiClient(spark, a, WarmClient, out)
        case v: VecFixture => new VecClient(spark, v, WarmClient, out)
      }
      c.warmUp().foreach { op =>
        runner.run(op, s"warm-$round", traced = false, keepCheck = false, record = false)
      }
  }

  /** Per-layer metrics of the traced requests. */
  private def layerMetrics(t: Tracer, buildS: Map[String, Seq[Double]], storageB: Double,
                           gcMsPerUnit: Double, passes: Int, kinds: Seq[String],
                           fixtures: Seq[String]): Seq[(String, Double, String)] = {
    val st = t.stats.values.asScala.toSeq.filter(_.kind.nonEmpty)
    val n = math.max(st.length, 1).toDouble
    val reads = st.filter(!_.write)
    val writes = st.filter(_.write)
    val knn = st.filter(_.kind.startsWith("knn"))
    val per = if (passes > 0) passes.toDouble else n
    def byKind(name: String, f: OpStats => Double, unit: String) = kinds.map { k =>
      (s"$name.$k", Stats.mean(st.filter(_.kind == k).map(f)), unit)
    }
    val self = t.selfTimes()
    fixtures.map(f => (s"Tables.build_s.$f", buildS.get(f).map(Stats.median).getOrElse(0.0), "s")) ++
      byKind("operators.compose_ms", _.composeMs, "ms") ++
      byKind("catalyst.plan_ms", _.planMs, "ms") ++
      byKind("exec.ms", _.execMs, "ms") ++ Seq(
      ("exec.jobs", st.map(_.jobs).sum / n, "count"),
      ("exec.stages", st.map(_.stages).sum / n, "count"),
      ("exec.tasks", st.map(_.tasks).sum / n, "count"),
      ("exec.task_busy_ms", st.map(_.busyMs).sum / n, "ms"),
      ("exec.task_cpu_ms", st.map(_.cpuMs).sum / n, "ms"),
      ("exec.sched_delay_ms", st.map(_.schedMs).sum / n, "ms"),
      ("Tables.files_read", Stats.mean(reads.map(_.filesRead.toDouble)), "count"),
      ("Tables.bytes_read", Stats.mean(reads.map(_.bytesRead.toDouble)), "bytes"),
      ("Tables.rows_read_per_row_out",
        reads.map(_.rowsRead).sum.toDouble / math.max(1L, reads.map(_.rowsOut).sum), "ratio"),
      ("ObjectStore.bytes_written_per_user_byte",
        writes.map(_.bytesWritten).sum.toDouble / math.max(1L, writes.map(_.userBytes).sum), "ratio"),
      ("ObjectStore.files_written", Stats.mean(writes.map(_.filesWritten.toDouble)), "count"),
      ("VectorExprs.vectors_scored", Stats.mean(knn.map(_.rowsRead.toDouble)), "count"),
      ("VectorExprs.score_cpu_ms", Stats.mean(knn.map(_.cpuMs)), "ms"),
      ("Scanner.shuffle_mb", st.map(_.shuffleBytes).sum / 1e6 / per, "MB"),
      ("Scanner.spill_mb", st.map(_.spillBytes).sum / 1e6 / per, "MB"),
      ("cache.storage_mb", storageB / 1e6, "MB"),
      ("jvm.gc_ms", gcMsPerUnit, "ms"),
      ("trace.ops", st.length.toDouble, "count")) ++
      Seq("compose", "plan", "exec", "job", "stage").map(l =>
        (s"trace.self_ms.$l", self.getOrElse(l, 0.0) / n, "ms"))
  }
}
