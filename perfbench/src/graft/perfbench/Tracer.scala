package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A span of one request: every span of a request shares `op`; `parent` is
  * -1 for the request's root. Times are ms since the run's time base. */
final case class Span(op: String, id: Int, parent: Int, name: String,
                      start: Double, end: Double)

/** Counters of one traced request, summed over its Spark jobs' tasks plus
  * what the benchmark measures around the public call. */
final class OpStats {
  var kind = ""
  var write = false
  var composeMs, planMs, execMs = 0.0
  var jobs, stages, tasks = 0L
  var busyMs, cpuMs, schedMs = 0.0
  var shuffleBytes, spillBytes = 0L
  var filesRead, bytesRead, rowsRead, rowsOut = 0L
  var filesWritten, bytesWritten, userBytes = 0L
}

/** Per-request tracing from outside the library: spans around the public
  * calls (root → compose / plan / exec) plus Spark job and stage spans and
  * task counters from a listener, attributed to the request through its job
  * group (traced requests' groups carry the [[Tracer.Traced]] prefix). Spans
  * stay in memory and are written out when the run ends. */
final class Tracer extends SparkListener {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private def ms(ns: Long): Double = (ns - baseNs) / 1e6
  private def epoch(t: Long): Double = t - baseEpochMs

  val spans = new ConcurrentLinkedQueue[Span]()
  val stats = new ConcurrentHashMap[String, OpStats]()
  private val nextId = new AtomicInteger()
  private val execSpan = new ConcurrentHashMap[String, Integer]()
  private val jobOf = new ConcurrentHashMap[Integer, (String, Int, Int, Double)]()
  private val stageOp = new ConcurrentHashMap[Integer, (String, Int)]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def statsOf(op: String): Option[OpStats] = Option(stats.get(op))

  def opDone(id: String, op: Op, df: DataFrame, t0: Long, t1: Long, t2: Long,
             t3: Long, result: Any): Unit = {
    val st = stats.computeIfAbsent(id, _ => new OpStats)
    st.kind = op.kind
    st.write = op.write
    st.composeMs = (t1 - t0) / 1e6
    st.planMs = (t2 - t1) / 1e6
    st.execMs = (t3 - t2) / 1e6
    val root = nextId.incrementAndGet()
    spans.add(Span(id, root, -1, op.kind, ms(t0), ms(t3)))
    spans.add(Span(id, nextId.incrementAndGet(), root, "compose", ms(t0), ms(t1)))
    spans.add(Span(id, nextId.incrementAndGet(), root, "plan", ms(t1), ms(t2)))
    val ex = execSpan.computeIfAbsent(id, _ => nextId.incrementAndGet())
    spans.add(Span(id, ex, root, "exec", ms(t2), ms(t3)))
    if (op.write) {
      op.output.foreach { p =>
        val (n, b) = Files.dataFiles(p)
        st.filesWritten = n; st.bytesWritten = b
      }
      st.userBytes = op.userBytes
    } else {
      scans(df.queryExecution.executedPlan).foreach { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        st.filesRead += m("numFiles"); st.bytesRead += m("filesSize")
        st.rowsRead += m("numOutputRows")
      }
      st.rowsOut = result match {
        case a: Array[_] => a.length.toLong
        case _ => 0L
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet(); touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.Traced))
    op.foreach { id =>
      val st = stats.computeIfAbsent(id, _ => new OpStats)
      st.synchronized { st.jobs += 1 }
      val ex = execSpan.computeIfAbsent(id, _ => nextId.incrementAndGet())
      val js = nextId.incrementAndGet()
      jobOf.put(e.jobId, (id, js, ex, epoch(e.time)))
      e.stageIds.foreach(s => stageOp.put(s, (id, js)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOf.remove(e.jobId)).foreach { case (id, js, ex, start) =>
      spans.add(Span(id, js, ex, "job", start, epoch(e.time)))
    }
    ended.incrementAndGet(); touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    Option(stageOp.get(i.stageId)).foreach { case (id, js) =>
      statsOf(id).foreach(st => st.synchronized { st.stages += 1 })
      for (s <- i.submissionTime; c <- i.completionTime)
        spans.add(Span(id, nextId.incrementAndGet(), js, "stage", epoch(s), epoch(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    if (m == null) return
    Option(stageOp.get(e.stageId)).flatMap(x => statsOf(x._1)).foreach { st =>
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      st.synchronized {
        st.tasks += 1
        st.busyMs += m.executorRunTime
        st.cpuMs += m.executorCpuTime / 1e6
        st.schedMs += math.max(0L, sched)
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Waits until every started job has ended and the bus has been quiet for
    * 200 ms (listener delivery is asynchronous), at most 10 s. */
  def awaitQuiet(): Unit = {
    val limit = System.nanoTime() + 10000000000L
    while (System.nanoTime() < limit &&
      (started.get != ended.get || System.nanoTime() - lastEventNs.get < 200000000L))
      Thread.sleep(20)
  }

  /** Self time per layer (span name; a request's root span is "op"),
    * summed: a span's duration minus the part of its interval its children
    * cover. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val layer = (s: Span) => if (s.parent == -1) "op" else s.name
    all.groupBy(layer).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered, curS, curE = 0.0
        var open = false
        iv.foreach { case (a, b) =>
          if (!open || a > curE) {
            if (open) covered += curE - curS
            curS = a; curE = b; open = true
          } else curE = math.max(curE, b)
        }
        if (open) covered += curE - curS
        (s.end - s.start) - covered
      }.sum
    }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(f"""{"op":"${s.op}","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}

object Tracer {
  val Traced = "traced:"
}
