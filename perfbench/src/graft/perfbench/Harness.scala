package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark request. `compose` calls the operator's public function
  * and returns its DataFrame (the operator layer); `exec` runs it — Catalyst
  * planning plus Spark execution, and for a write the persisted commit —
  * and returns what `check` needs. `check` runs after the timed phase and
  * returns an error message when the output is wrong. `output` is the
  * commit directory of a write; `userBytes` the logical size of the
  * request's payload. */
final case class Op(kind: String, write: Boolean,
                    compose: () => DataFrame,
                    exec: DataFrame => Any,
                    check: Any => Option[String],
                    output: Option[String] = None,
                    userBytes: Long = 0L)

/** A finished request. Only `ok` requests enter percentiles and throughput;
  * `ok` is cleared when the deferred output check finds a wrong result. */
final class Rec(val kind: String, val write: Boolean, val endNs: Long, val ms: Double,
                @volatile var ok: Boolean, val traced: Boolean)

/** Runs requests, records them, and queues the sampled output checks. */
final class Runner(spark: SparkSession, val tracer: Tracer) {
  val recs = new ConcurrentLinkedQueue[Rec]()
  private val pending = new ConcurrentLinkedQueue[(Rec, () => Option[String], Op)]()
  @volatile var errors: List[String] = Nil

  /** Runs one request; `traced` adds the plan span and the layer counters. */
  def run(op: Op, id: String, traced: Boolean, keepCheck: Boolean,
          record: Boolean = true): Rec = {
    val sc = spark.sparkContext
    sc.setJobGroup(if (traced) Tracer.Traced + id else id, op.kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var ok = true
    var result: Any = null
    try {
      val df = op.compose()
      val t1 = System.nanoTime()
      if (traced) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      result = op.exec(df)
      val t3 = System.nanoTime()
      if (traced) tracer.opDone(Tracer.Traced + id, op, df, t0, t1, t2, t3, result)
    } catch {
      case e: Throwable =>
        ok = false
        if (errors.length < 5) errors = s"${op.kind}: $e" :: errors
    } finally sc.clearJobGroup()
    val t = System.nanoTime()
    val rec = new Rec(op.kind, op.write, t, (t - t0) / 1e6, ok, traced)
    if (record) recs.add(rec)
    val res = result
    if (ok && keepCheck) pending.add((rec, () => op.check(res), op))
    else op.output.foreach(Files.rm)
    rec
  }

  /** Runs the deferred output checks; a wrong result marks its request
    * failed. Returns (checked, wrong). */
  def runChecks(): (Int, Int) = {
    var checked, wrong = 0
    pending.asScala.foreach { case (rec, chk, op) =>
      checked += 1
      val err = try chk() catch { case e: Throwable => Some(s"check threw $e") }
      err.foreach { m =>
        wrong += 1
        rec.ok = false
        if (errors.length < 5) errors = s"${rec.kind}: wrong result: $m" :: errors
      }
      op.output.foreach(Files.rm)
    }
    pending.clear()
    (checked, wrong)
  }
}

/** A client of a closed loop: yields its next request and whether that
  * request's output is checked (a seeded sample); `warmUp` is the fixed
  * set of read requests that closes each set-up round. */
trait Client {
  def next(): (Op, Boolean)
  def warmUp(): Seq[Op]
}

object ClosedLoop {

  /** `clients.length` threads, each sending its next request only after the
    * previous reply, until `deadline` (nanoTime); with `trace` every other
    * request of a client is traced, with `check` the clients' sampled
    * requests are checked. */
  def run(runner: Runner, clients: Seq[Client], deadline: Long, trace: Boolean,
          check: Boolean = true): Unit = {
    val threads = clients.indices.map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          val (op, chk) = clients(c).next()
          i += 1
          runner.run(op, s"op-$c-$i", trace && i % 2 == 0, check && chk)
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toArray
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Files {
  def rm(path: String): Unit = rm(new java.io.File(path))
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** (data files, bytes) under a committed parquet directory. */
  def dataFiles(path: String): (Int, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    val fs = walk(new java.io.File(path))
    (fs.length, fs.map(_.length).sum)
  }

  /** Mirror of a directory tree whose files are hard links: the same input
    * bytes under a new path, so `Tables`' path-keyed fixture cache builds
    * cold for every set-up round without copying the inputs. */
  def linkTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files => F, Path}
    val s = Path.of(src)
    F.walk(s).iterator().asScala.foreach { p =>
      val t = Path.of(dst).resolve(s.relativize(p))
      if (F.isDirectory(p)) F.createDirectories(t) else F.createLink(t, p)
    }
  }
}
