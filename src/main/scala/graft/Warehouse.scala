package graft

/** Per-process warehouse dir for the bucketed signature tables: unique per
  * pid so concurrent sessions (a Verify run beside a test or benchmark JVM)
  * can't race the drop-and-recreate, deleted on session close so runs don't
  * permanently leak table files into /tmp (r4 advice).
  */
object Warehouse {
  def dir: String = s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}"

  /** Canonical per-sf path of the stored kNN graph (built once per process
    * by Vectors.ensureKnnGraph; read by the beam-search row). */
  def knnGraphPath(sfDir: String): String =
    dir + "/knn_graph_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")

  def cleanup(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try rm(new java.io.File(dir)) catch { case _: Throwable => () }
  }
}
