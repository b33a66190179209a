package graft

/** Per-process warehouse dir for the Verify, Explain and PlanAudit sessions
  * and the stored layouts their queries build (`zorder_events`): unique per
  * pid so concurrent sessions (a Verify run beside a test or benchmark JVM)
  * can't race the drop-and-recreate, deleted on session close so runs don't
  * permanently leak table files into /tmp (r4 advice).
  */
object Warehouse {
  def dir: String = s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}"

  def cleanup(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try rm(new java.io.File(dir)) catch { case _: Throwable => () }
  }
}
