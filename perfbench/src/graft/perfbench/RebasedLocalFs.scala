package graft.perfbench

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** `file:` filesystem that maps every path under `/tmp/` into the run's work
  * directory (system property `perfbench.tmp`).
  *
  * The library hard-codes `/tmp` for its cross-process fixture cache
  * (`Tables.materialized` keys it on the source directory and its mtimes) and
  * for the per-pid warehouse. Rebasing both keeps a run inside its checkout,
  * and because the cache's `_SUCCESS` probe uses `java.io.File` on the real
  * `/tmp` path, every run builds its fixtures cold — `setup_s` never flips
  * between a build and a reuse. Installed through `core-site.xml`, so every
  * Hadoop `Configuration` in the JVM resolves `file:` to it; parquet I/O
  * keeps `LocalFileSystem`'s checksum files, as in an unmodified session. */
final class RebasedRawLocalFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): java.io.File =
    RebasedLocalFs.rebase(super.pathToFile(path))

  // Statuses name the caller's path, not the rebased file: Spark's file
  // index matches listed files back to the root path it asked for.
  override def getFileStatus(f: Path): FileStatus = {
    val s = super.getFileStatus(f)
    s.setPath(makeQualified(f))
    s
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val q = makeQualified(f)
    val dir = pathToFile(f).isDirectory
    super.listStatus(f).map { s =>
      s.setPath(if (dir) new Path(q, s.getPath.getName) else q)
      s
    }
  }
}

final class RebasedLocalFs extends LocalFileSystem(new RebasedRawLocalFs)

object RebasedLocalFs {
  private lazy val root: Option[String] =
    Option(System.getProperty("perfbench.tmp")).map(_.stripSuffix("/"))

  def rebase(f: java.io.File): java.io.File = {
    val p = f.getPath
    root match {
      case Some(r) if p.startsWith("/tmp/") => new java.io.File(r + p.substring(4))
      case _ => f
    }
  }
}
