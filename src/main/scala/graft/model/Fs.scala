package graft.model

import java.io.File

/** The one place that names a location for graft's own files, as the
  * reference writes every run under one configured root (`DirOutput`,
  * output.py:14-133). Scratch (exports, staged batches, checkpoints,
  * layouts, warehouses, Derby databases) lives under a per-process
  * [[root]] removed at JVM exit — not by `Cached.releaseAll`, since
  * k5/s1's Derby databases stay booted for the JVM's lifetime. The
  * constant-content s4/s5/s7/s8 fixtures outlive the JVM: the DuckDB
  * oracle reads the same files after the Spark side has exited.
  */
object Fs {
  private def tmp = sys.props("java.io.tmpdir")

  /** The scratch root of process `pid`: `${java.io.tmpdir}/graft_<pid>`. */
  def rootOf(pid: Long): File = new File(tmp, s"graft_$pid")

  /** This process's scratch root. File.deleteOnExit can't remove a
    * non-empty directory, hence the shutdown hook. Embedded Derby logs
    * here too, not to `./derby.log`: every graft session's warehouse sits
    * under the root, so it is set before Derby can first boot. */
  lazy val root: File = {
    val r = rootOf(ProcessHandle.current.pid)
    r.mkdirs()
    sys.props.getOrElseUpdate("derby.stream.error.file", new File(r, "derby.log").getPath)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(r), "graft-scratch-cleanup"))
    r
  }

  /** `<root>/<name>_<Layout.dirKey(dir)>`, left as it is. */
  def path(name: String, dir: String): String =
    new File(root, s"${name}_${Layout.dirKey(dir)}").getPath

  /** [[path]], emptied but not created (the writer creates it). */
  def scratch(name: String, dir: String): String = {
    val p = path(name, dir)
    deleteRecursively(new File(p))
    p
  }

  /** `${java.io.tmpdir}/graft_fixtures/<name>`, its parent created. */
  def fixture(name: String): String = {
    val d = new File(tmp, "graft_fixtures")
    d.mkdirs()
    new File(d, name).getPath
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
