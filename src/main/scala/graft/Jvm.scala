package graft

/** The JDK-17 module opens Spark needs and the forked-JVM command line,
  * in ONE place. Consumed by every harness that forks a JVM (executor
  * JVMs in ClusterCheck / ExecutorLossCheck, StreamCrashCheck's child
  * JVMs, the gate subprocesses in the test specs via GateLauncher) —
  * previously copy-pasted in seven locations, where the next JDK module
  * addition would have had to land seven times. The shell-side copy
  * lives in tools/graft_java.sh. */
object Jvm {
  val OpenedModules: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")

  /** As discrete argv elements: ["--add-opens", "java.base/x=ALL-UNNAMED", …]. */
  def addOpensArgs: Seq[String] =
    OpenedModules.flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** As one space-joined string (spark.executor.extraJavaOptions form). */
  def addOpensString: String =
    OpenedModules.map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  /** This JVM's classpath with every entry absolutized — executor JVMs
    * run from the Spark work dir, where a relative
    * `target/scala-2.13/classes` silently resolves to nothing. */
  def absoluteClasspath: String =
    sys.props("java.class.path").split(":")
      .filter(_.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(":")

  /** argv for a child JVM running `mainClass` on this JVM's classpath
    * with the module opens and a `heap` (-Xmx) of the caller's choice. */
  def command(heap: String, mainClass: String, args: Seq[String]): Seq[String] = {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    (Seq(javaBin) ++ addOpensArgs ++ Seq(s"-Xmx$heap", "-cp", absoluteClasspath,
      mainClass) ++ args).toIndexedSeq
  }
}
