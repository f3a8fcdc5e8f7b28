package graft

/** Shared subprocess launcher for the execution-regime gate specs
  * (LocalClusterSpec, SpillSpec, InterpSpec, ExecutorLossSpec,
  * ConcurrencySpec, StreamCrashSpec — each needs a fresh JVM because one
  * JVM holds one SparkContext and the sibling suites share a live
  * session). Launches a graft main through [[Jvm.command]] (JDK opens +
  * this JVM's classpath, 8 GiB heap), drains stdout, tails stderr to a
  * temp file (a pipe would deadlock under Spark's log volume), and
  * returns the last line carrying the expected metric. */
object GateLauncher {
  final case class GateRun(exit: Int, line: String)

  def run(mainClass: String, args: Seq[String], metric: String): GateRun = {
    val pb = new ProcessBuilder(Jvm.command("8g", mainClass, args): _*)
    pb.directory(new java.io.File("."))
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    // stderr to a file, not a pipe: Spark logs megabytes there, and a
    // full 64K pipe buffer would deadlock the child while this thread
    // blocks reading stdout
    val errFile = java.io.File.createTempFile("graft_gate", ".err")
    errFile.deleteOnExit()
    pb.redirectError(errFile)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val exit = proc.waitFor()
    lazy val errTail = scala.util.Try(
      scala.io.Source.fromFile(errFile)(scala.io.Codec.UTF8).getLines()
        .toSeq.takeRight(15).mkString("\n")).getOrElse("")
    val line = out.linesIterator.toSeq.reverse
      .find(_.contains(s""""metric":"$metric""""))
      .getOrElse(throw new AssertionError(
        s"no $metric line in $mainClass output; exit=$exit\nstderr tail:\n$errTail"))
    if (exit != 0) throw new AssertionError(
      s"$mainClass exit=$exit\n$line\nstderr tail:\n$errTail")
    GateRun(exit, line)
  }
}
