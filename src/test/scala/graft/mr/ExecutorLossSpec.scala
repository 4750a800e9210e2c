package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Forks [[ExecutorLossCheck]] into its own JVM (local-cluster needs
  * multi-process executors and a fresh SparkContext; the suite's
  * shared local[4] context is JVM-singleton) and asserts the job
  * survived a mid-job executor kill with oracle-equal output, on the
  * plain reduce path (killed in a map task) and the combiner path
  * (killed in a reduce task while it writes its temporary file, whose
  * directory must hold only the R part files and `_SUCCESS`), and on
  * connected components (an executor holding a round's stored label
  * snapshot killed once that snapshot is stored) — the
  * true analog of the reference's worker-respawn crash test
  * (/root/reference/mr-main/test-mr.sh:222-271), exercising
  * executor-loss recovery rather than task retry (InvariantsSpec's
  * "crash" covers the latter). */
class ExecutorLossSpec extends AnyFunSuite {

  test("executor process killed mid-job: output equals the fault-free oracle") {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java")
    assume(javaBin.canExecute, s"no java launcher at $javaBin")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val out = java.io.File.createTempFile("executor-loss", ".log")
    val cmd = Seq(javaBin.getAbsolutePath) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "-Dspark.ui.enabled=false",
      "graft.mr.ExecutorLossCheck", SparkTestSession.booksDir)
    val pb = new ProcessBuilder(cmd: _*)
    // the standalone launcher resolves the executor command through
    // SPARK_HOME and needs SPARK_SCALA_VERSION when the layout is a
    // jars-only distribution (no source-build directories to probe);
    // cwd → temp dir so ExecutorRunner's work/ logs never land in the
    // repo
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.directory(java.nio.file.Files
      .createTempDirectory("executor-loss-work").toFile)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out)
    val p = pb.start()
    // generous bound: cluster spin-up + three runs, each losing an executor; a hang
    // must fail the test, not the suite's global timeout
    val finished = p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val log = new String(
      java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
    assert(finished, s"child JVM hung; tail:\n${log.takeRight(4000)}")
    // the kill really happened — the driver saw the executor PROCESS
    // exit with the injected halt code (the in-task log line lands in
    // the executor's own stderr file, not the driver stream) — AND
    // the job still matched the sequential oracle
    assert(log.contains("exited with code 137"),
      s"executor kill never fired; tail:\n${log.takeRight(4000)}")
    // both reduce paths recovered — the plain contiguous-run reduce and
    // the §4.3 combiner whose MRJob.run files hold each key once — and
    // connected components recomputed a lost round snapshot
    for (path <- Seq("plain", "combiner", "dedup"))
      assert(log.contains(s"EXECUTOR_LOSS_OK $path"),
        s"no oracle-equal $path completion; tail:\n${log.takeRight(4000)}")
    assert(p.exitValue() == 0, s"exit ${p.exitValue()}")
    out.delete()
  }
}
