package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One executed benchmark op. `phase` is `warm`, `measure` (untraced) or
  * `traced`; times are epoch milliseconds; `cpuS` is process CPU time
  * (driver and local executors) spent while the op ran.
  */
final case class OpResult(id: Int, kind: String, group: String, write: Boolean,
                          phase: String, start: Double, end: Double, cpuS: Double,
                          error: Option[String]) {
  def seconds: Double = (end - start) / 1e3
  def ok: Boolean = error.isEmpty
}

/** A wrong answer found by a correctness check. */
final class Mismatch(msg: String) extends Exception(msg)

/** State shared by the harness and the workloads: the session (replaced
  * when a workload restarts it), the tracer, and every op result.
  */
final class Ctx(val cores: Int, val dataDir: String, val scratch: String) {
  val tracer = new Tracer
  var spark: SparkSession = _
  var phase = "warm"
  val results = mutable.ArrayBuffer.empty[OpResult]
  private var nextOp = 0
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time less the JIT compiler threads' (see [[CompilerThreads]]). */
  def processCpuS: Double = os.getProcessCpuTime / 1e9 - CompilerThreads.cpuS()

  /** Fresh session with every Spark directory inside the run's scratch. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = graft.GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setLocalProperty(RunListener.OpProperty, RunListener.HarnessOp.toString)
    spark
  }

  /** Run one op: `exec` is timed and returns the check, which runs after
    * the clock stops. An exception from either counts the op as failed.
    */
  def op(kind: String, group: String, write: Boolean)(exec: => (() => Unit)): OpResult = {
    nextOp += 1
    val id = nextOp
    val sc = spark.sparkContext
    sc.setLocalProperty(RunListener.OpProperty, id.toString)
    val cpu0 = processCpuS
    val t0 = Clock.nowMs
    var t1 = t0
    var cpu1 = cpu0
    val error =
      try {
        val check = tracer.span(s"op.$kind", id)(exec)
        t1 = Clock.nowMs; cpu1 = processCpuS
        sc.setLocalProperty(RunListener.OpProperty, RunListener.HarnessOp.toString)
        check()
        None
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          if (t1 == t0) { t1 = Clock.nowMs; cpu1 = processCpuS }
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .linesIterator.take(2).mkString(" ").take(300))
      } finally sc.setLocalProperty(RunListener.OpProperty, RunListener.HarnessOp.toString)
    val r = OpResult(id, kind, group, write, phase, t0, t1, cpu1 - cpu0, error)
    error.foreach(e => System.err.println(s"[perfbench] op $id $kind failed: $e"))
    results += r
    r
  }
}

/** CPU time of HotSpot's JIT compiler threads, read from Linux's
  * `/proc/self/task/<tid>/schedstat` (nanoseconds on CPU). The compiler
  * keeps compiling Spark's generated classes for minutes, in bursts that
  * differ from run to run, so op CPU time leaves it out and the JIT time is
  * reported on its own. `run.py` fixes the number of compiler threads, so
  * they are found once. Where `/proc` is missing this reads 0.
  */
object CompilerThreads {
  private val tasks = new java.io.File("/proc/self/task")

  private def read(f: java.io.File): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
    catch { case _: java.io.IOException => None }

  private lazy val tids: Seq[java.io.File] =
    Option(tasks.listFiles()).toSeq.flatten.filter { t =>
      read(new java.io.File(t, "comm")).exists(_.matches("C[12] CompilerThre.*"))
    }

  def cpuS(): Double = tids.flatMap(t => read(new java.io.File(t, "schedstat")))
    .map(_.split(" ")(0).toLong).sum / 1e9
}
