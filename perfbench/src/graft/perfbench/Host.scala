package graft.perfbench

/** Host-condition stamp kept with every run as metadata, not as a
  * metric: it tells a run slowed by a noisy host (steal, load, a slower
  * core) from one slowed by the code.
  */
final class Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val loadStart: Double = os.getSystemLoadAverage
  private val statStart = Host.procStat()
  val calibStart: Double = Host.calibrate()

  /** Stamp as a JSON object, taken at the end of the run. */
  def json(): String = {
    val calibEnd = Host.calibrate()
    val steal = (for {
      a <- statStart; b <- Host.procStat()
      d = b.zip(a).map { case (y, x) => y - x }
      if d.length > 7 && d.sum > 0
    } yield 100.0 * d(7) / d.sum).getOrElse(-1.0)
    Json.obj(Seq(
      "nproc" -> nproc.toString,
      "load_avg_start" -> Json.num(loadStart),
      "load_avg_end" -> Json.num(os.getSystemLoadAverage),
      "calib_s_start" -> Json.num(calibStart),
      "calib_s_end" -> Json.num(calibEnd),
      "steal_pct" -> Json.num(steal)))
  }
}

object Host {
  /** Seconds for a fixed single-thread integer loop: independent of the
    * code under test, so two runs of any revision compare through it.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Aggregate CPU jiffies from /proc/stat, when the host has one. */
  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + graft.JsonText.escape(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
