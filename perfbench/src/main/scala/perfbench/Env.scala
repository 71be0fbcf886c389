package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files => NioFiles, Paths}

import scala.util.Try

/** The environment a result was measured in, so that a contended run
  * identifies itself: cores, load average before and after, and the load
  * offset — CPU time the whole machine was busy during the run minus this
  * process's own CPU time. */
final class Env private (loadBefore: String, busyBefore: Double, cpuBefore: Double,
                         wallBefore: Long) {
  def after(timedCpuS: Double, timedWallS: Double, sparkVersion: String,
            seed: Long): String = {
    val wall = (System.nanoTime() - wallBefore) / 1e9
    val cpu = Main.processCpuNs() / 1e9 - cpuBefore
    val busy = Env.busyS() - busyBefore
    val offset = busy - cpu
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "loadavg_before" -> q(loadBefore),
      "loadavg_after" -> q(Env.loadavg()),
      "run_wall_s" -> wall.toString,
      "process_cpu_s" -> cpu.toString,
      "box_busy_cpu_s" -> busy.toString,
      "load_offset_cpu_s" -> offset.toString,
      "load_offset_cores" -> (offset / wall).toString,
      "timed_wall_s" -> timedWallS.toString,
      "timed_cpu_s" -> timedCpuS.toString,
      "jvm" -> q(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> q(sparkVersion),
      "commit" -> q(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "seed" -> seed.toString)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }
}

object Env {
  def before(): Env = new Env(loadavg(), busyS(), Main.processCpuNs() / 1e9,
    System.nanoTime())

  def loadavg(): String =
    Try(new String(NioFiles.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("unknown")

  /** Seconds all CPUs of the machine spent busy since boot (/proc/stat:
    * user, nice, system, irq, softirq and steal, in USER_HZ = 100 ticks). */
  def busyS(): Double = Try {
    val f = new String(NioFiles.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toDouble)
    (f(0) + f(1) + f(2) + f(5) + f(6) + f(7)) / 100.0
  }.getOrElse(Double.NaN)

  def save(file: File, env: String, result: String): Unit = {
    file.getParentFile.mkdirs()
    val pw = new PrintWriter(file, "UTF-8")
    try pw.println(s"""{"env":$env,"result":$result}""") finally pw.close()
  }
}
