package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.control.NonFatal

/** Host-speed probe: a fixed xorshift loop with no allocation and no
  * Spark, whose time moves only with how fast this host runs code right
  * now (frequency, co-tenants, CPU steal). `threads` copies run at once;
  * the wall until all finish, best of `rounds`.
  *
  * The probe runs in its own short-lived JVM ([[main]]), so it shares no
  * heap, JIT queue or threads with the program under test. [[probe]]
  * starts that JVM from the benchmark after a full collection and once the
  * benchmark JVM is quiet, and records how much CPU the benchmark JVM
  * itself used while the probe ran: a figure near zero means nothing the
  * program left behind competed with the probe. */
object Calibrate {
  private val Iterations = 50000000L
  /** After the full collection, wait in steps of [[QuietStepMs]] until
    * the benchmark JVM uses less than [[QuietCpuS]] of CPU in one step
    * (the collector, the JIT and Spark's cleaner threads have finished
    * what the last pass left them), at most [[QuietMaxMs]]. */
  private val QuietStepMs = 100L
  private val QuietCpuS = 0.005
  private val QuietMaxMs = 3000L

  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < Iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def seconds(threads: Int, rounds: Int = 3): Double = Seq.fill(rounds) {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => require(spin() != 42L))
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min

  /** `java -cp <cp> perfbench.Calibrate <threads>` prints the probe's seconds. */
  def main(args: Array[String]): Unit = println(seconds(args(0).toInt))

  private def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** One probe in a child JVM on classpath `cp`: `(probe seconds, CPU
    * seconds the calling JVM used meanwhile)`. */
  def probe(threads: Int, cp: String): (Double, Double) = {
    System.gc()
    var waited = 0L
    var busy = true
    while (busy && waited < QuietMaxMs) {
      val c0 = processCpuSeconds()
      Thread.sleep(QuietStepMs)
      waited += QuietStepMs
      busy = processCpuSeconds() - c0 >= QuietCpuS
    }
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cpu0 = processCpuSeconds()
    val proc = new ProcessBuilder(java, "-Xmx64m", "-cp", cp, "perfbench.Calibrate", threads.toString)
      .redirectErrorStream(true).start()
    val out = try Source.fromInputStream(proc.getInputStream).mkString.trim
      finally proc.waitFor()
    val cpu = processCpuSeconds() - cpu0
    require(proc.exitValue == 0, s"host probe failed: $out")
    (out.linesIterator.toSeq.last.toDouble, cpu)
  }
}

/** CPU time the hypervisor gave to other guests while this VM's CPUs were
  * ready to run ("steal" in `/proc/stat`), as a share of all CPU time.
  * A timed span loses that share of its CPU to the host, in addition to
  * whatever slowdown the probes beside it see. Reads 0 where `/proc/stat`
  * has no steal column. */
object Steal {
  /** `(all CPU jiffies, stolen jiffies)` so far. */
  def read(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length >= 8) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Stolen share of the CPU time since `mark` (a [[read]]). */
  def shareSince(mark: (Long, Long)): Double = {
    val (all, stolen) = read()
    if (all > mark._1) (stolen - mark._2).toDouble / (all - mark._1) else 0.0
  }
}
