package perfbench

import java.lang.management.ManagementFactory

/** The host's state, stamped on every result so two runs can be told
  * apart by what the machine was doing, not only by what the code was. */
object Host {
  @volatile private var sink = 0L

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** One multi-threaded spin of fixed cost: a plain JVM loop, not a Spark
    * job, so a warming Spark stack cannot bias it. */
  private def spinOnce(threads: Int, iters: Long): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => {
      var x = 0L
      var i = 0L
      while (i < iters) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      sink = x
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Canary probe seconds: min of three spins, one thread per core.
    * Its cost is fixed, so end ÷ start well above 1 means outside load. */
  def canary(): Double = {
    spinOnce(cores, 1000000L) // compile the loop first
    Seq.fill(3)(spinOnce(cores, 150000000L)).min
  }

  def blasClass: String =
    try dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getName
    catch { case t: Throwable => s"unavailable: ${t.getClass.getSimpleName}" }

  def jvm: String =
    s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"

  def heapMb: Long = Runtime.getRuntime.maxMemory() / (1L << 20)

  /** Seconds since the JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
