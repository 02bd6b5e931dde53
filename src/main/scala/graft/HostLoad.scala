package graft

/** Host-load samples for the benches' artifacts. A number a bench reports
  * is a property of the host as much as of the engine: round 5's artifact
  * carried timings 2–60x inflated by a loaded host, indistinguishable from
  * a regression without these samples. Each returns -1 where the host
  * does not expose the counter.
  */
object HostLoad {

  /** The 1-minute loadavg. */
  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Hypervisor STEAL seconds, aggregate over all vCPUs (`/proc/stat`
    * field 8): steal accumulated during a pass is wall time no engine
    * change can recover, and the cleanest explanation when two identical
    * runs differ 30%+ with an idle-looking loadavg.
    */
  def stealSec(): Double =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toDouble / 100.0 // USER_HZ=100 ticks/s
    } catch { case _: Throwable => -1.0 }
}
