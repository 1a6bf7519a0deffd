package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The closed loop: one client thread, one call at a time. Every call is
  * a span (workload → pass → call) timed on the wall clock in epoch
  * milliseconds, the clock Spark stamps its job events with, so the
  * traced run can lay job intervals over call spans. Before a call the
  * loop sets the `perfbench.call` local property; after it, in a traced
  * run, it drains the listener bus so every event of the call has been
  * seen before the next call starts. Work the harness does between calls
  * (checks, statistics, clean-up) runs in `untimed` spans, whose wall and
  * CPU time a pass does not count.
  */
final class Loop(spark: SparkSession, probe: Option[Probe]) {
  import Loop._

  private val sc = spark.sparkContext
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, every thread included (tasks, driver,
    * JIT compiler, GC), in seconds. Time the host steals from the
    * machine is not in it, unlike wall time.
    */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  val calls = mutable.ArrayBuffer.empty[Call]
  val passes = mutable.ArrayBuffer.empty[Pass]
  private var passNo = 0
  private var callNo = 0
  private var untimedMs = 0.0
  private var untimedCpuS = 0.0

  /** Run `body` outside any call: the traced run attributes its jobs to
    * no timed call, and the pass does not count its wall or CPU time.
    */
  def untimed[A](body: => A): A = {
    sc.setLocalProperty(Probe.CallKey, Untimed)
    probe.foreach(_.current = Untimed)
    val (t0, c0) = (nowMs, cpuS)
    try body
    finally {
      settle()
      untimedMs += nowMs - t0
      untimedCpuS += cpuS - c0
    }
  }

  /** The id the next `call` will get. */
  def nextCallId: String = s"p${passNo}c${callNo + 1}"

  def pass(body: => Unit): Unit = {
    passNo += 1
    callNo = 0
    untimedMs = 0.0
    untimedCpuS = 0.0
    val (t0, c0) = (nowMs, cpuS)
    body
    val (t1, c1) = (nowMs, cpuS)
    passes += Pass(passNo, t0, t1, (t1 - t0 - untimedMs) / 1e3,
      c1 - c0 - untimedCpuS)
  }

  /** Time one call. `body` returns whether the call's own output check
    * passed; a throw counts as a failed call and is reported, not hidden.
    */
  def call(name: String, kind: String)(body: => Boolean): Call = {
    callNo += 1
    val id = s"p${passNo}c$callNo"
    sc.setLocalProperty(Probe.CallKey, id)
    probe.foreach(_.current = id)
    val (t0, c0) = (nowMs, cpuS)
    val (ok, err) =
      try (body, "")
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          (false, e.toString.take(300))
      }
    val (t1, c1) = (nowMs, cpuS)
    settle()
    val c = Call(id, passNo, name, kind, t0, t1, c1 - c0, ok, err)
    calls += c
    c
  }

  /** Mark a timed call failed by a check made after it. */
  def fail(id: String, why: String): Unit = {
    val i = calls.indexWhere(_.id == id)
    calls(i) = calls(i).copy(ok = false, error = why)
  }

  private def settle(): Unit = {
    sc.setLocalProperty(Probe.CallKey, null)
    probe.foreach { p => Bus.drain(sc); p.current = "" }
  }
}

object Loop {
  val Untimed = "untimed"

  final case class Call(id: String, pass: Int, name: String, kind: String,
                        startMs: Double, endMs: Double, cpuS: Double,
                        ok: Boolean, error: String)
  /** A pass's span, and its wall and CPU time without its untimed spans. */
  final case class Pass(pass: Int, startMs: Double, endMs: Double,
                        wallS: Double, cpuS: Double)
}
