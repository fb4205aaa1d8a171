package graft.util

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.streaming.{ResourceSummary, TaskMetricsListener}

/** One measured run: wall, process-CPU, JIT-compilation and GC-time
  * deltas in seconds, and what the body returned or threw. A run whose
  * body threw timed a crash, not the work: callers keep it out of any
  * figure they report. */
final case class Run[+A](result: Either[Throwable, A], wallS: Double,
                         cpuS: Double, jitS: Double, gcS: Double) {
  def ok: Boolean = result.isRight
  /** The body's value, or its exception rethrown. */
  def get: A = result.fold(e => throw e, identity)
}

/**
 * The one meter every harness main times with (bench, profilers, scale
 * probes). Each counter falls back to 0 where the JVM does not support
 * its MXBean, so a missing bean zeroes a column instead of failing the
 * run.
 *
 *  - Process CPU next to wall: a shared host is CPU-throttled from outside
 *    (r4: hypervisor steal spikes to 37%, arbitrary queries stall 10-40x
 *    in wall time on identical code). CPU time barely moves under steal,
 *    so wall≫cpu flags a throttled run.
 *  - JIT-compilation time (r11: six bench queries ran 2-8x their
 *    isolated medians with no code change): a fat JIT delta on a slow
 *    run names a compiler storm.
 *  - GC time (r15: q18-class queries at 11 s wall with cpu≈wall and
 *    near-zero JIT delta): a fat GC delta names a collector storm.
 */
object Meter {

  private val cpuNs: () => Long =
    try {
      val b = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      b.getProcessCpuTime // probe once so a failure falls back now
      () => b.getProcessCpuTime
    } catch { case _: Throwable => () => 0L }

  /** Total JIT-compilation time of this JVM, ms. */
  val jitMs: () => Long =
    try {
      val cb = ManagementFactory.getCompilationMXBean
      if (cb != null && cb.isCompilationTimeMonitoringSupported)
        () => cb.getTotalCompilationTime
      else () => 0L
    } catch { case _: Throwable => () => 0L }

  /** Total collector time of this JVM, ms. */
  val gcMs: () => Long =
    try {
      val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      beans.map(_.getCollectionTime).sum // probe once, fall back now
      () => beans.map(_.getCollectionTime).sum
    } catch { case _: Throwable => () => 0L }

  /** Runs `body` once and measures it. Any throwable the body raises is
    * caught into the run's result, so one failing probe cannot end a
    * sweep; [[Run.get]] rethrows it where a failure must stop the caller. */
  def run[A](body: => A): Run[A] = {
    val c0 = cpuNs(); val j0 = jitMs(); val g0 = gcMs()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    Run(result, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9,
      (jitMs() - j0) / 1e3, (gcMs() - g0) / 1e3)
  }

  /** Up to `n` runs of `body`, stopping after the first that throws:
    * repeating a failure only times the same crash again. */
  def repeat[A](n: Int)(body: => A): Seq[Run[A]] = {
    val (ok, rest) = Iterator.fill(n)(run(body)).span(_.ok)
    ok.toVector ++ rest.take(1)
  }

  /** The listener's totals once its sample stream has gone quiet:
    * listener delivery is async, so reading at once would truncate a
    * run's tail tasks. Gives up after 10 s. */
  def settle(listener: TaskMetricsListener): ResourceSummary = {
    var n = -1L; var same = 0; val deadline = System.currentTimeMillis + 10000
    while (same < 3 && System.currentTimeMillis < deadline) {
      val c = listener.samples.size.toLong
      if (c == n) same += 1 else { same = 0; n = c }
      Thread.sleep(50)
    }
    listener.summary
  }
}
