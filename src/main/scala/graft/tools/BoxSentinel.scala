package graft.tools

import scala.jdk.CollectionConverters._
import java.lang.management.{ManagementFactory, MemoryType}

import org.apache.spark.sql.DataFrame

/** The measurement primitives the harnesses ([[graft.Bench]],
  * [[ScaleSweep]]) share: [[timedNoop]], the one timed query run, and
  * the shared-box contention sentinel. The sentinel counts live foreign
  * JVMs (any java process that is not this JVM or an ancestor —
  * sbt/the driver wrapper launch us, so the parent chain must not
  * count) and reads the 1-minute load average, so every recorded
  * number carries the evidence to tell box contention apart from plan
  * regressions without a rerun. */
object BoxSentinel {
  def jvmCount(): Int = {
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(self.parent())(p =>
        if (p.isPresent) p.get.parent() else p)
      .takeWhile(_.isPresent).map(_.get.pid).toSet + self.pid
    ProcessHandle.allProcesses().filter { h =>
      !ancestors.contains(h.pid) &&
        h.info().command().map[Boolean](c =>
          c.endsWith("/java") || c == "java").orElse(false)
    }.count().toInt
  }

  def loadAvg(): Double = ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Foreign-load threshold for the `solo` stamp: at sweep START this
    * JVM has done no work yet, so any 1-min load above this many cores
    * is someone else's (the r9 driver artifact recorded 0 foreign JVMs
    * but load 12.5 — a concurrent non-JVM oracle job the process count
    * cannot see). load_end is NOT gated: the sweep's own local[32] work
    * legitimately drives the trailing load average. */
  val SoloLoadMax = 4.0

  /** `"solo":…,"other_jvms_start":…` JSON fragment (no braces).
    * `solo` now requires BOTH zero foreign JVMs at start+end AND a
    * quiet pre-sweep load average, so a contended sweep's artifact
    * disqualifies itself instead of asserting trust it doesn't have. */
  def jsonFields(jvms0: Int, load0: Double, jvms1: Int, load1: Double): String =
    s""""solo":${jvms0 == 0 && jvms1 == 0 && load0 < SoloLoadMax},""" +
      s""""other_jvms_start":$jvms0,""" +
      s""""other_jvms_end":$jvms1,"load_start":$load0,"load_end":$load1"""

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMillis: Long = gcBeans.map(_.getCollectionTime).sum

  /** Builds and materializes one query through the `noop` sink — a full
    * evaluation of every output column, where `count()` would let
    * Catalyst prune computed columns — and returns (wall sec, GC sec
    * inside the window, peak heap MB in the window). The GC and heap
    * figures let a slow point be told apart as GC/memory pressure
    * rather than a plan regression without a rerun. A build or run
    * that throws is logged under `tag` and returns (-1, -1, -1). */
  def timedNoop(tag: String, name: String)(build: => DataFrame): (Double, Double, Double) = {
    heapPools.foreach(_.resetPeakUsage())
    val g0 = gcMillis
    val t0 = System.nanoTime()
    try build.write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      return (-1.0, -1.0, -1.0)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis - g0) / 1e3
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    (sec, gcSec, peakMb)
  }
}
