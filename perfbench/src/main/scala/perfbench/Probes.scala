package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.engine.MsgPack

/** Order-sensitive 64-bit digest of a decoded msgpack value. Map
  * entries combine commutatively, so two maps with the same entries
  * agree whatever their iteration order.
  */
object Digest {
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def of(v: Any): Long = v match {
    case null => mix(1L)
    case b: Boolean => mix(if (b) 2L else 3L)
    case l: Long => mix(l ^ 0x100L)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d) ^ 0x200L)
    case s: String =>
      var h = 0xcbf29ce484222325L ^ s.length
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      mix(h ^ 0x300L)
    case b: Array[Byte] => mix(java.util.Arrays.hashCode(b).toLong ^ (b.length.toLong << 32) ^ 0x400L)
    case m: scala.collection.Map[_, _] =>
      var acc = mix(m.size.toLong ^ 0x500L)
      m.foreach { case (k, x) => acc += mix(of(k) * 31 + of(x)) }
      acc
    case s: Iterable[_] =>
      var h = mix(s.size.toLong ^ 0x600L)
      s.foreach(x => h = mix(h * 0x100000001b3L + of(x)))
      h
    case other => mix(other.hashCode.toLong ^ 0x700L)
  }

  /** The wire form of collected rows, decoded again: exactly what an rpc
    * client holds after `Transport.rpc` returns for the same rows.
    */
  def wireValue(rows: Array[Row]): Any = MsgPack.decode(encodeRows(rows))

  def encodeRows(rows: Array[Row]): Array[Byte] =
    if (rows.isEmpty) MsgPack.encode(Vector.empty)
    else {
      val schema = rows(0).schema
      MsgPack.encode(rows.map(MsgPack.rowToValue(_, schema)).toVector)
    }
}

/** Process and host counters sampled around a measured window. */
final case class Probe(jitMs: Long, gcMs: Long, procCpuNs: Long, hostBusyJ: Long, hostStealJ: Long) {
  /** Deltas to `later`, in seconds: jit, gc, host steal, host busy by other processes. */
  def until(later: Probe): Map[String, Double] = {
    val jiffy = 0.01 // USER_HZ = 100 on Linux
    Map(
      "jvm.jit_s" -> (later.jitMs - jitMs) / 1e3,
      "jvm.gc_s" -> (later.gcMs - gcMs) / 1e3,
      "host.steal_s" -> (later.hostStealJ - hostStealJ) * jiffy,
      // Reads below zero when the hypervisor's steal is billed to this
      // process's CPU time.
      "host.busy_other_s" ->
        ((later.hostBusyJ - hostBusyJ) * jiffy - (later.procCpuNs - procCpuNs) / 1e9))
  }
}

object Probe {
  def now(): Probe = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val cpu = ProcessHandle.current.info.totalCpuDuration.map[Long](_.toNanos).orElse(0L)
    // "cpu user nice system idle iowait irq softirq steal ..."
    val f = readFirstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6)
    Probe(jit, gc, cpu, busy, f(7))
  }

  /** `VmHWM` of this process, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Memory the process still holds once garbage is collected: heap
    * in use after full collections, plus non-heap (metaspace, code
    * cache), MB. Spark's ContextCleaner drops the blocks of unreachable
    * RDDs (the queries' local checkpoints) on its own thread after a
    * collection has found them, so collect until the heap stops falling.
    */
  def retainedMb(): Double = {
    val m = ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); m.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = collected()
    var rounds = 0
    while (rounds < 10 && cur < prev * 0.99) {
      Thread.sleep(500)
      prev = cur
      cur = collected()
      rounds += 1
    }
    (cur + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  private def readFirstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }
}
