package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `kind` is "backfill" for a chain's initial full
  * load and "op" for the workload's unit operation. */
final class OpSample(val kind: String, val name: String, val layer: String, val chain: Int,
                     val traced: Boolean, val wallS: Double) {
  var ok = true
  var error: String = ""
  var spanId = 0L
  var startMs = 0L
  var endMs = 0L
  var fs: FsSnapshot = FsSnapshot(0, 0, 0, 0, 0, 0)
  var gcMs = 0L
  var cacheEntries = 0
  var cacheBytes = 0L
}

/** The closed-loop client: runs one operation at a time, times it, and
  * (when a tracer is attached) opens a span around it and records the
  * counters the operation moved. */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer[OpSample]()
  var chain = 0
  var traced = false
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** A span inside the current operation (a no-op when not tracing). */
  def span[T](name: String, layer: String)(body: => T): T = tracer match {
    case Some(t) if traced => t.span(name, layer)(body)
    case _ => body
  }

  /** Time `body` as one operation; `verify` (untimed) returns an error
    * text when the output is wrong. A thrown exception or a wrong output
    * marks the operation failed. Returns the body's value if it ran. */
  def op[T](kind: String, name: String, layer: String)(body: => T)
           (verify: T => Option[String] = (_: T) => None): Option[T] = {
    val fs0 = if (traced) FsSnapshot.now() else null
    val gc0 = gcMs()
    var spanId = 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer match {
      case Some(t) if traced => t.span(name, layer) { spanId = t.current; body }
      case _ => body
    }) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val s = new OpSample(kind, name, layer, chain, traced, wall)
    s.startMs = startMs
    s.endMs = System.currentTimeMillis()
    s.gcMs = gcMs() - gc0
    s.spanId = spanId
    if (traced) {
      s.fs = FsSnapshot.now() - fs0
      val infos = spark.sparkContext.getRDDStorageInfo
      s.cacheEntries = spark.sparkContext.getPersistentRDDs.size
      s.cacheBytes = infos.map(i => i.memSize + i.diskSize).sum
    }
    res match {
      case Left(e) =>
        s.ok = false
        s.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      case Right(v) =>
        try verify(v).foreach { msg => s.ok = false; s.error = msg.take(300) }
        catch { case NonFatal(e) => s.ok = false; s.error = s"check failed: ${e.getMessage}".take(300) }
    }
    if (!s.ok) System.err.println(s"[perfbench] $kind $name failed: ${s.error}")
    samples += s
    res.toOption
  }

  /** Mark every operation of chain `k` wrong (a chain-level output check
    * failed). */
  def failChain(k: Int, why: String): Unit = {
    System.err.println(s"[perfbench] chain $k check failed: $why")
    samples.filter(_.chain == k).foreach { s => s.ok = false; s.error = why.take(300) }
  }
}
