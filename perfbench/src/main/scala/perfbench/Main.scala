package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one closed-loop client, `local[nproc]`.
  *
  *   perfbench.Main --workload etl_daily --seed 1 --seconds 10 --trace 0
  *                  --data <warehouse dir> --work <scratch dir> --out <result.json>
  *                  [--smoke] [--record-digests]
  *
  * Set-up (session, seeded inputs, untimed warm-up) counts from JVM
  * start. Then chains run until `--seconds` have passed. With
  * `--trace 1`, chains alternate untraced and traced; the traced ones
  * give the per-layer numbers, and the difference is the tracing
  * overhead. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String,
                        smoke: Boolean, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(get("workload", ""), get("seed", "1").toLong, get("seconds", "20").toDouble,
      get("trace", "0") == "1", get("data", ""), get("work", ""), get("out", ""),
      a.contains("--smoke"), a.contains("--record-digests"))
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors

  def session(traced: Boolean): SparkSession = {
    val b = graft.GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A run that has not finished after this long is stuck: print every
    * thread's stack, so the hang can be located, and stop the JVM. */
  private val WatchdogS = 160L

  private def startWatchdog(): Unit = {
    val t = new Thread(() => {
      Thread.sleep(WatchdogS * 1000)
      System.err.println(s"[perfbench] still running after ${WatchdogS}s; thread dump:")
      Thread.getAllStackTraces.forEach { (th, st) =>
        System.err.println(s"[perfbench] thread ${th.getName} (${th.getState})")
        st.take(40).foreach(f => System.err.println(s"[perfbench]   at $f"))
      }
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
  }

  def main(argv: Array[String]): Unit = {
    startWatchdog()
    val a = parse(argv)
    // the long call site must reach the innermost graft frame
    System.setProperty("spark.callstack.depth", "200")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String) = System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs")
    val spark = session(a.trace)
    mark("session")
    val wl = Workload(a.workload, Ctx(spark, a.data, a.work, a.seed, a.smoke))
    mark("inputs")
    val h = new Harness(spark, if (a.trace) Some(new Tracer(spark)) else None)
    wl.warmUp(h)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("warm-up")
    h.tracer.foreach(_.attach())

    val chainWall = mutable.ArrayBuffer[(Int, Double, Boolean)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var k = 0
    def more: Boolean =
      if (a.trace) k < 2 || elapsed < a.seconds || (k % 2 == 1)
      else k == 0 || elapsed < a.seconds
    while (more) {
      h.chain = k
      h.traced = a.trace && k % 2 == 1
      val c0 = System.nanoTime()
      wl.chain(h, k)
      chainWall += ((k, (System.nanoTime() - c0) / 1e9, h.traced))
      h.tracer.filter(_ => h.traced).foreach(_.drain())
      k += 1
    }
    val measured = elapsed
    mark(s"$k chain(s)")
    val chains = (0 until k)
    wl.check(h, chains)
    mark("checks")
    val stored = chains.map(wl.storedBytes)
    h.tracer.foreach(_.detach())

    val res = Report.build(a, wl, h, setupS, chainWall.toSeq, stored, measured)
    val pw = new PrintWriter(new File(a.out), "UTF-8")
    try pw.write(res) finally pw.close()
    h.tracer.foreach(t => Report.writeSpans(t, a.out.stripSuffix(".json") + "-spans.jsonl"))
    wl match {
      case q: QueryMix if a.record => Report.writeDigests(q, a.data)
      case _ =>
    }
    spark.stop()
    mark("stopped")
    // a thread the program left running must not keep the JVM alive
    System.exit(0)
  }
}
