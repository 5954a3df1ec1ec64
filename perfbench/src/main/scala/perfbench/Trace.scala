package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The local file system with namespace operations counted. The traced
  * run installs it as `fs.file.impl`, so every Spark task and driver
  * call that touches a `file:` path is counted without a line of tracing
  * in the program. `exists` is counted once, through `getFileStatus`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { metas.incrementAndGet(); super.getFileStatus(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { metas.incrementAndGet(); super.mkdirs(f, p) }
  override def rename(s: Path, d: Path): Boolean = { metas.incrementAndGet(); super.rename(s, d) }
  override def delete(f: Path, r: Boolean): Boolean = { metas.incrementAndGet(); super.delete(f, r) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int, rep: Short,
                      block: Long, prog: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    if (f.toUri.getPath.contains("/ledger/")) ledgerCreates.incrementAndGet()
    super.create(f, p, overwrite, buf, rep, block, prog)
  }
}

object CountingLocalFileSystem {
  /** `ledgerCreates`: files created under a `ledger/` directory (the
    * run ledger `graft.pipeline.Runner` keeps under its root). */
  val lists, metas, creates, ledgerCreates = new AtomicLong
}

/** Counters read before and after an operation; the difference is the
  * operation's share. */
final case class FsSnapshot(readBytes: Long, writeBytes: Long, lists: Long, metas: Long,
                            creates: Long, ledgerCreates: Long) {
  def -(o: FsSnapshot): FsSnapshot = FsSnapshot(readBytes - o.readBytes,
    writeBytes - o.writeBytes, lists - o.lists, metas - o.metas, creates - o.creates,
    ledgerCreates - o.ledgerCreates)
}

object FsSnapshot {
  def now(): FsSnapshot = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsSnapshot(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      CountingLocalFileSystem.lists.get, CountingLocalFileSystem.metas.get,
      CountingLocalFileSystem.creates.get, CountingLocalFileSystem.ledgerCreates.get)
  }
}

/** One Spark job as the listener saw it. `module` is the graft module of
  * the innermost `graft.*` frame of the job's call site; `span` is the
  * benchmark span that was open in the submitting thread. */
final class JobRec(val id: Int, val span: Long, val module: String, val start: Long,
                   val site: String) {
  @volatile var end: Long = -1L
  @volatile var stages = 0
  val tasks, taskMs, cpuNs, shuffleW, shuffleR, spill, inBytes, outBytes, schedWaitMs = new AtomicLong
}

/** A benchmark span: a call the benchmark makes into one layer. */
final class Span(val id: Long, val name: String, val layer: String, val parent: Long,
                 val start: Long) {
  var end: Long = -1L
}

/** In-memory trace: spans opened by the benchmark around its own calls,
  * and Spark jobs attributed by call site. Written out once, at the end. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val nextSpan = new AtomicLong(1)
  /** graft `plans`/`functions` nodes in executed queries, by the span
    * the query's jobs ran in (a query that ran no job is not counted). */
  val customNodes = new ConcurrentHashMap[Long, AtomicLong]()
  private val executionSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val spanLayer = new ConcurrentHashMap[Long, String]()
  /** graft module of each SQL execution's call site: the jobs of an
    * adaptive query run on Spark's own threads, whose stacks hold no
    * graft frame, so they take the module of the execution that started
    * them (or of its root execution). */
  private val executionModule = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val own = moduleOf(Option(x.details).getOrElse(""))
      val root = x.rootExecutionId.flatMap(r => Option(executionModule.get(r)))
      executionModule.put(x.executionId, if (own != "bench") own else root.getOrElse(own))
    case x: SparkListenerSQLExecutionEnd =>
      for (span <- Option(executionSpan.get(x.executionId)); qe <- PerfbenchAccess.queryExecution(x)) {
        val n = customNodeCount(qe.executedPlan)
        if (n > 0) customNodes.computeIfAbsent(span, _ => new AtomicLong).addAndGet(n)
      }
    case _ =>
  }

  private def sc = spark.sparkContext

  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchAccess.drain(sc)

  /** The innermost open span (0 outside any). */
  def current: Long = open.headOption.map(_.id).getOrElse(0L)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = new Span(nextSpan.getAndIncrement(), name, layer, current, now())
    spans += s
    spanLayer.put(s.id, layer)
    open.push(s)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = now()
      open.pop()
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
    prop("spark.sql.execution.id").foreach(x => executionSpan.putIfAbsent(x.toLong, span))
    val site = e.stageInfos.map(_.details).find(_ != null)
      .orElse(prop("callSite.long"))
      .getOrElse("")
    val fromExecution = prop("spark.sql.execution.id")
      .flatMap(x => Option(executionModule.get(x.toLong))).filter(_ != "bench")
    // no graft frame at all: the benchmark's own call forced the job, so
    // it belongs to the layer that call went into
    val module = fromExecution.getOrElse(moduleOf(site)) match {
      case "bench" => Option(spanLayer.get(span)).getOrElse("bench")
      case m => m
    }
    val j = new JobRec(e.jobId, span, module, e.time, site)
    j.stages = e.stageIds.size
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageSubmit.remove(e.stageId)).foreach { sub =>
      Option(stageJob.get(e.stageId)).foreach(
        _.schedWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      j.tasks.incrementAndGet()
      j.taskMs.addAndGet(m.executorRunTime)
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.inBytes.addAndGet(m.inputMetrics.bytesRead)
      j.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }

}

object Tracer {
  val SpanKey = "perfbench.span"

  def now(): Long = System.currentTimeMillis()

  /** The graft module of the innermost `graft.*` frame, or "bench" when
    * no graft frame is on the stack (a lazy plan forced by the benchmark's
    * own call). `functions` counts as `plans`; top-level classes such as
    * `graft.SparkEntry` count as "graft". */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").takeWhile(_ != '('))
      .find(_.startsWith("graft."))
      .map { frame =>
        val parts = frame.split('.')
        if (parts.length >= 4 && parts(1).head.isLower)
          (if (parts(1) == "functions") "plans" else parts(1))
        else "graft"
      }.getOrElse("bench")

  private def isCustom(cls: String): Boolean =
    cls.startsWith("graft.plans.") || cls.startsWith("graft.functions.")

  /** graft `plans`/`functions` nodes (plan operators and expressions) in
    * an executed physical plan, looking through adaptive wrappers. */
  def customNodeCount(plan: SparkPlan): Long = {
    var n = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _ =>
        if (isCustom(p.getClass.getName)) n += 1
        p.expressions.foreach(_.foreach(e => if (isCustom(e.getClass.getName)) n += 1))
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    n
  }
}
