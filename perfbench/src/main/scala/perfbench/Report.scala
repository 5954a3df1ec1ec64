package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

/** Turns a run's samples into the result document (JSON) that run.py
  * reads: end-to-end metrics always, per-layer metrics when traced. */
object Report {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, with its percentile. Below 21 samples that
    * would not lie above the median, so the maximum is reported, with
    * percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0)
    else if (s.size < 21) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def metric(v: Double, unit: String): String = obj(Seq("value" -> num(v), "unit" -> str(unit)))

  /** Length of the union of [a, b) intervals, each clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    c.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def build(a: Main.Args, wl: Workload, h: Harness, setupS: Double,
            chainWall: Seq[(Int, Double, Boolean)], stored: Seq[Long], measured: Double): String = {
    val samples = h.samples.toSeq
    val plain = samples.filter(!_.traced)
    val ops = plain.filter(_.kind == "op").map(_.wallS)
    val (tailV, tailP) = tail(ops)
    val failed = samples.count(!_.ok)
    val endToEnd = Seq(
      "setup_s" -> metric(setupS, "s"),
      "backfill_s" -> metric(median(plain.filter(_.kind == "backfill").map(_.wallS)), "s"),
      "op_p50_s" -> metric(median(ops), "s"),
      "wall_s" -> metric(median(chainWall.filter(!_._3).map(_._2)), "s"),
      "stored_mb" -> metric(median(stored.map(_ / 1e6)), "MB"),
      "peak_rss_mb" -> metric(peakRssMb(), "MB"))
    val perLayer = h.tracer.map(t => layerMetrics(t, samples, wl.isInstanceOf[QueryMix])).getOrElse(Seq.empty)
    val perOp = samples.map(s => obj(Seq("kind" -> str(s.kind), "name" -> str(s.name),
      "chain" -> s.chain.toString, "traced" -> s.traced.toString, "wall_s" -> num(s.wallS),
      "ok" -> s.ok.toString) ++ (if (s.ok) Nil else Seq("error" -> str(s.error)))))
    obj(Seq(
      "workload" -> str(a.workload), "seed" -> a.seed.toString,
      "attempted" -> samples.size.toString, "failed" -> failed.toString,
      "fail_ratio" -> num(if (samples.isEmpty) 0.0 else failed.toDouble / samples.size),
      "op_tail_s" -> num(tailV), "op_tail_percentile" -> num(tailP), "op_n" -> ops.size.toString,
      "chains" -> chainWall.size.toString, "measured_s" -> num(measured),
      "nproc" -> Main.nproc.toString,
      "driver_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> str(org.apache.spark.SPARK_VERSION),
      "end_to_end" -> obj(endToEnd),
      "per_layer" -> obj(perLayer.map { case (k, v, u) => k -> metric(v, u) }),
      "ops" -> perOp.mkString("[", ",", "]")))
  }

  /** Per-layer metrics over the traced unit operations, as means per
    * operation (plus the backfill's job count and the tracing overhead).
    * The build/exec split and the graph-query gap come from spans only
    * `query_mix` opens, so only its runs report them. */
  def layerMetrics(t: Tracer, samples: Seq[OpSample], queryMix: Boolean): Seq[(String, Double, String)] = {
    val spans = t.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def rootOf(id: Long): Long = byId.get(id) match {
      case Some(s) if s.parent != 0L => rootOf(s.parent)
      case Some(s) => s.id
      case None => 0L
    }
    def descendants(id: Long): Seq[Span] =
      byId.get(id).toSeq ++ children.getOrElse(id, Nil).flatMap(c => descendants(c.id))
    val traced = samples.filter(_.traced)
    val allJobs = t.jobs.values.asScala.toSeq.filter(_.end >= 0)
    // a job whose thread carried no span property is assigned by time
    val jobsByOp: Map[Long, Seq[JobRec]] = allJobs.groupBy { j =>
      if (j.span != 0L) rootOf(j.span)
      else traced.find(s => j.start >= s.startMs && j.start <= s.endMs).map(_.spanId).getOrElse(0L)
    }
    val jobsBySpan = allJobs.groupBy(_.span)
    val nproc = Main.nproc.toDouble
    // `sources` spans open only inside the initial full load, so a unit
    // operation has no `sources` self time to report
    val layers = Seq("pipeline", "operators", "streaming", "bench")

    def perOp(s: OpSample): Map[String, Double] = {
      val js = jobsByOp.getOrElse(s.spanId, Nil)
      val sp = descendants(s.spanId)
      def sum(f: JobRec => Double) = js.map(f).sum
      def mod(m: String) = js.filter(_.module == m)
      def dur(j: JobRec) = (j.end - j.start) / 1e3
      def spanDur(name: String) = sp.filter(_.name == name).map(x => (x.end - x.start) / 1e3).sum
      val busy = covered(js.map(j => (j.start, j.end)), s.startMs, s.endMs) / 1e3
      val taskS = sum(_.taskMs.get / 1e3)
      val nodes = sp.map(x => Option(t.customNodes.get(x.id)).map(_.get).getOrElse(0L)).sum.toDouble
      val selfS = layers.map { l =>
        l -> sp.filter(_.layer == l).map { x =>
          val inner = children.getOrElse(x.id, Nil).map(c => (c.start, c.end)) ++
            jobsBySpan.getOrElse(x.id, Nil).map(j => (j.start, j.end))
          (x.end - x.start - covered(inner, x.start, x.end)) / 1e3
        }.sum
      }
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> sum(_.stages.toDouble),
        "spark.tasks" -> sum(_.tasks.get.toDouble),
        "spark.sched_wait_s" -> sum(_.schedWaitMs.get / 1e3),
        "spark.task_s" -> taskS,
        "spark.cpu_s" -> sum(_.cpuNs.get / 1e9),
        "spark.slot_util" -> taskS / (s.wallS * nproc),
        "spark.shuffle_write_bytes" -> sum(_.shuffleW.get.toDouble),
        "spark.shuffle_read_bytes" -> sum(_.shuffleR.get.toDouble),
        "spark.spill_bytes" -> sum(_.spill.get.toDouble),
        "spark.input_bytes" -> sum(_.inBytes.get.toDouble),
        "spark.output_bytes" -> sum(_.outBytes.get.toDouble),
        "driver.job_busy_s" -> busy,
        "driver.gap_s" -> (s.wallS - busy),
        "driver.gc_s" -> s.gcMs / 1e3,
        "sources.jobs" -> mod("sources").size.toDouble,
        "sources.job_s" -> mod("sources").map(dur).sum,
        "sources.fs_write_bytes" -> s.fs.writeBytes.toDouble,
        "sources.fs_read_bytes" -> s.fs.readBytes.toDouble,
        "sources.fs_list_ops" -> s.fs.lists.toDouble,
        "sources.fs_meta_ops" -> s.fs.metas.toDouble,
        "sources.files_written" -> s.fs.creates.toDouble,
        "pipeline.jobs" -> mod("pipeline").size.toDouble,
        "pipeline.ledger_s" -> (if (s.layer == "pipeline") s.wallS - spanDur("runOnce") else 0.0),
        "pipeline.ledger_files" -> s.fs.ledgerCreates.toDouble,
        "operators.jobs" -> mod("operators").size.toDouble,
        "operators.job_s" -> mod("operators").map(dur).sum,
        "plans.custom_nodes" -> nodes,
        "plans.task_s" -> (if (nodes > 0) taskS else 0.0),
        "cache.entries_left" -> s.cacheEntries.toDouble,
        "cache.bytes_left" -> s.cacheBytes.toDouble
      ) ++ selfS.map { case (l, v) => s"$l.self_s" -> v } ++
        (if (queryMix) Map(
          "operators.build_s" -> spanDur("build"),
          "operators.build_jobs" -> sp.filter(_.name == "build").flatMap(b => descendants(b.id))
            .map(x => jobsBySpan.getOrElse(x.id, Nil).size.toDouble).sum,
          "operators.exec_s" -> spanDur("exec"))
        else Map.empty)
    }

    val opRows = traced.filter(_.kind == "op").map(s => s -> perOp(s))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val keys = opRows.headOption.map(_._2.keys.toSeq.sorted).getOrElse(Seq.empty)
    val means = keys.map(k => k -> mean(opRows.map(_._2(k))))
    val backfillJobs = mean(traced.filter(_.kind == "backfill").map(s => perOp(s)("spark.jobs")))
    val overhead = median(traced.filter(_.kind == "op").map(_.wallS)) -
      median(samples.filter(s => !s.traced && s.kind == "op").map(_.wallS))
    def unit(k: String) =
      if (k.endsWith("_s")) "s" else if (k.contains("bytes")) "B"
      else if (k.endsWith("slot_util")) "ratio" else "count"
    val graphGap =
      if (!queryMix) Nil
      else Seq("operators.graph_gap_s" -> mean(opRows.filter(r => QueryMix.graph(r._1.name)).map(_._2("driver.gap_s"))))
    (means ++ graphGap ++ Seq("spark.backfill_jobs" -> backfillJobs, "trace.overhead_s" -> overhead))
      .map { case (k, v) => (k, v, unit(k)) }
  }

  /** Spans with the Spark jobs started inside each, one JSON object a line. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val jobsBySpan = t.jobs.values.asScala.toSeq.groupBy(_.span)
    val pw = new PrintWriter(new File(path), "UTF-8")
    try t.spans.foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil).sortBy(_.id)
      pw.println(obj(Seq("id" -> s.id.toString, "name" -> str(s.name), "layer" -> str(s.layer),
        "parent" -> s.parent.toString, "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "jobs" -> js.map(j => obj(Seq("id" -> j.id.toString, "module" -> str(j.module),
          "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
          "tasks" -> j.tasks.get.toString, "site" -> str(j.site)))).mkString("[", ",", "]"))))
    } finally pw.close()
  }

  /** Replace this data set's lines in the digest file with the digests
    * just computed. */
  def writeDigests(q: QueryMix, data: String): Unit = {
    val key = new File(data).getName
    val f = new File(QueryMix.DigestFile)
    val keep = if (f.exists) scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(_.startsWith(key + "\t")).toSeq else Seq.empty
    val mine = q.recorded.toSeq.sortBy(_._1).map { case (n, (rows, d)) => s"$key\t$n\t$rows\t$d" }
    val pw = new PrintWriter(f, "UTF-8")
    try (keep ++ mine).sorted.foreach(pw.println) finally pw.close()
  }
}
