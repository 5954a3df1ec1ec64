package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime}

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{HealthPipeline, TrainingPipeline}
import graft.operators.HealthPipeline.SourceDef
import graft.pipeline.Runner
import graft.sources.{ShardStore, StateStore, Tables, Writer}
import graft.streaming.CorpusIngest

/** What every workload gets: the session, the generated warehouse, a
  * scratch directory of its own and the seed. */
final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long, smoke: Boolean)

/** A workload is a chain of closed-loop operations: an initial full load
  * ("backfill") followed by the unit operations. */
trait Workload {
  /** Untimed warm-up inside set-up: load classes, compile codegen. */
  def warmUp(h: Harness): Unit
  /** One chain; `k` numbers it inside the run. */
  def chain(h: Harness, k: Int): Unit
  /** Output checks made once per run, after the timed chains `ks`; a
    * failed check marks the chain's operations wrong. */
  def check(h: Harness, ks: Seq[Int]): Unit = ()
  /** Bytes on disk a chain left behind. */
  def storedBytes(k: Int): Long
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "etl_daily" => new EtlDaily(ctx)
    case "corpus_ingest" => new CorpusIngestWl(ctx)
    case "query_mix" => new QueryMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(path))
  }

  def rmrf(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

/** The paper's daily DAG as scheduled: `Runner.runDue` (cron `0 0 * * *`)
  * fires `HealthPipeline.runOnce` once per day. Five sources, one per
  * event type, one of them 7-day chunked; each chain starts empty, so its
  * first firing is the 365-day backfill. The seed picks the user cohort
  * whose events the sources serve. */
final class EtlDaily(ctx: Ctx) extends Workload {
  import ctx.spark
  private val Cron = "0 0 * * *"
  private val Start = LocalDateTime.parse("2024-01-01T00:00:00")
  /** Firings per chain: the backfill plus one firing per later day. */
  val firings: Int = if (ctx.smoke) 4 else 10
  private val types = Seq("click", "error", "purchase", "signup", "view")

  private val users: Seq[Long] = {
    val all = Tables.events(spark, ctx.data).select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    new Random(ctx.seed).shuffle(all).take(math.max(5, all.size / 15)).sorted
  }

  private def cohortEvents: DataFrame =
    Tables.events(spark, ctx.data).filter(col("user_id").isin(users: _*))

  /** The source "API": the cohort's daily (n, total) per event type. */
  private val api: Map[String, Map[LocalDate, (Long, Double)]] =
    cohortEvents
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)), sum(col("value")))
      .collect().toSeq
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(r =>
        LocalDate.parse(r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap }

  private def extract(h: Harness, t: String)(start: LocalDate, end: LocalDate): DataFrame =
    h.span("extract", "bench") {
      val rows = api.getOrElse(t, Map.empty).toSeq
        .filter { case (d, _) => !d.isBefore(start) && !d.isAfter(end) }
        .sortBy(_._1.toEpochDay)
        .map { case (d, (n, tot)) => Row(d.toString, Row(n, tot)) }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), HealthPipeline.rawSchema)
    }

  private def sources(h: Harness): Seq[SourceDef] = types.map(t =>
    SourceDef(t, extract(h, t), chunkDays = if (t == "view") Some(7) else None))

  private def root(k: Int) = s"${ctx.work}/etl/chain$k"

  private def runChain(h: Harness, root: String, n: Int, timed: Boolean): Unit = {
    Workload.rmrf(spark, root)
    val srcs = sources(h)
    (1 to n).foreach { i =>
      val now = Start.plusDays(i.toLong)
      val expect = Seq(now.toLocalDate.minusDays(1).toString)
      var appended = Seq.empty[String]
      def fire() = Runner.runDue(spark, root, Cron, Start, now) { w =>
        appended = h.span("runOnce", "operators") {
          HealthPipeline.runOnce(spark, s"$root/raw", s"$root/warehouse", srcs,
            LocalDate.parse(w.take(10)))
        }
      }
      if (!timed) fire()
      else h.op(if (i == 1) "backfill" else "op", s"fire_$i", "pipeline")(fire()) { rs =>
        if (rs.size != 1 || rs.head.status != "success") Some(s"runDue returned $rs")
        else if (appended != expect) Some(s"appended $appended, expected $expect")
        else None
      }
    }
  }

  /** A shorter chain, untimed: the JVM is still compiling the hot paths
    * of a firing for several firings after the first. */
  def warmUp(h: Harness): Unit = runChain(h, s"${ctx.work}/etl/warmup", 5, timed = false)

  def chain(h: Harness, k: Int): Unit = runChain(h, root(k), firings, timed = true)

  override def check(h: Harness, ks: Seq[Int]): Unit =
    ks.foreach(k => checkWarehouse(root(k), firings).foreach(h.failChain(k, _)))

  /** The warehouse equals a direct daily aggregation of the cohort's
    * events over the days the chain covered. */
  private def checkWarehouse(root: String, n: Int): Option[String] = {
    val last = Start.toLocalDate.plusDays((n - 1).toLong).toString
    val got = Writer.readTable(spark, s"$root/warehouse")
      .select((col("day").cast("string").as("day") +: types.flatMap(t =>
        Seq(coalesce(col(s"${t}__n"), lit(0L)).as(s"${t}__n"),
          coalesce(col(s"${t}__total"), lit(0.0)).as(s"${t}__total")))): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    val want = cohortEvents
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("day") <= last)
      .groupBy("day").pivot("event_type", types)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .collect().map(r => r.getString(0) -> r).toMap
    if (got.keySet != want.keySet) return Some(s"warehouse days ${got.keySet.toSeq.sorted} != ${want.keySet.toSeq.sorted}")
    val bad = want.toSeq.flatMap { case (day, w) =>
      val g = got(day)
      types.zipWithIndex.flatMap { case (t, i) =>
        val wn = Option(w.get(1 + 2 * i)).map(_.asInstanceOf[Long]).getOrElse(0L)
        val wt = Option(w.get(2 + 2 * i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        val (gn, gt) = (g.getLong(1 + 2 * i), g.getDouble(2 + 2 * i))
        if (gn != wn || math.abs(gt - wt) > 1e-6 * math.max(1.0, math.abs(wt)))
          Some(s"$day $t: ($gn, $gt) != ($wn, $wt)") else None
      }
    }
    bad.headOption
  }

  def storedBytes(k: Int): Long = Workload.du(root(k))
}

/** The LLM-data incremental ingest: bootstrap + commit over the corpus
  * cut (sources < 15), then `CorpusIngest.ingestBatch` once per batch of
  * the remaining documents, with the `lshBands = 16` parity config. The
  * seed cuts the remaining documents, in id order, into two batches (the
  * cut falls between 40% and 60% of them), so ids grow batch by batch. */
final class CorpusIngestWl(ctx: Ctx) extends Workload {
  import ctx.spark
  private val cfg = TrainingPipeline.Config(lshBands = 16)

  private val docs = Tables.documents(spark, ctx.data)
    .withColumn("src", substring(col("source"), 4, 10).cast("int"))
  private val corpus = docs.filter(col("src") < 15).select("doc_id", "lang", "text")

  private val batches: Seq[DataFrame] = {
    val ids = docs.filter(col("src") >= 15).select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = math.max(1, ids.length * (40 + new Random(ctx.seed).nextInt(21)) / 100)
    Seq((ids.head, ids(cut - 1)), (ids(cut), ids.last)).map { case (lo, hi) =>
      docs.filter(col("src") >= 15 && col("doc_id").between(lo, hi)).select("doc_id", "lang", "text")
    }
  }

  private def root(k: Int) = s"${ctx.work}/corpus/chain$k"

  private def runChain(h: Harness, root: String, corpusDocs: DataFrame, batchDocs: Seq[DataFrame],
                       timed: Boolean): Unit = {
    Workload.rmrf(spark, root)
    val (state, shards) = (s"$root/state", s"$root/shards")
    def bootstrap(): Long = {
      val st = h.span("bootstrapState", "operators")(TrainingPipeline.bootstrapState(corpusDocs, cfg))
      val v = h.span("commitBootstrap", "sources")(StateStore.commitBootstrap(spark, st, state))
      h.span("ShardStore.init", "sources")(ShardStore.init(corpusDocs, st.manifest, shards))
      v
    }
    def ingest(i: Int): Unit = CorpusIngest.ingestBatch(batchDocs(i), i.toLong, state, shards, cfg)
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!timed) {
      bootstrap()
      batchDocs.indices.foreach(ingest)
    }
    else {
      h.op("backfill", "bootstrap", "operators")(bootstrap()) { v =>
        if (v != 0L) Some(s"bootstrap committed version $v") else None
      }
      batchDocs.indices.foreach { i =>
        h.op("op", s"batch_$i", "streaming")(ingest(i)) { _ =>
          if (!fs.exists(new Path(s"$state/BATCH_$i"))) Some(s"batch $i left no commit marker") else None
        }
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** The same stage shapes on a 40-doc corpus and an 8-doc batch:
    * codegen is per expression tree, not per data size. */
  def warmUp(h: Harness): Unit =
    runChain(h, s"${ctx.work}/corpus/warmup", corpus.orderBy("doc_id").limit(40),
      Seq(batches.head.orderBy("doc_id").limit(8)), timed = false)

  def chain(h: Harness, k: Int): Unit = runChain(h, root(k), corpus, batches, timed = true)

  /** The live manifest equals `TrainingPipeline.run` over corpus ∪
    * batches on (doc_id, split, lang, n_tokens) — checked once, on the
    * last chain. */
  override def check(h: Harness, ks: Seq[Int]): Unit = ks.lastOption.foreach { lastChain =>
    val cols = Seq("doc_id", "split", "lang", "n_tokens").map(col)
    val live = StateStore.load(spark, s"${root(lastChain)}/state")
      .map(_.manifest.select(cols: _*))
    live match {
      case None => h.failChain(lastChain, "no committed state")
      case Some(l) =>
        val all = batches.foldLeft(corpus)(_ unionByName _)
        val full = TrainingPipeline.run(all, cfg).select(cols: _*)
        val (onlyFull, onlyLive) = (full.exceptAll(l).count(), l.exceptAll(full).count())
        if (onlyFull != 0 || onlyLive != 0 || l.isEmpty)
          h.failChain(lastChain, s"live manifest diverges from the full run: $onlyFull only in full, $onlyLive only live")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  def storedBytes(k: Int): Long = Workload.du(root(k))
}

/** Nine registered queries replayed read-only, the cache cleared after
  * each one as `graft.Bench` does. The seed shuffles their order in each
  * pass. A pass starts with a full scan of every table (the initial load
  * a cold reader pays), which stands in for the backfill. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.spark
  private val names = QueryMix.names.sorted
  private val fns = SparkEntry.queries
  private val expected: Map[String, (Long, String)] = QueryMix.loadDigests(ctx.data)
  private val rnd = new Random(ctx.seed)
  val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()

  def warmUp(h: Harness): Unit = QueryMix.warmUp(spark, ctx.data)

  def chain(h: Harness, k: Int): Unit = {
    h.op("backfill", "load", "sources")(loadAll()) { _ => None }
    rnd.shuffle(names).foreach { q =>
      h.op("op", q, "operators") {
        val df = h.span("build", "operators")(fns(q)(spark, ctx.data))
        h.span("exec", "operators")(df.collect())
      } { rows =>
        val d = QueryMix.digest(rows)
        recorded(q) = (rows.length.toLong, d)
        expected.get(q) match {
          case None => Some(s"no committed digest for $q")
          case Some((n, e)) if n != rows.length || e != d =>
            Some(s"$q: ${rows.length} rows, digest $d; expected $n rows, digest $e")
          case _ => None
        }
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  private def loadAll(): Long =
    Tables.all.map(t => Tables.load(spark, ctx.data, t).count()).sum

  def storedBytes(k: Int): Long = Tables.all.map(t => Workload.du(s"${ctx.data}/$t.parquet")).sum
}

object QueryMix {
  /** Graph driver replay. */
  val graph: Set[String] = Set("q_pagerank", "q_kcore")

  /** The replayed queries, by the layer a planned change targets. */
  val names: Seq[String] = graph.toSeq ++ Seq(
    "q_heavy_hitters", "q_decon_bloom", // custom aggregates
    "q_longest_dup",                    // never profiled
    "q1_pricing_summary",               // relational control
    "q_pq_topk",                        // vectors
    "q_rfm", "q_bootstrap")             // thread pool, bootstrap-CI persist

  /** Digests are keyed by the data directory's name (e.g. `sf0.01`).
    * The path is relative to the checkout root, the JVM's working
    * directory. */
  val DigestFile = "perfbench/digests.tsv"

  def loadDigests(data: String): Map[String, (Long, String)] = {
    val key = new File(data).getName
    val f = new File(DigestFile)
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(`key`, q, n, d) => q -> ((n.toLong, d)) }.toMap
  }

  /** Ordered digest of a query's rows. Doubles are rounded to 9
    * significant digits, so the digest does not depend on the order in
    * which partial sums were combined. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def fmt(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
      case f: Float => fmt(f.toDouble)
      case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => fmt(a) + ":" + fmt(b) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case o => o.toString
    }
    rows.foreach(r => md.update((fmt(r) + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** A light warm-up (every table scanned once, one aggregate, one
    * window and one broadcast join), so the first query does not pay the
    * engine's own first-job cost; each query still compiles its own plan
    * cold. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    Tables.all.foreach(t => Tables.load(spark, dir, t).count())
    Tables.events(spark, dir).groupBy("event_type").count().collect()
    spark.range(1000).selectExpr("id % 10 AS k", "id AS v")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v")))
      .filter(col("rn") <= 3)
      .join(broadcast(spark.range(10).toDF("k2")), col("k") === col("k2"))
      .groupBy("k").agg(sum("v")).collect()
  }
}
