package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.domain.SnapshotGaugeStore

/** One timed region. `root` is the op (backfill pass, cron cycle or
  * serve request) the span belongs to; `attrs` carry counts the
  * harness knows (new bytes, rows returned, groups rebuilt). */
final case class Span(id: Int, parent: Int, root: Int, name: String,
    tag: String, start: Long, var end: Long = 0L,
    attrs: mutable.Map[String, Double] = mutable.Map.empty) {
  def dur: Long = end - start
}

/** Outside-in span recorder. A span sets the Spark local property
  * [[Tracer.Prop]] to its id for its extent, so every job submitted
  * inside it carries the id; [[SpanListener]] attributes the job's
  * task metrics to that (innermost) span. With `enabled` off, `span`
  * is a plain call: no span object, no property. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var enabled = false

  def current: Option[Span] = stack.headOption

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + 1
      val parent = stack.headOption
      val s = Span(id, parent.map(_.id).getOrElse(0),
        parent.map(_.root).getOrElse(id), name, tag, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Adds `v` to attribute `k` of the innermost open span, if any. */
  def note(k: String, v: Double): Unit =
    current.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Spark counters of the jobs attributed to one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L
  var runMs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRecords = 0L
  var shuffleWrite = 0L
  var outBytes = 0L; var outRecords = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords
    shuffleWrite += o.shuffleWrite; outBytes += o.outBytes
    outRecords += o.outRecords
  }
}

/** Collects job and task metrics keyed by the span id a job was
  * submitted under. Job intervals are kept (in the span clock) so
  * driver time outside jobs can be computed per request. */
final class SpanListener extends SparkListener {
  /** Wall-clock millis → System.nanoTime clock of the spans. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (span id, start ns, end ns) of every finished attributed job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()

  private def counters(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .foreach { s =>
        val span = s.toInt
        jobSpan.put(e.jobId, span)
        jobStart.put(e.jobId, e.time * 1000000L + offsetNs)
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, span))
        counters(span).synchronized { counters(span).jobs += 1 }
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      jobs.add((span, jobStart.get(e.jobId), e.time * 1000000L + offsetNs))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageSpan.containsKey(e.stageId) && e.taskMetrics != null) {
      val c = counters(stageSpan.get(e.stageId))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
}

/** The default store class with every public store method wrapped in
  * a span around the `super` call. It is constructed over a root that
  * [[graft.domain.GaugeStore.open]] has already claimed for the
  * snapshot backend, so traced runs execute the same code as untraced
  * ones. DataFrame-returning methods time plan construction only;
  * their execution lands in the enclosing action's span. */
final class TracedStore(spark: SparkSession, root: String, t: Tracer)
    extends SnapshotGaugeStore(spark, root) {

  override def atomicCommit(commitId: String)(stage: String => Unit): Unit =
    t.span("store.atomic_commit") {
      super.atomicCommit(commitId)(dir => t.span("store.stage")(stage(dir)))
    }

  override def compactGaugeData(scope: Option[(String, String)],
      dataSource: Option[String]): Unit =
    t.span("store.compact_scoped")(super.compactGaugeData(scope, dataSource))

  override def swapModelRunDatePartitions(df: DataFrame): Unit =
    t.span("store.rerun_repair")(super.swapModelRunDatePartitions(df))

  override def rollupDaily(): Seq[(String, String)] =
    t.span("store.rollup") {
      val groups = super.rollupDaily()
      t.note("groups", groups.size)
      groups
    }

  override def ledger: DataFrame = t.span("store.ledger_read")(super.ledger)
  override def modelLedger: DataFrame = t.span("store.ledger_read")(super.modelLedger)

  override def stations: DataFrame = t.span("store.dim_read")(super.stations)
  override def gaugeSource: DataFrame = t.span("store.dim_read")(super.gaugeSource)
  override def modelSource: DataFrame = t.span("store.dim_read")(super.modelSource)

  override def gaugeDataForRange(startDate: String, endDate: String): DataFrame =
    t.span("store.fact_plan")(super.gaugeDataForRange(startDate, endDate))
  override def modelDataForTimemark(timemark: String): DataFrame =
    t.span("store.fact_plan")(super.modelDataForTimemark(timemark))
  override def modelDataForRange(startDate: String, endDate: String,
      horizonDays: Int): DataFrame =
    t.span("store.fact_plan")(super.modelDataForRange(startDate, endDate, horizonDays))

  override def writeGaugeSource(df: DataFrame): Unit =
    t.span("store.side_write")(super.writeGaugeSource(df))
  override def writeModelSource(df: DataFrame): Unit =
    t.span("store.side_write")(super.writeModelSource(df))
  override def appendRetainObsStations(df: DataFrame): Unit =
    t.span("store.side_write")(super.appendRetainObsStations(df))
  override def appendRetainObsStationFileMeta(df: DataFrame): Unit =
    t.span("store.side_write")(super.appendRetainObsStationFileMeta(df))
  override def appendApsVizStations(df: DataFrame): Unit =
    t.span("store.side_write")(super.appendApsVizStations(df))
  override def markApsVizStations(stationNames: Seq[String]): Unit =
    t.span("store.side_write")(super.markApsVizStations(stationNames))
  override def appendApsVizStationFileMeta(df: DataFrame): Unit =
    t.span("store.side_write")(super.appendApsVizStationFileMeta(df))
}

/** Per-layer figures from the spans of traced ops and the listener's
  * counters. Every time and count is per traced op (backfill pass,
  * cron cycle or serve request) unless its name says otherwise. */
object Layers {

  /** Span sets whose Spark counters are reported, by metric prefix:
    * the span name and whether the counters are the span's own jobs
    * (`self`) or its whole subtree. */
  val counterSpans: Seq[(String, String, Boolean)] = Seq(
    ("ingestcli.discover", "ingest.sequence", true),
    ("modelingest.run", "ingest.model", true),
    ("store.stage", "store.stage", false),
    ("store.publish", "store.atomic_commit", true),
    ("store.compact_scoped", "store.compact_scoped", false),
    ("store.rerun_repair", "store.rerun_repair", false),
    ("store.rollup", "store.rollup", false),
    ("queryserve.handle", "serve.handle", false))

  val counterNames: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "executor_run_s" -> "s",
    "gc_s" -> "s", "input_bytes" -> "B", "shuffle_write_bytes" -> "B",
    "output_bytes" -> "B")

  val serveOps: Seq[String] = Seq("obs", "allparms", "forecast", "nowcast")

  /** Name → unit of every per-layer metric, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "ingestcli.discover_s" -> "s",
    "ingestcli.discover_read_ratio" -> "ratio",
    "modelingest.run_s" -> "s",
    "store.stage_s" -> "s",
    "store.publish_s" -> "s",
    "store.commits" -> "count",
    "store.compact_scoped_s" -> "s",
    "store.compact_rows_rewritten_per_new_row" -> "ratio",
    "store.rerun_repair_s" -> "s",
    "store.rollup_s" -> "s",
    "store.rollup_groups_rebuilt" -> "count",
    "store.ledger_read_s" -> "s",
    "store.ledger_reads" -> "count",
    "store.dim_read_s" -> "s",
    "store.dim_reads_per_request" -> "count",
    "store.fact_plan_s" -> "s",
    "store.side_write_s" -> "s",
    "store.bytes_written_per_input_byte.stage" -> "ratio",
    "store.bytes_written_per_input_byte.publish" -> "ratio",
    "store.bytes_written_per_input_byte.compact" -> "ratio",
    "store.bytes_written_per_input_byte.rollup" -> "ratio",
    "snapshot.log_versions" -> "count",
    "snapshot.live_files" -> "count",
    "snapshot.cold_replay_s" -> "s",
    "host.steal_share" -> "ratio") ++
    serveOps.map(o => s"queryserve.$o.p50_ms" -> "ms") ++ Seq(
    "queryserve.driver_s" -> "s",
    "queryserve.jobs_per_request" -> "count",
    "queryserve.requests" -> "count",
    "queryserve.tail_percentile" -> "%",
    "queryserve.tail_ms" -> "ms",
    "queryapi.rows_scanned_per_row_returned" -> "ratio",
    "trace.cycle_p50_s" -> "s",
    "trace.serve_p50_ms" -> "ms") ++
    (for ((p, _, _) <- counterSpans; (c, u) <- counterNames) yield s"$p.$c" -> u)

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Computes every metric of [[metrics]] from the spans of traced ops
    * (root spans), the listener's counters, the end-to-end figures
    * measured under tracing (`traced`, the overhead's numerator) and
    * the end-of-run figures (`snapshot`: log state, host steal). Span
    * times are plain wall time. */
  def compute(t: Tracer, l: SpanListener, traced: Map[String, Double],
      snapshot: Map[String, Double]): Map[String, Double] = {
    val spans = t.spans.toIndexedSeq
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    val ops = spans.filter(s => s.parent == 0)
    val nOps = math.max(1, ops.size).toDouble
    def named(n: String) = spans.filter(_.name == n)
    def secs(ns: Long): Double = ns / 1e9
    def sumS(n: String): Double = secs(named(n).map(_.dur).sum)
    def selfNs(s: Span): Long =
      Stats.selfTime((s.start, s.end), children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    def subtree(s: Span): Seq[Int] =
      s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def counters(ids: Seq[Int]): Counters = {
      val c = new Counters
      ids.foreach(i => Option(l.bySpan.get(i)).foreach(c.add))
      c
    }
    def spanCounters(name: String, self: Boolean): Counters =
      counters(named(name).flatMap(s => if (self) Seq(s.id) else subtree(s)))
    def attr(n: String, k: String): Double = named(n).map(_.attrs.getOrElse(k, 0.0)).sum

    val out = mutable.LinkedHashMap[String, Double]()
    val seq = named("ingest.sequence")
    out("ingestcli.discover_s") = secs(seq.map(selfNs).sum) / nOps
    out("ingestcli.discover_read_ratio") = ratio(
      counters(seq.map(_.id)).inBytes, attr("ingest.sequence", "new_obs_bytes"))
    val model = named("ingest.model").map(s => secs(s.dur))
    out("modelingest.run_s") = if (model.isEmpty) 0.0 else Stats.median(model)
    out("store.stage_s") = sumS("store.stage") / nOps
    val commits = named("store.atomic_commit")
    out("store.publish_s") = secs(commits.map(selfNs).sum) / nOps
    out("store.commits") = commits.size / nOps
    out("store.compact_scoped_s") = sumS("store.compact_scoped") / nOps
    out("store.compact_rows_rewritten_per_new_row") = ratio(
      spanCounters("store.compact_scoped", self = false).outRecords,
      attr("ingest.sequence", "new_obs_rows"))
    out("store.rerun_repair_s") = sumS("store.rerun_repair") / nOps
    out("store.rollup_s") = sumS("store.rollup") / nOps
    out("store.rollup_groups_rebuilt") = attr("store.rollup", "groups") / nOps
    out("store.ledger_read_s") = sumS("store.ledger_read") / nOps
    out("store.ledger_reads") = named("store.ledger_read").size / nOps
    out("store.dim_read_s") = sumS("store.dim_read") / nOps
    val handles = named("serve.handle")
    val nReq = handles.size.toDouble
    val dimInServe = handles.map(h => subtree(h).count(i => byId(i).name == "store.dim_read")).sum
    out("store.dim_reads_per_request") = ratio(dimInServe, nReq)
    out("store.fact_plan_s") = sumS("store.fact_plan") / nOps
    out("store.side_write_s") = sumS("store.side_write") / nOps
    val inBytes = attr("ingest.sequence", "new_obs_bytes") + attr("ingest.model", "new_model_bytes")
    out("store.bytes_written_per_input_byte.stage") =
      ratio(spanCounters("store.stage", self = false).outBytes, inBytes)
    out("store.bytes_written_per_input_byte.publish") =
      ratio(spanCounters("store.atomic_commit", self = true).outBytes, inBytes)
    out("store.bytes_written_per_input_byte.compact") =
      ratio(spanCounters("store.compact_scoped", self = false).outBytes, inBytes)
    out("store.bytes_written_per_input_byte.rollup") =
      ratio(spanCounters("store.rollup", self = false).outBytes, inBytes)
    Seq("snapshot.log_versions", "snapshot.live_files", "snapshot.cold_replay_s",
      "host.steal_share").foreach(k => out(k) = snapshot.getOrElse(k, 0.0))
    serveOps.foreach { o =>
      val ms = handles.filter(_.tag == o).map(_.dur / 1e6)
      out(s"queryserve.$o.p50_ms") = if (ms.isEmpty) 0.0 else Stats.median(ms)
    }
    val jobList = l.jobs.asScala.toSeq
    val jobsBySpan = jobList.groupBy(_._1)
    val driverNs = handles.map { h =>
      val iv = subtree(h).flatMap(i => jobsBySpan.getOrElse(i, Nil)).map(j => (j._2, j._3))
      Stats.selfTime((h.start, h.end), iv)
    }
    out("queryserve.driver_s") = ratio(secs(driverNs.sum), nReq)
    val reqCounters = counters(handles.flatMap(subtree))
    out("queryserve.jobs_per_request") = ratio(reqCounters.jobs, nReq)
    // the highest percentile with ten requests beyond it; 0 below 40
    val allMs = handles.map(_.dur / 1e6)
    val tail = Stats.tailPercentile(allMs.size)
    out("queryserve.requests") = nReq
    out("queryserve.tail_percentile") = tail.getOrElse(0.0)
    out("queryserve.tail_ms") = tail.map(Stats.percentile(allMs, _)).getOrElse(0.0)
    out("queryapi.rows_scanned_per_row_returned") =
      ratio(reqCounters.inRecords, attr("serve.handle", "rows_returned"))
    Seq("trace.cycle_p50_s", "trace.serve_p50_ms")
      .foreach(k => out(k) = traced.getOrElse(k, 0.0))
    counterSpans.foreach { case (prefix, name, self) =>
      val c = spanCounters(name, self)
      out(s"$prefix.jobs") = c.jobs / nOps
      out(s"$prefix.tasks") = c.tasks / nOps
      out(s"$prefix.executor_run_s") = c.runMs / 1e3 / nOps
      out(s"$prefix.gc_s") = c.gcMs / 1e3 / nOps
      out(s"$prefix.input_bytes") = c.inBytes / nOps
      out(s"$prefix.shuffle_write_bytes") = c.shuffleWrite / nOps
      out(s"$prefix.output_bytes") = c.outBytes / nOps
    }
    require(out.keySet == metrics.map(_._1).toSet,
      s"layer metrics out of sync: ${out.keySet.diff(metrics.map(_._1).toSet)}")
    out.toMap
  }

  /** Spans as JSON lines (one object per span), for offline reading. */
  def spansJsonl(t: Tracer, l: SpanListener): String = {
    val sb = new StringBuilder
    t.spans.foreach { s =>
      val c = Option(l.bySpan.get(s.id))
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.root},"name":"${s.name}",""" +
        s""""tag":"${s.tag}","start_ns":${s.start},"dur_ns":${s.dur},""" +
        s.attrs.map { case (k, v) => s""""$k":$v,""" }.mkString +
        s""""jobs":${c.map(_.jobs).getOrElse(0L)},"tasks":${c.map(_.tasks).getOrElse(0L)},""" +
        s""""input_bytes":${c.map(_.inBytes).getOrElse(0L)},"output_bytes":${c.map(_.outBytes).getOrElse(0L)}}""")
      sb.append('\n')
    }
    sb.toString
  }
}
