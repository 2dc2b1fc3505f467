package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.perfbench.SqlEvents

/** Span recorder the workloads report their public calls to. */
trait Tracer {
  /** Runs `body` inside a span named `name`, charged to `layer`. */
  def span[A](name: String, layer: String)(body: => A): A
  /** Records the micro-batches a streaming query just ran as spans. */
  def batches(progress: Seq[StreamingQueryProgress]): Unit
  /** Adds `n` to the counter `name` (values the benchmark sees returned). */
  def count(name: String, n: Double): Unit
  /** True for the traced runs, which add materialization boundaries. */
  def traced: Boolean
}

/** The untraced runs' recorder: records nothing. */
object NoTrace extends Tracer {
  def span[A](name: String, layer: String)(body: => A): A = body
  def batches(progress: Seq[StreamingQueryProgress]): Unit = ()
  def count(name: String, n: Double): Unit = ()
  def traced: Boolean = false
}

object Layers {
  /** Layers that own Spark jobs, in report order; `bench` is the
    * benchmark's own driver code. (`engine.DeviationView` only builds plans:
    * its rows run inside the jobs of whichever store consumes them.) */
  val all: Seq[String] = Seq("sources", "spatial_join", "match", "match_store",
    "deviation_store", "element_store", "tiles", "streaming", "spark", "bench")

  /** Product file named in a Spark call site -> layer (module) it belongs to. */
  private val byFile: Map[String, String] = Map(
    "Pages.scala" -> "sources", "BenchPipeline.scala" -> "sources",
    "SpatialJoin.scala" -> "spatial_join",
    "MatchEngine.scala" -> "match",
    "MatchStore.scala" -> "match_store",
    "DeviationStore.scala" -> "deviation_store", "MuniIndex.scala" -> "deviation_store",
    "ElementStore.scala" -> "element_store",
    "Tiles.scala" -> "tiles",
    "StreamingIngest.scala" -> "streaming")

  /** Layer of a call site such as `collect at ElementStore.scala:97`, if the
    * site is a product file; listing jobs belong to the Spark runtime. A
    * streaming query stamps every job with the site that started it, so that
    * site names no layer. */
  def ofCallSite(site: String): Option[String] =
    if (site == null) None
    else if (site.startsWith("Listing leaf files")) Some("spark")
    else if (site.startsWith("start at ")) None
    else {
      val file = site.split(" at ").lastOption.map(_.takeWhile(_ != ':').trim).getOrElse("")
      byFile.get(file)
    }

  /** Store directory (as the benchmark lays them out) -> layer. */
  def ofPath(path: String): Option[String] = Seq(
      "/state/" -> "element_store", "/deviations/" -> "deviation_store",
      "/oracle/" -> "deviation_store", "/match/" -> "match_store",
      "/tiles" -> "tiles", "/pages" -> "sources")
    .collectFirst { case (dir, layer) if path.contains(dir) => layer }
}

/**
 * Records, for the traced runs: one span per public call the benchmark makes
 * (and per streaming batch), every Spark job as a child span
 * charged to the layer of its call site, stage and task metrics folded into
 * that job, and per-query operator counts read from the executed plans' SQL
 * metrics (no extra Spark job). Everything stays in memory until [[report]].
 */
final class SpanTracer(spark: SparkSession) extends Tracer {
  import SpanTracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = ArrayBuffer.empty[(Double, Double, Int)]
  private val sqlStarts = mutable.Map.empty[Long, (String, Double)]
  private val queries = ArrayBuffer.empty[QueryStats]
  private val seenNodes = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  @volatile private var recording = false
  private var runId = 0
  private var window = (0.0, 0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      // the call site: set as a property by `setCallSite`, else the name of
      // the job's result stage, which Spark derives from the same frame
      val site = Option(prop("callSite.short"))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse(prop("spark.job.description"))
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, site,
        Option(prop("spark.sql.execution.id")).map(_.toLong))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (stageJob.contains(si.stageId)) {
        val m = si.taskMetrics
        val st = stages.getOrElseUpdate(si.stageId, StageStats())
        st.attempts += 1
        if (m != null) {
          st.executorMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageJob.contains(e.stageId)) {
        val ti = e.taskInfo
        tasks += ((ti.launchTime.toDouble, ti.finishTime.toDouble, e.stageId))
        val st = stages.getOrElseUpdate(e.stageId, StageStats())
        st.tasks += 1
        st.taskMs += ti.duration
        st.add(ti.duration)
        if (ti.attemptNumber > 0 || !ti.successful) st.retries += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if recording => synchronized {
        sqlStarts(s.executionId) = (s.description, s.time.toDouble)
      }
      case e: SparkListenerSQLExecutionEnd if recording =>
        SqlEvents.queryExecution(e).foreach { qe =>
          synchronized { queries += QueryStats.of(e.executionId, qe, seenNodes) }
        }
      case _ => ()
    }
  }

  spark.sparkContext.addSparkListener(listener)

  def begin(): Unit = synchronized {
    runId += 1
    recording = true
    spans += Span(spans.size, "run", "bench", -1, nowMs, Double.NaN, runId)
    open.push(spans.size - 1)
    window = (nowMs, Double.NaN)
  }

  def end(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    synchronized {
      recording = false
      val root = open.pop()
      spans(root) = spans(root).copy(end = nowMs)
      window = (window._1, spans(root).end)
    }
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    val id = synchronized {
      spans += Span(spans.size, name, layer, open.headOption.getOrElse(-1), nowMs, Double.NaN, runId)
      open.push(spans.size - 1)
      spans.size - 1
    }
    try body
    finally synchronized {
      open.pop()
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  def batches(progress: Seq[StreamingQueryProgress]): Unit = synchronized {
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trigger = p.durationMs.get("triggerExecution").doubleValue
      val addBatch = Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)
      spans += Span(spans.size, s"batch:${p.batchId}", "streaming",
        open.headOption.getOrElse(-1), start, start + trigger, runId)
      counters("streaming.batches") += 1
      counters("streaming.input_rows") += p.numInputRows
      counters("streaming.trigger_overhead_s") += (trigger - addBatch) / 1000.0
    }
  }

  def count(name: String, n: Double): Unit = synchronized { counters(name) += n }
  def traced: Boolean = true

  /** Every span as (name, layer, start ms, end ms, parent index, run id):
    * the benchmark's spans, then one `job:<id> <call site>` child span per
    * Spark job under the innermost span that encloses its start. */
  def spanRows: Seq[Seq[Any]] = synchronized {
    val own = spans.toSeq
    def parentAt(t: Double): Int =
      own.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption
        .map(_.id).getOrElse(-1)
    own.map(s => Seq(s.name, s.layer, s.start, s.end, s.parent, s.runId)) ++
      jobs.values.toSeq.filterNot(_.end.isNaN).sortBy(_.id).map { j =>
        Seq(s"job:${j.id} ${j.site}", jobLayerOf.getOrElse(j.id, ""), j.start, j.end, parentAt(j.start), runId)
      }
  }
  private var jobLayerOf = Map.empty[Int, String]

  /**
   * Per-layer metrics of the traced window, normalized per timed operation.
   * The traced wall splits into two disjoint parts: `spark.driver_gap_s`,
   * the time during which no task ran, and the layers' self times, the time
   * during which tasks of the layer's jobs ran (an instant with tasks of
   * several layers running is split by their task counts).
   * `trace.attributed_share` is the part of that task time whose jobs were
   * charged by evidence (a product file in the call site, or the query plan)
   * rather than by the enclosing benchmark span.
   */
  def report(ops: Int, extra: Seq[Metric]): Seq[Metric] = synchronized {
    val (w0, w1) = window
    val wallMs = w1 - w0
    val perOp = 1.0 / math.max(ops, 1)
    val timedSpans = spans.filter(_.name != "run").toSeq

    // innermost benchmark span around an instant -> its layer
    def spanLayerAt(t: Double): String =
      timedSpans.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.layer).getOrElse("bench")
    val jobList = jobs.values.filter(j => !j.end.isNaN).toSeq
    val planLayers: Map[Long, String] =
      queries.flatMap(q => q.planLayer.map(q.id -> _)).toMap
    // (layer, charged by evidence rather than by the enclosing span)
    def jobLayer(j: Job): (String, Boolean) = Layers.ofCallSite(j.site)
      .orElse(j.executionId.flatMap(planLayers.get))
      .map(_ -> true)
      .getOrElse(spanLayerAt(j.start) -> false)
    val charged = jobList.map(j => j.id -> jobLayer(j)).toMap
    val jobLayers = charged.map { case (id, (layer, _)) => id -> layer }
    jobLayerOf = jobLayers

    val clipped = tasks.toSeq.flatMap { case (s, e, stage) =>
      stageJob.get(stage).flatMap(charged.get)
        .map(k => (math.max(s, w0), math.min(e, w1), k))
    }.filter { case (s, e, _) => e > s }
    val selfByCharge = splitByRunning(clipped)
    val selfMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    selfByCharge.foreach { case ((layer, _), ms) => selfMs(layer) += ms }
    val taskMs = selfByCharge.values.sum
    val gapMs = wallMs - taskMs
    val attributedShare =
      if (taskMs > 0) selfByCharge.collect { case ((_, true), ms) => ms }.sum / taskMs else 0.0

    def stagesOf(layer: String) = stages.toSeq.filter { case (sid, _) =>
      stageJob.get(sid).flatMap(jobLayers.get).contains(layer)
    }.map(_._2)
    def execS(layer: String) = stagesOf(layer).map(_.executorMs).sum / 1000.0

    val queryLayer: QueryStats => String = q =>
      sqlStarts.get(q.id) match {
        case Some((site, t)) => Layers.ofCallSite(site).orElse(q.planLayer).getOrElse(spanLayerAt(t))
        case None => q.planLayer.getOrElse("bench")
      }
    val byLayer = queries.groupBy(queryLayer).withDefaultValue(ArrayBuffer.empty)
    def qsum(layer: String)(f: QueryStats => Double) = byLayer(layer).map(f).sum
    def qall(f: QueryStats => Double) = queries.map(f).sum
    def spanS(name: String) = timedSpans.filter(_.name == name).map(s => s.end - s.start).sum / 1000.0
    def jobsOf(layer: String) = jobLayers.values.count(_ == layer).toDouble
    val mb = 1.0 / 1048576

    val probeRows = qall(_.probeRows)
    // the element store's own left_anti merge has the same key shape
    val antiRows = queries.filter(q => queryLayer(q) != "element_store").map(_.antiRows).sum
    val matchRowsOut = qall(_.rankRowsOut) + antiRows
    val allStages = stages.values.toSeq
    val heaviest = allStages.filter(_.tasks > 1).sortBy(-_.taskMs).headOption
    val skew = heaviest.map(_.skew).getOrElse(0.0)
    def m(name: String, v: Double, unit: String) = Metric(name, v, unit)
    val layerSelf = Layers.all.map(l => m(s"$l.self_s", selfMs(l) / 1000.0 * perOp, "s"))
    val metrics = Seq(
      m("sources.rows_in", counters("sources.rows_in") * perOp, "rows"),
      m("sources.rows_out", counters("sources.rows_out") * perOp, "rows"),
      m("sources.rows_rejected", counters("sources.rows_rejected") * perOp, "rows"),
      m("sources.executor_s", execS("sources") * perOp, "s"),
      m("spatial_join.probe_rows", probeRows * perOp, "rows"),
      m("spatial_join.build_rows", qall(_.buildRows) * perOp, "rows"),
      m("spatial_join.refined_pairs", qall(_.joinedPairs) * perOp, "pairs"),
      m("spatial_join.selectivity", if (probeRows > 0) qall(_.joinedPairs) / probeRows else 0.0, "ratio"),
      m("spatial_join.passes", qall(_.cellJoins) * perOp, "count"),
      m("spatial_join.executor_s", qall(_.joinPipelineMs) / 1000.0 * perOp, "s"),
      m("spatial_join.shuffle_mb", qall(_.joinInputBytes) * mb * perOp, "MB"),
      m("spatial_join.task_skew", skew, "ratio"),
      m("match.rank_rows_in", qall(_.rankRowsIn) * perOp, "rows"),
      m("match.rank_shuffle_mb", qall(_.rankShuffleBytes) * mb * perOp, "MB"),
      m("match.anti_rows", antiRows * perOp, "rows"),
      m("match.rows_out", matchRowsOut * perOp, "rows"),
      m("match.executor_s", qall(_.rankPipelineMs) / 1000.0 * perOp, "s"),
      m("match_store.write_s", spanS("MatchStore.writeAll") * perOp, "s"),
      m("match_store.write_mb", qsum("match_store")(_.writeBytes) * mb * perOp, "MB"),
      m("match_store.files", qsum("match_store")(_.writeFiles) * perOp, "count"),
      m("match_store.jobs", jobsOf("match_store") * perOp, "count"),
      m("deviation_view.rows_in", matchRowsOut * perOp, "rows"),
      m("deviation_view.rows_out", counters("deviation_store.upserted") * perOp, "rows"),
      m("deviation_store.sync_s", spanS("DeviationStore.sync") * perOp, "s"),
      m("deviation_store.jobs", jobsOf("deviation_store") * perOp, "count"),
      m("deviation_store.write_mb", qsum("deviation_store")(_.writeBytes) * mb * perOp, "MB"),
      m("deviation_store.files", qsum("deviation_store")(_.writeFiles) * perOp, "count"),
      m("deviation_store.upserted", counters("deviation_store.upserted") * perOp, "rows"),
      m("deviation_store.deleted", counters("deviation_store.deleted") * perOp, "rows"),
      m("element_store.busy_s", union(jobList.filter(j => jobLayers(j.id) == "element_store")
        .map(j => (math.max(j.start, w0), math.min(j.end, w1)))) / 1000.0 * perOp, "s"),
      m("element_store.jobs", jobsOf("element_store") * perOp, "count"),
      m("element_store.partitions_rewritten", qsum("element_store")(_.writeParts) * perOp, "count"),
      m("element_store.files", qsum("element_store")(_.writeFiles) * perOp, "count"),
      m("element_store.write_mb", qsum("element_store")(_.writeBytes) * mb * perOp, "MB"),
      m("tiles.tiles", qsum("tiles")(_.writeRows) * perOp, "count"),
      m("tiles.features", qsum("tiles")(_.tileFeatures) * perOp, "count"),
      m("tiles.mvt_mb", qsum("tiles")(_.writeBytes) * mb * perOp, "MB"),
      m("tiles.executor_s", execS("tiles") * perOp, "s"),
      m("streaming.batches", counters("streaming.batches") * perOp, "count"),
      m("streaming.input_rows", counters("streaming.input_rows") * perOp, "rows"),
      m("streaming.full_recompute_batches", qall(_.fullElementScans.toDouble).min(counters("streaming.batches")) * perOp, "count"),
      m("streaming.trigger_overhead_s", counters("streaming.trigger_overhead_s") * perOp, "s"),
      m("spark.jobs", jobList.size * perOp, "count"),
      m("spark.stages", allStages.map(_.attempts).sum * perOp, "count"),
      m("spark.tasks", allStages.map(_.tasks).sum * perOp, "count"),
      m("spark.plan_s", qall(_.planMs) / 1000.0 * perOp, "s"),
      m("spark.listing_s", selfMs("spark") / 1000.0 * perOp, "s"),
      m("spark.driver_gap_s", gapMs / 1000.0 * perOp, "s"),
      m("spark.gc_s", allStages.map(_.gcMs).sum / 1000.0 * perOp, "s"),
      m("spark.shuffle_write_mb", allStages.map(_.shuffleWriteBytes).sum * mb * perOp, "MB"),
      m("spark.fetch_wait_s", allStages.map(_.fetchWaitMs).sum / 1000.0 * perOp, "s"),
      m("spark.spill_mb", allStages.map(_.spillBytes).sum * mb * perOp, "MB"),
      m("spark.task_retries", allStages.map(_.retries).sum * perOp, "count"))
    metrics ++ layerSelf ++ Seq(
      m("trace.wall_s", wallMs / 1000.0 * perOp, "s"),
      m("trace.attributed_share", attributedShare, "ratio"),
      m("trace.spans", timedSpans.size + jobList.size, "count")) ++ extra
  }
}

object SpanTracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        start: Double, end: Double, runId: Int)
  final case class Job(id: Int, start: Double, end: Double, site: String, executionId: Option[Long])

  final class StageStats {
    var attempts = 0; var tasks = 0; var retries = 0
    var executorMs = 0L; var gcMs = 0L; var taskMs = 0L
    var shuffleWriteBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
    private val durations = ArrayBuffer.empty[Long]
    def add(d: Long): Unit = durations += d
    def skew: Double =
      if (durations.isEmpty) 0.0
      else { val s = durations.sorted; s.last.toDouble / math.max(s(s.size / 2), 1L) }
  }
  object StageStats { def apply(): StageStats = new StageStats }

  /** Time during which at least one of `intervals` is open, per key; an
    * instant with several open intervals is split by how many each key has
    * open. The values sum to the length of the intervals' union. */
  def splitByRunning[K](intervals: Seq[(Double, Double, K)]): Map[K, Double] = {
    val out = mutable.Map.empty[K, Double].withDefaultValue(0.0)
    val open = mutable.Map.empty[K, Int].withDefaultValue(0)
    var total = 0
    var last = Double.NaN
    val events = intervals.flatMap { case (s, e, k) => Seq((s, 1, k), (e, -1, k)) }.sortBy(ev => (ev._1, ev._2))
    events.foreach { case (t, delta, k) =>
      if (total > 0 && t > last) open.foreach { case (key, n) => if (n > 0) out(key) += (t - last) * n / total }
      last = t
      open(k) += delta
      total += delta
    }
    out.toMap
  }

  /** Total length of a union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Operator counts of one executed query (keyed by its SQL execution id),
    * from its plan's SQL metrics. */
  final case class QueryStats(
      id: Long,
      planMs: Double,
      cellJoins: Double,
      joinedPairs: Double,
      probeRows: Double,
      buildRows: Double,
      joinPipelineMs: Double,
      joinInputBytes: Double,
      rankRowsIn: Double,
      rankRowsOut: Double,
      rankShuffleBytes: Double,
      rankPipelineMs: Double,
      antiRows: Double,
      tileFeatures: Double,
      writeRows: Double,
      writeBytes: Double,
      writeFiles: Double,
      writeParts: Double,
      fullElementScans: Int,
      planLayer: Option[String])

  object QueryStats {
    private def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

    /** Every node that ran in this query and was not counted before: AQE
      * stages, command plans and cached plans (filled by the first query that
      * reads them) are entered; reused exchanges are not, since their work ran
      * once, where they were built. */
    def nodes(p: SparkPlan, seen: java.util.Set[SparkPlan]): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, seen)
        case q: QueryStageExec => q +: nodes(q.plan, seen)
        case r: ReusedExchangeExec => Seq(r)
        case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan, seen)
        case m: columnar.InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan, seen)
        case other => other +: (other.children ++ other.subqueries).flatMap(nodes(_, seen))
      }

    private def names(attrs: Seq[Attribute]): Set[String] = attrs.map(_.name).toSet

    private def keyNames(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Set[String] =
      keys.collect { case a: AttributeReference => a.name }.toSet

    private def isCellJoin(p: SparkPlan): Boolean = p match {
      case j: BaseJoinExec => keyNames(j.leftKeys).contains("cell")
      case _ => false
    }

    private def isCellGenerate(p: SparkPlan): Boolean = p match {
      case g: GenerateExec => names(g.generatorOutput).contains("cell")
      case _ => false
    }

    /** first node below `p` that is not a projection or codegen wrapper */
    private def skipRowWise(p: SparkPlan): SparkPlan = p match {
      case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter => skipRowWise(p.children.head)
      case other => other
    }

    /** operators compiled into one codegen stage (its inputs excluded) */
    private def stageOps(w: WholeStageCodegenExec): Seq[SparkPlan] = {
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case other => other +: other.children.flatMap(walk)
      }
      walk(w.child)
    }

    /** the exchange (shuffle or broadcast) feeding each input of `p`,
      * looking through single-input operators */
    private def exchangesFeeding(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap {
      case e: Exchange => Seq(e)
      case q: QueryStageExec => q.plan match {
        case e: Exchange => Seq(e)
        case _ => Nil
      }
      case c if c.children.size == 1 => exchangesFeeding(c)
      case _ => Nil
    }

    def of(executionId: Long, qe: QueryExecution, seen: java.util.Set[SparkPlan]): QueryStats = {
      val all = nodes(qe.executedPlan, seen)
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(ps => (ps.endTimeMs - ps.startTimeMs).toDouble).sum
      val cellJoins = all.filter(isCellJoin)
      // Catalyst pushes the exact-distance refinement (and the match
      // condition) into the cell join's condition, so the join's output rows
      // are the refined pairs; a filter left above the join replaces them
      val refined = all.collect {
        case f: FilterExec if isCellJoin(skipRowWise(f.child)) =>
          metric(f, "numOutputRows") - metric(skipRowWise(f.child), "numOutputRows")
      }.sum
      def cellRows(prefix: String) = all.collect {
        case g: GenerateExec if isCellGenerate(g) && names(g.child.output).exists(_.startsWith(prefix)) =>
          metric(g, "numOutputRows")
      }.sum
      val rankWindows = all.collect {
        case w: WindowExec if keyNames(w.partitionSpec).contains("__pk") => w
      }
      def isRankWindow(p: SparkPlan) = rankWindows.exists(_ eq p)
      val rankFilters = all.collect { case f: FilterExec if isRankWindow(skipRowWise(f.child)) => f }
      // the sort that orders each rank window's input, below any window-limit
      // and codegen wrappers
      def sortBelow(p: SparkPlan): Seq[SparkPlan] = p.children match {
        case Seq(s: SortExec) => Seq(s)
        case Seq(_: Exchange) | Seq(_: QueryStageExec) => Nil
        case Seq(c) => sortBelow(c)
        case _ => Nil
      }
      val rankSorts = rankWindows.flatMap(sortBelow)
      val stages = all.collect { case w: WholeStageCodegenExec => w }
      def pipelineMs(pred: SparkPlan => Boolean) =
        stages.filter(w => stageOps(w).exists(pred)).map(metric(_, "pipelineTime")).sum
      val rankExchanges = rankWindows.flatMap(exchangesFeeding)
      val anti = all.collect {
        case j: BaseJoinExec if j.joinType == LeftAnti && keyNames(j.leftKeys) == Set("type", "id") &&
          names(j.left.output).contains("geom") => metric(j, "numOutputRows")
      }.sum
      val writes = all.filter(_.metrics.contains("numFiles"))
      val written = all.collect {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
      }
      val scanned = all.collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      }.flatten
      // the query's layer when no call site names one (streaming): what it
      // writes, else the match when it runs the cell join, else what it reads
      val planLayer = written.flatMap(Layers.ofPath).headOption
        .orElse(if (cellJoins.nonEmpty) Some("match") else None)
        .orElse(scanned.flatMap(Layers.ofPath).headOption)
      val fullScans = all.count {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("/elements/data")) &&
            s.partitionFilters.isEmpty
        case _ => false
      }
      val tileFeatures = all.collect {
        case g: GenerateExec if names(g.generatorOutput).contains("tile") => metric(g, "numOutputRows")
      }.sum
      QueryStats(
        id = executionId,
        planMs = planMs,
        cellJoins = cellJoins.size.toDouble,
        joinedPairs = cellJoins.map(metric(_, "numOutputRows")).sum + refined,
        probeRows = cellRows("p_"),
        buildRows = cellRows("b_"),
        joinPipelineMs = pipelineMs(p => isCellJoin(p) || isCellGenerate(p)),
        joinInputBytes = cellJoins.flatMap(exchangesFeeding).map(metric(_, "dataSize")).sum,
        rankRowsIn = rankExchanges.map(metric(_, "shuffleRecordsWritten")).sum,
        rankRowsOut = rankFilters.map(metric(_, "numOutputRows")).sum,
        rankShuffleBytes = rankExchanges.map(metric(_, "shuffleBytesWritten")).sum,
        rankPipelineMs = pipelineMs(p => (rankFilters ++ rankSorts).exists(_ eq p)),
        antiRows = anti,
        tileFeatures = tileFeatures,
        writeRows = writes.map(metric(_, "numOutputRows")).sum,
        writeBytes = writes.map(metric(_, "numOutputBytes")).sum,
        writeFiles = writes.map(metric(_, "numFiles")).sum,
        writeParts = writes.map(metric(_, "numParts")).sum,
        fullElementScans = fullScans,
        planLayer = planLayer)
    }
  }
}
