package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** One run's settings. The command line sets the first five; `sizes` and
  * `setupReps` are fixed for the benchmark, and the tests pass smaller ones. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    sizes: Sizes = Sizes(),
    setupReps: Int = 3)

final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(
    correct: Boolean,
    attempted: Int,
    failed: Int,
    metrics: Seq[Metric],
    stamp: Seq[(String, Any)],
    checks: Seq[Check])

/**
 * Runs one workload: set-up (session start, input generation repeated
 * `setupReps` times with the median counted, state load, the workload's
 * warm-up operations), the closed-loop timed operations, then the output
 * checks. One JVM, one driver thread, `local[Cores]`.
 */
object Runner {
  val Cores = 4
  /** Timed operations that run even when they overrun `--seconds`. */
  val MinOps = 2

  def warn(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def run(o: Opts): Outcome = {
    Files.createDirectories(o.work)
    val (sessionS, spark) = Workload.time(Session.start(Cores, o.work))
    try runIn(spark, sessionS, o)
    finally SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The same operation once on `local[1]` (a fresh session), against the
    * state the timed operations left: the single-core baseline and the
    * 1 -> Cores scaling efficiency. Run at the end of traced runs only, for
    * the workloads that ask for it (0 elsewhere). */
  private def singleCore(spark: SparkSession, o: Opts, wl: Workload, opS: Double): Seq[Metric] = {
    spark.stop()
    val one = Session.start(1, o.work)
    wl.attach(one)
    val (s1, _) = Workload.time(wl.op(one, NoTrace))
    Seq(Metric("scaling.refresh_1c_s", s1, "s"),
      Metric("scaling.eff", s1 / opS / Cores, "ratio"))
  }

  private def runIn(spark: SparkSession, sessionS: Double, o: Opts): Outcome = {
    val sc = spark.sparkContext
    val totals = new Totals
    sc.addSparkListener(totals)
    val wl = Workload(o.workload, o.seed, o.sizes)

    val genS = (1 to o.setupReps).map { r =>
      val (s, _) = Workload.time(wl.generate(spark, o.work.resolve(s"state-$r")))
      if (r > 1) Workload.deleteTree(o.work.resolve(s"state-${r - 1}"))
      s
    }
    val (loadS, _) = Workload.time(wl.load(spark))
    val (warmS, _) = Workload.time((1 to wl.warmUpOps).foreach(_ => wl.op(spark, NoTrace)))
    val setupS = sessionS + median(genS) + loadS + warmS

    val tracer = if (o.trace) Some(new SpanTracer(spark)) else None
    val trace: Tracer = tracer.getOrElse(NoTrace)
    ListenerBus.drain(sc)
    totals.resetPeak()
    val ops = ArrayBuffer.empty[Op]
    val executorS = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.begin())
    while (ops.size < MinOps || elapsed + ops.map(_.wallS).sum / ops.size <= o.seconds) {
      val e0 = totals.executorSeconds
      ops += (try wl.op(spark, trace) catch {
        case e: Exception =>
          warn(s"operation failed: $e")
          Op(0.0, Nil, 0L, 1, 1)
      })
      ListenerBus.drain(sc)
      executorS += totals.executorSeconds - e0
    }
    tracer.foreach(_.end())
    val cachePeakMb = totals.peakCachedMb

    val checks = try wl.checks(spark, ops.toSeq) catch {
      case e: Exception =>
        warn(s"output check threw: $e")
        Seq(Check("checks", ok = false, e.toString, ops.map(_.steps).sum))
    }
    checks.filterNot(_.ok).foreach(c => warn(s"check ${c.name} FAILED: ${c.detail}"))

    val done = ops.filter(_.stepsS.nonEmpty)
    require(done.nonEmpty, "every timed operation failed")
    val attempted = ops.map(_.steps).sum
    val failed = math.min(attempted,
      ops.map(_.failedSteps).sum + checks.filterNot(_.ok).map(_.failedOps).sum)
    val refreshS = median(done.map(_.wallS).toSeq)
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("refresh_s", refreshS, "s"),
      Metric("step_s_p50", median(done.flatMap(_.stepsS).toSeq), "s"),
      Metric("rows_per_s", median(done.map(op => wl.outputRows(op) / op.wallS).toSeq), "rows/s"),
      Metric("executor_s", median(executorS.toSeq), "s"),
      Metric("cache_peak_mb", cachePeakMb, "MB"))
    val stamp = Stamp.of(spark, o, Cores)
    val layerMetrics = tracer.map { t =>
      val traced = median(done.map(_.wallS).toSeq)
      val (untraced, _) = Workload.time(wl.op(spark, NoTrace))
      val scaling =
        if (wl.singleCoreLeg) singleCore(spark, o, wl, untraced)
        else Seq(Metric("scaling.refresh_1c_s", 0.0, "s"), Metric("scaling.eff", 0.0, "ratio"))
      t.report(ops.size, Metric("trace.overhead_s", traced - untraced, "s") +: scaling)
    }.getOrElse(Nil)

    Outcome(
      correct = failed == 0 && checks.forall(_.ok),
      attempted = attempted,
      failed = failed,
      metrics = if (o.trace) layerMetrics else metrics,
      stamp = stamp ++ wl.stamp ++ Seq(
        "timed_ops" -> ops.size,
        "op_wall_s" -> Json.arr(ops.map(_.wallS).toSeq),
        "op_executor_s" -> Json.arr(executorS.toSeq),
        "session_start_s" -> sessionS,
        "generate_s" -> Json.arr(genS),
        "load_s" -> loadS,
        "warm_up_s" -> warmS) ++
        tracer.map(t => "spans" -> Json.arr(t.spanRows.map(Json.arr))).toSeq,
      checks = checks)
  }
}
