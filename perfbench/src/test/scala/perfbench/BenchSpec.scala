package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.DeviationStore

/**
 * The benchmark's own tests, at tiny sizes: every workload runs and passes
 * its output checks, every metric BENCHMARK.json names is emitted with its
 * unit, the traced run splits its wall into layer self times and driver gap
 * and charges most task time by evidence, and each output check rejects a
 * deliberately corrupted result.
 */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("perfbench-spec")

  /** Least share of traced task time charged to a layer by call site or plan. */
  private val MinAttributedShare = 0.7

  override def afterAll(): Unit = Workload.deleteTree(work)

  /** (name, unit) pairs of one BENCHMARK.json metric list. */
  private def declared(list: String): Seq[(String, String)] = {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val section = json.drop(json.indexOf("\"" + list + "\"")).takeWhile(_ != ']')
    "\\{[^}]*\"name\"\\s*:\\s*\"([^\"]+)\"[^}]*\"unit\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(section).map(m => m.group(1) -> m.group(2)).toSeq
  }

  private def run(workload: String, trace: Boolean): Outcome =
    Runner.run(Opts(workload, seed = 7L, seconds = 0.1, trace = trace,
      work = work.resolve(s"$workload-$trace"), sizes = Sizes.tiny, setupReps = 1))

  private def emits(out: Outcome, list: String): Unit = {
    val got = out.metrics.map(m => m.name -> m.unit)
    assert(got.map(_._1).distinct.size == got.size, "a metric is emitted twice")
    assert(got.toSet == declared(list).toSet)
    assert(out.metrics.forall(m => !m.value.isNaN && !m.value.isInfinite))
  }

  for (w <- Seq("flagship", "replication")) {
    test(s"$w: untraced run passes its checks and emits every end_to_end metric") {
      val out = run(w, trace = false)
      assert(out.correct, out.checks)
      assert(out.attempted >= Runner.MinOps && out.failed == 0)
      emits(out, "end_to_end")
      assert(out.metrics.forall(_.value > 0), out.metrics)
    }

    test(s"$w: traced run emits every per_layer metric and accounts for its wall") {
      val out = run(w, trace = true)
      assert(out.correct, out.checks)
      emits(out, "per_layer")
      def value(name: String) = out.metrics.find(_.name == name).get.value
      val accounted = Layers.all.map(l => value(s"$l.self_s")).sum + value("spark.driver_gap_s")
      val wall = value("trace.wall_s")
      assert(math.abs(accounted - wall) <= 0.1 * wall, s"layer self times + driver gap = $accounted s of $wall s")
      // the rest is charged to the enclosing benchmark span
      assert(value("trace.attributed_share") >= MinAttributedShare)
      if (w == "flagship") assert(value("spatial_join.passes") == 2.0)
    }
  }

  /** A workload run through one operation in its own session. */
  private def prepared(name: String): (SparkSession, Workload, Seq[Op]) = {
    val spark = Session.start(Runner.Cores, work.resolve(s"$name-session"))
    val wl = Workload(name, 11L, Sizes.tiny)
    wl.generate(spark, work.resolve(s"$name-state"))
    wl.load(spark)
    (spark, wl, Seq(wl.op(spark, NoTrace)))
  }

  /** Commits a new snapshot of `view` with one row fewer. */
  private def dropOneRow(spark: SparkSession, storePath: Path, view: String): Unit = {
    val store = new DeviationStore(spark, storePath.toString)
    val rows = store.latestFor(view).collect()
    assert(rows.nonEmpty)
    store.commitView(view,
      spark.createDataFrame(rows.drop(1).toSeq.asJava, DeviationStore.schema), "corrupted by test")
  }

  private def failing(checks: Seq[Check]): Set[String] = checks.filterNot(_.ok).map(_.name).toSet

  test("flagship: checks reject a store missing one deviation and a lost match-store file") {
    val (spark, wl, ops) = prepared("flagship")
    try {
      val f = wl.asInstanceOf[Flagship]
      assert(failing(wl.checks(spark, ops)).isEmpty)
      dropOneRow(spark, f.deviationsPath, "bench_pois")
      assert(failing(wl.checks(spark, ops)) == Set("flagship.store_holds_emitted_rows"))
      val part = Files.walk(f.matchPath.resolve("data")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.delete(part)
      assert(failing(wl.checks(spark, ops)).contains("flagship.match_rows"))
    } finally spark.stop()
  }

  test("replication: check rejects a store missing one deviation") {
    val (spark, wl, ops) = prepared("replication")
    try {
      assert(failing(wl.checks(spark, ops)).isEmpty)
      dropOneRow(spark, wl.asInstanceOf[Replication].deviationsPath, "bench_pois")
      assert(failing(wl.checks(spark, ops)) == Set("replication.store_converges_to_one_shot_sync"))
    } finally spark.stop()
  }

  test("task time is split between layers by how many tasks each has running") {
    // a: 0-10, b: 5-15 and 5-10 => a alone 0-5, a with two b 5-10, b alone 10-15
    val split = SpanTracer.splitByRunning(Seq((0.0, 10.0, "a"), (5.0, 15.0, "b"), (5.0, 10.0, "b")))
    assert(math.abs(split("a") - (5.0 + 5.0 / 3)) < 1e-9)
    assert(math.abs(split("b") - (5.0 * 2 / 3 + 5.0)) < 1e-9)
    assert(math.abs(split.values.sum - 15.0) < 1e-9)
  }

  test("the same seed generates the same replication edits; another seed, others") {
    val base = IndexedSeq(
      Inputs.Element("n", 1000000001L, 600000.0, 6710000.0, """{"amenity":"bench_poi"}"""),
      Inputs.Element("n", 1000000002L, 600050.0, 6710000.0, """{"amenity":"bench_poi"}"""),
      Inputs.Element("a", 1000000003L, 600100.0, 6710000.0, """{"amenity":"bench_poi"}"""))
    assert(Inputs.editBatch(base, 5L, 0, 2) == Inputs.editBatch(base, 5L, 0, 2))
    assert((0 until 8).map(Inputs.editBatch(base, 5L, _, 3)) != (0 until 8).map(Inputs.editBatch(base, 6L, _, 3)))
  }

  test("arguments are validated") {
    val ok = Array("--workload", "flagship", "--seed", "1", "--seconds", "5", "--trace", "0",
      "--work", "w")
    assert(Main.parse(ok).workload == "flagship")
    intercept[IllegalArgumentException](Main.parse(ok.updated(1, "nope")))
    intercept[IllegalArgumentException](Main.parse(ok.updated(7, "2")))
    intercept[IllegalArgumentException](Main.parse(ok :+ "--bogus" :+ "1"))
  }
}
