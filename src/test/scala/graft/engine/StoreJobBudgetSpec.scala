package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.core.geom.Geom
import graft.sources.Pages
import graft.streaming.StreamingIngest

/** Spark jobs per store commit. Each store commit is one write whose
  * bookkeeping (counts, surviving partitions, the duplicate-key guard) rides
  * along inside it; a side action reintroduced around a write (a count, a
  * collect, a cache fill, a read-back) shows up here as extra jobs. The
  * budgets are the current counts under the shared test SparkSession (AQE
  * on, so each shuffle stage is a job of its own). */
class StoreJobBudgetSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  /** Jobs started while `body` runs, on any thread, each named by the call
    * site of the query that started it (or of its last stage, outside SQL).
    * Events reach a listener asynchronously but in order, so the jobs
    * counted are those between two marker jobs run before and after `body`. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val queries = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => queries.put(q.executionId.toString, q.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(p => Option(p.getProperty(k)))
        seen.put(prop("spark.job.description").filter(_.startsWith("budget:"))
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(queries.get(id))))
          .filter(_.nonEmpty)
          .getOrElse(e.stageInfos.maxBy(_.stageId).name))
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("budget:begin")
      body
      marker("budget:end")
      val jobs = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "budget:end").toSeq
      assert(jobs.contains("budget:begin"), "listener missed the begin marker")
      jobs.dropWhile(_ != "budget:begin").tail
    } finally sc.removeSparkListener(listener)
  }

  private def assertBudget(what: String, jobs: Seq[String], budget: Int): Unit =
    assert(jobs.size <= budget, s"$what ran ${jobs.size} jobs: ${jobs.mkString("; ")}")

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  test("ElementStore.merge into an existing store: one aggregate, one lookup, two writes") {
    val es = new ElementStore(spark, tmp("budget_es"), blockMeters = 10000.0)
    def df(rows: (String, Long, Double, Double)*) = rows.toDF("type", "id", "cx", "cy")
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0), ("n", 3L, 5500.0, 5500.0)))
    // an update in place plus a move that empties a block
    val n = jobsDuring(es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 6000.0, 6000.0), ("n", 2L, 205000.0, 205000.0))))
    assertBudget("ElementStore.merge", n, 11)
    assert(es.read("elements").count() == 3)
  }

  test("an OSM-only micro-batch starts no job for the items and changesets merges") {
    val pages = tmp("budget_pages")
    val state = tmp("budget_state")
    val ckpt = tmp("budget_ckpt")
    val store = new DeviationStore(spark, tmp("budget_store"))
    Pages.synthesize(spark, 300L).write.mode("append").parquet(pages)
    StreamingIngest.startDeviationSync(spark, pages, ckpt, store, state).awaitTermination()
    val itemsBefore = new ElementStore(spark, state).read("items").count()

    Seq(("https://www.openstreetmap.org/node/990001",
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), "<html/>".getBytes("UTF-8"),
      """OSM n 990001 300000.0 7400000.0 {"amenity":"toilets"}""", "sv"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("append").parquet(pages)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val n = jobsDuring {
      q = StreamingIngest.startDeviationSync(spark, pages, ckpt, store, state)
      q.awaitTermination()
    }
    assert(q.exception.isEmpty && q.recentProgress.exists(_.numInputRows == 1))
    assertBudget("an OSM-only micro-batch", n, 27)
    val es = new ElementStore(spark, state)
    assert(es.read("items").count() == itemsBefore)
    assert(!es.exists("changesets"))
    assert(es.read("elements").filter(col("id") === 990001L).count() == 1)
  }

  test("DeviationStore.sync: the merge, its counts and its guard run in the write") {
    val store = new DeviationStore(spark, tmp("budget_dev"))
    def pt(x: Double) = Geom.toWkb(Geom.point(x, 1000.0))
    def devs(ids: Seq[Long], desc: String) = ids.map(i =>
      (1L, 1L, Seq(i), pt(i * 10.0), Map("k" -> desc),
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[String],
        "T", desc, "", pt(i * 10.0)))
      .toDF("dataset_id", "layer_id", "upstream_item_ids", "suggested_geom",
        "suggested_tags", "osm_element_id", "osm_element_type", "title",
        "description", "note", "center")
    store.sync("v", devs(Seq(1L, 2L, 3L), "a"))
    var counts = (0L, 0L)
    val n = jobsDuring { counts = store.sync("v", devs(Seq(2L, 3L, 4L), "b")) }
    assert(counts == (3L, 1L))
    assertBudget("DeviationStore.sync", n, 4)
  }

  test("MatchStore writes its range metrics without a job of their own") {
    val dir = tmp("budget_match")
    val store = new MatchStore(spark, dir)
    val m = BenchPipeline.matchRows(Pages.synthesize(spark, 300L)).cache()
    val rows = m.count()
    val plain = jobsDuring(m.write.mode("overwrite").parquet(tmp("budget_plain"))).size
    assertBudget("MatchStore.writeAll", jobsDuring(store.writeAll(m, "full")), plain)
    val range = store.ranges().head
    assertBudget("MatchStore.resume", jobsDuring(store.resume(m, Seq(range), "resume")), plain)
    m.unpersist()
    // the footer-derived per-range counts add up to the rows written
    val metrics = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_metrics", "1.json")), "UTF-8")
    val counted = "\"rows\":(\\d+)".r.findAllMatchIn(metrics).map(_.group(1).toLong).sum
    assert(counted == rows, metrics)
  }
}
