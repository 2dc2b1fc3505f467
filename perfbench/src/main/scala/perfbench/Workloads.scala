package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._
import graft.engine.DeviationView._
import graft.perfbench.FusedExtraction
import graft.sources.Pages
import graft.streaming.StreamingIngest

/** One closed-loop operation: its wall time, the latencies of the steps a
  * user waits for inside it, the output rows it produced, and how many of
  * its steps threw. */
final case class Op(wallS: Double, stepsS: Seq[Double], rows: Long, steps: Int, failedSteps: Int)

/** Input sizes of a workload; every field is a deployment-independent knob
  * the result is stamped with. */
final case class Sizes(
    flagshipSites: Long = 2000L,
    replicationSites: Long = 200L,
    regionSide: Double = 30000.0,
    editNearest: Int = 15)

object Sizes {
  /** Sizes for the benchmark's own tests: every path runs, in seconds. */
  val tiny: Sizes = Sizes(flagshipSites = 500L, replicationSites = 150L, editNearest = 10)
}

trait Workload {
  /** Generates the inputs from the seed into a fresh `dir`; repeated during
    * set-up, the last call's inputs are the ones used. */
  def generate(spark: SparkSession, dir: Path): Unit
  /** Loads the start state from the generated inputs; once per run. */
  def load(spark: SparkSession): Unit = ()
  /** One timed operation against the prepared state. */
  def op(spark: SparkSession, trace: Tracer): Op
  /** Output checks over the state the timed operations left. */
  def checks(spark: SparkSession, ops: Seq[Op]): Seq[Check]
  /** Input sizes for the result stamp. */
  def stamp: Seq[(String, Any)]
  /** Output rows of `op`, valid once [[checks]] ran. */
  def outputRows(op: Op): Long = op.rows
  /** Untimed operations after the load, so that the timed ones run past the
    * steepest part of the JIT warm-up. */
  def warmUpOps: Int
  /** Whether traced runs end with the operation once on `local[1]`. */
  def singleCoreLeg: Boolean = false
  /** Re-attaches in-memory state to a new session (after the first one stopped). */
  def attach(spark: SparkSession): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("flagship", "replication")

  def apply(name: String, seed: Long, sizes: Sizes): Workload = name match {
    case "flagship"    => new Flagship(seed, sizes)
    case "replication" => new Replication(seed, sizes)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def deleteTree(p: Path): Unit = MatchStore.deleteRecursively(p)

  /** Drops every cached block and waits until the block managers freed
    * them, so that the next operation starts with nothing cached. */
  def dropCache(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}

import Workload.time

/**
 * Full refresh of one large dataset, as the periodic upstream re-fetch runs
 * it: pages -> match rows -> match store (the mv_match analog) -> deviations
 * -> sync into a store that already holds the previous refresh -> tiles.
 */
final class Flagship(seed: Long, sizes: Sizes) extends Workload {
  /** A refresh takes about twice as long the first time in a JVM as once
    * warm; the later ones still speed up by 5–10% each for a few more. */
  def warmUpOps: Int = 1
  override def singleCoreLeg: Boolean = true
  private var dir: Path = _
  private var pagesSize: Inputs.Size = _
  private var munis: Broadcast[MuniIndex] = _
  private var lastUpserted = -1L

  private def pagesDir = dir.resolve("pages")
  private[perfbench] def matchPath: Path = dir.resolve("match")
  private[perfbench] def deviationsPath: Path = dir.resolve("deviations")
  private def matchStore(spark: SparkSession) = new MatchStore(spark, matchPath.toString)
  private def devStore(spark: SparkSession) = new DeviationStore(spark, deviationsPath.toString)

  def generate(spark: SparkSession, d: Path): Unit = {
    dir = d
    pagesSize = Inputs.flagshipPages(spark, seed, sizes.flagshipSites, pagesDir)
  }

  override def load(spark: SparkSession): Unit = attach(spark)

  /** Broadcasts the municipalities in `spark` (again, for a new session). */
  override def attach(spark: SparkSession): Unit =
    munis = MuniIndex.broadcastFrom(
      Pages.extractMunicipalities(spark.read.parquet(pagesDir.toString)))

  def op(spark: SparkSession, trace: Tracer): Op = {
    val (wall, upserted) = time {
      val pages = spark.read.parquet(pagesDir.toString)
      val ms = matchStore(spark)
      val matches =
        if (trace.traced) {
          val (osm, ups) = extracted(pages, trace)
          BenchPipeline.matchRowsFrom(osm, ups)
        }
        else BenchPipeline.matchRows(pages)
      trace.span("MatchStore.writeAll", "match_store") {
        ms.writeAll(matches, "perfbench flagship refresh")
      }
      val (up, del) = trace.span("DeviationStore.sync", "deviation_store") {
        devStore(spark).sync("bench_pois", BenchPipeline.deviations(ms.read()), Some(munis))
      }
      trace.count("deviation_store.upserted", up)
      trace.count("deviation_store.deleted", del)
      trace.span("Tiles.mvtTiles", "tiles") {
        Tiles.mvtTiles(Tiles.tileAssignment(ms.read()), Some("tags_json"))
          .write.mode(SaveMode.Overwrite).parquet(dir.resolve("tiles").toString)
      }
      // each refresh is its own job run: nothing it cached outlives it
      Workload.dropCache(spark)
      up
    }
    lastUpserted = upserted
    Op(wall, Seq(wall), upserted, 1, 0)
  }

  /** The traced runs' extraction boundary: the fused extraction frame that
    * `BenchPipeline.matchRows` caches and fills, here also observed (rows
    * out, rows whose id or coordinates parsed to null), so the extraction gets
    * its own span and the match reads the same materialized sides. */
  private def extracted(pages: DataFrame, trace: Tracer): (DataFrame, DataFrame) =
    trace.span("BenchPipeline.benchFeatures", "sources") {
      val obs = Observation("sources")
      val features = FusedExtraction.features(pages)
        .observe(obs, count(lit(1)).as("rows"),
          sum(when(col("id").isNull || col("cx").isNull || col("cy").isNull, 1).otherwise(0)).as("rejected"))
        .cache()
      features.count()
      val r = obs.get
      trace.count("sources.rows_in", pagesSize.rows.toDouble)
      trace.count("sources.rows_out", r("rows").asInstanceOf[Long].toDouble)
      trace.count("sources.rows_rejected", r("rejected").asInstanceOf[Long].toDouble)
      FusedExtraction.sides(features)
    }

  /** Match rows of one refresh: constant, since every refresh reads the same
    * pages; set by [[checks]]. */
  private var matchRowsPerRefresh = 0L

  override def outputRows(op: Op): Long = op.rows + matchRowsPerRefresh

  /** Match and deviation rows of the pages, counted the way
    * `BenchPipeline.pipelineCounts` counts them (one action, unfiltered
    * deviation projection with an `emitted` flag), over the parquet pages. */
  def expectedCounts(spark: SparkSession): (Long, Long) = {
    val m = BenchPipeline.matchRows(spark.read.parquet(pagesDir.toString))
    val all = DeviationView.deviations(m, DeviationConfig(
        datasetId = Pages.BenchDatasetId, layerId = 1L, viewName = "bench_pois",
        titles = BenchPipeline.titles, postFilter = CustomFilter(lit(true))))
      .withColumn("emitted", MissingOrDiffNonEmpty.pred.cast("long"))
    val r = all.agg(count(lit(1)), sum(col("emitted"))).collect()(0)
    Workload.dropCache(spark)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def checks(spark: SparkSession, ops: Seq[Op]): Seq[Check] = {
    val n = ops.size
    val (m, d) = expectedCounts(spark)
    matchRowsPerRefresh = m
    val ms = matchStore(spark)
    val stored = devStore(spark).latestFor("bench_pois")
    Seq(
      Checks.equal("flagship.match_rows", ms.read().count(), m, n),
      Checks.equal("flagship.deviation_rows", lastUpserted, d, n),
      Checks.sameRows("flagship.store_holds_emitted_rows", stored,
        BenchPipeline.deviations(ms.read()), Checks.DeviationCols, n))
  }

  def stamp: Seq[(String, Any)] = Seq(
    "sites" -> sizes.flagshipSites,
    "density_ref_sites" -> Inputs.DensityRefSites,
    "pages_rows" -> pagesSize.rows,
    "pages_bytes" -> pagesSize.bytes)
}

/**
 * OSM replication: a base corpus bulk-loaded through the streaming ingest,
 * then localized edit batches replayed one parquet file per micro-batch.
 */
final class Replication(seed: Long, sizes: Sizes) extends Workload {
  private var dir: Path = _
  private var baseSize: Inputs.Size = _
  private var base: IndexedSeq[Inputs.Element] = _
  private var nextBatch = 0
  private var editRows = 0L
  private var batches = 0

  private def pagesDir = dir.resolve("pages")
  private def statePath = dir.resolve("state").toString
  private[perfbench] def deviationsPath: Path = dir.resolve("deviations")
  private def store(spark: SparkSession) = new DeviationStore(spark, deviationsPath.toString)

  /** Runs the ingest query over every page file not yet consumed. */
  private def ingest(spark: SparkSession): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val q = StreamingIngest.startDeviationSync(spark, pagesDir.toString,
      dir.resolve("checkpoint").toString, store(spark), statePath = statePath,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  /** Moves one generated page file into the stream's input directory. */
  private def stage(spark: SparkSession, lines: Seq[String], name: String): Long = {
    val tmp = dir.resolve("staging").resolve(name)
    Inputs.writePageLines(spark, lines, tmp)
    Files.createDirectories(pagesDir)
    Files.move(Inputs.parquetFile(tmp), pagesDir.resolve(s"$name.parquet"))
    Workload.deleteTree(tmp)
    lines.size.toLong
  }

  def generate(spark: SparkSession, d: Path): Unit = {
    dir = d
    val baseDir = dir.resolve("base")
    baseSize = Inputs.replicationBase(spark, seed, sizes.replicationSites, sizes.regionSide, baseDir)
    base = Inputs.baseElements(spark, baseDir)
  }

  /** None: the bulk load is itself a micro-batch of the scoped sync path. */
  def warmUpOps: Int = 0

  /** Bulk-loads the base corpus through the streaming ingest. */
  override def load(spark: SparkSession): Unit = {
    val baseDir = dir.resolve("base")
    Files.createDirectories(pagesDir)
    Files.move(Inputs.parquetFile(baseDir), pagesDir.resolve("base.parquet"))
    ingest(spark)
  }

  /** One round: stage the next edit file, run the query over it. */
  def op(spark: SparkSession, trace: Tracer): Op = {
    val b = nextBatch
    nextBatch += 1
    val n = stage(spark, Inputs.editBatch(base, seed, b, sizes.editNearest), f"edit-$b%05d")
    val (wall, progress) = time {
      trace.span("StreamingIngest.startDeviationSync", "streaming")(ingest(spark))
    }
    editRows += n
    batches += progress.size
    trace.batches(progress)
    val steps = progress.map(p => p.durationMs.get("triggerExecution").doubleValue / 1000.0)
    Op(wall, steps, progress.map(_.numInputRows).sum, 1, if (progress.isEmpty) 1 else 0)
  }

  def checks(spark: SparkSession, ops: Seq[Op]): Seq[Check] = {
    val es = new ElementStore(spark, statePath)
    val oneShot = BenchPipeline.deviations(MatchEngine.matchView(
      BenchPipeline.filterOsm(es.read("elements")),
      BenchPipeline.projectUps(es.read("items")), BenchPipeline.config()))
    val oracle = new DeviationStore(spark, dir.resolve("oracle").toString)
    oracle.sync("bench_pois", oneShot)
    Seq(Checks.sameRows("replication.store_converges_to_one_shot_sync",
      store(spark).latestFor("bench_pois"), oracle.latestFor("bench_pois"),
      Checks.DeviationCols, ops.map(_.steps).sum))
  }

  def stamp: Seq[(String, Any)] = Seq(
    "base_sites" -> sizes.replicationSites,
    "region_side_m" -> sizes.regionSide,
    "base_pages_rows" -> baseSize.rows,
    "base_pages_bytes" -> baseSize.bytes,
    "edit_nearest" -> sizes.editNearest,
    "edit_rows" -> editRows,
    "batches" -> batches)
}
