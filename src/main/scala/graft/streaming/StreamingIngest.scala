package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Structured-Streaming front end (SURVEY.md §2.10): the reference emulates
 * streaming with 10-minute Airflow micro-batches + triggers; here the same
 * semantics run as readStream -> foreachBatch over the pages table, each
 * micro-batch being one replication batch:
 *
 *   pages stream -> extract features -> per-dataset match + deviation view
 *   -> DeviationStore.sync (idempotent upsert keyed on the uniq tuple, so
 *   replays are safe — the sequence-number checkpoint of osm_replication.py
 *   maps onto Spark's checkpointLocation offsets).
 *
 * Plus a classic watermarked tumbling-window aggregate over the events
 * stream (the T8 capability the reference lacks but a Spark engine should
 * expose).
 */
object StreamingIngest {

  /** watermarked tumbling hourly aggregate over an events directory. */
  def eventsHourly(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema = spark.read.parquet(eventsDir).schema
    spark.readStream.schema(schema).parquet(eventsDir)
      // the driver parquet stores ts as TIMESTAMP_NTZ; event-time semantics
      // need the instant type
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** `outputMode` defaults to `update` — the mode under which the watermark
    * actually evicts closed windows from the state store. `complete` keeps
    * ALL windows in state forever (eviction is disabled by definition) and is
    * only sound for finite AvailableNow replays into a memory sink, where the
    * parity tests pass it explicitly. */
  def startEventsHourly(spark: SparkSession, eventsDir: String, queryName: String,
                        outputMode: String = "update"): StreamingQuery =
    eventsHourly(spark, eventsDir).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /**
   * Watermarked streaming rasterization — the streaming form of
   * `operators.Raster.rasterize`: per (event-time window, z-tile pixel)
   * density over a geocoded point stream. The pixel assignment is pure
   * column arithmetic (Raster.withPixel), so it runs inside the streaming
   * aggregation's codegen; state is bounded by open-windows × occupied
   * pixels and the watermark evicts closed windows — at the 10^12-row
   * design point the state store never holds more than one watermark-delay's
   * worth of pixel rows per window. The eviction bound holds only under
   * `update`/`append` output modes — `complete` mode keeps every window in
   * state forever, so the start helpers default to `update`.
   */
  def streamingDensity(pts: DataFrame, tsCol: String,
                       lonCol: org.apache.spark.sql.Column,
                       latCol: org.apache.spark.sql.Column,
                       z: Int = 14, res: Int = 256,
                       windowDur: String = "1 hour",
                       watermarkDelay: String = "1 hour"): DataFrame =
    graft.operators.Raster.withPixel(
        pts.withColumn("__ts", col(tsCol).cast("timestamp"))
          .withWatermark("__ts", watermarkDelay),
        lonCol, latCol, z, res)
      .groupBy(window(col("__ts"), windowDur).as("w"),
        col("tile_x"), col("tile_y"), col("px"), col("py"))
      .agg(count(lit(1)).as("density"))
      .select(col("w.start").as("hour"), col("tile_x"), col("tile_y"),
        col("px"), col("py"), col("density"))

  /**
   * Session-window aggregation over an event stream via Spark's native
   * `session_window` (gap-merged event-time sessions; the state store
   * merges overlapping [ts, ts+gap) windows, so per-key state is one open
   * session, evicted once the watermark passes its close — O(active keys),
   * not O(events)). Works identically on a BATCH frame (the driver-gate /
   * oracle form) and on a stream (StreamingSpec asserts parity).
   *
   * Boundary semantics differ deliberately from `operators.Temporal
   * .sessionize`: `session_window` starts a NEW session when the gap is
   * ≥ `gap` (window end is exclusive), while sessionize's lag form keeps
   * an exactly-at-gap event in the old session (strict >). Both are
   * oracled, each under its own rule.
   */
  def sessionsAgg(events: DataFrame, keyCol: String, tsCol: String,
                  gap: String, watermarkDelay: Option[String] = None): DataFrame = {
    val ts = events.withColumn("__ts", col(tsCol).cast("timestamp"))
    val marked = watermarkDelay.fold(ts)(d => ts.withWatermark("__ts", d))
    marked
      .groupBy(col(keyCol), session_window(col("__ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(20,6)")), 2).cast("double").as("sum_value"))
      .select(col(keyCol),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** see `startEventsHourly` for the `outputMode` contract. */
  def startSessions(spark: SparkSession, eventsDir: String, queryName: String,
                    gap: String = "30 minutes",
                    outputMode: String = "update"): StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    sessionsAgg(stream, "user_id", "ts", gap, watermarkDelay = Some("1 hour"))
      .writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** see `startEventsHourly` for the `outputMode` contract. */
  def startStreamingDensity(spark: SparkSession, eventsDir: String, queryName: String,
                            lonCol: org.apache.spark.sql.Column,
                            latCol: org.apache.spark.sql.Column,
                            z: Int = 14, res: Int = 256,
                            outputMode: String = "update"): StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    streamingDensity(stream, "ts", lonCol, latCol, z, res).writeStream
      .outputMode(outputMode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /**
   * Incremental deviation maintenance as a pages stream. Every micro-batch:
   *
   *  1. caches the batch and, in the job that fills the cache, finds which
   *     line kinds (`OSM `, `UPSTREAM `, `CHANGESET `) it holds;
   *  2. extracts the present kinds from the BATCH only and MERGEs each into
   *     an ElementStore keyed by (type,id) / (dataset_id,original_id) / (id)
   *     — the raw-entity replication MERGE (osm_replication.py:261-298), with
   *     the stream's checkpointLocation playing the sequence-number role; an
   *     absent kind starts no job;
   *  3. takes the merges' dirty cell-blocks as the recompute frontier;
   *  4. re-runs match + deviation ONLY over the frontier's padded
   *     neighborhood (partition-pruned reads from the store);
   *  5. merges via DeviationStore.syncScoped — one write job, counts and
   *     the duplicate-key guard inside it — so rows outside the frontier are
   *     untouched.
   *
   * Per-batch work is O(batch + dirty blocks), never O(history) — the r1
   * version recomputed over all pages each micro-batch (VERDICT r1 #7).
   * Restartable from `checkpointDir`; replays are idempotent because both
   * merges are keyed upserts.
   */
  def startDeviationSync(spark: SparkSession, pagesDir: String, checkpointDir: String,
                         store: graft.engine.DeviationStore,
                         statePath: String = null,
                         maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import graft.engine.{BenchPipeline, ElementStore, MatchEngine}
    import graft.functions.GeoFunctions.stCentroid
    import graft.sources.Pages
    val es = new ElementStore(spark,
      if (statePath != null) statePath else checkpointDir + "_state")
    val schema = spark.read.parquet(pagesDir).schema
    val reader0 = spark.readStream.schema(schema)
    // AvailableNow + maxFilesPerTrigger splits a finite replay into REAL
    // micro-batches (the gate entry uses it to prove multi-batch incremental
    // maintenance converges to the batch result, not just 1-batch ingest)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n))
    reader.parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.cache()
        // one job fills the cache and finds the line kinds present: a merge
        // of an absent kind is skipped instead of running jobs to find its
        // batch empty
        val kinds = Seq("OSM ", "UPSTREAM ", "CHANGESET ")
        val present = b.select(kinds.map(k => count_if(Pages.lineKind(k)) > 0): _*)
          .collect()(0)
        val Seq(hasOsm, hasUps, hasCs) = kinds.indices.map(present.getBoolean)
        val dirtyE =
          if (hasOsm) es.merge("elements", Seq("type", "id"), Pages.extractOsmElements(b))
          else Nil
        val dirtyI =
          if (hasUps) es.merge("items", Seq("dataset_id", "original_id"),
            Pages.extractUpstreamItems(b))
          else Nil
        // changesets: keyed MERGE only, no downstream recompute — ingested
        // but unused, like the reference (04-osm-base.sql:43-49)
        if (hasCs) es.merge("changesets", Seq("id"), Pages.extractChangesets(b),
          recencyCol = Some("created_at"))
        b.unpersist()
        val dirty = (dirtyE ++ dirtyI).distinct
        // no per-batch caching: a cached candidate set would leak across
        // micro-batches (matchView unpersists nothing)
        val cfg = BenchPipeline.config().copy(cacheCandidates = false)
        def view(blocks: Option[Seq[Long]]) =
          BenchPipeline.deviations(MatchEngine.matchView(
            BenchPipeline.filterOsm(es.read("elements", blocks)),
            BenchPipeline.projectUps(es.read("items", blocks)), cfg))
        if (dirty.size > 256) {
          // bulk load: the frontier is most of the map — a scoped plan with
          // thousands of isin literals costs more than one full recompute
          store.sync("bench_pois", view(None))
        } else if (dirty.nonEmpty) {
          // scope = 1-ring around dirty blocks (covers every feature a dirty
          // feature can match); inputs read one ring wider so every scoped
          // row sees ALL its potential partners
          val scopeBlocks = es.ring(dirty)
          val readBlocks = es.ring(scopeBlocks)
          val blockOfCenter = es.blockCol(
            stCentroid(col("center")).getField("_1"),
            stCentroid(col("center")).getField("_2"))
          val inScope = blockOfCenter.isin(scopeBlocks: _*)
          store.syncScoped("bench_pois",
            view(Some(readBlocks)).filter(inScope), scope = Some(inScope))
        }
        ()
      }
      .start()
  }
}
