package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.cell.Grid

/**
 * Keyed, spatially-partitioned feature state — the raw-entity MERGE of the
 * reference's replication ingest (dags/osm_replication.py:261-298 upserts
 * node/way/relation rows keyed by id per sequence batch; SURVEY.md §2.1 S2,
 * §2.10 T4) re-expressed as a bounded-work parquet MERGE:
 *
 *  - DATA is partitioned by `cb` (a square cell-block id, default 10 km —
 *    Grid.cellOf packing), so the spatial reads that drive matching are
 *    partition-pruned to the dirty region;
 *  - a narrow KEY INDEX (key columns -> cb) is hash-partitioned by `kb =
 *    xxhash(key) % idxBuckets`, so a batch's previous locations are found by
 *    reading only the touched index buckets — this is what keeps a MOVED
 *    feature correct: its stale row in the old block is found via the index
 *    and dropped, without any full-table scan.
 *
 * Per-batch work is O(batch + touched partitions), never O(history): merge
 * reads exactly the dirty blocks plus ≤idxBuckets narrow index slices and
 * dynamically overwrites only those partitions. On a real cluster both
 * layers map 1:1 onto Iceberg MERGE INTO with the same partition specs.
 */
class ElementStore(spark: SparkSession, path: String,
                   val blockMeters: Double = 10000.0, idxBuckets: Int = 64) {

  /** native block id of a point — the Column form of Grid.cellOf's packing
    * at blockMeters (shares Grid.OFF: kRing decodes these ids, so the two
    * sides must never drift). */
  def blockCol(cx: Column, cy: Column): Column = {
    val OFF = Grid.OFF.toLong
    shiftleft(floor(cx / blockMeters).cast("long") + OFF, 32)
      .bitwiseOR(floor(cy / blockMeters).cast("long") + OFF)
  }

  /** dirty blocks padded by a 1-block ring (block size >> any match radius,
    * so one ring covers every feature reachable from a dirty feature). */
  def ring(blocks: Seq[Long]): Seq[Long] =
    blocks.flatMap(b => Grid.kRing(b, 1)).distinct

  private def dataPath(name: String) = s"$path/$name/data"
  private def idxPath(name: String) = s"$path/$name/idx"

  /** current state (optionally partition-pruned to `blocks`). */
  def read(name: String, blocks: Option[Seq[Long]] = None): DataFrame = {
    val p = dataPath(name)
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
      s"element store '$name' not initialized")
    // partition-dir values re-infer — pin cb back to long
    val df = spark.read.parquet(p).withColumn("cb", col("cb").cast("long"))
    blocks match {
      case Some(bs) => df.filter(col("cb").isin(bs: _*)) // partition pruning
      case None     => df
    }
  }

  def exists(name: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dataPath(name)))

  /**
   * MERGE `batch` (upsert by `keyCols`) into sub-store `name`. The batch must
   * carry cx/cy (point-ish centroid meters). Returns the DIRTY block ids
   * (batch blocks ∪ previous blocks of moved keys) — the caller's recompute
   * frontier.
   *
   * Per-batch work: the deduplicated batch is cached, and one aggregate over
   * it yields its row count, blocks and touched index buckets (an empty batch
   * returns here, before any other job). An existing store then answers one
   * lookup of the batch keys' previous blocks in the touched index buckets,
   * and takes two writes: the dirty data blocks, whose surviving blocks are
   * observed during that write, and the touched index buckets.
   */
  def merge(name: String, keyCols: Seq[String], batch: DataFrame,
            recencyCol: Option[String] = None): Seq[Long] = {
    // A micro-batch may carry several rows for one key (the same element
    // updated twice inside one AvailableNow batch): the left_anti below only
    // removes OLD rows, so an un-deduped batch would write duplicate key rows
    // (ADVICE r2). Keep exactly one row per key — by `recencyCol` desc when
    // the caller has one, else an arbitrary-but-single representative
    // (dropDuplicates). Everything below relies on `b` being one row per key.
    val b0 = batch.withColumn("cb", blockCol(col("cx"), col("cy")))
    val bd = recencyCol match {
      case Some(rc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(rc).desc)
        b0.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => b0.dropDuplicates(keyCols)
    }
    val b = bd.cache()
    try mergeDeduped(name, keyCols, b) finally b.unpersist()
  }

  private def mergeDeduped(name: String, keyCols: Seq[String], b: DataFrame): Seq[Long] = {
    val keyHash = pmod(xxhash64(keyCols.map(col): _*), lit(idxBuckets.toLong)).cast("int")
    val summary = b.agg(count(lit(1)), count(col("cb")), collect_set(col("cb")),
      collect_set(keyHash)).collect()(0)
    // An EMPTY batch must not touch the store: a zero-row first write would
    // leave a parquet dir with only _SUCCESS, making exists() true while
    // read() fails on schema inference (ADVICE r2) — skip both writes and
    // leave the store uninitialized (or untouched).
    if (summary.getLong(0) == 0L) return Nil
    // A row without a block (cx/cy NULL, e.g. an unparseable coordinate)
    // would land in the `cb=__HIVE_DEFAULT_PARTITION__` dir, which no dirty
    // block set can ever name again, and its NULL index entry would break the
    // next merge of that key — reject the batch before any write.
    require(summary.getLong(1) == summary.getLong(0),
      s"element store '$name': ${summary.getLong(0) - summary.getLong(1)} batch " +
        "row(s) without a block (NULL cx/cy)")
    val batchBlocks = summary.getSeq[Long](2).toSeq
    val touchedKb = summary.getSeq[Int](3).toSeq
    val bKeys = b.select(keyCols.map(col): _*)

    val first = !exists(name)
    if (!first) ensureIndex(name, keyCols)
    val idxNew = b.select((keyCols.map(col) :+ col("cb")): _*).withColumn("kb", keyHash)
    // Both layers are read with the batch's own schema: the merge writes
    // exactly these columns back, and a given schema spares the
    // schema-inference job a plain parquet read starts.
    def idxTouched: DataFrame = spark.read.schema(idxNew.schema)
      .parquet(idxPath(name)) // ensureIndex guarantees it
      .filter(col("kb").isin(touchedKb: _*))
    val dirtyBlocks: Seq[Long] =
      if (first) batchBlocks
      else {
        // previous locations of the batch's keys, via the touched index buckets
        val oldBlocks = idxTouched.join(bKeys, keyCols, "left_semi")
          .select("cb").distinct().collect().map(_.getLong(0))
        (batchBlocks ++ oldBlocks).distinct
      }

    // --- data merge: read ONLY dirty blocks, drop batch keys, add batch ---
    if (first) writeData(name, b)
    else {
      // the blocks that keep at least one row, observed while they are written
      val survivors = Observation()
      writeData(name, spark.read.schema(b.schema).parquet(dataPath(name))
        .filter(col("cb").isin(dirtyBlocks: _*)) // partition pruning
        .join(bKeys, keyCols, "left_anti")
        .unionByName(b)
        .observe(survivors, collect_set(col("cb")).as("blocks")))
      val written = survivors.get("blocks").asInstanceOf[scala.collection.Seq[Long]].toSet
      // a dirty block whose last row vanished is absent from the write and
      // thus not overwritten — clear its directory explicitly (Iceberg MERGE
      // would)
      dirtyBlocks.filterNot(written).foreach { cb =>
        MatchStore.deleteRecursively(java.nio.file.Paths.get(dataPath(name), s"cb=$cb"))
      }
    }

    // --- index merge: same pattern over the narrow (key -> cb) table ---
    val idxOut =
      if (first) idxNew
      else idxTouched.join(bKeys, keyCols, "left_anti").unionByName(idxNew)
    idxOut.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb").parquet(idxPath(name))
    dirtyBlocks
  }

  private def writeData(name: String, out: DataFrame): Unit =
    out.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cb").parquet(dataPath(name))

  /** Crash-recovery: a failure between merge's data write and index write
    * leaves data without an index — the old readOrEmpty fallback then threw
    * on the missing `kb` column, permanently sticking the checkpoint, and a
    * silently-empty index would skip moved-key cleanup (duplicate rows).
    * REBUILD the index from data instead: one bounded scan, then the normal
    * per-bucket merge proceeds. (Mid-write partial index overwrites need a
    * transactional table format — the Iceberg mapping in the scaladoc — and
    * are out of scope for the parquet stand-in.) */
  private def ensureIndex(name: String, keyCols: Seq[String]): Unit = {
    val ip = idxPath(name)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(ip))) {
      val keyHash = pmod(xxhash64(keyCols.map(col): _*), lit(idxBuckets.toLong)).cast("int")
      read(name).select((keyCols.map(col) :+ col("cb")): _*)
        .dropDuplicates(keyCols)
        .withColumn("kb", keyHash)
        .write.mode(SaveMode.Overwrite).partitionBy("kb").parquet(ip)
    }
  }
}
