package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Cell-range-partitioned checkpoint of a match view (the mv_match_* analog)
 * with idempotent per-range resume — the north rule's "any cell-range can
 * resume idempotently, with per-partition lineage + row-count metrics":
 *
 *  - rows are bucketed by a coarse spatial range (100 km grid cell of the
 *    feature centroid) and written with dynamic partition overwrite, so
 *    recomputing ONE range replaces exactly that range's files;
 *  - `_metrics/<version>.json` records per-range row counts (from the
 *    written files' parquet footers, no Spark job) + lineage;
 *  - `resume(ranges)` re-runs the match restricted to those ranges and
 *    overwrites only them — byte-stable because every stage is deterministic.
 *
 * On a cluster this maps onto Iceberg identity-partitioned tables +
 * overwritePartitions; here the layout is plain parquet `data/range=<id>`
 * dirs beside `_metrics/` (data and metadata separated, as Iceberg does).
 */
class MatchStore(spark: SparkSession, path: String, rangeCellMeters: Double = 100000.0) {

  /** data lives in its own subdir so writeAll's STATIC overwrite replaces the
    * table without wiping `_metrics/` (which would reset the version sequence
    * and destroy lineage history) — the parquet analog of Iceberg's
    * data/ vs metadata/ split. */
  private val dataPath = s"$path/data"

  private val rangeCol = {
    // coarse range id from the feature centroid (upstream side if present,
    // else the OSM side — anti-leg rows have no upstream geometry)
    val cx = col("__rx"); val cy = col("__ry")
    (floor(cx / rangeCellMeters) * 100000 + floor(cy / rangeCellMeters)).cast("long")
  }

  private def withRange(matchDf: DataFrame): DataFrame = {
    import graft.functions.GeoFunctions.stCentroid
    matchDf
      .withColumn("__c", stCentroid(coalesce(col("upstream_geom"), col("osm_geom"))))
      .withColumn("__rx", col("__c._1")).withColumn("__ry", col("__c._2"))
      .withColumn("range", rangeCol)
      .drop("__c", "__rx", "__ry")
  }

  /** full (re)write of all ranges — STATIC overwrite, so ranges that vanished
    * from the input (e.g. every feature of a cell was deleted upstream) have
    * their stale partition directories deleted too; dynamic mode would leave
    * them behind and read() would resurrect deleted rows. */
  def writeAll(matchDf: DataFrame, lineage: String): Unit = {
    val df = withRange(matchDf)
    df.write.mode(SaveMode.Overwrite).partitionBy("range").parquet(dataPath)
    writeMetrics(lineage)
  }

  /** recompute + overwrite ONLY the given ranges (idempotent resume). The
    * overwrite mode is scoped to THIS write via the DataFrameWriter option —
    * mutating the session conf would silently flip every later partitioned
    * overwrite in the session to dynamic semantics. A resumed range whose
    * recompute came out empty is deleted explicitly (dynamic overwrite never
    * touches partitions absent from the written frame). */
  def resume(matchDf: DataFrame, ranges: Seq[Long], lineage: String): Unit = {
    // the ranges that kept rows, observed while they are written
    val written = Observation()
    withRange(matchDf).filter(col("range").isin(ranges: _*))
      .observe(written, collect_set(col("range")).as("ranges"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("range").parquet(dataPath)
    val present = written.get("ranges").asInstanceOf[scala.collection.Seq[Long]].toSet
    ranges.filterNot(present).foreach { r =>
      MatchStore.deleteRecursively(Paths.get(dataPath, s"range=$r"))
    }
    // metrics over the RESUMED ranges only — a resume must not re-scan the
    // whole store
    writeMetrics(s"$lineage resume=[${ranges.mkString(",")}]", Some(ranges))
  }

  /** partition-dir values are re-inferred as int on read — pin long. */
  def read(): DataFrame =
    spark.read.parquet(dataPath).withColumn("range", col("range").cast("long"))

  def ranges(): Seq[Long] =
    read().select("range").distinct().collect().map(_.getLong(0)).toSeq

  private def q(s: String) = graft.core.Json.quote(s)

  /** next sequential metrics version: max existing + 1 (durable across JVM
    * restarts — System.nanoTime has an arbitrary per-JVM origin and would
    * mis-order runs after a restart). */
  private def nextVersion(): Long =
    MatchStore.listDir(Paths.get(path, "_metrics")).flatMap { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".json")) n.stripSuffix(".json").toLongOption else None
    }.foldLeft(0L)(math.max) + 1

  /** `_metrics/<v>.json` with per-range row counts, summed from the parquet
    * footers of the ranges' files, read directly rather than by a Spark job. */
  private def writeMetrics(lineage: String, only: Option[Seq[Long]] = None): Unit = {
    val ranges = only.getOrElse(MatchStore.listDir(Paths.get(dataPath)).flatMap { d =>
      val n = d.getFileName.toString
      if (n.startsWith("range=")) n.stripPrefix("range=").toLongOption else None
    }).sorted
    val conf = spark.sparkContext.hadoopConfiguration
    val counts = ranges.flatMap { r =>
      val dir = Paths.get(dataPath, s"range=$r")
      if (!Files.isDirectory(dir)) None
      else Some(s"""{"range":$r,"rows":${MatchStore.parquetRows(dir, conf)}}""")
    }
    Files.createDirectories(Paths.get(path, "_metrics"))
    val v = nextVersion()
    Files.write(Paths.get(path, "_metrics", s"$v.json"),
      s"""{"version":$v,"lineage":${q(lineage)},"ranges":[${counts.mkString(",")}]}"""
        .getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }
}

object MatchStore {
  /** entries of a directory (none if it is absent), with the listing stream
    * closed. */
  private[engine] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally st.close()
    }

  /** rows in the parquet files directly under `dir`, from their footers. */
  private def parquetRows(dir: java.nio.file.Path,
                          conf: org.apache.hadoop.conf.Configuration): Long =
    listDir(dir).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** recursive delete with the Files.walk stream properly closed. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }
}
