package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages

/** Seeded input generators. Every workload's inputs are written to parquet
  * first (the stand-in for the Iceberg pages table); the program under test
  * only ever reads those files back. */
object Inputs {

  /** Sites per unit area of the flagship bench point (2.5M sites over Sweden).
    * Smaller corpora keep this density by covering less area, so the
    * candidate pairs per site match the bench point's. */
  val DensityRefSites = 2500000L

  /** Rows and bytes of a parquet directory. */
  final case class Size(rows: Long, bytes: Long)

  def sizeOf(spark: SparkSession, dir: Path): Size =
    Size(spark.read.parquet(dir.toString).count(), bytesUnder(dir))

  /** The single parquet part file a one-partition write left in `dir`. */
  def parquetFile(dir: Path): Path = {
    val st = Files.list(dir)
    try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet file in $dir"))
    finally st.close()
  }

  def bytesUnder(dir: Path): Long = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Flagship pages: the bench fixture at the bench point's density. */
  def flagshipPages(spark: SparkSession, seed: Long, sites: Long, dir: Path): Size = {
    Pages.synthesize(spark, sites, seed = seed, densityRefSites = Some(DensityRefSites))
      .repartition(8).write.parquet(dir.toString)
    sizeOf(spark, dir)
  }

  /** South-west corner of the replication region. */
  val RegionX0 = 560000.0
  val RegionY0 = 6700000.0

  /**
   * Replication base corpus, in the pages grammar of `Pages.synthesize`
   * (one UPSTREAM page per site; an OSM twin within 80 m for 85% of sites,
   * 70% of them named like their upstream item; 8% extra OSM-only sites),
   * spread uniformly over a square region of side `side` metres (the
   * element store partitions it into 10 km blocks) so that the candidate join
   * stays small and the store and sync work dominates. One parquet file, so
   * the bulk load is one micro-batch.
   */
  def replicationBase(spark: SparkSession, seed: Long, sites: Long, side: Double, dir: Path): Size = {
    val rnd = new scala.util.Random(seed)
    def pos() = (RegionX0 + rnd.nextDouble() * side, RegionY0 + rnd.nextDouble() * side)
    val lines = (0L until (sites * 1.08).toLong).flatMap { site =>
      val (x, y) = pos()
      val osmId = site + 1000000000L
      val kind = if (site % 20 == 0) "a" else "n"
      val named = rnd.nextDouble() < 0.70
      val tags =
        if (named) s"""{"amenity":"bench_poi","name":"POI $site"}""" else """{"amenity":"bench_poi"}"""
      val r = rnd.nextDouble() * 80.0
      val a = rnd.nextDouble() * 2 * math.Pi
      val twin = s"OSM $kind $osmId ${f3(x + r * math.cos(a))} ${f3(y + r * math.sin(a))} $tags"
      if (site >= sites) Seq(twin)
      else {
        val item = s"UPSTREAM ${Pages.BenchDatasetId} s$site ${f3(x)} ${f3(y)} " +
          s"""{"name":"POI $site","kind":"bench"}"""
        if (rnd.nextDouble() < 0.85) Seq(item, twin) else Seq(item)
      }
    }
    writePageLines(spark, lines, dir)
    sizeOf(spark, dir)
  }

  /** An OSM element of the base corpus, as its page line carries it. */
  final case class Element(kind: String, id: Long, x: Double, y: Double, tags: String)

  def baseElements(spark: SparkSession, baseDir: Path): IndexedSeq[Element] =
    spark.read.parquet(baseDir.toString)
      .filter(col("text").startsWith("OSM "))
      .select(split(col("text"), " ", 6).as("p"))
      .select(col("p")(1), col("p")(2).cast("long"), col("p")(3).cast("double"),
        col("p")(4).cast("double"), col("p")(5))
      .collect()
      .map(r => Element(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4)))
      .sortBy(e => (e.kind, e.id))
      .toIndexedSeq

  /** First id of inserted elements; far above every synthesized OSM id. */
  val InsertIdBase = 8000000000L

  /**
   * One replication diff: the `nearest` base elements around a seeded focus
   * element get a tag change or a move of a few metres, and one element in
   * five gets a new neighbour inserted beside it. Old and new positions all
   * stay within a few 10 km blocks of the focus, as real minutely diffs do:
   * a diff that touched more than 256 blocks would take the engine's
   * full-recompute branch instead of the scoped one this workload measures.
   */
  def editBatch(base: IndexedSeq[Element], seed: Long, batch: Int, nearest: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed * 1000003L + batch)
    val focus = base(rnd.nextInt(base.size))
    val near = base.sortBy(e => (math.pow(e.x - focus.x, 2) + math.pow(e.y - focus.y, 2), e.id))
      .take(nearest)
    def line(kind: String, id: Long, x: Double, y: Double, tags: String) =
      s"OSM $kind $id ${f3(x)} ${f3(y)} $tags"
    near.zipWithIndex.flatMap { case (e, k) =>
      val site = e.id - 1000000000L
      val edited = rnd.nextInt(4) match {
        case 0 => line(e.kind, e.id, e.x, e.y, """{"amenity":"bench_poi"}""")
        case 1 => line(e.kind, e.id, e.x, e.y, s"""{"amenity":"bench_poi","name":"POI $site"}""")
        case _ =>
          line(e.kind, e.id, e.x + rnd.nextGaussian() * 20, e.y + rnd.nextGaussian() * 20, e.tags)
      }
      val inserted =
        if (k % 5 == 0) Seq(line("n", InsertIdBase + batch * 100000L + k,
          e.x + rnd.nextGaussian() * 30, e.y + rnd.nextGaussian() * 30, """{"amenity":"bench_poi"}"""))
        else Nil
      edited +: inserted
    }
  }

  /** Metres with three decimals, as the pages grammar writes them. */
  private def f3(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** Page lines in the pages-table schema, as one parquet file under `dir`. */
  def writePageLines(spark: SparkSession, lines: Seq[String], dir: Path): Unit = {
    import spark.implicits._
    pageFrame(lines.toDF("text")).coalesce(1).write.parquet(dir.toString)
  }

  private def pageFrame(text: DataFrame): DataFrame =
    text.select(
      concat(lit("https://osm.example.sv/diff/"), xxhash64(col("text")).cast("string")).as("url"),
      to_timestamp(lit("2026-01-02 00:00:00")).as("warc_ts"),
      encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")), "utf-8").as("html"),
      col("text"),
      lit("sv").as("lang"))
}
