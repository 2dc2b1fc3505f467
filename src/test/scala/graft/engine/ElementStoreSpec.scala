package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Keyed MERGE over the two-level (cell-block data + hash key-index) store:
  * upserts, moved-key cleanup via the index, dirty-block reporting, and
  * emptied-partition clearing (SURVEY.md §2.1 S2 / §2.10 T4). */
class ElementStoreSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private def df(rows: (String, Long, Double, Double)*) =
    rows.toDF("type", "id", "cx", "cy")

  test("merge upserts by key, tracks moves through the index, clears emptied blocks") {
    val dir = java.nio.file.Files.createTempDirectory("estore").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)

    // two features in two far-apart blocks
    val d1 = es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0)))
    assert(d1.size == 2)
    assert(es.read("elements", None).count() == 2)

    // update feature 1 in place (same block): one dirty block, value updated
    val d2 = es.merge("elements", Seq("type", "id"), df(("n", 1L, 6000.0, 6000.0)))
    assert(d2.size == 1)
    val r = es.read("elements", None).filter(col("id") === 1).collect()
    assert(r.length == 1 && r(0).getAs[Double]("cx") == 6000.0)

    // MOVE feature 2 to a third block: dirty must include the OLD block (via
    // the key index), the stale row must vanish, and the emptied old block's
    // partition directory must be cleared
    val oldBlock = es.read("elements", None).filter(col("id") === 2)
      .select("cb").collect()(0).getLong(0)
    val d3 = es.merge("elements", Seq("type", "id"), df(("n", 2L, 205000.0, 205000.0)))
    assert(d3.contains(oldBlock), "move must dirty the previous block")
    val rows = es.read("elements", None).filter(col("id") === 2).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("cx") == 205000.0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "elements", "data", s"cb=$oldBlock")),
      "emptied block partition must be cleared")

    // partition-pruned read returns only requested blocks
    val b1 = es.read("elements", None).filter(col("id") === 1)
      .select("cb").collect()(0).getLong(0)
    assert(es.read("elements", Some(Seq(b1))).count() == 1)
  }

  test("a missing key index is rebuilt from data (crash between data and index writes)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_rebuild").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 2L, 105000.0, 105000.0)))
    // simulate a crash that persisted data but lost the index
    MatchStore.deleteRecursively(java.nio.file.Paths.get(dir, "elements", "idx"))
    val oldBlock = es.read("elements", None).filter(col("id") === 2)
      .select("cb").collect()(0).getLong(0)
    // next merge MOVES feature 2: the rebuilt index must find its old block
    // (pre-fix behavior: AnalysisException on the missing kb column)
    val dirty = es.merge("elements", Seq("type", "id"),
      df(("n", 2L, 205000.0, 205000.0)))
    assert(dirty.contains(oldBlock), "rebuilt index must expose the previous block")
    val rows = es.read("elements", None).filter(col("id") === 2).collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("cx") == 205000.0,
      "stale row in the old block must be dropped via the rebuilt index")
  }

  test("a batch with an unparseable coordinate is rejected before any write") {
    val dir = java.nio.file.Files.createTempDirectory("estore_nullcb").toString
    val es = new ElementStore(spark, dir, blockMeters = 10000.0)
    // coordinates arrive as text and are try_cast, as the stream extractors do
    def parsed(rows: (String, Long, String, String)*) =
      rows.toDF("type", "id", "x", "y")
        .withColumn("cx", expr("try_cast(x AS double)"))
        .withColumn("cy", expr("try_cast(y AS double)"))
        .drop("x", "y")
    val bad = parsed(("n", 1L, "5000", "5000"), ("n", 2L, "not-a-number", "5000"))
    val first = intercept[IllegalArgumentException] { es.merge("elements", Seq("type", "id"), bad) }
    assert(first.getMessage.contains("without a block"))
    assert(!es.exists("elements"), "a rejected first batch must not initialize the store")

    es.merge("elements", Seq("type", "id"), parsed(("n", 2L, "5000", "5000")))
    intercept[IllegalArgumentException] { es.merge("elements", Seq("type", "id"), bad) }
    val dataDir = java.nio.file.Paths.get(dir, "elements", "data")
    assert(!java.nio.file.Files.exists(dataDir.resolve("cb=__HIVE_DEFAULT_PARTITION__")))
    val kept = es.read("elements", None).collect()
    assert(kept.length == 1 && kept(0).getAs[Long]("id") == 2L && kept(0).getAs[Double]("cx") == 5000.0,
      "a rejected batch must leave the store as it was")
    // the key the bad batch named still merges cleanly afterwards
    es.merge("elements", Seq("type", "id"), parsed(("n", 2L, "105000", "105000")))
    val moved = es.read("elements", None).collect()
    assert(moved.length == 1 && moved(0).getAs[Double]("cx") == 105000.0)
  }

  test("a batch with duplicate keys writes exactly one row per key (ADVICE r2)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_dup").toString
    val es = new ElementStore(spark, dir)
    // same key twice in ONE batch (e.g. two stream pages for one element)
    es.merge("elements", Seq("type", "id"),
      df(("n", 1L, 5000.0, 5000.0), ("n", 1L, 6000.0, 6000.0), ("n", 2L, 7000.0, 7000.0)))
    assert(es.read("elements", None).count() == 2, "one row per key after dedup")
    // with a recency column the LATEST duplicate wins (own sub-store: the
    // row schema carries the extra `seq` column)
    val seqDf = Seq(("n", 3L, 1000.0, 1000.0, 1L), ("n", 3L, 2000.0, 2000.0, 2L))
      .toDF("type", "id", "cx", "cy", "seq")
    es.merge("versioned", Seq("type", "id"), seqDf, recencyCol = Some("seq"))
    val r3 = es.read("versioned", None).filter(col("id") === 3).collect()
    assert(r3.length == 1 && r3(0).getAs[Double]("cx") == 2000.0)
  }

  test("an empty FIRST batch leaves the store uninitialized (ADVICE r2)") {
    val dir = java.nio.file.Files.createTempDirectory("estore_empty").toString
    val es = new ElementStore(spark, dir)
    val dirty = es.merge("elements", Seq("type", "id"), df().limit(0))
    assert(dirty.isEmpty)
    assert(!es.exists("elements"), "zero-row first write must not poison exists()")
    // a later real batch initializes normally
    es.merge("elements", Seq("type", "id"), df(("n", 1L, 5000.0, 5000.0)))
    assert(es.read("elements", None).count() == 1)
    // and an empty FOLLOW-UP batch is a no-op, not a rewrite
    assert(es.merge("elements", Seq("type", "id"), df().limit(0)).isEmpty)
    assert(es.read("elements", None).count() == 1)
  }

  test("property: random batch sequence matches a last-write-wins key model") {
    val dir = java.nio.file.Files.createTempDirectory("estore_prop").toString
    // small blocks + few keys force in-batch duplicates, moves, block churn,
    // and emptied partitions across the sequence
    val es = new ElementStore(spark, dir, blockMeters = 100.0, idxBuckets = 8)
    val OFF = graft.core.cell.Grid.OFF.toLong
    def blockOf(cx: Double, cy: Double): Long =
      ((math.floor(cx / 100.0).toLong + OFF) << 32) |
        (math.floor(cy / 100.0).toLong + OFF)

    val rnd = new scala.util.Random(20260818L)
    val model = scala.collection.mutable.Map.empty[(String, Long), (Double, Double, Long)]
    var seq = 0L
    (1 to 8).foreach { _ =>
      val base = (1 to 5 + rnd.nextInt(20)).map { _ =>
        seq += 1
        (if (rnd.nextBoolean()) "n" else "w", rnd.nextInt(30).toLong,
          rnd.nextInt(10) * 100.0 + 50.0, rnd.nextInt(3) * 100.0 + 50.0, seq)
      }
      // in-batch duplicate keys: recency (seq) must decide, deterministically
      val dups = base.take(rnd.nextInt(3)).map { r =>
        seq += 1
        (r._1, r._2, rnd.nextInt(10) * 100.0 + 50.0, r._4, seq)
      }
      val all = rnd.shuffle(base ++ dups)
      val preModel = model.toMap
      val dirty = es.merge("el", Seq("type", "id"),
        all.toDF("type", "id", "cx", "cy", "seq"), recencyCol = Some("seq")).toSet

      all.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
        val w = rs.maxBy(_._5)
        model(k) = (w._3, w._4, w._5)
      }
      val got = es.read("el").select("type", "id", "cx", "cy", "seq").collect()
      assert(got.length == model.size, "store must hold exactly one row per key")
      val gotMap = got.map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
      assert(gotMap == model.toMap, "store state diverged from the model")

      // dirty must cover each key's WINNING row's block (losing in-batch
      // duplicates are dedup'd away before the write and need no recompute)
      // AND the old block of every key the batch touches — the recompute
      // frontier must see the vacated region
      val winners = all.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._5))
      val expect = winners.map(r => blockOf(r._3, r._4)).toSet ++
        all.flatMap(r => preModel.get((r._1, r._2)))
          .map(p => blockOf(p._1, p._2)).toSet
      assert(expect.subsetOf(dirty),
        s"dirty blocks missing ${expect.diff(dirty)}")
    }
  }
}
