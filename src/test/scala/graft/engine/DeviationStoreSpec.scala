package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.geom.Geom

/** sync_deviations merge semantics in isolation (15-recalculation.sql:95-124):
  * upsert updates only geom/tags/description/note; user-actioned rows survive
  * deletion; deferred rows do not; counts; snapshot/metrics protocol. */
class DeviationStoreSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark
  import spark.implicits._

  private def pt(x: Double, y: Double) = Geom.toWkb(Geom.point(x, y))

  private def dev(ids: Seq[Long], title: String, desc: String = "d",
                  tags: Map[String, String] = Map("k" -> "v")) =
    (1L, 1L, ids, pt(1000, 1000), tags,
      null.asInstanceOf[java.lang.Long], null.asInstanceOf[String],
      title, desc, "", pt(1000, 1000))

  private def toDf(rows: Seq[(Long, Long, Seq[Long], Array[Byte], Map[String, String],
      java.lang.Long, String, String, String, String, Array[Byte])]) =
    rows.toDF("dataset_id", "layer_id", "upstream_item_ids", "suggested_geom",
      "suggested_tags", "osm_element_id", "osm_element_type", "title",
      "description", "note", "center")

  test("a view emitting duplicate uniq-key rows is rejected loudly (ON CONFLICT parity)") {
    val dir = java.nio.file.Files.createTempDirectory("store_dup").toString
    val store = new DeviationStore(spark, dir)
    // same (dataset, layer, ids, element, title) twice with differing payloads:
    // PG's uniq index rejects the batch ("cannot affect row a second time")
    val e = intercept[IllegalArgumentException](store.sync("v", toDf(Seq(
      dev(Seq(1L), "T A", desc = "one"), dev(Seq(1L), "T A", desc = "two")))))
    assert(e.getMessage.contains("duplicate uniq-key"), e.getMessage)
    assert(store.views.isEmpty, "the rejected batch must not have committed")
    // the guard fails inside the write: a clean retry commits version 1 with
    // exactly its own rows, nothing of the rejected batch's partial write
    val (ups, del) = store.sync("v", toDf(Seq(dev(Seq(2L), "T B"), dev(Seq(3L), "T C"))))
    assert((ups, del) == (2L, 0L))
    assert(store.currentVersion("v") == 1)
    val ids = store.latestFor("v").collect()
      .map(_.getAs[scala.collection.Seq[Long]]("upstream_item_ids").head).sorted.toSeq
    assert(ids == Seq(2L, 3L), s"version 1 holds $ids")
  }

  test("sync preserves actions, deletes unactioned, updates in place") {
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    val store = new DeviationStore(spark, dir)

    val (i1, d1) = store.sync("v", toDf(Seq(
      dev(Seq(1L), "T A"), dev(Seq(2L), "T B"), dev(Seq(3L), "T C"), dev(Seq(4L), "T D"))))
    assert(i1 == 4 && d1 == 0)

    // user actions: row 2 fixed, row 3 deferred
    val withActions = store.latest()
      .withColumn("action",
        when(array_contains(col("upstream_item_ids"), 2L), "fixed")
          .when(array_contains(col("upstream_item_ids"), 3L), "deferred")
          .otherwise(col("action")))
      .withColumn("action_at",
        when(col("action").isNotNull, lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
          .otherwise(col("action_at")))
    store.commit(withActions, "test:actions")

    // second sync: row 1 updated (new description), rows 2/3/4 vanish from view
    val (i2, d2) = store.sync("v", toDf(Seq(dev(Seq(1L), "T A", desc = "updated"))))
    assert(i2 == 1)
    assert(d2 == 2, s"unactioned row 4 and deferred row 3 deleted, got $d2")

    val rows = store.latest().collect()
    val byIds = rows.map(r => r.getAs[scala.collection.Seq[Long]]("upstream_item_ids").head -> r).toMap
    assert(byIds.keySet == Set(1L, 2L), s"fixed row survives, got ${byIds.keySet}")
    assert(byIds(1L).getAs[String]("description") == "updated")
    assert(byIds(2L).getAs[String]("action") == "fixed", "action preserved through sync")
    // updated row keeps its original center (insert-only trigger semantics)
    assert(byIds(1L).getAs[Array[Byte]]("center") != null)

    // snapshot protocol: three versions + metrics files (per-view dirs)
    assert(store.currentVersion("v") == 3)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "view=v", "_metrics", "3.json")))

    // idempotence: replay the same sync -> same row set
    store.sync("v", toDf(Seq(dev(Seq(1L), "T A", desc = "updated"))))
    assert(store.latest().count() == 2)
  }

  test("sync scopes to its view_name and leaves other views' files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("store2").toString
    val store = new DeviationStore(spark, dir)
    store.sync("v1", toDf(Seq(dev(Seq(10L), "T"))))
    store.sync("v2", toDf(Seq(dev(Seq(20L), "T"))))
    assert(store.latest().count() == 2)
    // capture v2's snapshot files before syncing v1
    def filesOf(view: String) = {
      val d = java.nio.file.Paths.get(dir, s"view=$view")
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(d).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val v2Before = filesOf("v2")
    // emptying v1 must not touch v2 — neither rows nor files
    store.sync("v1", toDf(Seq.empty))
    assert(filesOf("v2") == v2Before, "v2 partition rewritten by a v1 sync")
    assert(store.currentVersion("v2") == 1 && store.currentVersion("v1") == 2)
    val left = store.latest().collect()
    assert(left.length == 1 && left(0).getAs[String]("view_name") == "v2")
  }

  test("item-refresh invalidation deletes only overlapping rows, touches only affected views (T7)") {
    val dir = java.nio.file.Files.createTempDirectory("store4").toString
    val store = new DeviationStore(spark, dir)
    store.sync("v1", toDf(Seq(dev(Seq(1L, 2L), "T A"), dev(Seq(3L), "T B"))))
    store.sync("v2", toDf(Seq(dev(Seq(9L), "T C"))))
    val v2Version = store.currentVersion("v2")
    // replacing item 2 kills the row referencing it (array OVERLAP, not
    // equality), regardless of action; v2 untouched (not even re-committed)
    val n = Incremental.invalidateReplacedItems(store, Seq(2L).toDF("id"))
    assert(n == 1)
    val left = store.latestFor("v1").collect()
    assert(left.length == 1 &&
      left(0).getAs[scala.collection.Seq[Long]]("upstream_item_ids") == Seq(3L))
    assert(store.currentVersion("v2") == v2Version, "unaffected view re-committed")
  }

  test("syncScoped leaves out-of-scope rows untouched (no deletion outside the dirty region)") {
    val dir = java.nio.file.Files.createTempDirectory("store3").toString
    val store = new DeviationStore(spark, dir)
    store.sync("v", toDf(Seq(dev(Seq(1L), "T A"), dev(Seq(2L), "T B"))))
    // recompute produced nothing, but scope covers only row 1 -> row 2 survives
    val (_, d) = store.syncScoped("v", toDf(Seq.empty),
      scope = Some(array_contains(col("upstream_item_ids"), 1L)))
    assert(d == 1)
    val left = store.latest().collect()
    assert(left.length == 1 &&
      left(0).getAs[scala.collection.Seq[Long]]("upstream_item_ids") == Seq(2L))
  }

  test("syncScoped counts only in-scope rows: out-of-scope old rows are never deleted") {
    val dir = java.nio.file.Files.createTempDirectory("store5").toString
    val store = new DeviationStore(spark, dir)
    store.sync("v", toDf((1L to 6L).map(i => dev(Seq(i), "T"))))
    // row 3 is user-actioned; rows 5 and 6 lie outside the scope
    store.commit(store.latest().withColumn("action",
      when(array_contains(col("upstream_item_ids"), 3L), "fixed")), "test:actions")
    val scope = Some(col("upstream_item_ids").getItem(0) <= 4L)
    // in scope: 1 updated, 7 inserted, 2 and 4 vanish, 3 vanishes but is kept
    val (ups, del) = store.syncScoped("v",
      toDf(Seq(dev(Seq(1L), "T", desc = "new"), dev(Seq(7L), "T"))), scope)
    assert((ups, del) == (2L, 2L), s"counts ($ups,$del)")
    val left = store.latest().collect().map(r =>
      r.getAs[scala.collection.Seq[Long]]("upstream_item_ids").head ->
        r.getAs[String]("description")).toMap
    assert(left == Map(1L -> "new", 3L -> "d", 5L -> "d", 6L -> "d", 7L -> "d"), s"$left")
  }

  test("property: random sync sequence with interleaved user actions matches the trigger model") {
    val dir = java.nio.file.Files.createTempDirectory("store_prop").toString
    val store = new DeviationStore(spark, dir)
    val rnd = new scala.util.Random(20260818L)
    val titles = Seq("T X", "T Y")

    // model: key (item id, title) -> (desc, insert-time center x, action)
    case class M(desc: String, cx: Double, action: Option[String])
    val model = scala.collection.mutable.Map.empty[(Long, String), M]

    (1 to 7).foreach { batchNo =>
      // random distinct keys, random payloads; center x encodes batch+id so
      // insert-time preservation is observable
      val keys = rnd.shuffle((0L until 12L).flatMap(i => titles.map(i -> _)))
        .take(3 + rnd.nextInt(8)).toSet
      val rows = keys.toSeq.map { case (i, t) =>
        val desc = s"b$batchNo-d${rnd.nextInt(100)}"
        val cx = batchNo * 1000.0 + i
        (1L, 1L, Seq(i), pt(cx, 1.0), Map("k" -> desc),
          null.asInstanceOf[java.lang.Long], null.asInstanceOf[String],
          t, desc, "", pt(cx, 1.0))
      }
      val (ups, del) = store.sync("v", toDf(rows))

      // model: upsert new keys, delete unactioned/deferred old-only keys
      val expectDel = model.count { case (k, m) =>
        !keys.contains(k) && !m.action.exists(_ != "deferred")
      }
      assert(ups == rows.length && del == expectDel,
        s"counts ($ups,$del) != (${rows.length},$expectDel)")
      rows.foreach { r =>
        val k = (r._3.head, r._8)
        model(k) = model.get(k) match {
          case Some(m) => m.copy(desc = r._9) // update: center+action preserved
          case None    => M(r._9, batchNo * 1000.0 + r._3.head, None)
        }
      }
      model.filterInPlace((k, m) =>
        keys.contains(k) || m.action.exists(_ != "deferred"))

      // compare full store state to the model
      val collected = store.latestFor("v").collect().map { r =>
        (r.getAs[scala.collection.Seq[Long]]("upstream_item_ids").head,
          r.getAs[String]("title")) ->
          M(r.getAs[String]("description"),
            Geom.fromWkb(r.getAs[Array[Byte]]("center")).centroid.x,
            Option(r.getAs[String]("action")))
      }
      val got = collected.toMap
      assert(got.size == collected.length, "duplicate keys in store")
      assert(got == model.toMap, s"store diverged at batch $batchNo")

      // random user actions on surviving rows (the reference's api.deviation
      // UPDATE): sets action, which must survive later syncs' deletion rule
      val targets = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
      if (targets.nonEmpty) {
        val act = Seq("fixed", "wont-fix", "deferred")(rnd.nextInt(3))
        val cond = targets.map { case (i, t) =>
          array_contains(col("upstream_item_ids"), i) && col("title") === t
        }.reduce(_ || _)
        store.commit(store.latest()
          .withColumn("action", when(cond, act).otherwise(col("action")))
          .withColumn("action_at", when(cond,
            lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
            .otherwise(col("action_at"))), "test:prop-actions")
        targets.foreach(k => model(k) = model(k).copy(action = Some(act)))
      }
    }
  }
}
