package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Stable row identity ([[RowTracking]]): id assignment at commit,
  * survival across OPTIMIZE/Z-order/PURGE/DELETE, enable-time
  * backfill, checkpoint persistence of the high-water-mark domain,
  * and disjointness under concurrent appends.
  */
class LakeRowTrackingSuite extends SparkSuite {
  import spark.implicits._

  private val RT = RowTracking.PROP -> "true"

  private def docs(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"doc-$i", i % 3))
      .toDF("id", "body", "p").coalesce(1)

  /** (row id → business id) for every row of the table. */
  private def idMap(t: LakeTable): Map[Long, Long] =
    t.toDFWithRowIds.select(col(RowTracking.COL), col("id"))
      .as[(Long, Long)].collect().toMap

  test("appends carve consecutive disjoint id blocks; hwm advances") {
    val path = tablePath("rt_assign")
    LakeWriter.write(docs(5), path, properties = Map(RT))
    LakeWriter.write(docs(3, from = 5), path, mode = "append")
    val t = LakeTable.forPath(spark, path)
    val snap = t.snapshot()
    val bases = snap.files.map(f => (f.baseRowId, f.numRecords))
    assert(bases.forall(_._1.isDefined), "every file stamped")
    // blocks are disjoint and cover [0, 8)
    val ranges = bases.map { case (b, n) => (b.get, b.get + n) }.sortBy(_._1)
    assert(ranges.head._1 === 0L)
    ranges.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 === s2)
      case _ =>
    }
    assert(RowTracking.highWaterMark(snap.domains) === 8L)
    val ids = idMap(t)
    assert(ids.keySet === (0L until 8L).toSet)
    // protocol carries the writer feature
    assert(snap.protocol.writerFeatures
      .contains(LakeProtocol.FEATURE_ROW_TRACKING))
  }

  test("ids survive OPTIMIZE compaction and Z-order clustering") {
    val path = tablePath("rt_optimize")
    LakeWriter.write(docs(6), path, properties = Map(RT))
    LakeWriter.write(docs(6, from = 6), path, mode = "append")
    LakeWriter.write(docs(6, from = 12), path, mode = "append")
    val t = LakeTable.forPath(spark, path)
    val before = idMap(t)
    t.compact()
    assert(t.snapshot().files.size < 3, "compaction merged files")
    assert(idMap(t) === before, "ids stable across OPTIMIZE")
    t.compactClustered(Seq("id", "p"), zOrder = true)
    assert(idMap(t) === before, "ids stable across Z-order")
    // rewritten files carry materialized ids, fresh baseRowIds unused
    val hwmAfter = RowTracking.highWaterMark(t.snapshot().domains)
    assert(hwmAfter >= 18L)
  }

  test("ids survive DV delete, CoW delete of kept rows, and PURGE") {
    val path = tablePath("rt_delete")
    LakeWriter.write(docs(10), path,
      properties = Map(RT, LakeTable.PROP_ENABLE_DV -> "true"))
    val t = LakeTable.forPath(spark, path)
    val before = idMap(t)
    t.delete("id >= 7") // DV path (non-partition predicate)
    val afterDv = idMap(t)
    assert(afterDv === before.filter(_._2 < 7), "surviving ids unchanged")
    t.purgeDeletionVectors()
    assert(idMap(t) === afterDv, "ids stable across PURGE")
    // CoW path: same check on a DV-less table
    val p2 = tablePath("rt_delete_cow")
    LakeWriter.write(docs(10), p2, properties = Map(RT))
    val t2 = LakeTable.forPath(spark, p2)
    val b2 = idMap(t2)
    t2.delete("id >= 7")
    assert(idMap(t2) === b2.filter(_._2 < 7), "CoW kept rows keep ids")
  }

  test("UPDATE preserves ids on both CoW and DV rewrite paths") {
    // CoW path
    val p1 = tablePath("rt_update_cow")
    LakeWriter.write(docs(8), p1, properties = Map(RT))
    val t1 = LakeTable.forPath(spark, p1)
    val before1 = idMap(t1)
    t1.update("id >= 4", Map("body" -> "'changed'"))
    assert(idMap(t1) === before1, "CoW UPDATE keeps every row's id")
    assert(t1.toDF.filter("body = 'changed'").count() === 4)
    // DV path
    val p2 = tablePath("rt_update_dv")
    LakeWriter.write(docs(8), p2,
      properties = Map(RT, LakeTable.PROP_ENABLE_DV -> "true"))
    val t2 = LakeTable.forPath(spark, p2)
    val before2 = idMap(t2)
    t2.update("id >= 4", Map("body" -> "'changed'"))
    assert(idMap(t2) === before2, "DV UPDATE keeps every row's id")
    assert(t2.toDF.filter("body = 'changed'").count() === 4)
  }

  test("MERGE: updated/kept rows keep ids, inserts get fresh ids") {
    def run(dv: Boolean): Unit = {
      val props = if (dv) Map(RT, LakeTable.PROP_ENABLE_DV -> "true")
        else Map(RT)
      val path = tablePath(s"rt_merge_dv_$dv")
      LakeWriter.write(docs(6), path, properties = props)
      val t = LakeTable.forPath(spark, path)
      val before = idMap(t)
      val src = Seq(
        (4L, "updated-4", 1), (5L, "updated-5", 2),   // matched
        (100L, "new-100", 0), (101L, "new-101", 1)    // inserted
      ).toDF("id", "body", "p")
      t.as("t").merge(src.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("body" -> "s.body"))
        .whenNotMatchedInsert(Map(
          "id" -> "s.id", "body" -> "s.body", "p" -> "s.p"))
        .execute()
      val after = idMap(t)
      // matched + untouched rows keep their exact ids
      before.foreach { case (rid, bid) =>
        assert(after(rid) === bid, s"dv=$dv: id $rid moved") }
      // inserted rows have fresh distinct ids beyond the old range
      val freshIds = after.filter(_._2 >= 100L).keySet
      assert(freshIds.size === 2)
      assert(freshIds.forall(i => !before.contains(i)),
        s"dv=$dv: insert ids must not collide with existing ids")
      assert(t.toDF.filter("body like 'updated%'").count() === 2)
    }
    run(dv = false)
    run(dv = true)
  }

  test("enabling on an existing table backfills ids without rewrite") {
    val path = tablePath("rt_backfill")
    LakeWriter.write(docs(4), path)
    LakeWriter.write(docs(4, from = 4), path, mode = "append")
    val t = LakeTable.forPath(spark, path)
    val filesBefore = t.snapshot().files.map(_.path).toSet
    t.setTblProperties(Map(RT))
    val snap = t.snapshot()
    assert(snap.files.map(_.path).toSet === filesBefore, "no data rewrite")
    assert(snap.files.forall(_.baseRowId.isDefined), "backfilled")
    assert(snap.protocol.writerFeatures
      .contains(LakeProtocol.FEATURE_ROW_TRACKING))
    assert(idMap(t).keySet === (0L until 8L).toSet)
  }

  test("row-id backfill commits are invisible to CDF and streams") {
    // enabling row tracking on an existing table re-adds every live
    // file (no RemoveFile, no row changed) in its own "ROW ID
    // BACKFILL" commit; change-feed and streaming consumers must
    // classify it as metadata-only, not a whole-table insert
    val path = tablePath("rt_cdf_stream")
    LakeWriter.write(spark.range(100L).select(col("id"))
      .coalesce(2), path)                                     // v0
    LakeTable.forPath(spark, path).setTblProperties(Map(RT))  // v1 + v2
    LakeWriter.write(spark.range(100L, 150L).select(col("id"))
      .coalesce(1), path)                                     // v3
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().files.forall(_.baseRowId.isDefined))
    val cdf = t.changes(0)
    assert(cdf.count() === 150L)
    assert(cdf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap === Map("insert" -> 150L))
    val out = tmpDir("rt-cdf-sink")
    val q = spark.readStream.format("lake").load(path)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$out/ckpt")
      .option("path", s"$out/data")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$out/data").count() === 150L,
      "row-id backfill commits must not re-deliver rows to streams")
    // idempotent: everything covered, no second commit
    assert(t.backfillRowIds() === 0)
  }

  test("streaming withRowIds: batch ids delivered, stable across OPTIMIZE") {
    val src = tablePath("rt_stream_src")
    val out = tmpDir("rt-stream-out")
    LakeWriter.write(docs(4), src, properties = Map(RT))
    LakeWriter.write(docs(4, from = 4), src, mode = "append")
    def drain(): Unit = {
      val q = spark.readStream.format("lake")
        .option("withRowIds", "true").load(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/ckpt")
        .option("path", s"$out/data")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val t = LakeTable.forPath(spark, src)
    val batchIds = idMap(t)
    val streamed = spark.read.parquet(s"$out/data")
      .select(col(RowTracking.COL), col("id")).as[(Long, Long)]
      .collect().toMap
    assert(streamed === batchIds, "streamed ids == batch ids")
    // OPTIMIZE is a metadata/rewrite commit the source rejects as a
    // change commit unless skipped; a subsequent APPEND's fresh rows
    // must still stream with fresh ids
    t.compact()
    LakeWriter.write(docs(4, from = 8), src, mode = "append")
    val q2 = spark.readStream.format("lake")
      .option("withRowIds", "true").option("skipChangeCommits", "true")
      .load(src)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$out/ckpt")
      .option("path", s"$out/data")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val all = spark.read.parquet(s"$out/data")
      .select(col(RowTracking.COL), col("id")).as[(Long, Long)]
      .collect().toMap
    assert(all.size === 12, "8 original + 4 fresh rows, no re-delivery")
    assert(all.filter(_._2 < 8) === batchIds,
      "pre-OPTIMIZE rows keep their streamed ids")
  }

  test("hwm domain and baseRowIds survive a checkpoint") {
    val path = tablePath("rt_checkpoint")
    LakeWriter.write(docs(2), path, properties = Map(RT))
    // cross CHECKPOINT_INTERVAL commits so replay starts from the
    // checkpoint, not version 0
    (1 to LakeLog.CHECKPOINT_INTERVAL.toInt + 1).foreach { i =>
      LakeWriter.write(docs(2, from = 2 * i), path, mode = "append")
    }
    val t = LakeTable.forPath(spark, path)
    val snap = t.snapshot()
    val total = 2 * (LakeLog.CHECKPOINT_INTERVAL.toInt + 2)
    assert(RowTracking.highWaterMark(snap.domains) === total.toLong)
    assert(snap.files.forall(_.baseRowId.isDefined))
    assert(idMap(t).keySet === (0L until total.toLong).toSet)
  }

  test("checkpoint parquet roundtrips DomainMetadata and baseRowId") {
    // sidecar encoding: baseRowId present and absent
    val dir = java.nio.file.Files.createTempDirectory("rt_ckpt")
    val target = dir.resolve("part.parquet")
    val adds = Seq(
      AddFile("p=1/f.parquet", Map("p" -> "1"), size = 10L,
        numRecords = 7L, baseRowId = Some(35L)),
      AddFile("p=1/g.parquet", Map("p" -> "1"), size = 10L,
        numRecords = 7L))
    CheckpointParquet.write(target, adds.iterator)
    assert(CheckpointParquet.read(target) === adds)
    LakeWriter.deleteRecursively(dir)
    // a manifest checkpoint of a row-tracked table: the hwm domain
    // rides the manifest head, every sidecar AddFile keeps its
    // baseRowId — both equal to the raw version-file fold
    val prev = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 2
    try {
      val path = tablePath("rt_manifest")
      LakeWriter.write(docs(2), path, properties = Map(RT))
      (1 to LakeLog.CHECKPOINT_INTERVAL.toInt).foreach { i =>
        LakeWriter.write(docs(2, from = 2 * i), path, mode = "append")
      }
      val log = new LakeLog(path)
      val v = LakeLog.CHECKPOINT_INTERVAL
      val bases = scala.collection.mutable.Map.empty[String, Option[Long]]
      var hwm = Map.empty[String, String]
      (0L to v).foreach(log.readVersion(_).foreach {
        case a: AddFile => bases(a.path) = a.baseRowId
        case r: RemoveFile => bases.remove(r.path)
        case d: DomainMetadata if d.domain == RowTracking.DOMAIN =>
          hwm = d.configuration
        case _ =>
      })
      val (head, refs) = log.readManifest(log.manifestFile(v))
      assert(head.collect { case d: DomainMetadata => d }
        .filter(_.domain == RowTracking.DOMAIN)
        .map(_.configuration) === Seq(hwm))
      assert(hwm.contains(RowTracking.HWM_KEY))
      val sidecarBases = refs.flatMap(r => CheckpointParquet.read(
        LogStore.current.fileReader(log.logDir.resolve(r.path))))
        .map(a => a.path -> a.baseRowId).toMap
      assert(sidecarBases === bases.toMap)
      assert(sidecarBases.values.forall(_.isDefined))
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prev
  }

  test("concurrent appends never carve overlapping id blocks") {
    val path = tablePath("rt_race")
    LakeWriter.write(docs(1), path, properties = Map(RT))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        LakeWriter.write(docs(5, from = 100 * i), path, mode = "append")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t = LakeTable.forPath(spark, path)
    val snap = t.snapshot()
    val ranges = snap.files.map(f =>
      (f.baseRowId.get, f.baseRowId.get + f.numRecords)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 <= s2, "blocks disjoint")
      case _ =>
    }
    assert(RowTracking.highWaterMark(snap.domains) === 21L)
    assert(idMap(t).size === 21)
  }

  test("row-id column is invisible to normal reads") {
    val path = tablePath("rt_invisible")
    LakeWriter.write(docs(3), path, properties = Map(RT))
    LakeWriter.write(docs(3, from = 3), path, mode = "append")
    val t = LakeTable.forPath(spark, path)
    t.compact() // writes materialized _lake_row_id into the new files
    assert(t.snapshot().files.size === 1, "compaction ran")
    assert(!t.toDF.schema.fieldNames.contains(RowTracking.COL))
    assert(t.toDF.count() === 6)
  }
}
