package graft.lake

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Work kept off the driver: footer stats read by the write tasks,
  * parallel vacuum deletes, distributed history() reads. Each test
  * crosses the respective threshold so the distributed path actually
  * runs.
  */
class LakeDistributedSuite extends SparkSuite {
  import spark.implicits._

  test("write tasks gather each file's footer stats (>= 8 files)") {
    val path = tablePath("dist-stats")
    val res = LakeWriter.write((1L to 1000L)
      .map(i => (i, if (i % 7 == 0) None else Some(s"s$i")))
      .toDF("id", "s").repartition(10), path)
    assert(res.added.size >= 8)
    // every committed AddFile carries exactly its file's footer stats
    val snap = LakeTable.forPath(spark, path).snapshot()
    assert(snap.files.map(_.path).toSet === res.added.map(_.path).toSet)
    snap.files.foreach { a =>
      val (rows, mins, maxs, nulls) =
        ParquetFooters.stats(spark, Paths.get(path, a.path).toString)
      assert(a.numRecords === rows, a.path)
      assert(a.minValues === mins, a.path)
      assert(a.maxValues === maxs, a.path)
      assert(a.nullCounts === nulls, a.path)
    }
    assert(snap.files.map(_.numRecords).sum === 1000L)
    assert(snap.files.map(_.nullCounts("s")).sum === 142L)
    // and data skipping still works off those stats
    assert(snap.files.map(_.minValues("id").toLong).min === 1L)
  }

  test("write protocol: an aborted attempt leaves nothing, the committed one lands") {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.{JobContextImpl, TaskAttemptContextImpl}
    import org.apache.spark.internal.io.FileNameSpec
    val root = Paths.get(tablePath("dist-attempts"))
    // a real parquet body for each attempt to "write": task commit
    // reads its footer
    val src = tmpDir("dist-attempts-src")
    (1L to 5L).toDF("id").coalesce(1).write.mode("overwrite").parquet(src)
    val body = LakeWriter.walkParquet(Paths.get(src)).head
    val conf = spark.sparkContext.hadoopConfiguration
    val jobId = new JobID("attempts", 0)
    val job = new JobContextImpl(conf, jobId)
    val protocol = new DirectWriteProtocol(root.toString, bucketed = false)
    protocol.setupJob(job)
    // two attempts of task 3, each writing one file plus Hadoop's crc
    def runAttempt(n: Int): (TaskAttemptContextImpl, java.nio.file.Path) = {
      val ctx = new TaskAttemptContextImpl(conf,
        new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 3), n))
      protocol.setupTask(ctx)
      val f = Paths.get(protocol.newTaskTempFile(ctx, Some("k=1"),
        FileNameSpec("", ".c000.snappy.parquet")))
      Files.createDirectories(f.getParent)
      Files.copy(body, f)
      Files.write(f.resolveSibling(s".${f.getFileName}.crc"), Array[Byte](1))
      (ctx, f)
    }
    val (first, f0) = runAttempt(0)
    protocol.abortTask(first)
    val (second, f1) = runAttempt(1)
    assert(f0 != f1, "attempts of one task must not share a file name")
    val msg = protocol.commitTask(second)
    protocol.onTaskCommit(msg)
    protocol.commitJob(job, Seq(msg))
    val rel = root.relativize(f1).toString
    assert(protocol.added.map(_.path) === Seq(rel))
    val add = protocol.added.head
    assert(add.numRecords === 5L && add.partitionValues === Map("k" -> "1"))
    assert(add.minValues === Map("id" -> "1") && add.size === Files.size(f1))
    // on disk: the committed attempt's file alone, no crc sibling
    val s = Files.walk(root)
    val onDisk = try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet finally s.close()
    assert(onDisk === Set(rel))
  }

  test("history() over 128+ commits reads the log distributed") {
    val path = tablePath("dist-hist")
    LakeWriter.write(Seq(1L).toDF("id").coalesce(1), path) // v0, real
    val log = new LakeLog(path)
    (1L to 140L).foreach { v =>
      log.commit(v, Seq(CommitInfo(1000000L + v, "APPEND",
        Map("i" -> v.toString))))
    }
    // drop the aggregated sidecars: this test exercises the
    // pre-sidecar fallback, which must go distributed past the
    // threshold instead of a serial driver loop
    val s = Files.list(Paths.get(path, LakeLog.LOG_DIR))
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".history.json"))
      .foreach(Files.delete)
    finally s.close()
    val t = LakeTable.forPath(spark, path)
    val hist = t.history()
    assert(hist.count() === 141L)
    // newest first, versions intact
    val versions = hist.select("version").as[Long].collect()
    assert(versions.head === 140L && versions.last === 0L)
    assert(versions.toSeq === versions.toSeq.sorted.reverse)
  }

  test("history() on a checkpointed 200-commit table reads only the tail") {
    val path = tablePath("ckpt-hist")
    LakeWriter.write(Seq(1L).toDF("id").coalesce(1), path) // v0, real
    val log = new LakeLog(path)
    (1L to 200L).foreach { v =>
      log.commit(v, Seq(CommitInfo(2000000L + v, "APPEND",
        Map("i" -> v.toString))))
    }
    // Prove O(tail): delete the version files the sidecar covers —
    // if history() tried to read them it would throw. Only the files
    // after the last checkpoint (at v200, so none) may be touched.
    (1L to 195L).foreach(v => Files.delete(log.versionFile(v)))
    val hist = LakeTable.forPath(spark, path).history()
    assert(hist.count() === 201L)
    val versions = hist.select("version").as[Long].collect()
    assert(versions.head === 200L && versions.last === 0L)
    assert(versions.toSeq === versions.toSeq.sorted.reverse)
    // entries carry the right audit payload, not blanks
    val ops = hist.select("operation").distinct()
      .as[String].collect().toSet
    assert(ops === Set("APPEND", "WRITE") ||
      ops.contains("APPEND"), ops.toString)
  }

  test("old checkpoints/history sidecars cleaned up; newest retained") {
    val path = tablePath("aux-clean")
    LakeWriter.write(Seq(1L).toDF("id").coalesce(1), path) // v0
    val log = new LakeLog(path)
    (1L to 50L).foreach { v =>
      log.commit(v, Seq(CommitInfo(3000000L + v, "APPEND",
        Map("i" -> v.toString))))
    }
    def auxVersions(suffix: String): Set[Long] = {
      val s = Files.list(Paths.get(path, LakeLog.LOG_DIR))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong).toSet
      finally s.close()
    }
    // only the newest RETAINED_AUX of each remain
    assert(auxVersions(".checkpoint.json") === Set(30L, 40L, 50L))
    assert(auxVersions(".history.json") === Set(30L, 40L, 50L))
    val t = LakeTable.forPath(spark, path)
    // time travel BELOW the oldest retained checkpoint still works:
    // replay falls back to the (never deleted) version files
    assert(t.asOf(5).count() === 1L)
    // and history is still complete through the newest sidecar
    assert(t.history().count() === 51L)
  }

  test("timestamp time travel on a checkpointed 200-commit table is O(tail)") {
    val path = tablePath("ckpt-ts")
    LakeWriter.write(Seq(1L).toDF("id").coalesce(1), path) // v0, real
    val log = new LakeLog(path)
    // FUTURE-dated synthetic stamps: strictly increasing, so the
    // in-commit-timestamp monotonicity clamp stores them verbatim
    // (backdated stamps would be rewritten to prev+1 — that behavior
    // has its own test in LakeCoreSuite)
    val base = System.currentTimeMillis() + 86400000L
    (1L to 200L).foreach { v =>
      log.commit(v, Seq(CommitInfo(base + 10L * v, "APPEND",
        Map("i" -> v.toString))))
    }
    // Prove O(tail): the history sidecar at v200 covers every commit,
    // so mapping timestamp->version must not replay the log. Deleting
    // the covered version files makes any replay throw...
    (1L to 195L).foreach(v => Files.delete(log.versionFile(v)))
    val t = LakeTable.forPath(spark, path)
    // ...and the counter pins the read count to the (empty) tail.
    LakeLog.readVersionCalls.set(0L)
    assert(t.versionAtTimestamp(base + 1370L) === 137L) // exact commit hit
    assert(t.versionAtTimestamp(base + 1375L) === 137L) // between commits
    assert(t.versionAtTimestamp(base + 2005L) === 200L) // past the last
    intercept[IllegalArgumentException](t.versionAtTimestamp(42L))
    assert(LakeLog.readVersionCalls.get() <= 5L,
      s"timestamp travel replayed the log: ${LakeLog.readVersionCalls.get()}")
    // the mapped version still READS correctly through the checkpoint
    assert(t.asOfTimestamp(base + 2000L).count() === 1L)
  }

  test("vacuum on a checkpointed 200-commit table reads only the tail") {
    val path = tablePath("ckpt-vac")
    Files.createDirectories(Paths.get(path))
    val adds = (0 until 3).map { i =>
      val rel = f"part-$i%05d.parquet"
      Files.write(Paths.get(path, rel), Array[Byte](1, 2, 3))
      AddFile(rel, Map.empty, 3L, 1L)
    }
    val log = new LakeLog(path)
    log.commit(0L, Seq(
      CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 1L)) ++ adds)
    // v1 tombstones two of the three, long outside any retention
    log.commit(1L, Seq(CommitInfo(2L, "DELETE", Map.empty)) ++
      adds.tail.map(a => RemoveFile(a.path, 2L)))
    (2L to 199L).foreach { v =>
      log.commit(v, Seq(CommitInfo(2000000L + v, "APPEND",
        Map("i" -> v.toString))))
    }
    // crashed-MERGE debris: an orphaned scratch dir with an old file
    val staging = Paths.get(path, ".staging-mrg-dead")
    Files.createDirectories(staging)
    val orphan = staging.resolve("part-00000.parquet")
    Files.write(orphan, Array[Byte](9, 9))
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    // checkpoint+sidecar live at v190: versions before that must not
    // be read — delete them so a full replay would throw. (The aged
    // prefix is usually ALREADY gone: these synthetic commit
    // timestamps are ancient, so round-9 log retention swept the
    // pre-checkpoint files at commit time — hence deleteIfExists.)
    (1L to 190L).foreach(v => Files.deleteIfExists(log.versionFile(v)))
    Files.deleteIfExists(log.versionFile(0L))
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    LakeLog.readVersionCalls.set(0L)
    val deleted = try LakeTable.forPath(spark, path).vacuum(0.0)
    finally spark.conf.unset(LakeTable.RETENTION_CHECK_KEY)
    // tail is 191..199 (+ the vacuum commit's own checkpoint write);
    // a full 0..199 replay would both throw and blow this bound
    assert(LakeLog.readVersionCalls.get() <= 60L,
      s"vacuum replayed the log: ${LakeLog.readVersionCalls.get()}")
    // expired tombstoned files are gone, the live file stays
    assert(!Files.exists(Paths.get(path, adds(1).path)))
    assert(!Files.exists(Paths.get(path, adds(2).path)))
    assert(Files.exists(Paths.get(path, adds.head.path)))
    // and the orphaned staging debris was swept, dir included
    assert(!Files.exists(orphan) && !Files.exists(staging))
    assert(deleted.contains(".staging-mrg-dead/part-00000.parquet"))
  }

  test("vacuum protects files tombstoned inside the retention window") {
    val path = tablePath("vac-protect")
    LakeWriter.write(Seq(1L, 2L).toDF("id").coalesce(1), path) // v0
    val fileA = LakeWriter.walkParquet(Paths.get(path)).head
    // ancient by mtime — only the in-window tombstone protects it
    Files.setLastModifiedTime(fileA,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    LakeTable.forPath(spark, path).delete("id >= 1") // v1: removes fileA now
    val deleted = LakeTable.forPath(spark, path).vacuum(1000.0)
    assert(deleted.isEmpty, deleted.toString)
    assert(Files.exists(fileA))
    // time travel inside the window still reads the protected file
    assert(LakeTable.forPath(spark, path).asOf(0).count() === 2L)
  }

  test("vacuum protects tombstones of a CommitInfo-less commit (mtime fallback)") {
    val path = tablePath("vac-rawcommit")
    LakeWriter.write(Seq(1L, 2L).toDF("id").coalesce(1), path) // v0
    val fileA = LakeWriter.walkParquet(Paths.get(path)).head
    // ancient by mtime — only in-window tombstone protection saves it
    Files.setLastModifiedTime(fileA,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    // raw protocol append tombstoning the file, with NO CommitInfo:
    // invisible to the sidecar/CommitInfo scan, so the protection pass
    // must date it from the version file's modification time
    val root = Paths.get(path).toAbsolutePath.normalize
    val rel = root.relativize(fileA.toAbsolutePath.normalize).toString
    new LakeLog(path).commit(1L,
      Seq(RemoveFile(rel, System.currentTimeMillis())))
    val deleted = LakeTable.forPath(spark, path).vacuum(1000.0)
    assert(deleted.isEmpty, deleted.toString)
    assert(Files.exists(fileA))
    // the raw commit is also reachable by timestamp travel (same
    // mtime fallback), consistent with changes()' _commit_timestamp
    assert(LakeTable.forPath(spark, path)
      .versionAtTimestamp(System.currentTimeMillis() + 60000L) >= 1L)
  }

  test("vacuum tolerates candidates vanishing between listing and stat") {
    val path = tablePath("vac-stat-race")
    Files.createDirectories(Paths.get(path))
    val log = new LakeLog(path)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 1L)))
    // expired orphan debris: candidates for BOTH concurrent vacuums,
    // so each thread's stat loop races the other's deletes — the
    // pre-fix behavior was a NoSuchFileException aborting the vacuum
    val old = java.nio.file.attribute.FileTime.fromMillis(1000L)
    val orphans = (0 until 1500).map { i =>
      val p = Paths.get(path, f"scrap-$i%05d/part.bin")
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte](1))
      Files.setLastModifiedTime(p, old)
      Files.setLastModifiedTime(p.getParent, old)
      p
    }
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    try {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (1 to 2).map { _ =>
        val th = new Thread(() => {
          try { barrier.await(); LakeTable.forPath(spark, path).vacuum(0.0); () }
          catch { case t: Throwable => errs.add(t); () }
        })
        th.start(); th
      }
      threads.foreach(_.join())
      assert(errs.isEmpty,
        errs.asScala.map(_.toString).mkString("; "))
      assert(orphans.forall(p => !Files.exists(p)))
    } finally spark.conf.unset(LakeTable.RETENTION_CHECK_KEY)
  }

  test("deep clone copies 64+ files distributed") {
    val path = tablePath("dist-clone-src")
    LakeWriter.write((1L to 700L).toDF("id").repartition(70), path)
    val dst = tablePath("dist-clone-dst")
    val clone = LakeTable.forPath(spark, path).deepCloneTo(dst)
    assert(clone.snapshot().files.size ===
      LakeTable.forPath(spark, path).snapshot().files.size)
    assert(clone.toDF.count() === 700L)
    // independence: drop the source, the clone still reads
    LakeWriter.deleteRecursively(Paths.get(path))
    assert(LakeTable.forPath(spark, dst).toDF.count() === 700L)
  }

  test("vacuum's candidate LISTING distributes above the threshold") {
    // same candidate set from the driver walk and the partition-
    // parallel walk, and the distributed path actually deletes it
    val path = tablePath("dist-vac-list")
    Files.createDirectories(Paths.get(path))
    val adds = (0 until 40).map { i =>
      val rel = f"p=${i % 4}/part-$i%05d.parquet"
      val abs = Paths.get(path, rel)
      Files.createDirectories(abs.getParent)
      Files.write(abs, Array[Byte](1, 2, 3))
      AddFile(rel, Map("p" -> (i % 4).toString), 3L, 1L)
    }
    // top-level orphan debris (a file with no partition dir), aged out
    Files.write(Paths.get(path, "orphan.bin"), Array[Byte](9))
    Files.setLastModifiedTime(Paths.get(path, "orphan.bin"),
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    val log = new LakeLog(path)
    log.commit(0L, Seq(
      CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT, p STRING", Seq("p"), 1L)) ++ adds)
    log.commit(1L, Seq(CommitInfo(2L, "DELETE", Map.empty)) ++
      adds.tail.map(a => RemoveFile(a.path, 2L)))
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    val prevThreshold = LakeTable.DISTRIBUTED_VACUUM_LIST_MIN_FILES
    try {
      val t = LakeTable.forPath(spark, path)
      val localSet = t.vacuum(0.0, dryRun = true)
      assert(localSet.size === 40) // 39 tombstoned + the orphan
      LakeTable.DISTRIBUTED_VACUUM_LIST_MIN_FILES = 1 // force distributed
      val distSet = t.vacuum(0.0, dryRun = true)
      assert(distSet === localSet,
        "distributed listing found a different candidate set")
      val deleted = t.vacuum(0.0)
      assert(deleted === localSet)
      assert(Files.exists(Paths.get(path, adds.head.path)))
      assert(adds.tail.forall(a => !Files.exists(Paths.get(path, a.path))))
      assert(!Files.exists(Paths.get(path, "orphan.bin")))
    } finally {
      LakeTable.DISTRIBUTED_VACUUM_LIST_MIN_FILES = prevThreshold
      spark.conf.unset(LakeTable.RETENTION_CHECK_KEY)
    }
  }

  test("vacuum deletes 64+ tombstoned files distributed") {
    val path = tablePath("dist-vac")
    Files.createDirectories(Paths.get(path))
    val adds = (0 until 70).map { i =>
      val rel = f"part-$i%05d.parquet"
      Files.write(Paths.get(path, rel), Array[Byte](1, 2, 3))
      AddFile(rel, Map.empty, 3L, 1L)
    }
    val log = new LakeLog(path)
    log.commit(0L, Seq(
      CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 1L)) ++ adds)
    // tombstone everything long ago (timestamp 2 ms) except one file
    log.commit(1L, Seq(CommitInfo(2L, "DELETE", Map.empty)) ++
      adds.tail.map(a => RemoveFile(a.path, 2L)))
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    try {
      val deleted = LakeTable.forPath(spark, path).vacuum(0.0)
      assert(deleted.size === 69)
      assert(Files.exists(Paths.get(path, adds.head.path)))
      assert(adds.tail.forall(a => !Files.exists(Paths.get(path, a.path))))
    } finally spark.conf.unset(LakeTable.RETENTION_CHECK_KEY)
  }
}
