package graft.lake

/** Resume the DOWNSTREAM [[MetaScaleBench]] legs against an existing
  * synthetic table directory — the recovery path when the full run
  * dies mid-way through the physical-bodies setup (observed at 10⁷:
  * the bodies exhausted the filesystem's inodes with the earlier
  * legs already measured). Physical-body creation is idempotent
  * (FileAlreadyExists is caught), so the setup continues where it
  * stopped; every leg and require below is copied VERBATIM from
  * [[MetaScaleBench]] so the numbers are comparable.
  *
  * Run: `SPARK_DRIVER_MEM=48g sbt "runMain graft.lake.MetaScaleResume
  * <dir> <nFiles>"` — the dir must hold the post-OVERWRITE state (the
  * leg order of the main bench).
  */
object MetaScaleResume {
  private def rssMb(): Long = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmRSS"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    finally s.close()
  }

  private def timed[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    printf("%-28s %8.2f s   rss=%d MB%n", label,
      (System.nanoTime() - t0) / 1e9, rssMb())
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nFiles = args(1).toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("MetaScaleResume").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new LakeLog(dir)
    require(log.exists, s"$dir is not a lake table")
    // the main bench dies after the OVERWRITE commit: target = the
    // version before it
    val preOverwriteV = log.latestVersion - 1
    println(s"  resuming at v${log.latestVersion}, " +
      s"restore target v$preOverwriteV")
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    timed(s"create ${nFiles / 1000}k physical bodies (setup)") {
      val tp = dir
      val paths = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, log, preOverwriteV).get.pathSizes().map(_._1)
      spark.sparkContext.parallelize(paths, 64).foreachPartition { it =>
        it.foreach { rel =>
          val p = java.nio.file.Paths.get(tp, rel)
          java.nio.file.Files.createDirectories(p.getParent)
          try { java.nio.file.Files.createFile(p); () }
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
      }
    }
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    timed(s"RESTORE ${nFiles / 1000}k re-adds (streamed)") {
      def usedHeap(): Long = {
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
        val rt = Runtime.getRuntime
        rt.totalMemory() - rt.freeMemory()
      }
      val fr0 = Snapshot.fullReplays.get()
      val h0 = usedHeap()
      LakeTable.forPath(spark, dir).restoreTo(preOverwriteV)
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val dh = usedHeap() - h0
      printf("  restore heap delta: %.1f MB%n", dh / 1e6)
      require(Snapshot.fullReplays.get() == fr0,
        "streamed RESTORE replayed the full file list")
      require(dh < math.max(256L * 1024 * 1024, nFiles.toLong * 400),
        s"streamed RESTORE held $dh bytes on the driver")
    }
    val restoredV = locally {
      val v = log.latestVersion
      val readds = log.readVersion(v).count(_.isInstanceOf[AddFile])
      val bytes = LogStore.current.stat(log.versionFile(v))
        .map(_._1).getOrElse(-1L)
      printf("  restore re-added %d files at v%d (version file %.2f GB)%n",
        readds, v, bytes / 1e9)
      require(readds >= nFiles,
        s"restore re-added only $readds of $nFiles")
      v
    }
    Snapshot.clearCacheForTest()
    timed("incremental ckpt cadence (cold)") {
      val fr0 = Snapshot.fullReplays.get()
      val from = log.latestVersion + 1
      val to = ((from / 10) + 1) * 10
      (from to to).foreach { v =>
        log.commit(v, Seq(CommitInfo(v + 1L, "APPEND", Map.empty),
          AddFile(s"p=0/cad$v.parquet", Map("p" -> "0"), 1024L, 1L,
            Map("id" -> "0"), Map("id" -> "0"), Map("id" -> 0L))))
      }
      require(log.latestCheckpointFilesAtOrBefore(to).exists(_._1 == to),
        "cadence checkpoint missing")
      require(Snapshot.fullReplays.get() == fr0,
        "incremental cadence replayed the full file list")
    }
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    locally {
      import org.apache.spark.sql.execution.streaming.SerializedOffset
      def usedHeap(): Long = {
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
        val rt = Runtime.getRuntime
        rt.totalMemory() - rt.freeMemory()
      }
      val chunkFiles = math.max(nFiles / 10, 1)
      val src = new graft.sources.LakeStreamSource(spark, dir,
        Map("maxFilesPerTrigger" -> chunkFiles.toString))
      val fr0 = Snapshot.fullReplays.get()
      val h0 = usedHeap()
      timed("stream init chunk 1 (cold)") {
        src.getBatch(Some(SerializedOffset(s"$restoredV#0")),
          SerializedOffset(s"$restoredV#$chunkFiles"))
      }
      timed("stream init chunk 2 (warm)") {
        src.getBatch(Some(SerializedOffset(s"$restoredV#$chunkFiles")),
          SerializedOffset(s"$restoredV#${2L * chunkFiles}"))
      }
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val dh = usedHeap() - h0
      printf("  stream chunk-state heap delta: %.1f MB%n", dh / 1e6)
      require(Snapshot.fullReplays.get() == fr0,
        "chunked initial snapshot replayed the full file list")
      require(dh < math.max(192L * 1024 * 1024, nFiles.toLong * 320),
        s"chunked initial snapshot held $dh bytes on the driver")
    }
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    locally {
      def usedHeap(): Long = {
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
        val rt = Runtime.getRuntime
        rt.totalMemory() - rt.freeMemory()
      }
      val fr0 = Snapshot.fullReplays.get()
      val liveBefore = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, log, log.latestVersion).get.numFiles
      val h0 = usedHeap()
      timed(s"streamed partition DELETE (~${nFiles / 2000}k files)") {
        LakeTable.forPath(spark, dir).delete("p < 500")
      }
      val dh = usedHeap() - h0
      printf("  streamed delete heap delta: %.1f MB%n", dh / 1e6)
      require(Snapshot.fullReplays.get() == fr0,
        "streamed partition DELETE replayed the full file list")
      val v = log.latestVersion
      val actions = log.readVersion(v)
      require(!actions.exists(_.isInstanceOf[AddFile]),
        "the partition DELETE committed AddFiles (not metadata-only)")
      val removed = actions.count(_.isInstanceOf[RemoveFile])
      println(s"  streamed delete tombstoned $removed files at v$v")
      require(removed >= nFiles / 2,
        s"streamed delete tombstoned only $removed of ~${nFiles / 2}")
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val liveAfter = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, log, v).get.numFiles
      require(liveAfter == liveBefore - removed,
        s"live set $liveBefore -> $liveAfter after $removed removes")
      require(dh < math.max(192L * 1024 * 1024, nFiles.toLong * 100),
        s"streamed partition DELETE held $dh bytes on the driver")
    }
    spark.stop()
  }
}
