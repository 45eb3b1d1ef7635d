package graft.lake



/** Driver-side metadata scale benchmark (VERDICT r11 #6): the
  * structures a 100 TB table (~10⁶ data files) actually stresses are
  * the LOG — checkpoint write, snapshot replay, file pruning, and
  * metadata-only aggregation — not the data path. This main builds a
  * synthetic 1M-AddFile table state (1000 partitions, per-file id
  * ranges and null counts, exactly the shape LakeWriter records),
  * drives it to a manifest + parquet sidecar checkpoint, and measures each
  * leg cold. The log layer is plain JVM — a 1000-executor cluster
  * still funnels commits and planning through one driver doing
  * exactly this work; the tiny local session below exists only
  * because FilePruner parses its filter string through Catalyst.
  *
  * Run: `sbt "runMain graft.lake.MetaScaleBench [nFiles]"`; results are
  * recorded in SCALE.md ("metadata at 10⁶ files").
  */
object MetaScaleBench {

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
    val nFiles = args.headOption.map(_.toInt).getOrElse(1000000)
    // local[8]: the DRIVER-side legs (commit, replay, prune) are plain
    // JVM and ignore it; the columnar-index legs run their part scans
    // as Spark jobs, and decode parallelism across checkpoint parts is
    // exactly what that path buys on a cluster.
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("MetaScaleBench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val perCommit = 100000
    val dir = java.nio.file.Files
      .createTempDirectory("graft-metascale").toString
    val log = new LakeLog(dir)
    // Realistic stat width: LakeWriter records min/max/nullCount for
    // every leaf column, so a 10⁶-file table of a TPC-H-ish 12-column
    // schema carries ~12 entries per stat map per file — the shape the
    // ~5 GB/10⁶-file driver number (SCALE.md) actually comes from. A
    // 1-column fixture would flatter or hide the representation cost
    // either way.
    val dataCols = Seq("id", "k1", "k2", "qty", "price", "disc", "tax",
      "flag", "status", "shipdate", "commitdate")
    val schemaDDL = "id BIGINT, " +
      dataCols.drop(1).map(c => s"$c STRING").mkString(", ") + ", p INT"
    log.commit(0L, Seq(
      CommitInfo(1L, "CREATE", Map.empty),
      Metadata(schemaDDL, Seq("p"), 1L),
      Protocol()))
    def addFor(i: Int): AddFile = {
      val mins = dataCols.map {
        case "id" => "id" -> (i.toLong * 100).toString
        case c => c -> s"${c}_${i % 7}min"
      }.toMap
      val maxs = dataCols.map {
        case "id" => "id" -> (i.toLong * 100 + 99).toString
        case c => c -> s"${c}_${i % 7}max"
      }.toMap
      AddFile(s"p=${i % 1000}/f$i.parquet",
        Map("p" -> (i % 1000).toString),
        1024L * 1024 * 100, 100L, mins, maxs,
        dataCols.map(_ -> 0L).toMap)
    }
    val nCommits = (nFiles + perCommit - 1) / perCommit
    timed(s"commit ${nFiles / 1000}k adds") {
      (1 to nCommits).foreach { cNum =>
        val lo = (cNum - 1) * perCommit
        val hi = math.min(cNum * perCommit, nFiles)
        log.commit(cNum.toLong,
          CommitInfo(cNum + 1L, "APPEND", Map.empty) +:
            (lo until hi).map(addFor(_): Action))
      }
    }
    // versions above are below the 10-commit cadence for small runs;
    // force the checkpoint explicitly via tail commits to the cadence
    val tail = (nCommits + 1) to (((nCommits / 10) + 1) * 10)
    timed("cadence tail + checkpoint") {
      tail.foreach { v =>
        log.commit(v.toLong, Seq(
          CommitInfo(v + 1L, "APPEND", Map.empty),
          AddFile(s"p=0/tail$v.parquet", Map("p" -> "0"), 1024L, 1L,
            Map("id" -> "0"), Map("id" -> "0"), Map("id" -> 0L))))
      }
    }
    // steady-state ingest: ONE small commit against the now-huge
    // table, from a cold cache — the cost every incremental append
    // pays. Must be O(commit), never O(table): the metadata-light
    // parent replay (Snapshot.replayMeta) is what keeps it there.
    val tail2 = tail.lastOption.map(_.toLong)
      .getOrElse(nCommits.toLong) + 1
    Snapshot.clearCacheForTest()
    timed(s"100-add commit on ${nFiles / 1000}k-file table (cold)") {
      log.commit(tail2, CommitInfo(tail2 + 1L, "APPEND", Map.empty) +:
        (0 until 100).map { i =>
          AddFile(s"p=0/inc$i.parquet", Map("p" -> "0"), 1024L, 1L,
            Map("id" -> "0"), Map("id" -> "0"), Map("id" -> 0L)): Action
        })
    }
    // full write path (stage + commit) against the 10⁶-file table,
    // cold cache: APPEND is metadata-light since round 15 — this leg
    // must stay O(commit); before the change it replayed the full
    // file list (seconds + GBs) per append
    Snapshot.clearCacheForTest()
    timed(s"LakeWriter 100-row append on ${nFiles / 1000}k-file (cold)") {
      import org.apache.spark.sql.functions.lit
      val df = dataCols.drop(1)
        .foldLeft(spark.range(100).toDF("id"))(
          (d, c) => d.withColumn(c, lit(c)))
        .withColumn("p", lit(0))
      val fr0 = Snapshot.fullReplays.get()
      LakeWriter.write(df, dir)
      require(Snapshot.fullReplays.get() == fr0,
        "append replayed the full file list")
      ()
    }
    val latest = tail2 + 1
    // Columnar file index (round 14): plan point lookups WITHOUT a
    // resident file list. Runs BEFORE any full replay so the printed
    // RSS shows the columnar path's own footprint — the driver holds
    // the tail plus each query's survivors, never the 10⁶ AddFiles.
    // local[1] serializes the part scan; a cluster decodes parts in
    // parallel, so these times are the single-core ceiling.
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    val colIdx = timed("columnar index build (cold)") {
      graft.sources.ColumnarLakeFileIndex.tryBuild(spark, log, latest).get
    }
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      AttributeReference, EqualTo => CEq, GreaterThanOrEqual => CGe,
      LessThan => CLt, Literal => CLit}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val pAttr = AttributeReference("p", IntegerType)()
    val idAttr = AttributeReference("id", LongType)()
    timed("columnar listFiles p = 500") {
      val dirs = colIdx.listFiles(Seq(CEq(pAttr, CLit(500))), Nil)
      val n = dirs.map(_.files.size).sum
      require(n == nFiles / 1000, s"columnar partition prune listed $n")
    }
    println(s"  columnar candidates on driver: ${colIdx.lastCandidateCount}"
      + s" of $nFiles files")
    timed("columnar listFiles id range") {
      val dirs = colIdx.listFiles(Nil, Seq(CAnd(
        CGe(idAttr, CLit(1000000L)), CLt(idAttr, CLit(1010000L)))))
      val n = dirs.map(_.files.size).sum
      require(n > 0 && n <= 200, s"columnar stats prune listed $n")
    }
    println(s"  columnar candidates on driver: ${colIdx.lastCandidateCount}"
      + s" of $nFiles files")
    // Columnar DML planning leg (VERDICT r15 stretch): touched-file
    // discovery for a partition-scoped DELETE and the rewrite phase's
    // path-filtered AddFile fetch — both distributed, zero full
    // replays require-asserted, O(touched) driver state. This is the
    // DmlPlan machinery the engine's MERGE/UPDATE/DELETE run on.
    locally {
      val fr0 = Snapshot.fullReplays.get()
      val plan = new DmlPlan.Columnar(LakeTable.forPath(spark, dir), colIdx)
      val touched = timed("columnar DML discovery p = 500") {
        val (n, paths) = plan.partitionOnlyPaths("p = 500").get
        val t = paths().toSeq
        require(n == nFiles / 1000 && t.size == nFiles / 1000,
          s"partition-only DELETE discovery found $n counted, " +
          s"${t.size} streamed")
        t
      }
      timed("columnar addsForPaths (touched subset)") {
        val sub = plan.subset(touched)
        require(sub.files.size == nFiles / 1000,
          s"subset fetched ${sub.files.size}")
      }
      require(Snapshot.fullReplays.get() == fr0,
        "columnar DML planning replayed the full file list")
    }
    Snapshot.clearCacheForTest()
    val snap = timed("cold snapshot replay") { log.snapshot(latest) }
    println(s"  files in snapshot: ${snap.files.size}")
    // Snapshot HEAP leg (VERDICT r14 #1): retained bytes of the
    // materialized file list under the interned/compact AddFile
    // representation ([[Interned]]) vs the pre-round-15 shape —
    // per-file private key AND value strings (what the JSON/parquet
    // decoders produced per line before interning), standard hash
    // maps, boxed null counts. Three GC-pumped marks: interned = the
    // replayed snapshot's own delta; plain = the delta of a faithful
    // old-representation rebuild stacked on top (it shares only the
    // path strings with the snapshot — a bias AGAINST the interned
    // side, which carries them). Δ at 10⁶ files is GBs, far above
    // GC-measurement noise.
    locally {
      def usedHeap(): Long = {
        (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
        val rt = Runtime.getRuntime
        rt.totalMemory() - rt.freeMemory()
      }
      Snapshot.clearCacheForTest()
      var snapH: Snapshot = null
      val h0 = usedHeap()
      snapH = log.snapshot(latest)
      val h1 = usedHeap()
      val internedBytes = h1 - h0
      // the plain-representation rebuild exists to MEASURE the
      // interning win; at 10⁷ files it alone would be tens of GB —
      // past the comparison scale, report the interned number only
      if (nFiles <= 2000000) {
        def fresh(s: String) = if (s == null) null else new String(s)
        val plain = snapH.files.map { a =>
          a.copy(
            partitionValues = a.partitionValues.map { case (k, v) =>
              (fresh(k), fresh(v)) },
            minValues = a.minValues.map { case (k, v) =>
              (fresh(k), fresh(v)) },
            maxValues = a.maxValues.map { case (k, v) =>
              (fresh(k), fresh(v)) },
            nullCounts = a.nullCounts.map { case (k, v) =>
              (new String(k), v) })
        }.toVector
        val h2 = usedHeap()
        val plainBytes = h2 - h1
        printf("%-28s %8.1f MB plain  vs %8.1f MB interned  (%.1fx)%n",
          "snapshot heap (files)", plainBytes / 1e6, internedBytes / 1e6,
          plainBytes.toDouble / math.max(internedBytes, 1L))
        // keep both alive past the second measurement
        require(plain.size == snapH.files.size)
      } else {
        printf("%-28s %8.1f MB interned (plain rebuild skipped > 2M)%n",
          "snapshot heap (files)", internedBytes / 1e6)
        require(snapH.files.nonEmpty)
      }
    }
    timed("partition prune (1/1000)") {
      val hit = FilePruner.prune(snap, "p = 500")
      require(hit.size == nFiles / 1000,
        s"partition prune returned ${hit.size}")
    }
    timed("stats prune (range)") {
      val hit = FilePruner.prune(snap,
        "id >= 1000000 AND id < 1010000")
      require(hit.nonEmpty && hit.size <= 200,
        s"stats prune returned ${hit.size}")
    }
    timed("metadata-only COUNT(*)") {
      val n = snap.files.iterator.map(_.numRecords).sum
      require(n >= nFiles.toLong * 100, s"counted $n")
    }
    // second replay: warm OS cache, cold snapshot cache — the steady
    // state of a fresh driver planning against an old big table
    Snapshot.clearCacheForTest()
    timed("warm-fs snapshot replay") { log.snapshot(latest) }
    // Filesystem legs (VERDICT r14 #5, opt-in via the `fs` arg: they
    // create one physical file per AddFile first): VACUUM's candidate
    // listing — distributed over top-level partition directories
    // above [[LakeTable.DISTRIBUTED_VACUUM_LIST_MIN_FILES]] — timed
    // against FSCK's distributed existence probe, the posture the
    // listing was modeled on. Both are dry runs: the cost under
    // measurement is the 10⁶-entry walk/stat fan-out, not deletion.
    if (args.contains("fs")) {
      val tableDir = dir
      val paths = snap.files.map(_.path)
      timed(s"create ${paths.size / 1000}k physical files") {
        spark.sparkContext.parallelize(paths, 64).foreachPartition { it =>
          it.foreach { rel =>
            val p = java.nio.file.Paths.get(tableDir, rel)
            java.nio.file.Files.createDirectories(p.getParent)
            try { java.nio.file.Files.createFile(p); () }
            catch {
              case _: java.nio.file.FileAlreadyExistsException => ()
            }
          }
        }
      }
      val tbl = LakeTable.forPath(spark, dir)
      timed("fsck dry-run (probe)") {
        val missing = tbl.fsckRepair(dryRun = true)
        require(missing.isEmpty, s"fsck found ${missing.size} missing")
      }
      timed("vacuum dry-run (listing)") {
        val deletable = tbl.vacuum(dryRun = true)
        require(deletable.isEmpty,
          s"vacuum flagged ${deletable.size} live files")
      }
    }
    // OVERWRITE leg (VERDICT r15 #4) — LAST: it buries the live set.
    // The tombstones are O(live) Remove actions by definition, but
    // their paths must come from the columnar index's projection, not
    // a full replay materializing 10⁶ stats-bearing AddFiles on the
    // driver just to read their path fields.
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    timed(s"LakeWriter overwrite of ${nFiles / 1000}k-file table (cold)") {
      import org.apache.spark.sql.functions.lit
      val df = dataCols.drop(1)
        .foldLeft(spark.range(100).toDF("id"))(
          (d, c) => d.withColumn(c, lit(c)))
        .withColumn("p", lit(0))
      val fr0 = Snapshot.fullReplays.get()
      LakeWriter.write(df, dir, mode = "overwrite")
      require(Snapshot.fullReplays.get() == fr0,
        "overwrite tombstones replayed the full file list")
      ()
    }
    locally {
      val finalV = log.latestVersion
      val removes = log.readVersion(finalV)
        .count(_.isInstanceOf[RemoveFile])
      println(s"  overwrite tombstoned $removes files at v$finalV")
      require(removes >= nFiles,
        s"overwrite tombstoned only $removes of $nFiles+ live files")
    }
    // RESTORE leg (round 17): restore to the pre-overwrite version.
    // The target's entries ARE the re-add actions, but they stream to
    // the commit in bounded chunks through the columnar index — the
    // driver must hold neither the target's full AddFile list nor the
    // serialized commit. Heap delta is require-bounded far below the
    // interned full-list footprint, and no full replay may run.
    val preOverwriteV = log.latestVersion - 1
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    // the table's files are synthetic log entries; RESTORE's
    // vacuum-loss probe needs them physically present — create empty
    // bodies (distributed, not timed; paths via the columnar
    // projection so this setup itself replays nothing)
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
      // isolate the DESIGN-retained state from the soft-ref caches the
      // leg incidentally populated: under a large -Xmx, System.gc()
      // does not clear SoftReferences (they age by free-heap LRU), so
      // without this the delta measures cache accretion, not restore
      // state (observed: 178 MB "delta" at -Xmx48g where -Xmx8g
      // measures 0.9 MB for the same code)
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val dh = usedHeap() - h0
      printf("  restore heap delta: %.1f MB%n", dh / 1e6)
      require(Snapshot.fullReplays.get() == fr0,
        "streamed RESTORE replayed the full file list")
      // well under the ~700 B/file an interned resident list costs
      // (path lists and one in-flight chunk are the design budget)
      require(dh < math.max(256L * 1024 * 1024, nFiles.toLong * 400),
        s"streamed RESTORE held $dh bytes on the driver")
    }
    val restoredV = locally {
      val v = log.latestVersion
      val readds = log.readVersion(v).count(_.isInstanceOf[AddFile])
      // the restore commit is the table's biggest version file — at
      // 10⁷ re-adds it crosses the JVM's 2 GiB array bound, which the
      // LogStore's streaming prefix/readVersion paths exist for
      // (VERDICT r18 #5); record the size as evidence the read-back
      // above it worked at literal scale
      val bytes = LogStore.current.stat(log.versionFile(v))
        .map(_._1).getOrElse(-1L)
      printf("  restore re-added %d files at v%d (version file %.2f GB)%n",
        readds, v, bytes / 1e9)
      require(readds >= nFiles,
        s"restore re-added only $readds of $nFiles")
      v
    }
    // Incremental manifest cadence (round 17): the next checkpoint
    // boundary after the restore is the WORST case — every carried
    // sidecar is dirty (the overwrite tombstoned its paths, the
    // restore re-added them) — and must still be O(tail + slices),
    // never a full O(table) snapshot re-serialization, and must never
    // materialize the file list.
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
    // STREAMING chunked initial snapshot leg (round 17 stretch): a
    // rate-limited stream's first batches over the 10⁶-file table,
    // driven through the source's real getBatch path with pinned
    // "version#fileIndex" offsets (the suite's restart-replay shape).
    // The chunk INDEX is a (path, size) list built via the columnar
    // projection — never the interned AddFile list — and each chunk's
    // AddFiles arrive via addsForPaths, O(chunk) on the driver, with
    // the vacuum-loss probe fanning out as a Spark job. Zero full
    // replays and a heap budget far under the resident snapshot are
    // require-asserted.
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
      // same soft-cache isolation as the restore leg: the retained
      // state under test is the SOURCE's chunk index (src.initState),
      // not the snapshot/summary soft caches the two getBatch calls
      // warmed
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val dh = usedHeap() - h0
      printf("  stream chunk-state heap delta: %.1f MB%n", dh / 1e6)
      require(Snapshot.fullReplays.get() == fr0,
        "chunked initial snapshot replayed the full file list")
      // budget: the retained-by-design state measured at 10⁶ files —
      // the (path, size) chunk index (~170 B/file: the path strings
      // themselves plus two array slots; resident for the whole
      // initial sync) + BOTH delivered chunks' interned AddFiles
      // (2 × nFiles/10 × ~600 B ≈ 120 B/file here; one in-flight
      // chunk in production) + soft caches System.gc does not clear.
      // The line being defended is the ~600 B/file interned FULL list
      // the chunked path exists to avoid.
      require(dh < math.max(192L * 1024 * 1024, nFiles.toLong * 320),
        s"chunked initial snapshot held $dh bytes on the driver")
    }
    // Partition DELETE leg: a half-table partition-scoped DELETE whose
    // tombstones stream from the partition-filtered part scan straight
    // into the commit — the driver never enumerates the ~nFiles/2
    // matched paths. Requires: zero full replays, a metadata-only
    // commit (tombstones, no AddFile), heap bounded far under the
    // matched path list.
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
      // a prefetch window of path strings, never the matched set
      require(dh < math.max(192L * 1024 * 1024, nFiles.toLong * 100),
        s"streamed partition DELETE held $dh bytes on the driver")
    }
    LakeWriter.deleteRecursively(java.nio.file.Paths.get(dir))
    spark.stop()
  }
}

/** CHUNKED MERGE rewrite at file-count scale (round 19, VERDICT r18
  * #2) — its OWN main, not a MetaScaleBench leg: a rewrite needs REAL
  * parquet bodies (the metadata-only synthetic table cannot feed data
  * scans), and writing + scanning 10⁶ one-row files is data-path
  * work that wants local[32], while MetaScaleBench pins local[8] for
  * its driver-side decode comparisons.
  *
  * An end-to-end MERGE whose matched set is ~55% of the table:
  * discovery stays distributed, the touched count exceeds
  * [[LakeTable.STREAMED_REWRITE_MIN_FILES]] so the rewrite runs in
  * bounded path chunks with the staged actions spilling to
  * driver-local disk, and the commit streams tombstones + spilled
  * adds under the exact per-path conflict check. Requires: the
  * chunked path actually taken, the driver's path high-water mark at
  * O(chunk) — not O(touched) — zero full replays, and exact row
  * counts after the merge. The table is UNPARTITIONED so the rewrite
  * output stays one file per task (a 1000-way partition fan-out
  * would explode the output file count — an orthogonal layout
  * concern).
  *
  * Run: `SPARK_DRIVER_MEM=8g sbt "runMain graft.lake.MergeScaleBench
  * [nFiles]"`; results in SCALE.md.
  */
object MergeScaleBench {
  private def rssMb(): Long = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmRSS"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    finally s.close()
  }

  private def timed[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    printf("%-40s %8.2f s   rss=%d MB%n", label,
      (System.nanoTime() - t0) / 1e9, rssMb())
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("MergeScaleBench")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, lit}
    val nm = args.headOption.map(_.toInt).getOrElse(1000000)
    val batches = math.max(1, nm / 100000)
    val per = nm / batches
    // second arg: reuse an already-built table dir (the setup is the
    // dominant cost; a failed downstream leg must not force a rebuild)
    val mdir = args.drop(1).headOption.getOrElse {
      val d = java.nio.file.Files
        .createTempDirectory("graft-mergescale").toString
      timed(s"setup: write ${nm / 1000}k one-row files") {
        // one-row files WITHOUT one-task-per-file: the original
        // NOTE (r20 advice): setting session-global maxRecordsPerFile
        // assumes this bench owns the session single-threaded — any
        // concurrent write on the same session during this window
        // would shatter into one-row files. The bench mains run alone
        // in their own JVM, which is that assumption.
        // repartitionByRange(per, id) scheduled `per` (100k) write
        // tasks per batch — ~18 min/batch of pure task-scheduling on
        // local[32] (~3 h for 10⁶ files; the reason this measurement
        // stayed un-run through r19). FileFormatWriter rolls a new
        // file every `maxRecordsPerFile` rows, so 64 range-sorted
        // tasks emit the IDENTICAL set of one-row files (same rows,
        // one row per file) in minutes.
        val prev = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
        try {
          (0 until batches).foreach { b =>
            val df = spark.range(b.toLong * per, (b + 1).toLong * per, 1, 64)
              .toDF("id")
              .withColumn("p", (col("id") % 1000L).cast("int"))
              .withColumn("v", col("id") * 2)
              .repartitionByRange(64, col("id"))
              .sortWithinPartitions("id")
            LakeWriter.write(df, d)
          }
        } finally {
          prev match {
            case Some(v) =>
              spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
            case None =>
              spark.conf.unset("spark.sql.files.maxRecordsPerFile")
          }
        }
      }
      d
    }
    // the columnar index needs a manifest checkpoint, which lands on
    // the 10-commit cadence: pad with single-row commits (ids outside
    // [0, nm) and v values matching neither verification predicate, so
    // the count checks below stay exact)
    locally {
      val padLog = new LakeLog(mdir)
      var pad = 1L
      while (padLog
          .latestCheckpointFilesAtOrBefore(padLog.latestVersion).isEmpty) {
        LakeWriter.write(
          spark.range(1).toDF("id")
            .withColumn("id", lit(-pad))
            .withColumn("p", lit(-1).cast("int"))
            .withColumn("v", lit(1L)),
          mdir)
        pad += 1
      }
    }
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    val mlog = new LakeLog(mdir)
    val midx = graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, mlog, mlog.latestVersion)
    require(midx.isDefined, "merge table has no columnar index")
    val liveFiles = midx.get.numFiles
    println(s"  live files: $liveFiles")
    require(liveFiles >= nm * 8L / 10,
      s"setup produced only $liveFiles of ~$nm files")
    // ~55% of rows match -> touched files comfortably above the
    // streaming threshold at 10⁶ (and the 45% untouched majority
    // proves the rewrite is bounded by TOUCHED files, not the table)
    val srcDf = spark.range(nm.toLong).toDF("id")
      .filter(col("id") % 1000L < 550L)
      .withColumn("tag", lit("m"))
    val fr0 = Snapshot.fullReplays.get()
    val cr0 = StreamedRewrite.chunkedRewrites.get()
    StreamedRewrite.peakDriverPaths.set(0L)
    timed(s"chunked MERGE (~${nm * 55L / 100000}k touched files)") {
      LakeTable.forPath(spark, mdir).as("t")
        .merge(srcDf.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("v" -> "t.v + 1"))
        .execute()
    }
    require(StreamedRewrite.chunkedRewrites.get() == cr0 + 1,
      "the MERGE did not take the chunked rewrite path")
    require(Snapshot.fullReplays.get() == fr0,
      "chunked MERGE replayed the full file list")
    val peak = StreamedRewrite.peakDriverPaths.get()
    printf("  peak driver-resident paths: %d (chunk budget %d)%n",
      peak, LakeTable.REWRITE_CHUNK_FILES)
    require(peak > 0 && peak <= (LakeTable.REWRITE_CHUNK_FILES * 5) / 4,
      s"driver held $peak paths at once — the chunk budget is " +
      s"${LakeTable.REWRITE_CHUNK_FILES}")
    timed("verification counts") {
      val after = spark.read.format("lake").load(mdir)
      val matched = nm / 1000L * 550L +
        math.min(nm % 1000L, 550L) // ids with id%1000 < 550
      val updated = after.filter(col("v") === col("id") * 2 + 1).count()
      val untouched = after.filter(col("v") === col("id") * 2).count()
      require(updated == matched && untouched == nm - matched,
        s"verification: $updated updated / $untouched untouched of $nm" +
        s" (expected $matched matched)")
    }
    LakeWriter.deleteRecursively(java.nio.file.Paths.get(mdir))
    spark.stop()
  }
}
