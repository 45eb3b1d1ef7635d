package graft.lake

import org.apache.spark.sql.functions._

/** The full [[StoreContractSuite]] contract on conditional-PUT
  * object-store semantics, plus the failure modes POSIX never shows:
  * the ambiguous timed-out PUT (landed but reported failed), lagged
  * LIST-after-write, and a writer crashing between data-file staging
  * and log publish (VERDICT r8 item 1's fault-injection matrix).
  */
class LakeObjectStoreSuite extends StoreContractSuite {
  import spark.implicits._

  private val objStore = new ObjectStoreLogStore

  override protected def makeStore(): LogStore = objStore

  private val objDataStore = new ObjectStoreDataStore

  override protected def makeDataStore(): DataStore = objDataStore

  /** Scope faults to one table's log and run `body`; always clears
    * leftover budgets so a failing test can't poison the next one.
    */
  private def withFaults[A](path: String)(body: => A): A = {
    objStore.faultScope =
      java.nio.file.Paths.get(path).toAbsolutePath.toString
    try body
    finally {
      objStore.faultScope = ""
      objStore.timeoutPutsRemaining.set(0)
      objStore.lostPutsRemaining.set(0)
      objStore.lagListsRemaining.set(0)
      objStore.failReadsRemaining.set(0)
    }
  }

  test("manifest-cadence race under CONTINUOUS lagged LISTs: GC never " +
      "sweeps a referenced slice; the chain replays exactly") {
    // The one fault × machinery combination the store-contract race
    // does not cross: two cadence-racing writers (each running aux
    // cleanup + sidecar GC) while EVERY LIST may omit its
    // lexicographically newest entry. A lagged LIST can hide the
    // newest manifest from a concurrent GC — the staging-horizon age
    // gate on fresh sidecars is what must keep the just-published
    // slices alive through that window.
    val prevMax = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 4
    val path = tablePath("obj-manifest-race-lag")
    try {
      val boot = new LakeLog(path)
      boot.commit(0L, Seq(
        CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty),
        Metadata("id BIGINT", Nil, 1L), Protocol()))
      // seed a couple of versions BEFORE arming the lag: with a single
      // version file, a lagged LIST legitimately shows "no table yet"
      // (the eventual-consistency creation race, not this test's
      // subject); with >=2 files the listing can never empty
      (1L to 2L).foreach { v =>
        boot.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          AddFile(s"seed$v.parquet", Map.empty, 10L, 1L,
            Map.empty, Map.empty, Map.empty)))
      }
      // scope the lag to the LOG DIR: a real store's lagged LIST hides
      // recently-PUT objects, not a years-old prefix — lagging the
      // table-root listing would "hide" _lake_log itself, a fault no
      // object store exhibits
      objStore.faultScope = java.nio.file.Paths.get(path)
        .resolve(LakeLog.LOG_DIR).toAbsolutePath.toString
      val target = 40L
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readerErr =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      def add(v: Long, w: Int) = AddFile(s"w$w-v$v.parquet", Map.empty,
        10L, 1L, Map.empty, Map.empty, Map.empty)
      def writer(w: Int): Thread = new Thread(() => {
        val log = new LakeLog(path)
        var v = log.latestVersion + 1
        while (v <= target) {
          val actions: Seq[Action] =
            Seq(CommitInfo(System.currentTimeMillis(), "APPEND",
              Map.empty), add(v, w)) ++
              (if (v % 3 == 0) Seq(RemoveFile(s"w1-v${v - 2}.parquet", v),
                RemoveFile(s"w2-v${v - 2}.parquet", v))
               else Nil)
          try { log.commit(v, actions); v += 1 }
          catch { case _: ConcurrentWriteException =>
            v = math.max(v + 1, log.latestVersion + 1) }
        }
      })
      // one unit of LIST lag re-armed continuously for the whole run
      val armer = new Thread(() => {
        while (!done.get()) {
          objStore.lagListsRemaining.set(1)
          Thread.sleep(2)
        }
      })
      val reader = new Thread(() => {
        val log = new LakeLog(path)
        while (!done.get() && readerErr.get() == null) {
          try {
            Snapshot.clearCacheForTest()
            val v = log.latestVersion
            if (v >= 0) { log.snapshot(v); () }
          } catch { case t: Throwable => readerErr.set(t) }
        }
      })
      val ws = Seq(writer(1), writer(2))
      armer.start(); reader.start(); ws.foreach(_.start())
      ws.foreach(_.join())
      done.set(true); reader.join(); armer.join()
      objStore.faultScope = ""
      objStore.lagListsRemaining.set(0)
      assert(readerErr.get() == null,
        s"reader observed a broken chain: ${readerErr.get()}")
      val log = new LakeLog(path)
      val latest = log.latestVersion
      assert(latest >= target, s"writers stalled at v$latest")
      val naive = {
        val live = scala.collection.mutable.LinkedHashSet.empty[String]
        (0L to latest).foreach { v =>
          log.readVersion(v).foreach {
            case a: AddFile    => live += a.path; ()
            case r: RemoveFile => live -= r.path; ()
            case _             => ()
          }
        }
        live.toSet
      }
      Snapshot.clearCacheForTest()
      assert(log.snapshot(latest).files.map(_.path).toSet === naive)
      val manifests = LogStore.current.listDir(log.logDir)
        .map(_.getFileName.toString)
        .filter(_.matches("\\d{20}\\.checkpoint\\.manifest\\.json"))
        .map(_.stripSuffix(".checkpoint.manifest.json").toLong).sorted
      assert(manifests.nonEmpty, "no manifest checkpoint landed")
      val (_, refs) = log.readManifest(log.manifestFile(manifests.max))
      val entries = refs.flatMap(r => CheckpointParquet.read(
        LogStore.current.fileReader(log.logDir.resolve(r.path)))
        .collect { case a: AddFile => a.path })
      assert(entries.size === entries.toSet.size,
        "a slice entry appears twice across the newest manifest's refs")
      val onDisk = LogStore.current
        .listDir(log.logDir.resolve(LakeLog.SIDECAR_DIR))
        .map(p => LakeLog.SIDECAR_DIR + "/" + p.getFileName.toString)
        .toSet
      val referenced = manifests.flatMap(v =>
        log.readManifest(log.manifestFile(v))._2.map(_.path)).toSet
      assert(referenced.subsetOf(onDisk),
        s"GC swept live slices under lagged LISTs: ${referenced -- onDisk}")
    } finally {
      LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
      objStore.faultScope = ""
      objStore.lagListsRemaining.set(0)
    }
  }

  test("ambiguous PUT with a flaky readback still commits exactly once") {
    val path = tablePath("objflakyread")
    val log = new LakeLog(path)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 0L, Map.empty, Map.empty), Protocol()))
    // scope faults to THE commit object so only the publish PUT and
    // its resolution readback are hit, not the pre-commit log reads
    objStore.faultScope = log.versionFile(1L).toAbsolutePath.toString
    try {
      objStore.timeoutPutsRemaining.set(1)
      // the PUT lands but times out; the retry hits FileAlreadyExists
      // and resolves by readback — which itself fails twice before
      // succeeding. A failed readback must be RETRIED, not classified
      // as a lost race: that misclassification makes a rewrite retry
      // against its OWN landed RemoveFiles and sweep data files the
      // landed commit references.
      objStore.failReadsRemaining.set(2)
      log.commit(1L, Seq(CommitInfo(2L, "APPEND", Map.empty),
        AddFile("f1.parquet", Map.empty, 10L, 1L, Map.empty, Map.empty,
          Map.empty)))
    } finally {
      objStore.faultScope = ""
      objStore.timeoutPutsRemaining.set(0)
      objStore.failReadsRemaining.set(0)
    }
    assert(log.latestVersion === 1L)
    assert(log.readVersion(1L).exists(_.isInstanceOf[AddFile]))
  }

  test("PUT bodies stage inside the bucket's hidden area and get swept") {
    // same-filesystem staging: ATOMIC_MOVE from java.io.tmpdir fails
    // whenever /tmp is a different filesystem than the table (tmpfs is
    // the Linux default) — the body must stage NEXT to its target
    val dir = java.nio.file.Paths.get(tmpDir("objstore-staging"))
    objStore.putIfAbsent(dir.resolve("00000000000000000000.json"), Seq("a"))
    // the staging area is server-internal: never a listable key
    assert(objStore.listDir(dir).map(_.getFileName.toString) ===
      Seq("00000000000000000000.json"))
    // a crashed writer's orphaned body is swept once aged
    val staging = dir.resolve(".objstore-staging")
    val orphan = java.nio.file.Files.createTempFile(
      staging, "objstore-put-", ".tmp")
    objStore.cleanupStaging(dir, horizonMs = 3600L * 1000)
    assert(java.nio.file.Files.exists(orphan), "young tmp wrongly swept")
    objStore.cleanupStaging(dir, horizonMs = -1000L)
    assert(!java.nio.file.Files.exists(orphan), "aged orphan not swept")
  }

  test("ambiguous timed-out PUT commits exactly once (no double commit)") {
    val path = tablePath("objtimeout")
    LakeWriter.write(seed, path) // v0
    withFaults(path) {
      objStore.timeoutPutsRemaining.set(1)
      // the commit PUT lands but the client sees a timeout; the retry
      // hits its OWN object and must resolve by content readback —
      // NOT commit the same actions again at the next version
      LakeWriter.write(Seq((101L, "x", 1.0)).toDF("id", "k", "v"), path)
    }
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().version === 1L,
      "timed-out-but-landed PUT was re-committed at a second version")
    assert(t.toDF.count() === 101L)
    assert(t.toDF.filter($"id" === 101L).count() === 1L)
  }

  test("lagged LIST costs retries, never a lost or duplicated commit") {
    val path = tablePath("objlag")
    LakeWriter.write(seed, path) // v0
    LakeWriter.write(Seq((101L, "x", 1.0)).toDF("id", "k", "v"), path) // v1
    withFaults(path) {
      // the next LISTs hide the newest key: the writer computes a
      // stale latest version, loses the conditional PUT to v1's
      // existing object, and must retry to a fresh version — the
      // put-if-absent authority, not the listing, decides ownership
      objStore.lagListsRemaining.set(2)
      LakeWriter.write(Seq((102L, "y", 2.0)).toDF("id", "k", "v"), path)
    }
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().version === 2L)
    assert(t.toDF.count() === 102L)
    val log = new LakeLog(path)
    (0L to 2L).foreach(v => assert(log.readVersion(v).nonEmpty))
  }

  test("crash between data staging and log publish leaves no visible version") {
    val path = tablePath("objcrash")
    LakeWriter.write(seed, path) // v0
    val t = LakeTable.forPath(spark, path)
    val before = t.snapshot()
    val dataFilesBefore = LakeWriter.walkParquet(
      java.nio.file.Paths.get(path)).toSet
    withFaults(path) {
      // every publish attempt dies before reaching the store — the
      // writer stages its rewrite files, then "crashes" at publish
      objStore.lostPutsRemaining.set(100)
      intercept[java.io.IOException] {
        LakeTable.forPath(spark, path).delete("id <= 50")
      }
    }
    Snapshot.clearCacheForTest()
    val after = LakeTable.forPath(spark, path)
    // no version became visible; readers see the pre-crash table
    assert(after.snapshot().version === before.version)
    assert(after.toDF.count() === 100L)
    assert(after.toDF.agg(sum($"id")).as[Long].head === 5050L)
    // and the failed DML swept its staged files — the table tree holds
    // exactly the files the log references, no untracked debris
    val dataFilesAfter = LakeWriter.walkParquet(
      java.nio.file.Paths.get(path)).toSet
    assert(dataFilesAfter === dataFilesBefore,
      s"staged debris left behind: ${dataFilesAfter -- dataFilesBefore}")
  }

  test("unswept crash debris is invisible to readers until vacuumed") {
    val path = tablePath("objdebris")
    LakeWriter.write(seed, path) // v0
    val t = LakeTable.forPath(spark, path)
    // a kill -9'd writer: files staged into the table layout, no
    // commit, no sweep (writeFiles is exactly the pre-publish step)
    val staged = LakeWriter.writeFiles(
      Seq((999L, "z", 9.0)).toDF("id", "k", "v"), path, Nil)
    assert(staged.nonEmpty)
    // readers replay the log, not the directory: the orphan is invisible
    assert(t.toDF.count() === 100L)
    assert(t.toDF.filter($"id" === 999L).count() === 0L)
  }

  test("end-to-end DML flow is identical under object-store semantics") {
    // merge → update → delete → optimize → time travel → vacuum, all
    // committing through conditional-PUT; checkpoint boundary crossed
    val path = tablePath("objdml")
    LakeWriter.write(seed, path) // v0: ids 1..100
    val t = LakeTable.forPath(spark, path)
    t.as("t").merge(Seq((50L, "updated", -1.0), (101L, "new", 101.0))
        .toDF("id", "k", "v").as("s"), "t.id = s.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute() // v1
    t.update("id = 60", Map("v" -> "0.0"))                        // v2
    t.delete("id <= 10")                                          // v3
    (1 to 7).foreach(i => LakeWriter.write(
      Seq((200L + i, "pad", 0.0)).toDF("id", "k", "v"), path)) // v4..v10
    val snap = t.snapshot()
    assert(snap.version === 10L) // crossed the checkpoint at v10
    assert(t.toDF.count() === 98L) // 100 - 10 + 1 + 7
    assert(t.toDF.filter($"id" === 50L).select("k").as[String].head ===
      "updated")
    assert(t.toDF.filter($"id" === 60L).select("v").as[Double].head === 0.0)
    // time travel reads exact history through the object store
    assert(t.asOf(0).count() === 100L)
    assert(t.asOf(3).count() === 91L)
    // compaction + vacuum still work; nothing live is deletable
    t.compact()
    assert(t.toDF.count() === 98L)
    assert(t.vacuum(dryRun = true).forall(p => !p.endsWith(".json")))
  }

  test("medallion pipeline over the object store matches the POSIX-store run") {
    // VERDICT r9 item 5: the full MERGE-heavy multi-table pipeline —
    // micro-batch appends, user-dimension MERGEs, quarantine splits —
    // run end-to-end twice, once per LogStore, with a small fault
    // budget on the object-store run (an ambiguous PUT, a flaky
    // read). Both runs must converge to the BYTE-IDENTICAL silver
    // table.
    import graft.pipeline.{Ingest, Operations, Pipeline}

    def runPipeline(rootName: String)(armFaults: => Unit): String = {
      val root = tmpDir(rootName)
      val pipe = new Pipeline(s"$root/raw", s"$root/bronze",
        s"$root/silver", s"$root/user",
        new Operations(Operations.fixedClock("2020-03-01 00:00:00")))
      val ingest = new Ingest(s"$root/landing", s"$root/raw")
      ingest.prepareActivityData(spark, hours = 8)
      pipe.writeUserDimension(spark)
      ingest.ingestClassicData(spark, hours = 8, batchTag = "b1")
      armFaults // the batch phase below is the MERGE-heavy section
      pipe.runBatch(spark)
      LakeTable.forPath(spark, s"$root/silver").toDF
        .collect().map(_.toString).sorted.mkString("\n")
    }

    // baseline on POSIX semantics (the store the suite does NOT pin)
    val prev = LogStore.current
    LogStore.current = LocalLogStore
    val posixHash =
      try runPipeline("medallion-posix")(())
      finally LogStore.current = prev

    // object-store run with the fault budget armed for the batch
    // phase (faultScope "" = every table; budgets are one-shot,
    // landing on arbitrary commits of the MERGE-heavy section — the
    // point: ANY commit must survive an ambiguous PUT and a flaky
    // read. A lagged LIST is deliberately NOT armed across table
    // CREATION: hiding a new table's only version file legally
    // surfaces to a reader as "not a lake table yet"; the dedicated
    // lag test above pins its commit-path semantics.)
    val objHash =
      try runPipeline("medallion-objstore") {
        objStore.timeoutPutsRemaining.set(1)
        objStore.failReadsRemaining.set(1)
      } finally {
        objStore.timeoutPutsRemaining.set(0)
        objStore.failReadsRemaining.set(0)
      }

    assert(objHash === posixHash,
      "silver table content diverged between LogStore implementations")
    assert(objHash.nonEmpty)
  }

  test("columnar scan GETs checkpoint parts through the store — an " +
      "injected read fault surfaces, then parity") {
    // Negative certification of the read seam: if the columnar task
    // scan read parts via bare filesystem paths, a fault injected at
    // the store's GET of a part could never reach it. Scope the fault
    // to the LAST part — the metadata head prefix never reads it, so
    // the failure must come from the distributed checkpoint scan.
    val path = tablePath("objcolumnar")
    val prevMax = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 5
    try {
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((100L + i, s"k$i", i * 1.0)).toDF("id", "k", "v"), path)
      }
      val log = new LakeLog(path)
      val parts = log.latestCheckpointFilesAtOrBefore(Long.MaxValue)
        .map(_._2).getOrElse(Nil)
      assert(parts.size > 1, "expected a multi-part parquet checkpoint")
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      objStore.faultScope = parts.last.toAbsolutePath.toString
      try {
        objStore.failReadsRemaining.set(1)
        val ex = intercept[Exception] {
          spark.read.format("lake").option("columnarIndex", "true")
            .load(path).collect()
        }
        val chain = Iterator.iterate[Throwable](ex)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
        assert(chain.contains("injected fault"),
          s"columnar scan bypassed the store's GET path: $chain")
      } finally {
        objStore.faultScope = ""
        objStore.failReadsRemaining.set(0)
      }
      // budget spent: the same read now succeeds, with classic parity
      val classic = spark.read.format("lake")
        .option("columnarIndex", "false").load(path)
      val columnar = spark.read.format("lake")
        .option("columnarIndex", "true").load(path)
      assert(columnar.collect().toSet === classic.collect().toSet)
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
  }

  test("chunked initial-snapshot streaming composes with object-store " +
      "semantics") {
    // retention-aged multi-part table: the fresh stream's first
    // deliverable is the floor snapshot, chunked under
    // maxFilesPerTrigger, with every checkpoint-part read riding this
    // store's GET handles — end-to-end through the engine's
    // micro-batch loop, exactly once
    val src = tablePath("objstream-src")
    val dst = tablePath("objstream-dst")
    val prevMax = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 4
    try {
      (0 until 10).foreach { i =>
        LakeWriter.write(
          ((i * 10 + 1L) to (i * 10 + 10L)).toDF("id").coalesce(1), src,
          properties = if (i == 0)
            Map(LakeLog.LOG_RETENTION_PROP -> "0")
          else Map.empty)
      }
      val log = new LakeLog(src)
      (10L to 29L).foreach { v =>
        log.commit(v, Seq(CommitInfo(
          System.currentTimeMillis(), "EMPTY", Map.empty)))
      }
      LakeWriter.write((101L to 110L).toDF("id").coalesce(1), src) // v30
      assert(log.earliestReplayableVersion === 10L)
      assert(graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, log, 10L).isDefined)
      val q = spark.readStream.format("lake")
        .option("maxFilesPerTrigger", "3").load(src)
        .writeStream.format("lake")
        .option("checkpointLocation", tmpDir("objstream-ck"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination(120000)
      val ids = LakeTable.forPath(spark, dst).toDF
        .select("id").as[Long].collect().sorted
      assert(ids === (1L to 110L).toArray)
      // chunked: 10 floor files at 3 per trigger = 4 chunks + 1 tail
      val commits = LakeTable.forPath(spark, dst).history()
        .filter(org.apache.spark.sql.functions.col("operation") ===
          "STREAMING UPDATE").count()
      assert(commits === 5L, s"expected 4 chunks + 1 tail, got $commits")
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
  }

  test("conditional PUT refuses an existing key; replace swaps atomically") {
    // direct store-contract check, no engine on top
    val dir = java.nio.file.Paths.get(tmpDir("objstore-contract"))
    val key = dir.resolve("00000000000000000000.json")
    objStore.putIfAbsent(key, Seq("a"))
    intercept[java.nio.file.FileAlreadyExistsException] {
      objStore.putIfAbsent(key, Seq("b"))
    }
    assert(objStore.readLines(key) === Seq("a"))
    objStore.atomicReplace(key, Seq("c", "d"))
    assert(objStore.readLines(key) === Seq("c", "d"))
    assert(objStore.listDir(dir).map(_.getFileName.toString) ===
      Seq("00000000000000000000.json"))
    assert(objStore.delete(key))
    assert(!objStore.exists(key))
  }

  test("parquet checkpoint parts stage inside the staging area, " +
    "never as bucket keys") {
    // The parquet checkpoint path stages large binary bodies through
    // stageFileTarget; on the object store that MUST be the internal
    // staging area — a .rep-* sibling in the log dir would be a
    // listable key (violating the emulation) and, after a crash
    // between staging and publish, an orphan outside this store's
    // cleanupStaging sweep.
    val staged = objStore.stageFileTarget(
      java.nio.file.Paths.get(tmpDir("objstore-stage"), "part.parquet"))
    assert(staged.getParent.getFileName.toString === ".objstore-staging",
      s"binary staging landed at $staged, outside the staging area")

    val prev = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 5
    try {
      val path = tablePath("objstore-ckpt")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty),
        Metadata("id BIGINT", Nil, 0L, Map.empty, Map.empty), Protocol()))
      (1L to 14L).foreach { v =>
        log.commit(v, Seq(CommitInfo(v, "APPEND", Map.empty),
          AddFile(s"f${v}a.parquet", Map.empty, 10L, 1L, Map.empty,
            Map.empty, Map.empty),
          AddFile(s"f${v}b.parquet", Map.empty, 10L, 1L, Map.empty,
            Map.empty, Map.empty)))
      }
      val names = objStore.listDir(log.logDir)
        .map(_.getFileName.toString)
      // the default big-state form is the manifest + parquet sidecars
      assert(names.exists(_.matches(
        "\\d{20}\\.checkpoint\\.manifest\\.json")),
        s"no manifest checkpoint in $names")
      val sidecarNames = objStore
        .listDir(log.logDir.resolve(LakeLog.SIDECAR_DIR))
        .map(_.getFileName.toString)
      assert(sidecarNames.exists(_.endsWith(".parquet")),
        s"no parquet sidecars in $sidecarNames")
      // no staging debris of any kind is a listable key — in the log
      // dir or the sidecar dir
      (names ++ sidecarNames).foreach { n =>
        assert(!(n.endsWith(".tmp") || n.endsWith(".crc")
            || n.startsWith(".rep-") || n.startsWith("..rep-")),
          s"staging debris listable as a bucket key: $n")
      }
      // and replay through the manifest checkpoint works
      assert(log.snapshot().numFiles === 28)
      // a crash between staging and publish (simulated: aged body in
      // the staging area) is swept by THIS store's cleanupStaging
      val stagingDir = log.logDir.resolve(".objstore-staging")
      val orphan = stagingDir.resolve("objstore-file-orphan.tmp")
      java.nio.file.Files.createDirectories(stagingDir)
      java.nio.file.Files.write(orphan, java.util.Arrays.asList("x"))
      java.nio.file.Files.setLastModifiedTime(orphan,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 24L * 3600 * 1000))
      objStore.cleanupStaging(log.logDir, 3600 * 1000L)
      assert(!java.nio.file.Files.exists(orphan),
        "aged staged checkpoint body must be swept")
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prev
  }

  /** Scope DATA-plane faults to one table and run `body`; always
    * clears leftover budgets.
    */
  private def withDataFaults[A](path: String)(body: => A): A = {
    objDataStore.faultScope =
      java.nio.file.Paths.get(path).toAbsolutePath.toString
    try body
    finally {
      objDataStore.faultScope = ""
      objDataStore.lostWritesRemaining.set(0)
      objDataStore.failReadsRemaining.set(0)
      objDataStore.missExistsRemaining.set(0)
    }
  }

  test("restoreTo's vacuum-loss probe rides the DataStore seam: an " +
      "injected existence miss aborts the restore; clean retry lands") {
    val path = tablePath("objstore-restore-probe")
    LakeWriter.write(seed, path) // v0
    LakeWriter.write(Seq((200L, "y", 2.0)).toDF("id", "k", "v"), path) // v1
    val t = LakeTable.forPath(spark, path)
    withDataFaults(path) {
      // the probe checks the TARGET version's files; one transient
      // miss must surface as the loud vacuum-loss abort (the probe
      // would silently pass if it bypassed the seam via raw java.nio)
      objDataStore.missExistsRemaining.set(1)
      val ex = intercept[IllegalStateException](t.restoreTo(0L))
      assert(ex.getMessage.contains("removed by VACUUM"),
        s"expected the vacuum-loss abort, got: ${ex.getMessage}")
      assert(objDataStore.missExistsRemaining.get() === 0,
        "the restore probe must consult DataStore.exists")
    }
    // budget spent: the same restore succeeds and reads back v0
    t.restoreTo(0L)
    assert(LakeTable.forPath(spark, path).toDF.count() === 100L)
  }

  test("a LOST DV-sidecar PUT fails the DELETE loudly and leaves the " +
      "table byte-identical; the retry succeeds") {
    val path = tablePath("objstore-dv-lostput")
    LakeWriter.write(seed, path,
      properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
    val before = LakeTable.forPath(spark, path).toDF.collect().toSet
    withDataFaults(path) {
      objDataStore.lostWritesRemaining.set(1)
      intercept[Exception] {
        LakeTable.forPath(spark, path).delete("id <= 30")
      }
    }
    assert(LakeTable.forPath(spark, path).toDF.collect().toSet === before,
      "a failed DV DELETE must leave the table unchanged")
    // clean retry (budget spent) goes through
    LakeTable.forPath(spark, path).delete("id <= 30")
    assert(LakeTable.forPath(spark, path).toDF.count() === 70L)
  }

  test("a transient DV-sidecar GET fault surfaces as a loud failure; " +
      "the re-read succeeds") {
    val path = tablePath("objstore-dv-getfault")
    LakeWriter.write(seed, path,
      properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
    LakeTable.forPath(spark, path).delete("id <= 30")
    withDataFaults(path) {
      objDataStore.failReadsRemaining.set(1)
      // a real row scan (COUNT(*) alone is answered metadata-only from
      // numRecords - dvCardinality and never decodes the sidecar)
      intercept[Exception] {
        LakeTable.forPath(spark, path).toDF
          .select("id").as[Long].collect()
      }
      assert(objDataStore.failReadsRemaining.get() === 0,
        "the scan must decode the DV through the DataStore GET")
      // the fault budget is spent; the next read decodes cleanly
      assert(LakeTable.forPath(spark, path).toDF
        .select("id").as[Long].collect().sorted === (31L to 100L).toArray)
    }
  }
}
