package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll

/** The commit-protocol contract every [[LogStore]] must uphold,
  * parameterized over the store (SURVEY §7.1; VERDICT r8 item 1).
  * Concrete suites pin [[LogStore.current]] to their store for the
  * suite's lifetime — safe because forked test JVMs run suites
  * sequentially. The tests are the lost-update / atomicity /
  * idempotency core: they must pass identically on POSIX semantics
  * ([[LocalLogStore]]) and conditional-PUT object-store semantics
  * ([[ObjectStoreLogStore]]).
  */
abstract class StoreContractSuite extends SparkSuite with BeforeAndAfterAll {
  import spark.implicits._

  protected def makeStore(): LogStore

  /** The DATA-plane twin ([[DataStore]], round 17): concrete suites
    * pair their log store with the matching data store so the whole
    * contract — commits AND sidecar/adoption/vacuum I/O — runs under
    * one storage semantics.
    */
  protected def makeDataStore(): DataStore = LocalDataStore

  private var prevStore: LogStore = _
  private var prevDataStore: DataStore = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    prevStore = LogStore.current
    LogStore.current = makeStore()
    prevDataStore = DataStore.current
    DataStore.current = makeDataStore()
  }

  override def afterAll(): Unit = {
    LogStore.current = prevStore
    DataStore.current = prevDataStore
    super.afterAll()
  }

  protected def seed = (1L to 100L).map(i => (i, s"k$i", i * 1.0))
    .toDF("id", "k", "v").coalesce(2)

  test("stale rewrite after a concurrent DELETE of the same file aborts") {
    val path = tablePath("conflict1")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    val stale = t.snapshot() // writer A reads here

    // writer B deletes rows, removing (rewriting) data files
    LakeTable.forPath(spark, path).delete("id <= 50")
    assert(t.snapshot().version === 1L)

    // writer A now tries to commit a rewrite of the files it read
    val ex = intercept[ConflictingCommitException] {
      t.commitRewrite(stale, stale.files.map(_.path), Nil, "DELETE",
        Map("predicate" -> "id > 90"))
    }
    assert(ex.getMessage.contains("removed file"))
    // and the table still reflects only writer B's delete
    assert(t.toDF.count() === 50L)
  }

  test("concurrent UPDATE x DELETE on overlapping files conflicts") {
    val path = tablePath("conflict2")
    LakeWriter.write(seed, path)
    val a = LakeTable.forPath(spark, path)
    val b = LakeTable.forPath(spark, path)

    // simulate interleaving: A computes its plan from version 0 ...
    val staleSnap = a.snapshot()
    val cond = org.apache.spark.sql.functions.expr("id % 2 = 0")
    val touched = new DmlPlan.Classic(a, staleSnap).touchedPaths(cond)
    assert(touched.nonEmpty)
    // ... B commits a delete touching the same files first ...
    b.delete("id = 2")
    // ... then A tries to publish its stale rewrite.
    intercept[ConflictingCommitException] {
      a.commitRewrite(staleSnap, touched, Nil, "UPDATE", Map.empty)
    }
  }

  test("concurrent metadata commit aborts a staged DML (mapping epoch)") {
    // ADVICE r8: a DML racing a mapped RENAME COLUMN staged its files
    // under the OLD mapping epoch; committing them would mis-map
    // columns. The rewrite commit must fail on ANY metadata change
    // between its read snapshot and the commit (Delta's rule).
    val path = tablePath("metaconflict")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    val stale = t.snapshot()
    // concurrent writer flips table metadata (adds a property)
    t.setTblProperties(Map("graft.appendOnly" -> "false"))
    val ex = intercept[ConflictingCommitException] {
      t.commitRewrite(stale, Nil,
        Nil, "UPDATE", Map("predicate" -> "id = 1"))
    }
    assert(ex.getMessage.contains("metadata"))
    assert(t.toDF.count() === 100L)
  }

  test("concurrent blind APPEND does not conflict with a rewrite") {
    val path = tablePath("noconflict")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    val stale = t.snapshot()

    // another writer appends (adds files, removes nothing)
    LakeWriter.write(Seq((101L, "x", 1.0)).toDF("id", "k", "v"), path)

    // the stale rewrite retries past the version collision and commits
    val v = t.commitRewrite(stale, stale.files.map(_.path), Nil,
      "DELETE", Map.empty)
    assert(v === 2L)
    // appended row survives; original files removed
    assert(t.toDF.count() === 1L)
    assert(t.toDF.select("id").as[Long].collect() === Array(101L))
  }

  test("idempotent txn write skips an already-committed batch") {
    val path = tablePath("txn1")
    val batch = (1L to 10L).toDF("id")
    val r0 = LakeWriter.write(batch, path, transaction = Some(("q", 0L)))
    assert(r0.added.nonEmpty)
    // crash-replay of the same micro-batch: skipped, no duplicates
    val replay = LakeWriter.write(batch, path, transaction = Some(("q", 0L)))
    assert(replay.added.isEmpty)
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 10L)
    assert(t.snapshot().version === 0L)
    // next batch proceeds; a different app's id 0 also proceeds
    assert(LakeWriter.write(batch, path,
      transaction = Some(("q", 1L))).added.nonEmpty)
    assert(LakeWriter.write(batch, path,
      transaction = Some(("other", 0L))).added.nonEmpty)
    assert(t.toDF.count() === 30L)
    // and replaying an OLD batch after newer ones is still skipped
    assert(LakeWriter.write(batch, path,
      transaction = Some(("q", 1L))).added.isEmpty)
  }

  test("txn watermarks survive log checkpointing") {
    val path = tablePath("txn2")
    val batch = Seq(1L).toDF("id")
    (0L to 12L).foreach { b => // crosses the checkpoint interval (10)
      LakeWriter.write(batch, path, transaction = Some(("q", b)))
    }
    val snap = LakeTable.forPath(spark, path).snapshot()
    assert(snap.transactions("q") === 12L)
    assert(LakeWriter.write(batch, path,
      transaction = Some(("q", 5L))).added.isEmpty)
    assert(LakeTable.forPath(spark, path).toDF.count() === 13L)
  }

  test("8 threads x 5 appends: every commit lands, versions contiguous") {
    val path = tablePath("stress")
    LakeWriter.write(Seq(0L).toDF("id").coalesce(1), path) // v0
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 8).map { t =>
      new Thread(() => {
        try {
          (0 until 5).foreach { i =>
            LakeWriter.write(
              Seq(t * 100L + i).toDF("id").coalesce(1), path)
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent appends failed: ${errors.peek()}")
    val t = LakeTable.forPath(spark, path)
    // 1 seed + 40 concurrent appends, every version present exactly once
    assert(t.snapshot().version === 40L)
    assert(t.toDF.count() === 41L)
    val log = new LakeLog(path)
    (0L to 40L).foreach(v => assert(log.readVersion(v).nonEmpty))
  }

  test("4 writers x 30 commits under aggressive retention: no lost " +
      "commit, no stranded version") {
    // retention "0" keeps the cleanup machinery (version deletion,
    // anchor checkpoint writes, aux sweeps) constantly active WHILE
    // commits race — the invariants that must hold through any
    // interleaving: every commit lands exactly once, and every
    // surviving version file is still replayable.
    val path = tablePath("retention-race")
    val log = new LakeLog(path)
    log.commit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 0L, Map.empty,
        Map(LakeLog.LOG_RETENTION_PROP -> "0")),
      Protocol()))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { t =>
      new Thread(() => {
        try {
          (0 until 30).foreach { i =>
            var done = false
            while (!done) {
              val next = log.latestVersion + 1
              try {
                log.commit(next, Seq(
                  CommitInfo(System.currentTimeMillis(), "APPEND",
                    Map.empty),
                  AddFile(s"t$t-$i.parquet", Map.empty, 1L, 1L,
                    Map.empty, Map.empty, Map.empty)))
                done = true
              } catch { case _: ConcurrentWriteException => () }
            }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer died: ${errors.peek()}")
    val log2 = new LakeLog(path)
    assert(log2.latestVersion === 120L)
    // exactly-once: the final state holds every writer's every add
    Snapshot.clearCacheForTest()
    val files = log2.snapshot(120L).files.map(_.path)
    assert(files.size === 120 && files.distinct.size === 120)
    // replayability: cleanup deleted a prefix, and EVERY survivor —
    // not just the latest — still replays (the stranding invariant)
    val survivors = log2.listVersionFiles.map(LakeLog.versionOf)
    assert(survivors.head === log2.earliestReplayableVersion,
      s"oldest surviving version ${survivors.head} is not replayable " +
      s"(earliest replayable: ${log2.earliestReplayableVersion})")
    survivors.foreach { v =>
      Snapshot.clearCacheForTest()
      assert(log2.snapshot(v).version === v, s"version $v stranded")
    }
  }

  test("writes are atomic: no partial state visible mid-failure") {
    val path = tablePath("atomic1")
    LakeWriter.write(seed, path)
    val before = LakeTable.forPath(spark, path).snapshot().version
    // a failing write (schema mismatch) must not advance the version
    intercept[SchemaMismatchException](
      LakeWriter.write(seed.withColumn("boom", lit(1)), path))
    assert(LakeTable.forPath(spark, path).snapshot().version === before)
    assert(LakeTable.forPath(spark, path).toDF.count() === 100L)
  }

  test("restoreTo aborts when a concurrent commit removed its files") {
    val path = tablePath("conflict3")
    LakeWriter.write(seed, path) // v0
    LakeWriter.write(Seq((200L, "y", 2.0)).toDF("id", "k", "v"), path) // v1
    val t = LakeTable.forPath(spark, path)
    // concurrently, someone deletes everything (removes v0/v1 files)
    val racer = new Thread(() =>
      LakeTable.forPath(spark, path).delete("id <= 1000"))
    racer.start(); racer.join()
    // restore computed against the pre-delete snapshot would now be
    // stale; a fresh restore (reads latest) is fine:
    t.restoreTo(0L)
    assert(t.toDF.count() === 100L)
  }

  test("columnar checkpoint scan answers through this store's read " +
      "handles (parity with classic)") {
    // The columnar file index reads parquet checkpoint parts from
    // SPARK TASKS via driver-built LogStore read handles — this leg
    // certifies the scan against each store's transport (local path
    // vs buffered GET), not just POSIX file reads.
    val path = tablePath("colstore")
    val prevMax = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 5
    try {
      // 13 single-file commits -> multi-part parquet checkpoint at
      // v10 (interval 10, >5 adds), v11..v12 tail; then a tail DELETE
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((100L + i, s"k$i", i * 1.0)).toDF("id", "k", "v"), path)
      }
      LakeTable.forPath(spark, path).delete("id = 111")
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val idx = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, new LakeLog(path), -1L)
      assert(idx.isDefined, "expected a multi-part parquet checkpoint")
      val classic = spark.read.format("lake")
        .option("columnarIndex", "false").load(path)
      val columnar = spark.read.format("lake")
        .option("columnarIndex", "true").load(path)
      assert(columnar.collect().toSet === classic.collect().toSet)
      assert(columnar.filter("id >= 105").collect().toSet ===
        classic.filter("id >= 105").collect().toSet)
      assert(columnar.filter("id = 111").count() === 0L)
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
  }

  test("manifest-checkpoint cadence race: two writers and a live " +
      "reader; last publish wins, no referenced slice is swept") {
    // Two raw-commit writers interleave across several cadence
    // boundaries (each boundary's winner writes the incremental
    // manifest; each writer also runs aux cleanup + sidecar GC) while
    // a reader replays the newest version continuously. Invariants:
    // the reader NEVER observes a broken chain, the newest manifest's
    // slice union is exactly the live set (exactly-once), every slice
    // a surviving manifest references is still on disk after the dust
    // settles, and the full replay equals the naive ground truth.
    val prevMax = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 4
    val path = tablePath("manifest-race")
    try {
      val boot = new LakeLog(path)
      boot.commit(0L, Seq(
        CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty),
        Metadata("id BIGINT", Nil, 1L), Protocol()))
      val target = 60L
      val readerErr = new java.util.concurrent.atomic.AtomicReference[
        Throwable]()
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      def add(v: Long, w: Int) = AddFile(s"w$w-v$v.parquet", Map.empty,
        10L, 1L, Map.empty, Map.empty, Map.empty)
      def writer(w: Int): Thread = new Thread(() => {
        val log = new LakeLog(path) // own instance = own caches
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
      reader.start(); ws.foreach(_.start()); ws.foreach(_.join())
      done.set(true); reader.join()
      assert(readerErr.get() == null,
        s"reader observed a broken chain: ${readerErr.get()}")
      val log = new LakeLog(path)
      val latest = log.latestVersion
      assert(latest >= target, s"writers stalled at v$latest")
      // ground truth vs replay-through-manifests
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
      // newest manifest: exactly-once slice union
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
      // every surviving manifest's slices are on disk (GC never cost a
      // live manifest its slices, even racing a concurrent publish)
      val onDisk = LogStore.current
        .listDir(log.logDir.resolve(LakeLog.SIDECAR_DIR))
        .map(p => LakeLog.SIDECAR_DIR + "/" + p.getFileName.toString)
        .toSet
      val referenced = manifests.flatMap(v =>
        log.readManifest(log.manifestFile(v))._2.map(_.path)).toSet
      assert(referenced.subsetOf(onDisk),
        s"GC swept live slices: ${referenced -- onDisk}")
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
  }

  test("DATA plane rides the DataStore seam: DV sidecars write, decode " +
      "and purge identically under this store") {
    val path = tablePath("datastore-dv")
    LakeWriter.write(seed, path,
      properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
    val t = LakeTable.forPath(spark, path)
    t.delete("id <= 30") // DV sidecar published via DataStore.writeBytes
    assert(t.toDF.count() === 70L)
    val dvRel = t.snapshot().files.flatMap(_.dvPath)
    assert(dvRel.nonEmpty, "expected a DV sidecar")
    // decode parity through the seam's GET
    val total = dvRel.map(rel => DeletionVector.read(
      java.nio.file.Paths.get(path, rel)).length).sum
    assert(total === 30)
    // purge folds the DVs away; vacuum's physical deletes (also via
    // the seam) then sweep the orphaned sidecars
    t.purgeDeletionVectors()
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    try LakeTable.forPath(spark, path).vacuum(0.0)
    finally spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "true")
    dvRel.foreach { rel =>
      assert(!DataStore.current.exists(java.nio.file.Paths.get(path, rel)),
        s"vacuum must sweep orphaned DV sidecar $rel")
    }
    assert(LakeTable.forPath(spark, path).toDF.count() === 70L)
  }

  test("DATA plane rides the DataStore seam: bloom sidecars and a " +
      "crash-failed DML sweep behave identically under this store") {
    val path = tablePath("datastore-bloom")
    LakeWriter.write(seed, path,
      properties = Map("graft.bloomFilter.columns" -> "k"))
    val t = LakeTable.forPath(spark, path)
    val bloomRels = t.snapshot().files.flatMap(_.bloomPath)
    assert(bloomRels.nonEmpty, "expected bloom sidecars")
    // the skipping read decodes sidecars through the seam's GET
    assert(t.toDF.filter("k = 'k7'").count() === 1L)
    // a failed DML sweeps its staged output through the seam: table
    // byte-identical to before
    val before = t.toDF.collect().toSet
    // add a constraint the update will violate, forcing the staged
    // rewrite to be swept
    t.addConstraint("v_pos", "v >= 0")
    intercept[ConstraintViolationException] {
      LakeTable.forPath(spark, path).update("id = 5", Map("v" -> "-1.0"))
    }
    assert(LakeTable.forPath(spark, path).toDF.collect().toSet === before)
  }

  /** Multi-part-checkpointed columnar fixture + forced-low rewrite
    * thresholds — the chunked streamed-rewrite shape, under THIS
    * store's semantics.
    */
  private def withChunkedFixture[A](name: String)(
      body: (String, Set[org.apache.spark.sql.Row]) => A): A = {
    val path = tablePath(name)
    val prevPart = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 5
    try {
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((i.toLong, s"row$i", i % 3)).toDF("id", "name", "p"),
          path, partitionBy = if (i == 0) Seq("p") else Nil)
      }
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevPart
    val before = spark.read.format("lake").load(path).collect().toSet
    val pm = LakeTable.STREAMED_REWRITE_MIN_FILES
    val pc = LakeTable.REWRITE_CHUNK_FILES
    LakeTable.STREAMED_REWRITE_MIN_FILES = 1L
    LakeTable.REWRITE_CHUNK_FILES = 2L
    try body(path, before) finally {
      LakeTable.STREAMED_REWRITE_MIN_FILES = pm
      LakeTable.REWRITE_CHUNK_FILES = pc
    }
  }

  test("chunked streamed rewrite: spill-replay commit lands exactly " +
      "once under ambiguous-PUT / lost-PUT / lagged-LIST faults") {
    withChunkedFixture("store-chunked-faults") { (path, before) =>
      val expect = before.filterNot(_.getLong(0) % 2 == 0)
      val n0 = StreamedRewrite.chunkedRewrites.get()
      val log = new LakeLog(path)
      val v0 = log.latestVersion
      val scope = java.nio.file.Paths.get(path).toAbsolutePath.toString
      def arm(): Unit = LogStore.current match {
        case o: ObjectStoreLogStore =>
          o.faultScope = scope
          // the timed-out PUT lands but reports failure → the retry
          // hits FileAlreadyExists → the readback re-pulls the spilled
          // bulk stream and resolves OUR OWN commit as published; the
          // lost PUT never lands → plain retry republishes; the lagged
          // LIST costs at most a retried attempt (the flaky-GET case
          // is covered by the dedicated ambiguous-readback test)
          o.timeoutPutsRemaining.set(1)
          o.lostPutsRemaining.set(1)
          o.lagListsRemaining.set(1)
        case _ => ()
      }
      def disarm(): Unit = LogStore.current match {
        case o: ObjectStoreLogStore =>
          o.faultScope = ""
          o.timeoutPutsRemaining.set(0)
          o.lostPutsRemaining.set(0)
          o.lagListsRemaining.set(0)
        case _ => ()
      }
      // faults arm at the PRE-COMMIT hook, after clean planning and
      // staging: the target under test is the spill-replay COMMIT
      // protocol (arming at plan time just downgrades the plan to
      // classic when the lagged LIST hides the checkpoint — a
      // performance fallback, not the commit shape)
      val prevHook = StreamedRewrite.onBeforeStreamedCommit
      StreamedRewrite.onBeforeStreamedCommit = () => arm()
      try {
        // a lagged LIST may surface as a conservative conflict abort —
        // the documented cost is a caller retry, never a lost or
        // doubled commit
        var attempts = 0
        var done = false
        while (!done) {
          try { LakeTable.forPath(spark, path).delete("id % 2 = 0"); done = true }
          catch {
            case _: ConflictingCommitException if attempts < 3 =>
              attempts += 1
          }
        }
      } finally {
        StreamedRewrite.onBeforeStreamedCommit = prevHook
        disarm()
      }
      assert(StreamedRewrite.chunkedRewrites.get() >= n0 + 1,
        "the DELETE should have taken the chunked rewrite path")
      // exactly ONE commit landed despite the ambiguous publishes
      assert(log.latestVersion === v0 + 1,
        "faults must cost retries, never extra or missing versions")
      assert(spark.read.format("lake").load(path).collect().toSet
        === expect)
    }
  }

  test("chunked streamed rewrite killed between spill and commit: " +
      "sweep leaves the table byte-identical and the staged files gone") {
    withChunkedFixture("store-chunked-crash") { (path, before) =>
      def dataFiles(): Set[String] = {
        val base = java.nio.file.Paths.get(path)
        val out = scala.collection.mutable.Set.empty[String]
        java.nio.file.Files.walk(base).forEach { p =>
          val rel = base.relativize(p).toString
          if (!rel.startsWith("_lake_log") && rel.endsWith(".parquet"))
            out += rel
        }
        out.toSet
      }
      val filesBefore = dataFiles()
      val log = new LakeLog(path)
      val vBefore = log.latestVersion
      // the crash window: after every chunk staged + spilled, before
      // the commit — a racing remove of a touched file lands here, so
      // the streamed conflict check aborts and the sweep must undo
      // every staged artifact
      val victim = LakeTable.forPath(spark, path).snapshot().files
        .map(_.path).find(_.contains("p=0")).get
      val prevHook = StreamedRewrite.onBeforeStreamedCommit
      StreamedRewrite.onBeforeStreamedCommit = () => {
        val lg = new LakeLog(path)
        val v = lg.latestVersion + 1
        lg.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "DELETE", Map.empty),
          RemoveFile(victim, System.currentTimeMillis())))
      }
      try {
        intercept[ConflictingCommitException] {
          LakeTable.forPath(spark, path).delete("id >= 0")
        }
      } finally StreamedRewrite.onBeforeStreamedCommit = prevHook
      // the racing commit is the ONLY new version
      assert(log.latestVersion === vBefore + 1)
      // table state = before minus exactly the racer's one-row victim
      // file; the aborted rewrite contributed nothing
      val after = spark.read.format("lake").load(path).collect().toSet
      assert(after.subsetOf(before), "unexpected rows appeared")
      val gone = before -- after
      assert(gone.size === 1 && gone.head.getInt(2) === 0,
        s"expected exactly the racer's p=0 row gone, got $gone")
      // every staged artifact swept: no new parquet debris on disk
      assert(dataFiles() === filesBefore,
        "aborted chunked rewrite left staged files behind")
    }
  }
}
