package graft.lake

import graft.SparkSuite

/** Checkpoints in their two forms — the single JSON file for small
  * states, the manifest + parquet sidecars above the part budget —
  * their replay against ground truth, crash and cleanup behavior, log
  * retention, and the sidecar parquet codec. Raw `log.commit` drives
  * the log directly — these tests exercise metadata machinery, not
  * Spark I/O.
  */
class LakeCheckpointSuite extends SparkSuite {

  /** A metadata action so replay has a schema. */
  private def meta = Metadata("id BIGINT", Nil, 0L, Map.empty, Map.empty)

  /** Run `body` with the part size lowered to `partMax`. */
  private def withPartMax[A](partMax: Int)(body: => A): A = {
    val prev = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = partMax
    try body finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prev
  }

  private def addFile(name: String) =
    AddFile(s"$name.parquet", Map.empty, 10L, 1L, Map.empty, Map.empty,
      Map.empty)

  /** Ground-truth naive replay: accumulate adds/removes over all
    * version files, ignoring checkpoints entirely.
    */
  private def naiveLiveSet(log: LakeLog, version: Long): Set[String] = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    (0L to version).foreach { v =>
      log.readVersion(v).foreach {
        case a: AddFile    => live += a.path; ()
        case r: RemoveFile => live -= r.path; ()
        case _             => ()
      }
    }
    live.toSet
  }

  test("100k-AddFile state checkpoints in bounded parts and replays") {
    withPartMax(30000) {
      val path = tablePath("ckpt-100k")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta,
        Protocol(),
        DomainMetadata("app.domain.a", Map("k" -> "v1")),
        DomainMetadata("app.domain.b", Map("x" -> "1", "y" -> "2"))))
      // one bulk commit with 100k adds, then drive to the checkpoint
      log.commit(1L, CommitInfo(2L, "APPEND", Map.empty) +:
        (1 to 100000).map(i => addFile(s"bulk$i"): Action))
      (2L to 10L).foreach { v =>
        log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
          addFile(s"tail$v")))
      }
      val names = LogStore.current.listDir(log.logDir)
        .map(_.getFileName.toString)
      assert(!names.exists(_.endsWith(".checkpoint.json")),
        "above the part budget the single-file form must not be written")
      assert(manifestVersions(log) === Seq(10L))
      // 100009 AddFiles at 30k per sidecar = 4 bounded sidecars
      val (head, refs) = log.readManifest(log.manifestFile(10L))
      assert(refs.size === 4, s"sidecars: ${refs.map(_.path)}")
      assert(refs.forall(_.count <= 30000))
      assert(refs.map(_.count).sum === 100009L)
      assert(sidecarEntries(log, refs).size === 100009)
      // domain metadata rides the manifest head, never a sidecar
      assert(head.count(_.isInstanceOf[DomainMetadata]) === 2)
      Snapshot.clearCacheForTest()
      val snap = log.snapshot(10L)
      assert(snap.files.size === 100009)
      assert(snap.version === 10L)
      assert(snap.domains === Map(
        "app.domain.a" -> Map("k" -> "v1"),
        "app.domain.b" -> Map("x" -> "1", "y" -> "2")))
    }
  }

  test("parquet part round-trip preserves every action field") {
    val adds = Seq(
      AddFile("p=1/part-0001.parquet", Map("p" -> "1"), 4096L, 100L,
        Map("id" -> "0", "s" -> "aaa"), Map("id" -> "99", "s" -> "zzz"),
        Map("id" -> 0L, "s" -> 3L),
        dvPath = Some("_dv/abc.dv"), dvCardinality = 5L,
        bloomPath = Some("_bloom/def.bloom"), baseRowId = Some(7L),
        clusterGen = Some(2L)),
      AddFile("p=__HIVE_DEFAULT_PARTITION__/part-0002.parquet",
        Map("p" -> "__HIVE_DEFAULT_PARTITION__"), 1L, -1L,
        Map.empty, Map.empty, Map.empty))
    val f = java.nio.file.Paths.get(tmpDir("ckpt-rt"), "rt.parquet")
    CheckpointParquet.write(f, adds.iterator)
    assert(CheckpointParquet.read(f) === adds)
  }

  test("direct parquet writer matches the Group-API reference writer") {
    // the r17 RecordConsumer writer must produce files that read back
    // identically to the Group-API reference on every AddFile shape:
    // null partition values, unicode, empty maps, all optionals
    val rnd = new scala.util.Random(11)
    val actions: Seq[AddFile] =
      (0 until 500).map { i =>
        AddFile(s"p=${i % 7}/f-$i-日本.parquet",
          Map("p" -> (if (i % 11 == 0) null else s"${i % 7}")),
          rnd.nextLong().abs, i.toLong,
          if (i % 3 == 0) Map.empty
          else Map("id" -> s"$i", "s" -> s"αβ$i\n\"q\""),
          if (i % 3 == 0) Map.empty else Map("id" -> s"${i + 1}"),
          if (i % 4 == 0) Map.empty else Map("id" -> i.toLong),
          dvPath = if (i % 5 == 0) Some(s"_dv/$i.dv") else None,
          dvCardinality = (i % 9).toLong,
          bloomPath = if (i % 6 == 0) Some(s"_bloom/$i") else None,
          baseRowId = if (i % 2 == 0) Some(i * 100L) else None,
          clusterGen = if (i % 8 == 0) Some(i.toLong) else None)
      }
    val dir = tmpDir("ckpt-diff")
    val direct = java.nio.file.Paths.get(dir, "direct.parquet")
    val viaGroups = java.nio.file.Paths.get(dir, "groups.parquet")
    CheckpointParquet.write(direct, actions.iterator)
    CheckpointParquet.writeViaGroups(viaGroups, actions.iterator)
    val a = CheckpointParquet.read(direct)
    val b = CheckpointParquet.read(viaGroups)
    assert(a === b, "direct/group writer read-back divergence")
    assert(a === actions, "direct writer round-trip")
  }

  test("direct parquet reader matches the Group-API reference reader " +
      "and the lite projection agrees on its fields") {
    // the r18 converter-tree reader must decode identically to the
    // Group-API reference on every AddFile shape (same fixture spread
    // as the writer differential), from BOTH writers' files
    val rnd = new scala.util.Random(13)
    val actions: Seq[AddFile] =
      (0 until 500).map { i =>
        AddFile(s"p=${i % 7}/f-$i-日本.parquet",
          Map("p" -> (if (i % 11 == 0) null else s"${i % 7}")),
          rnd.nextLong().abs, i.toLong,
          if (i % 3 == 0) Map.empty
          else Map("id" -> s"$i", "s" -> s"αβ$i\n\"q\""),
          if (i % 3 == 0) Map.empty else Map("id" -> s"${i + 1}"),
          if (i % 4 == 0) Map.empty else Map("id" -> i.toLong),
          dvPath = if (i % 5 == 0) Some(s"_dv/$i.dv") else None,
          dvCardinality = (i % 9).toLong,
          bloomPath = if (i % 6 == 0) Some(s"_bloom/$i") else None,
          baseRowId = if (i % 2 == 0) Some(i * 100L) else None,
          clusterGen = if (i % 8 == 0) Some(i.toLong) else None)
      }
    val dir = tmpDir("ckpt-readdiff")
    Seq(("direct", CheckpointParquet.write _),
        ("groups", CheckpointParquet.writeViaGroups _)).foreach {
      case (name, writeFn) =>
        val f = java.nio.file.Paths.get(dir, s"$name.parquet")
        writeFn(f, actions.iterator)
        val direct = CheckpointParquet.read(f)
        val reference = CheckpointParquet.readViaGroups(f)
        assert(direct === reference,
          s"direct/group READER divergence on the $name writer's file")
        assert(direct === actions, s"direct reader round-trip ($name)")
        // the lite projection returns the same adds with stats dropped
        val lite = CheckpointParquet.readAddsLite(
          LogStore.current.fileReader(f)).toVector
        val expected = actions.map(a =>
          a.copy(minValues = Map.empty, maxValues = Map.empty,
            nullCounts = Map.empty))
        assert(lite === expected, s"lite projection divergence ($name)")
    }
  }

  test("lite projection tolerates checkpoint parts from older builds") {
    // a part written before numRecords/dvCardinality/bloomPath/
    // baseRowId/clusterGen existed: the lite projection must intersect
    // with the FILE schema and decode missing columns at defaults —
    // parquet's checkContains would otherwise reject the projection
    // outright (the direct full read() already tolerates this by
    // building its converter tree from the file schema)
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val oldSchema = MessageTypeParser.parseMessageType("""
      message graft_checkpoint {
        optional group add {
          required binary path (STRING);
          repeated group partitionValues {
            required binary key (STRING);
            optional binary value (STRING);
          }
          required int64 size;
          optional binary dvPath (STRING);
        }
      }""")
    val f = java.nio.file.Paths.get(tmpDir("ckpt-old"), "old.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(oldSchema, conf)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(f.toString))
      .withConf(conf).build()
    try (0 until 5).foreach { i =>
      val g = new SimpleGroup(oldSchema)
      val add = g.addGroup("add")
      add.add("path", s"p=$i/f$i.parquet")
      val kv = add.addGroup("partitionValues")
      kv.add("key", "p"); kv.add("value", s"$i")
      add.add("size", 100L + i)
      if (i % 2 == 0) add.add("dvPath", s"_dv/$i.dv")
      w.write(g)
    } finally w.close()
    val lite = CheckpointParquet
      .readAddsLite(LogStore.current.fileReader(f)).toVector
    assert(lite.size === 5)
    lite.zipWithIndex.foreach { case (a, i) =>
      assert(a.path === s"p=$i/f$i.parquet")
      assert(a.partitionValues === Map("p" -> s"$i"))
      assert(a.size === 100L + i)
      assert(a.numRecords === 0L && a.dvCardinality === 0L)
      assert(a.dvPath === (if (i % 2 == 0) Some(s"_dv/$i.dv") else None))
      assert(a.bloomPath.isEmpty && a.baseRowId.isEmpty &&
        a.clusterGen.isEmpty)
    }
    // a part with NO add group in its schema (foreign/meta-only
    // writer): the projection fallback must yield an empty result,
    // not a parquet error
    val metaOnly = MessageTypeParser.parseMessageType("""
      message graft_checkpoint {
        optional group metaData {
          required binary schemaDDL (STRING);
        }
      }""")
    val f2 = java.nio.file.Paths.get(tmpDir("ckpt-old"), "meta.parquet")
    val conf2 = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(metaOnly, conf2)
    val w2 = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(f2.toString))
      .withConf(conf2).build()
    try {
      val g = new SimpleGroup(metaOnly)
      g.addGroup("metaData").add("schemaDDL", "id BIGINT")
      w2.write(g)
    } finally w2.close()
    assert(CheckpointParquet
      .readAddsLite(LogStore.current.fileReader(f2)).toVector.isEmpty)
  }

  test("a truncated GET body fails loudly instead of hanging the task") {
    // a GET-backed read (localPath = None) of a checkpoint part whose
    // body lost bytes MID-OBJECT: the intact trailing footer directs
    // seeks past the (shrunken) buffer end — the read must throw so
    // Spark's task retry can recover, never spin in seek()
    val f = java.nio.file.Paths.get(tmpDir("ckpt-trunc"), "t.parquet")
    val adds = (1 to 200).map(i =>
      AddFile(s"part-$i.parquet", Map.empty, i.toLong, 1L,
        Map("id" -> s"$i"), Map("id" -> s"$i"), Map.empty))
    CheckpointParquet.write(f, adds.iterator)
    val whole = java.nio.file.Files.readAllBytes(f)
    // drop a slab from the middle, keep the footer bytes at the tail
    val cut = whole.length / 3
    val truncated = whole.take(64) ++ whole.drop(64 + cut)
    val reader = new LogFileReader {
      override def readAllBytes(): Array[Byte] = truncated
      override def localPath: Option[String] = None
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempt = Future(
      intercept[Exception] { CheckpointParquet.read(reader); () })
    Await.result(attempt, 60.seconds) // a hang fails the await, loudly
  }

  test("single-file checkpoints remain the small-state fast path") {
    val path = tablePath("ckpt-single")
    val log = new LakeLog(path)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta,
      Protocol()))
    (1L to 10L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v, "APPEND", Map.empty),
        addFile(s"s$v")))
    }
    val names = LogStore.current.listDir(log.logDir)
      .map(_.getFileName.toString)
    assert(names.exists(_.matches("\\d{20}\\.checkpoint\\.json")))
    assert(manifestVersions(log).isEmpty)
  }

  test("log retention drops aged pre-horizon version files; travel fails loudly") {
    val path = tablePath("logret")
    val log = new LakeLog(path)
    val retMeta = Metadata("id BIGINT", Nil, 0L, Map.empty,
      Map(LakeLog.LOG_RETENTION_PROP -> "0")) // expire immediately
    // ancient commit timestamps (v+1 ms) so the age gate passes
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), retMeta,
      Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"r$v")))
    }
    // checkpoints at 10/20/30 retained; keepFrom = 30 - 2*10 = 10 →
    // version files 0..9 are below the horizon AND aged → deleted
    val names = LogStore.current.listDir(log.logDir)
      .map(_.getFileName.toString)
    (0L to 9L).foreach(v =>
      assert(!names.contains(f"$v%020d.json"), s"v$v not cleaned"))
    (10L to 30L).foreach(v =>
      assert(names.contains(f"$v%020d.json"), s"v$v wrongly deleted"))
    assert(log.earliestReplayableVersion === 10L)
    // travel below the horizon: loud, names the horizon
    Snapshot.clearCacheForTest()
    val ex = intercept[IllegalStateException](log.snapshot(5L))
    assert(ex.getMessage.contains("retention horizon"))
    assert(ex.getMessage.contains("earliest replayable version: 10"))
    // at and above the horizon: unaffected
    assert(log.snapshot(10L).files.size === 10)
    assert(log.snapshot(30L).files.map(_.path).toSet ===
      naiveLiveSetFrom(log, 10L, 30L, log.snapshot(10L)))
    // history is sidecar-backed: still sees every commit
    val hist = log.latestHistoryAtOrBefore(30L)
    assert(hist.exists(_._2.size === 31))
    // the change feed names the horizon too
    val cdfEx = intercept[IllegalStateException](
      LakeTable.forPath(spark, path).changes(5L).count())
    assert(cdfEx.getMessage.contains("retention horizon"))
  }

  test("aged prefix ending mid-interval writes an anchor checkpoint; " +
      "no surviving version is ever stranded") {
    // The steady-state lifecycle: by the time versions age past the
    // horizon, the count-based aux sweep deleted the checkpoints near
    // them LONG ago. Retention must then write its own anchor at the
    // cut (still possible — nothing below is deleted yet) instead of
    // either stranding survivors (deleting versions the remaining
    // checkpoints can't reach) or silently never deleting anything.
    val path = tablePath("logret-anchor")
    val log = new LakeLog(path)
    val retMeta = Metadata("id BIGINT", Nil, 0L, Map.empty,
      Map(LakeLog.LOG_RETENTION_PROP -> "1")) // 1-hour horizon
    // v0..34 ancient (aged out), v35..60 stamped now (inside horizon)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), retMeta,
      Protocol()))
    (1L to 60L).foreach { v =>
      val ts = if (v <= 34) v + 1 else System.currentTimeMillis()
      log.commit(v, Seq(CommitInfo(ts, "APPEND", Map.empty),
        addFile(s"a$v")))
    }
    val names = LogStore.current.listDir(log.logDir)
      .map(_.getFileName.toString)
    // the aged prefix 0..34 is gone, the young tail intact
    (0L to 34L).foreach(v =>
      assert(!names.contains(f"$v%020d.json"), s"v$v not cleaned"))
    (35L to 60L).foreach(v =>
      assert(names.contains(f"$v%020d.json"), s"v$v wrongly deleted"))
    // the anchor checkpoint was written AT the cut (35 — not a
    // checkpoint-interval boundary) and survived the aux sweep
    val ckptVersions = names.filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong).sorted
    assert(ckptVersions.contains(35L),
      s"no anchor checkpoint at the cut; checkpoints: $ckptVersions")
    assert(ckptVersions.size <= LakeLog.RETAINED_AUX + 1,
      s"checkpoint count unbounded: $ckptVersions")
    assert(log.earliestReplayableVersion === 35L)
    // THE invariant: every surviving version file is replayable
    (35L to 60L).foreach { v =>
      Snapshot.clearCacheForTest()
      assert(log.snapshot(v).files.size === v, s"version $v stranded")
    }
    Snapshot.clearCacheForTest()
    val ex = intercept[IllegalStateException](log.snapshot(34L))
    assert(ex.getMessage.contains("earliest replayable version: 35"))
  }

  test("vacuum survives versions deleted by log retention") {
    // Sidecar-backed commitTimestamps still list versions whose files
    // log retention removed; vacuum's tombstone-protection loop must
    // skip them (they are unreachable by replay and CDF alike), not
    // crash the whole vacuum on a missing version file.
    val path = tablePath("logret-vacuum")
    val log = new LakeLog(path)
    val retMeta = Metadata("id BIGINT", Nil, 0L, Map.empty,
      Map(LakeLog.LOG_RETENTION_PROP -> "0")) // everything aged
    // current timestamps: inside the 168h vacuum window, yet aged for
    // the 0-hour log horizon
    log.commit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty),
      retMeta, Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(
        CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
        addFile(s"w$v")))
    }
    // retention dropped a prefix…
    assert(log.earliestReplayableVersion > 0L)
    // …and vacuum still runs (pre-fix: NoSuchFileException from
    // reading a deleted version in the protection loop)
    val t = LakeTable.forPath(spark, path)
    assert(t.vacuum(dryRun = true).isEmpty)
  }

  test("a checkpoint deleted after listing falls back to the older one") {
    // The cleanup lock is per-process: a cleaner in ANOTHER JVM can
    // delete a stale checkpoint between this reader's LIST and its
    // read. The reader must fall back to the next older checkpoint,
    // not crash (pre-fix: UnsupportedOperationException empty.max).
    val path = tablePath("ckpt-vanish")
    val log = new LakeLog(path)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta,
      Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"c$v")))
    }
    val phantom = log.logDir.resolve(f"${30L}%020d.checkpoint.json")
    assert(LogStore.current.delete(phantom)) // gone on disk…
    val prev = LogStore.current
    LogStore.current = new LogStore { // …but still in the listing
      override def putIfAbsent(t: java.nio.file.Path, l: Seq[String]) =
        prev.putIfAbsent(t, l)
      override def atomicReplace(t: java.nio.file.Path, l: Seq[String]) =
        prev.atomicReplace(t, l)
      override def listDir(dir: java.nio.file.Path) = {
        val real = prev.listDir(dir)
        if (dir == log.logDir && !real.contains(phantom))
          real :+ phantom
        else real
      }
      override def readLines(p: java.nio.file.Path) = prev.readLines(p)
      override def exists(p: java.nio.file.Path) = prev.exists(p)
      override def delete(p: java.nio.file.Path) = prev.delete(p)
    }
    try {
      val got = log.latestCheckpointAtOrBefore(30L)
      assert(got.exists(_._1 === 20L), "must fall back to v20")
      Snapshot.clearCacheForTest()
      assert(log.snapshot(30L).files.size === 30)
    } finally LogStore.current = prev
  }

  test("losing every history sidecar degrades to the surviving tail") {
    // Sidecar writes are best-effort; if every sidecar is lost AND
    // retention has deleted version 0, history/timestamp reads must
    // walk from the oldest SURVIVING version file, not crash reading
    // v0 — and the next checkpoint boundary must rebuild a sidecar
    // from the same base.
    val path = tablePath("sidecar-loss")
    val log = new LakeLog(path)
    val retMeta = Metadata("id BIGINT", Nil, 0L, Map.empty,
      Map(LakeLog.LOG_RETENTION_PROP -> "0"))
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), retMeta,
      Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"s$v")))
    }
    assert(log.earliestReplayableVersion === 10L) // prefix 0..9 gone
    LogStore.current.listDir(log.logDir)
      .filter(_.getFileName.toString.endsWith(".history.json"))
      .foreach(LogStore.current.delete)
    // pre-fix: NoSuchFileException replaying from version 0
    val hist = LakeTable.forPath(spark, path).history()
    assert(hist.count() === 21L) // versions 10..30
    assert(hist.agg(org.apache.spark.sql.functions.min("version"))
      .head().getLong(0) === 10L)
    // the next boundary rebuilds the sidecar from the surviving base
    (31L to 40L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"s$v")))
    }
    val rebuilt = log.latestHistoryAtOrBefore(40L)
    assert(rebuilt.exists(_._1 === 40L))
    assert(rebuilt.exists(_._2.map(_.version).min === 10L))
  }

  test("the newest history sidecar is exempt from the age sweep") {
    // If sidecar writes fail at several consecutive boundaries, the
    // age sweep must not delete the last surviving sidecar: it is the
    // only base history rebuild and timestamp travel have once the
    // version prefix below it is gone.
    val path = tablePath("sidecar-exempt")
    val log = new LakeLog(path)
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta,
      Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"e$v")))
    }
    // leave only the v10 sidecar — aged below keepFrom at latest=40
    LogStore.current.listDir(log.logDir)
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".history.json") && !n.startsWith(f"${10L}%020d")
      }.foreach(LogStore.current.delete)
    log.cleanupAuxFiles(40L) // keepFrom = 20: v10 sidecar is aged
    val names = LogStore.current.listDir(log.logDir)
      .map(_.getFileName.toString)
    assert(names.contains(f"${10L}%020d.history.json"),
      "age sweep deleted the last surviving history sidecar")
  }

  test("default retention keeps version files; negative disables cleanup") {
    // fresh commits + default 720h retention → nothing is deleted
    val path = tablePath("logret-off")
    val log = new LakeLog(path)
    log.commit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty), meta,
      Protocol()))
    (1L to 30L).foreach { v =>
      log.commit(v, Seq(
        CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
        addFile(s"k$v")))
    }
    val names = LogStore.current.listDir(log.logDir)
      .map(_.getFileName.toString)
    (0L to 30L).foreach(v => assert(names.contains(f"$v%020d.json")))
    assert(log.earliestReplayableVersion === 0L)
    Snapshot.clearCacheForTest()
    assert(log.snapshot(5L).files.size === 5) // full-log travel intact

    // ancient commits + retention -1 → cleanup disabled entirely
    val path2 = tablePath("logret-neg")
    val log2 = new LakeLog(path2)
    log2.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT", Nil, 0L, Map.empty,
        Map(LakeLog.LOG_RETENTION_PROP -> "-1")),
      Protocol()))
    (1L to 30L).foreach { v =>
      log2.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"n$v")))
    }
    val names2 = LogStore.current.listDir(log2.logDir)
      .map(_.getFileName.toString)
    (0L to 30L).foreach(v => assert(names2.contains(f"$v%020d.json")))
  }

  test("retention invariants hold across aged-prefix splits (property sweep)") {
    // For every split point k (commits 0..k aged, k+1.. young), after
    // the full commit stream the three invariants must hold:
    //   1. no stranded version — every surviving version replays, and
    //      the oldest one IS the earliest replayable;
    //   2. retained checkpoints stay bounded (RETAINED_AUX + anchor);
    //   3. the replayed state at every surviving version equals the
    //      ground truth (one add per commit, never removed).
    val n = 45L
    Seq(0L, 4L, 9L, 14L, 15L, 23L, 34L, 44L).foreach { k =>
      val path = tablePath(s"logret-sweep-$k")
      val log = new LakeLog(path)
      val retMeta = Metadata("id BIGINT", Nil, 0L, Map.empty,
        Map(LakeLog.LOG_RETENTION_PROP -> "1"))
      log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), retMeta,
        Protocol()))
      (1L to n).foreach { v =>
        val ts = if (v <= k) v + 1 else System.currentTimeMillis()
        log.commit(v, Seq(CommitInfo(ts, "APPEND", Map.empty),
          addFile(s"p$v")))
      }
      val survivors = log.listVersionFiles.map(LakeLog.versionOf)
      assert(survivors.last === n)
      assert(survivors === (survivors.head to n),
        s"k=$k: version files not contiguous: $survivors")
      assert(survivors.head === log.earliestReplayableVersion,
        s"k=$k: oldest survivor ${survivors.head} not replayable " +
        s"(earliest: ${log.earliestReplayableVersion})")
      val ckpts = LogStore.current.listDir(log.logDir)
        .map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json"))
        .map(_.stripSuffix(".checkpoint.json").toLong)
      assert(ckpts.size <= LakeLog.RETAINED_AUX + 1,
        s"k=$k: unbounded checkpoints $ckpts")
      survivors.foreach { v =>
        Snapshot.clearCacheForTest()
        val snap = log.snapshot(v)
        assert(snap.files.map(_.path).toSet ===
          (1L to v).map(s => s"p$s.parquet").toSet,
          s"k=$k: wrong state at version $v")
      }
    }
  }

  test("flipping retention off mid-stream stops deletion; re-enabling resumes") {
    // Every commit is ancient (ts = v+1), so ONLY the table property
    // gates deletion. Retention "0" → flip "-1" before the first
    // boundary where deletion could act (v30, keepFrom=10) → flip
    // back "0" before v40.
    val path = tablePath("logret-flip")
    val log = new LakeLog(path)
    def meta(ret: String) = Metadata("id BIGINT", Nil, 0L, Map.empty,
      Map(LakeLog.LOG_RETENTION_PROP -> ret))
    log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta("0"),
      Protocol()))
    (1L to 14L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"f$v")))
    }
    log.commit(15L, Seq(CommitInfo(16L, "SET TBLPROPERTIES", Map.empty),
      meta("-1")))
    (16L to 30L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"f$v")))
    }
    // v30's cleanup ran with keepFrom=10 and every version aged — the
    // "-1" must be the only thing that kept them
    assert(log.listVersionFiles.size === 31, "retention -1 must disable")
    // flip back ON: the next boundary (v40, keepFrom=20) resumes
    log.commit(31L, Seq(CommitInfo(32L, "SET TBLPROPERTIES", Map.empty),
      meta("0")))
    (32L to 40L).foreach { v =>
      log.commit(v, Seq(CommitInfo(v + 1, "APPEND", Map.empty),
        addFile(s"f$v")))
    }
    val survivors = log.listVersionFiles.map(LakeLog.versionOf)
    assert(survivors.head === 20L,
      s"resumed cleanup should cut at keepFrom=20; survivors $survivors")
    assert(survivors.head === log.earliestReplayableVersion)
    Snapshot.clearCacheForTest()
    // appends: 1..14, 16..30, 32..40 = 38 files
    assert(log.snapshot(40L).files.size === 38)
  }

  /** Live set from replaying [from..to] on top of snapshot(from). */
  private def naiveLiveSetFrom(log: LakeLog, from: Long, to: Long,
      base: Snapshot): Set[String] = {
    val live = scala.collection.mutable.LinkedHashSet(
      base.files.map(_.path): _*)
    ((from + 1) to to).foreach { v =>
      log.readVersion(v).foreach {
        case a: AddFile    => live += a.path; ()
        case r: RemoveFile => live -= r.path; ()
        case _             => ()
      }
    }
    live.toSet
  }

  test("parquet checkpoint staging leaves no .crc or .tmp debris") {
    // Hadoop's checksummed LocalFileSystem writes a "..rep-*.tmp.crc"
    // sibling next to every staged parquet body; the publish move
    // takes only the body, so without eager deletion the sibling
    // accretes in the log forever (one per sidecar per checkpoint).
    withPartMax(5) {
      val path = tablePath("ckpt-nocrc")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty), meta,
        Protocol()))
      (1L to 14L).foreach { v =>
        log.commit(v, Seq(CommitInfo(v, "APPEND", Map.empty),
          addFile(s"f${v}a"), addFile(s"f${v}b")))
      }
      assert(manifestVersions(log) === Seq(10L))
      assert(sidecarsOnDisk(log).nonEmpty)
      val names = Seq(log.logDir, log.logDir.resolve(LakeLog.SIDECAR_DIR))
        .flatMap(LogStore.current.listDir).map(_.getFileName.toString)
      assert(!names.exists(_.endsWith(".crc")),
        s"orphaned checksum sibling in the log: $names")
      assert(!names.exists(_.endsWith(".tmp")),
        s"orphaned staging body in the log: $names")
      // and the crash-path sweep matches the checksum-sibling pattern
      val debris = log.logDir.resolve("..rep-deadbeef.tmp.crc")
      java.nio.file.Files.write(debris,
        java.util.Arrays.asList("x"))
      java.nio.file.Files.setLastModifiedTime(debris,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 24L * 3600 * 1000))
      LogStore.current.cleanupStaging(log.logDir, 3600 * 1000L)
      assert(!java.nio.file.Files.exists(debris),
        "aged ..rep-*.tmp.crc debris must be swept")
    }
  }

  test("stale multi-part checkpoints are cleaned up with the aux files") {
    withPartMax(2) {
      val path = tablePath("ckpt-clean")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE",
        Map.empty), meta, Protocol()))
      // five checkpoint boundaries (v10..v50); RETAINED_AUX = 3 keeps
      // the manifests for v30+ only. Removes dirty old slices, so the
      // stale manifests reference sidecars no surviving one does.
      (1L to 50L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"c$v")) ++
          (if (v % 3 == 0) Seq(RemoveFile(s"c${v - 2}.parquet", v))
           else Nil))
      }
      assert(manifestVersions(log) === Seq(30L, 40L, 50L))
      val referenced = manifestVersions(log).flatMap(v =>
        log.readManifest(log.manifestFile(v))._2.map(_.path)).toSet
      val before = sidecarsOnDisk(log)
      assert(before.map(p => LakeLog.SIDECAR_DIR + "/" +
        p.getFileName.toString).exists(p => !referenced(p)),
        "no sidecar was left unreferenced by the stale manifests")
      // the sweep is age-gated: age every sidecar, then clean up
      before.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 24L * 3600 * 1000)))
      log.cleanupAuxFiles(50L)
      val after = sidecarsOnDisk(log).map(p =>
        LakeLog.SIDECAR_DIR + "/" + p.getFileName.toString).toSet
      assert(after === referenced,
        s"unreferenced: ${after -- referenced}; " +
        s"missing: ${referenced -- after}")
      Snapshot.clearCacheForTest()
      assert(log.snapshot(50L).files.map(_.path).toSet ===
        naiveLiveSet(log, 50L))
    }
  }

  test("the columnar index qualifies exactly when the newest " +
      "checkpoint is a manifest") {
    import graft.sources.ColumnarLakeFileIndex
    withPartMax(6) {
      val path = tablePath("ckpt-columnar-rule")
      val log = new LakeLog(path)
      def ts = System.currentTimeMillis()
      def columnar(v: Long): Boolean = {
        Snapshot.clearCacheForTest()
        ColumnarLakeFileIndex.clearCacheForTest()
        ColumnarLakeFileIndex.tryBuild(spark, log, v).isDefined
      }
      log.commit(0L, Seq(CommitInfo(ts, "CREATE", Map.empty), meta,
        Protocol()))
      // below the threshold: one live file at v10 (2 head + 1 <= 6)
      (1L to 10L).foreach { v =>
        log.commit(v, Seq(CommitInfo(ts, "APPEND", Map.empty),
          addFile(s"a$v")) ++
          (if (v > 1) Seq(RemoveFile(s"a${v - 1}.parquet", v)) else Nil))
      }
      val names10 = LogStore.current.listDir(log.logDir)
        .map(_.getFileName.toString)
      assert(names10.contains(f"${10L}%020d.checkpoint.json"))
      assert(manifestVersions(log).isEmpty)
      assert(!columnar(10L), "a JSON checkpoint must not plan columnar")
      // grow across it: 11 live files at v20 → the first manifest
      (11L to 20L).foreach { v =>
        log.commit(v, Seq(CommitInfo(ts, "APPEND", Map.empty),
          addFile(s"b$v")))
      }
      assert(manifestVersions(log) === Seq(20L))
      assert(columnar(20L), "a manifest checkpoint must plan columnar")
      // DELETE shrinks the table below the threshold again; the chain
      // keeps the manifest form, so the table stays columnar
      val live20 = naiveLiveSet(log, 20L).toSeq.sorted
      log.commit(21L, CommitInfo(ts, "DELETE", Map.empty) +:
        live20.drop(1).map(p => RemoveFile(p, 21L): Action))
      var survivor = live20.head
      (22L to 30L).foreach { v =>
        log.commit(v, Seq(CommitInfo(ts, "APPEND", Map.empty),
          addFile(s"c$v"), RemoveFile(survivor, v)))
        survivor = s"c$v.parquet"
      }
      assert(naiveLiveSet(log, 30L).size === 1)
      assert(manifestVersions(log) === Seq(20L, 30L))
      assert(!LogStore.current.listDir(log.logDir)
        .exists(_.getFileName.toString == f"${30L}%020d.checkpoint.json"))
      assert(columnar(30L), "a shrunk manifest-chain table left columnar")
      // time travel follows the checkpoint at or below the version
      assert(!columnar(15L))
      Snapshot.clearCacheForTest()
      assert(log.snapshot(30L).files.map(_.path).toSet ===
        naiveLiveSet(log, 30L))
    }
  }

  // ----- incremental manifest checkpoints (round 17) ---------------

  private def manifestVersions(log: LakeLog): Seq[Long] =
    LogStore.current.listDir(log.logDir).map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.checkpoint\\.manifest\\.json"))
      .map(_.stripSuffix(".checkpoint.manifest.json").toLong).sorted

  private def sidecarsOnDisk(log: LakeLog): Seq[java.nio.file.Path] =
    LogStore.current.listDir(log.logDir.resolve(LakeLog.SIDECAR_DIR))
      .filter(_.getFileName.toString.endsWith(".parquet"))

  private def sidecarEntries(log: LakeLog, refs: Seq[SidecarRef]): Seq[String] =
    refs.flatMap(r => CheckpointParquet.read(
        LogStore.current.fileReader(log.logDir.resolve(r.path)))
      .collect { case a: AddFile => a.path })

  test("manifest checkpoints: incremental chain replays equal to " +
      "ground truth at every version; slices stay exactly-once") {
    withPartMax(5) {
      val path = tablePath("ckpt-manifest-chain")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty), meta,
        Protocol()))
      // adds every version, a remove every 4th — v10 bootstraps the
      // first manifest, v20/v30 extend it INCREMENTALLY
      (1L to 34L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"f${v}a"), addFile(s"f${v}b")) ++
          (if (v % 4 == 0) Seq(RemoveFile(s"f${v - 2}a.parquet", v))
           else Nil))
      }
      assert(manifestVersions(log) === Seq(10L, 20L, 30L))
      // incremental proof: v20's manifest carries at least one sidecar
      // WRITTEN AT v10 forward by reference
      val (_, refs20) = log.readManifest(log.manifestFile(20L))
      assert(refs20.exists(_.path.contains("00000000000000000010-")),
        s"v20 manifest rewrote everything: ${refs20.map(_.path)}")
      // exactly-once invariant at the newest manifest: the union of
      // its sidecars IS the live set, no path twice, counts exact
      val (_, refs30) = log.readManifest(log.manifestFile(30L))
      val entries = sidecarEntries(log, refs30)
      assert(entries.size === entries.distinct.size,
        "duplicate entries across sidecars")
      assert(entries.toSet === naiveLiveSet(log, 30L))
      assert(refs30.map(_.count).sum === entries.size.toLong)
      // replay through the manifest chain == ground truth, everywhere
      (0L to 34L).foreach { v =>
        Snapshot.clearCacheForTest()
        assert(log.snapshot(v).files.map(_.path).toSet ===
          naiveLiveSet(log, v), s"replay mismatch at version $v")
      }
      // the incremental cadence never materializes the file list: the
      // next boundary commit must not bump fullReplays
      Snapshot.clearCacheForTest()
      val fr0 = Snapshot.fullReplays.get()
      (35L to 40L).foreach { v =>
        log.commit(v, Seq(CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"f${v}a")))
      }
      assert(manifestVersions(log).contains(40L))
      assert(Snapshot.fullReplays.get() === fr0,
        "incremental manifest cadence replayed the full file list")
    }
  }

  test("all-dirty cadence: fully-touched slices drop without a full " +
      "decode; replay stays exact") {
    withPartMax(5) {
      val path = tablePath("ckpt-all-dirty")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE",
        Map.empty), meta, Protocol()))
      (1L to 10L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"f${v}a"), addFile(s"f${v}b")))
      }
      assert(manifestVersions(log) === Seq(10L))
      // the bulk-rewrite worst case: ONE commit tombstones every live
      // path and adds a fresh set — every v10 slice is FULLY dirty
      val live10 = naiveLiveSet(log, 10L)
      log.commit(11L,
        Seq(CommitInfo(System.currentTimeMillis(), "REWRITE", Map.empty)) ++
        live10.toSeq.sorted.map(p =>
          RemoveFile(p, 11L): Action) ++
        (1 to 6).map(i => addFile(s"n$i"): Action))
      val fd0 = LakeLog.sliceFullDecodes.get()
      (12L to 20L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"t$v")))
      }
      assert(manifestVersions(log).contains(20L))
      assert(LakeLog.sliceFullDecodes.get() === fd0,
        "a fully-dirty slice paid the full stats decode its empty " +
        "remainder makes provably unnecessary")
      // none of the v10 slices survive into the v20 manifest
      val (_, refs20) = log.readManifest(log.manifestFile(20L))
      assert(refs20.forall(!_.path.contains("00000000000000000010-")),
        s"a fully-dirtied v10 slice was carried: ${refs20.map(_.path)}")
      // exactness: replay through the manifest == naive ground truth
      Snapshot.clearCacheForTest()
      assert(log.snapshot(20L).files.map(_.path).toSet ===
        naiveLiveSet(log, 20L))
      // and a PARTIALLY-dirty slice still pays its (necessary) decode
      log.commit(21L, Seq(
        CommitInfo(System.currentTimeMillis(), "DELETE", Map.empty),
        RemoveFile("n1.parquet", 21L)))
      (22L to 30L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"u$v")))
      }
      assert(manifestVersions(log).contains(30L))
      assert(LakeLog.sliceFullDecodes.get() > fd0,
        "the partial-dirty rewrite path should decode its slice")
      Snapshot.clearCacheForTest()
      assert(log.snapshot(30L).files.map(_.path).toSet ===
        naiveLiveSet(log, 30L))
    }
  }

  test("RESTORE publishes a slice-reusing manifest; the next cadence " +
      "stays off the all-dirty path") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    withPartMax(5) {
      val path = tablePath("ckpt-restore-manifest")
      // 13 single-file commits -> manifest at v10, tail v11..v12
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((i.toLong, s"row$i", i % 3)).toDF("id", "name", "p"),
          path, partitionBy = if (i == 0) Seq("p") else Nil)
      }
      val log = new LakeLog(path)
      assert(manifestVersions(log) === Seq(10L))
      val targetV = log.latestVersion // 12
      val expectRows = spark.read.format("lake").load(path)
        .collect().toSet
      // bury the live set, then restore it
      LakeWriter.write(Seq((99L, "ow", 0)).toDF("id", "name", "p"),
        path, mode = "overwrite")
      val fd0 = LakeLog.sliceFullDecodes.get()
      LakeTable.forPath(spark, path).restoreTo(targetV)
      val rv = log.latestVersion
      // the restore itself published a manifest at its own version,
      // REUSING the v10 slices (carried by reference), with zero
      // full slice decodes
      assert(manifestVersions(log).contains(rv),
        s"no manifest at restore version $rv: ${manifestVersions(log)}")
      val (_, refsR) = log.readManifest(log.manifestFile(rv))
      assert(refsR.exists(_.path.contains("00000000000000000010-")),
        s"restore manifest carried no v10 slice: ${refsR.map(_.path)}")
      assert(LakeLog.sliceFullDecodes.get() === fd0,
        "the restore manifest paid full slice decodes")
      // reads through the restored manifest are exact — entries, not
      // just paths: ground-truth entry fold over the raw version files
      val truth = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
        (0L to rv).foreach { v =>
          log.readVersion(v).foreach {
            case a: AddFile    => m(a.path) = a; ()
            case r: RemoveFile => m.remove(r.path); ()
            case _             => ()
          }
        }
        m.values.toSet
      }
      Snapshot.clearCacheForTest()
      assert(log.snapshot(rv).files.toSet === truth,
        "manifest-replayed entries diverge from the version-file fold")
      assert(spark.read.format("lake").load(path).collect().toSet ===
        expectRows)
      // next cadence folds only the small post-restore tail
      val fr0 = Snapshot.fullReplays.get()
      ((rv + 1) to ((rv / 10 + 1) * 10)).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"post$v")))
      }
      assert(manifestVersions(log).exists(_ > rv))
      assert(Snapshot.fullReplays.get() === fr0,
        "post-restore cadence replayed the full file list")
      assert(LakeLog.sliceFullDecodes.get() === fd0,
        "post-restore cadence decoded carried slices it did not touch")
      Snapshot.clearCacheForTest()
      val latest = log.latestVersion
      assert(log.snapshot(latest).files.map(_.path).toSet ===
        naiveLiveSet(log, latest))
    }
  }

  test("manifest without its sidecars never blesses; sidecars without " +
      "a manifest are crash debris the GC sweeps") {
    withPartMax(3) {
      val path = tablePath("ckpt-manifest-crash")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty), meta,
        Protocol()))
      (1L to 10L).foreach { v =>
        log.commit(v, Seq(CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"g$v")))
      }
      assert(manifestVersions(log) === Seq(10L))
      val sidecars = sidecarsOnDisk(log)
      assert(sidecars.nonEmpty)
      // crash shape: the manifest never landed (it publishes LAST) —
      // delete it; the orphaned sidecars must not count as a checkpoint
      LogStore.current.delete(log.manifestFile(10L))
      Snapshot.clearCacheForTest()
      assert(log.latestCheckpointAtOrBefore(10L).isEmpty,
        "orphan sidecars must not bless a checkpoint")
      assert(log.snapshot(10L).files.map(_.path).toSet ===
        naiveLiveSet(log, 10L))
      // ...and the age-gated GC removes them once past the horizon
      sidecars.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 24L * 3600 * 1000)))
      log.cleanupAuxFiles(10L)
      assert(sidecarsOnDisk(log).isEmpty,
        "unreferenced aged sidecars must be GC'd")
    }
  }

  test("sidecar GC: slices referenced by any surviving manifest " +
      "survive; slices only stale manifests referenced are deleted") {
    withPartMax(4) {
      val path = tablePath("ckpt-manifest-gc")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty), meta,
        Protocol()))
      // removes keep dirtying old slices, so superseded sidecar
      // versions accumulate; five boundaries age v10/v20's manifests
      // out (RETAINED_AUX = 3 keeps v30+)
      (1L to 50L).foreach { v =>
        log.commit(v, Seq(
          CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"c${v}")) ++
          (if (v % 3 == 0) Seq(RemoveFile(s"c${v - 2}.parquet", v))
           else Nil))
      }
      assert(manifestVersions(log) === Seq(30L, 40L, 50L),
        "stale manifests must be swept with the aux files")
      // age everything, then GC: referenced slices must survive
      sidecarsOnDisk(log).foreach(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 24L * 3600 * 1000)))
      log.cleanupAuxFiles(50L)
      val onDisk = sidecarsOnDisk(log).map(
        p => LakeLog.SIDECAR_DIR + "/" + p.getFileName.toString).toSet
      val referenced = manifestVersions(log).flatMap(v =>
        log.readManifest(log.manifestFile(v))._2.map(_.path)).toSet
      assert(referenced.subsetOf(onDisk),
        s"GC deleted live slices: ${referenced -- onDisk}")
      assert(onDisk === referenced,
        s"GC left unreferenced slices: ${onDisk -- referenced}")
      // the surviving manifests still replay to ground truth
      Seq(30L, 40L, 50L).foreach { v =>
        Snapshot.clearCacheForTest()
        assert(log.snapshot(v).files.map(_.path).toSet ===
          naiveLiveSet(log, v), s"post-GC replay mismatch at v$v")
      }
    }
  }

  test("small delta slices absorb small carried sidecars: the slice " +
      "count stays near total/partMax instead of one per cadence") {
    withPartMax(50) {
      val path = tablePath("ckpt-manifest-absorb")
      val log = new LakeLog(path)
      log.commit(0L, Seq(CommitInfo(System.currentTimeMillis(), "CREATE", Map.empty), meta,
        Protocol()))
      // 2 adds per commit, 12 cadences: per-cadence delta (20 adds) is
      // far below partMax, so without absorption the manifest would
      // accrete ~one slice per cadence
      (1L to 120L).foreach { v =>
        log.commit(v, Seq(CommitInfo(System.currentTimeMillis(), "APPEND", Map.empty),
          addFile(s"a${v}x"), addFile(s"a${v}y")))
      }
      val (_, refs) = log.readManifest(
        log.manifestFile(manifestVersions(log).max))
      val total = refs.map(_.count).sum
      assert(total === naiveLiveSet(log, 120L).size.toLong)
      val lowerBound = (total + 49) / 50 // ceil(total/partMax)
      assert(refs.size <= lowerBound + 2,
        s"${refs.size} slices for $total entries (partMax 50): " +
        "absorption is not bounding slice growth")
      Snapshot.clearCacheForTest()
      assert(log.snapshot(120L).files.map(_.path).toSet ===
        naiveLiveSet(log, 120L))
    }
  }
}
