package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Columnar file index (the 10⁷-file read posture): listFiles answers
  * from a DISTRIBUTED scan of the parquet checkpoint parts plus the
  * driver-parsed tail, materializing only the query's surviving
  * AddFiles on the driver. These tests pin exact result parity with
  * the classic materialized path, the tail supersession rules, the
  * precondition fallbacks, and the survivors-only driver contract.
  */
class ColumnarIndexSuite extends SparkSuite {
  import spark.implicits._

  private def withPartMax[A](partMax: Int)(body: => A): A = {
    val prev = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = partMax
    try body finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prev
  }

  /** Partitioned table with enough commits that a MULTI-PART parquet
    * checkpoint exists, plus post-checkpoint tail commits (appends and
    * a delete) so the tail-masking path is exercised.
    */
  private def buildTable(name: String): String = withPartMax(5) {
    val path = tablePath(name)
    // 12 single-file commits -> checkpoint at v10 (interval 10) with
    // >5 AddFiles => multi-part parquet; v11..v12 are tail adds
    (0 until 13).foreach { i =>
      LakeWriter.write(
        Seq((i.toLong, s"row$i", i % 3)).toDF("id", "name", "p"),
        path, partitionBy = if (i == 0) Seq("p") else Nil)
    }
    // tail DELETE: removes the p=2 file added at v11 (id=11 % 3 = 2)
    LakeTable.forPath(spark, path).delete("id = 11")
    path
  }

  private def columnarDF(path: String) =
    spark.read.format("lake").option("columnarIndex", "true").load(path)

  test("columnar read == classic read (full, filtered, partition-pruned)") {
    val path = buildTable("col-parity")
    val log = new LakeLog(path)
    val idx = graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, log, -1L)
    assert(idx.isDefined, "expected a multi-part parquet checkpoint")
    val classic = spark.read.format("lake")
      .option("columnarIndex", "false").load(path)
    val columnar = columnarDF(path)
    assert(columnar.collect().toSet === classic.collect().toSet)
    // filtered parity (stats + partition pruning paths)
    assert(columnar.filter("p = 1").collect().toSet ===
      classic.filter("p = 1").collect().toSet)
    assert(columnar.filter("id >= 9").collect().toSet ===
      classic.filter("id >= 9").collect().toSet)
    // the tail-deleted row is gone on both paths
    assert(columnar.filter("id = 11").count() === 0L)
  }

  test("columnar listFiles materializes survivors only") {
    val path = buildTable("col-survivors")
    val log = new LakeLog(path)
    val total = log.snapshot().numFiles
    // a selective partition read: candidates on the driver must be a
    // strict subset of the table's files (each commit wrote one
    // single-partition file, so pruning is exact here). The index
    // instance under test is the one the RELATION planned with.
    val pruned = columnarDF(path).filter("p = 0")
    assert(pruned.count() > 0)
    val idx = pruned.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) =>
        fs.location.asInstanceOf[graft.sources.ColumnarLakeFileIndex]
    }.get
    assert(idx.lastCandidateCount > 0 &&
      idx.lastCandidateCount < total,
      s"candidates ${idx.lastCandidateCount} vs $total files — the " +
      "distributed pass returned more than the query's survivors")
  }

  test("columnar time travel: version pinned, tail replayed to it") {
    val path = buildTable("col-tt")
    val log = new LakeLog(path)
    val latest = log.latestVersion
    // pre-delete version: row 11 still visible through the columnar path
    val v = latest - 1
    val classic = spark.read.format("lake")
      .option("columnarIndex", "false")
      .option("versionAsOf", v.toString).load(path)
    val columnar = spark.read.format("lake")
      .option("columnarIndex", "true")
      .option("versionAsOf", v.toString).load(path)
    assert(graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, log, v).isDefined)
    assert(columnar.collect().toSet === classic.collect().toSet)
    assert(columnar.filter("id = 11").count() === 1L)
  }

  test("streamed partition DELETE: tombstones stream, results match") {
    val path = buildTable("col-stream-del")
    val before = spark.read.format("lake").load(path)
      .filter("p != 1").collect().toSet
    LakeTable.forPath(spark, path).delete("p = 1")
    // results identical to the classic path's semantics
    assert(spark.read.format("lake").load(path).collect().toSet
      === before)
    assert(columnarDF(path).filter("p = 1").count() === 0L)
    // the commit records its predicate and is metadata-only
    // (RemoveFiles, no adds)
    val log = new LakeLog(path)
    val actions = log.readVersion(log.latestVersion)
    val ci = actions.collectFirst { case c: CommitInfo => c }.get
    assert(ci.operation === "DELETE")
    assert(ci.operationParameters === Map("predicate" -> "p = 1"))
    assert(actions.exists(_.isInstanceOf[RemoveFile]))
    assert(!actions.exists(_.isInstanceOf[AddFile]),
      "streamed partition delete must be metadata-only")
  }

  private def withChunkedRewrite[A](body: => A): A = {
    val pm = LakeTable.STREAMED_REWRITE_MIN_FILES
    val pc = LakeTable.REWRITE_CHUNK_FILES
    LakeTable.STREAMED_REWRITE_MIN_FILES = 1L
    LakeTable.REWRITE_CHUNK_FILES = 2L
    try body finally {
      LakeTable.STREAMED_REWRITE_MIN_FILES = pm
      LakeTable.REWRITE_CHUNK_FILES = pc
    }
  }

  private def latestCommitInfo(path: String): CommitInfo = {
    val log = new LakeLog(path)
    log.readVersion(log.latestVersion)
      .collectFirst { case c: CommitInfo => c }.get
  }

  test("chunked DELETE rewrite: results match classic semantics") {
    val path = buildTable("col-chunked-del")
    val before = spark.read.format("lake").load(path).collect().toSet
    val expect = before.filterNot(_.getLong(0) % 2 == 0)
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path).delete("id % 2 = 0")
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the DELETE should have taken the chunked rewrite path")
    assert(latestCommitInfo(path).operationParameters
      .get("streamedRewrite") === Some("true"))
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
    assert(spark.read.format("lake").option("columnarIndex", "false")
      .load(path).collect().toSet === expect,
      "classic read diverges after the chunked rewrite")
  }

  test("chunked UPDATE rewrite: results match classic semantics") {
    val path = buildTable("col-chunked-upd")
    val before = spark.read.format("lake").load(path).collect().toSet
    val expect = before.map { r =>
      if (r.getLong(0) >= 6) Row(r.getLong(0), "upd", r.getInt(2)) else r
    }
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path)
        .update("id >= 6", Map("name" -> "'upd'"))
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the UPDATE should have taken the chunked rewrite path")
    assert(latestCommitInfo(path).operationParameters
      .get("streamedRewrite") === Some("true"))
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
  }

  test("chunked MERGE rewrite: upsert + by-source + dup fail-fast") {
    val path = buildTable("col-chunked-merge")
    val before = spark.read.format("lake").load(path).collect().toSet
    val srcDf = Seq((5L, "five", 2), (12L, "twelve", 0),
      (100L, "new", 1)).toDF("id", "name", "p")
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path).as("t")
        .merge(srcDf.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("name" -> "s.name"))
        .whenNotMatchedInsert(Map(
          "id" -> "s.id", "name" -> "s.name", "p" -> "s.p"))
        .whenNotMatchedBySourceDelete("t.id >= 9")
        .execute()
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the MERGE should have taken the chunked rewrite path")
    assert(latestCommitInfo(path).operationParameters
      .get("streamedRewrite") === Some("true"))
    val srcNames = Map(5L -> "five", 12L -> "twelve")
    val expect = before.flatMap { r =>
      val id = r.getLong(0)
      srcNames.get(id) match {
        case Some(n) => Some(Row(id, n, r.getInt(2)))
        case None if id >= 9 => None // by-source delete
        case None => Some(r)
      }
    } + Row(100L, "new", 1)
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
    // dup fail-fast: a source matching one target row twice must
    // abort, leave the table unchanged, and sweep its staged files
    val afterMerge = spark.read.format("lake").load(path).collect().toSet
    val dupSrc = Seq((5L, "a", 2), (5L, "b", 2)).toDF("id", "name", "p")
    withChunkedRewrite {
      intercept[IllegalStateException] {
        LakeTable.forPath(spark, path).as("t")
          .merge(dupSrc.as("s"), "t.id = s.id")
          .whenMatchedUpdate(Map("name" -> "s.name"))
          .execute()
      }
    }
    assert(spark.read.format("lake").load(path).collect().toSet
      === afterMerge, "failed chunked merge must leave the table as-is")
  }

  /** DV-enabled twin of [[buildTable]]: 3 rows per file so a
    * row-predicate hit soft-deletes (DV re-add) instead of removing
    * the whole file; same multi-part checkpoint + tail shape.
    */
  private def buildDvTable(name: String): String = withPartMax(5) {
    val path = tablePath(name)
    (0 until 13).foreach { i =>
      LakeWriter.write(
        Seq.tabulate(3)(j => (i * 3L + j, s"row${i * 3 + j}", i % 3))
          .toDF("id", "name", "p").coalesce(1),
        path, partitionBy = if (i == 0) Seq("p") else Nil,
        properties = if (i == 0)
          Map("graft.enableDeletionVectors" -> "true") else Map.empty)
    }
    path
  }

  test("chunked DV DELETE: per-chunk soft-deletes, results match") {
    val path = buildDvTable("col-chunked-dv-del")
    val before = spark.read.format("lake").load(path).collect().toSet
    val expect = before.filterNot(_.getLong(0) % 3 == 1)
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path).delete("id % 3 = 1")
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the DV DELETE should have taken the chunked rewrite path")
    val ci = latestCommitInfo(path)
    assert(ci.operationParameters.get("streamedRewrite") === Some("true"))
    assert(ci.operationParameters.get("deletionVectors") === Some("13"),
      "every file has exactly one hit row -> 13 DV re-adds")
    val log = new LakeLog(path)
    val actions = log.readVersion(log.latestVersion)
    assert(actions.collect { case a: AddFile => a }
      .forall(_.dvPath.isDefined),
      "a chunked DV delete must stage no fresh data files")
    assert(!actions.exists(_.isInstanceOf[RemoveFile]),
      "no file is fully dead at 1-of-3 rows hit")
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
    assert(spark.read.format("lake").option("columnarIndex", "false")
      .load(path).collect().toSet === expect,
      "classic read diverges after the chunked DV delete")
    // full-dead shape: deleting every remaining row drops the entries
    val n1 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path).delete("id >= 0")
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n1 + 1)
    assert(spark.read.format("lake").load(path).count() === 0L)
    val acts2 = log.readVersion(log.latestVersion)
    assert(acts2.count(_.isInstanceOf[RemoveFile]) === 13,
      "all 13 files fully dead -> removes, not DV re-adds")
    assert(!acts2.exists(_.isInstanceOf[AddFile]))
  }

  test("chunked DV UPDATE: per-chunk DVs + appended rows match") {
    val path = buildDvTable("col-chunked-dv-upd")
    val before = spark.read.format("lake").load(path).collect().toSet
    val expect = before.map { r =>
      if (r.getLong(0) % 3 == 2) Row(r.getLong(0), "upd", r.getInt(2))
      else r
    }
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path)
        .update("id % 3 = 2", Map("name" -> "'upd'"))
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the DV UPDATE should have taken the chunked rewrite path")
    val ci = latestCommitInfo(path)
    assert(ci.operationParameters.get("streamedRewrite") === Some("true"))
    assert(ci.operationParameters.get("deletionVectors") === Some("13"))
    val log = new LakeLog(path)
    val actions = log.readVersion(log.latestVersion)
    val (dvAdds, freshAdds) = actions.collect { case a: AddFile => a }
      .partition(_.dvPath.isDefined)
    assert(dvAdds.size === 13 && freshAdds.nonEmpty,
      "merge-on-read UPDATE = DV re-adds + appended updated rows")
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
    assert(spark.read.format("lake").option("columnarIndex", "false")
      .load(path).collect().toSet === expect)
  }

  test("chunked DV MERGE: upsert + by-source + dup fail-fast") {
    val path = buildDvTable("col-chunked-dv-merge")
    val before = spark.read.format("lake").load(path).collect().toSet
    val srcDf = Seq((5L, "five", 2), (12L, "twelve", 0),
      (100L, "new", 1)).toDF("id", "name", "p")
    val n0 = StreamedRewrite.chunkedRewrites.get()
    withChunkedRewrite {
      LakeTable.forPath(spark, path).as("t")
        .merge(srcDf.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("name" -> "s.name"))
        .whenNotMatchedInsert(Map(
          "id" -> "s.id", "name" -> "s.name", "p" -> "s.p"))
        .whenNotMatchedBySourceDelete("t.id >= 30")
        .execute()
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the DV MERGE should have taken the chunked rewrite path")
    val ci = latestCommitInfo(path)
    assert(ci.operationParameters.get("streamedRewrite") === Some("true"))
    assert(ci.operationParameters.get("deletionVectors").exists(
      _.toInt > 0), "clause hits must stage DV re-adds")
    val srcNames = Map(5L -> "five", 12L -> "twelve")
    val expect = before.flatMap { r =>
      val id = r.getLong(0)
      srcNames.get(id) match {
        case Some(n) => Some(Row(id, n, r.getInt(2)))
        case None if id >= 30 => None // by-source delete
        case None => Some(r)
      }
    } + Row(100L, "new", 1)
    assert(spark.read.format("lake").load(path).collect().toSet
      === expect)
    assert(spark.read.format("lake").option("columnarIndex", "false")
      .load(path).collect().toSet === expect)
    // dup fail-fast: per-chunk counts stay exact (a RID lives in one
    // chunk); the failed merge must sweep DV sidecars + staged files
    val afterMerge = spark.read.format("lake").load(path).collect().toSet
    val dupSrc = Seq((5L, "a", 2), (5L, "b", 2)).toDF("id", "name", "p")
    withChunkedRewrite {
      intercept[IllegalStateException] {
        LakeTable.forPath(spark, path).as("t")
          .merge(dupSrc.as("s"), "t.id = s.id")
          .whenMatchedUpdate(Map("name" -> "s.name"))
          .execute()
      }
    }
    assert(spark.read.format("lake").load(path).collect().toSet
      === afterMerge, "failed chunked DV merge must leave the table as-is")
  }

  /** Run `body` with a LogStore that fires `race` once, inside the
    * first version-file PUT under `path`'s log — a commit landing
    * between the operation's plan and its publish.
    */
  private def withRaceAtPublish[A](path: String)(race: => Unit)(
      body: => A): (A, Boolean) = {
    val logDir = java.nio.file.Paths.get(path, LakeLog.LOG_DIR)
      .toAbsolutePath
    val prev = LogStore.current
    @volatile var armed = true
    val hook = new LogStore {
      private def maybeFire(target: java.nio.file.Path): Unit = {
        val name = target.getFileName.toString
        if (armed && target.toAbsolutePath.startsWith(logDir) &&
            name.endsWith(".json") && !name.contains("checkpoint")) {
          armed = false // the racing writer's own commits delegate plainly
          race
        }
      }
      override def putIfAbsent(t: java.nio.file.Path,
          lines: Seq[String]): Unit = {
        maybeFire(t); prev.putIfAbsent(t, lines)
      }
      override def atomicReplace(t: java.nio.file.Path,
          lines: Seq[String]): Unit = prev.atomicReplace(t, lines)
      override def listDir(d: java.nio.file.Path): Seq[java.nio.file.Path] =
        prev.listDir(d)
      override def readLines(p: java.nio.file.Path): Seq[String] =
        prev.readLines(p)
      override def exists(p: java.nio.file.Path): Boolean = prev.exists(p)
      override def delete(p: java.nio.file.Path): Boolean = prev.delete(p)
    }
    LogStore.current = hook
    val r = try body finally LogStore.current = prev
    (r, !armed)
  }

  test("partition DELETE lands past a racing unrelated append") {
    // conflicts are exact per path: an append to an untouched
    // partition between plan and publish only bumps the version
    val path = buildTable("col-del-race-append")
    val before = spark.read.format("lake").load(path)
      .filter("p != 1").collect().toSet
    val v0 = new LakeLog(path).latestVersion
    val (_, fired) = withRaceAtPublish(path) {
      LakeWriter.write(Seq((100L, "race", 0)).toDF("id", "name", "p"), path)
    } { LakeTable.forPath(spark, path).delete("p = 1") }
    assert(fired, "the race hook never fired")
    val log = new LakeLog(path)
    assert(log.latestVersion === v0 + 2, "append + DELETE")
    assert(log.readVersion(v0 + 2).collectFirst { case c: CommitInfo =>
      c.operation } === Some("DELETE"))
    val after = spark.read.format("lake").load(path).collect().toSet
    assert(after.exists(_.getLong(0) == 100L), "racing append lost")
    assert(after.count(_.getInt(2) == 1) === 0)
    assert(after.filter(_.getInt(2) != 1).size === before.size + 1)
  }

  test("partition DELETE conflicts with a racing commit that removed " +
      "a matched file") {
    val path = buildTable("col-del-race-remove")
    val v0 = new LakeLog(path).latestVersion
    // id 1 lives alone in a p=1 file: the racing DELETE removes it
    val (ex, fired) = withRaceAtPublish(path) {
      LakeTable.forPath(spark, path).delete("id = 1")
    } {
      intercept[ConflictingCommitException] {
        LakeTable.forPath(spark, path).delete("p = 1")
      }
    }
    assert(fired, "the race hook never fired")
    assert(ex.getMessage.contains("removed file"), ex.getMessage)
    // only the racing commit landed; the rest of p=1 is still live
    assert(new LakeLog(path).latestVersion === v0 + 1)
    val p1 = spark.read.format("lake").load(path).filter("p = 1")
    assert(p1.count() > 0L)
    assert(p1.filter("id = 1").count() === 0L)
  }

  test("partition DELETE conflicts with a racing metadata change") {
    val path = buildTable("col-del-race-meta")
    val v0 = new LakeLog(path).latestVersion
    val (ex, fired) = withRaceAtPublish(path) {
      LakeTable.forPath(spark, path).setTblProperties(
        Map(LakeTable.PROP_ENABLE_CDF -> "true"))
    } {
      intercept[ConflictingCommitException] {
        LakeTable.forPath(spark, path).delete("p = 1")
      }
    }
    assert(fired, "the race hook never fired")
    assert(ex.getMessage.contains("metadata"), ex.getMessage)
    assert(new LakeLog(path).latestVersion === v0 + 1)
    assert(spark.read.format("lake").load(path)
      .filter("p = 1").count() > 0L)
  }

  test("preconditions: no-checkpoint falls back; DV state plans columnar") {
    // small table, no checkpoint yet -> tryBuild refuses, read works
    val p1 = tablePath("col-nockpt")
    LakeWriter.write(Seq((1L, "a")).toDF("id", "v"), p1)
    assert(graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, new LakeLog(p1), -1L).isEmpty)
    assert(columnarDF(p1).count() === 1L)
    // DV state inside a multi-part checkpoint: the summary pass
    // collects the (file -> dv) pairs, the relation reads through the
    // DV format, deleted rows stay deleted
    withPartMax(5) {
      val p2 = tablePath("col-dv")
      // MULTI-row files: a partial-file delete must produce a DV
      // rather than a whole-file remove
      (0 until 12).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          p2,
          properties =
            if (i == 0) Map(LakeTable.PROP_ENABLE_DV -> "true")
            else Map.empty)
      }
      LakeTable.forPath(spark, p2).delete("id = 31")
      assert(LakeTable.forPath(spark, p2).snapshot()
        .files.exists(_.dvPath.isDefined),
        "test integrity: the DELETE should have produced a DV")
      // more appends so a checkpoint lands AFTER the DV commit
      (12 until 22).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          p2)
      }
      val built = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, new LakeLog(p2), -1L)
      assert(built.isDefined, "DV table should plan columnar")
      assert(built.get.dvPairs.size === 1,
        s"expected 1 dv pair, got ${built.get.dvPairs}")
      val df = columnarDF(p2)
      val planned = df.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation, _, _, _, _) => fs.location
      }
      assert(planned.exists(
        _.isInstanceOf[graft.sources.ColumnarLakeFileIndex]))
      val rows = df.count()
      assert(rows === 65L, s"expected 65 live rows, got $rows")
      assert(columnarDF(p2).filter("id = 31").count() === 0L)
    }
  }

  test("session conf routes LakeTable.toDF / SQL views through columnar") {
    val path = buildTable("col-conf")
    spark.conf.set("spark.graft.columnarFileIndex", "true")
    try {
      val df = LakeTable.forPath(spark, path).toDF
      val planned = df.queryExecution.analyzed.collectFirst {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation, _, _, _, _) => fs.location
      }
      assert(planned.exists(
        _.isInstanceOf[graft.sources.ColumnarLakeFileIndex]),
        "toDF under the conf should plan the columnar index")
      // result parity incl. the tail delete, through the SQL surface
      LakeCatalog.register(spark, "col_conf_t", path)
      val viaSql = LakeSql.sql(spark,
        "SELECT id, name, p FROM col_conf_t").collect().toSet
      spark.conf.unset("spark.graft.columnarFileIndex")
      LakeCatalog.refreshView(spark, "col_conf_t")
      val classic = LakeSql.sql(spark,
        "SELECT id, name, p FROM col_conf_t").collect().toSet
      assert(viaSql === classic)
      LakeCatalog.drop(spark, "col_conf_t")
    } finally {
      if (spark.conf.getOption("spark.graft.columnarFileIndex").isDefined)
        spark.conf.unset("spark.graft.columnarFileIndex")
    }
  }

  test("randomized op sequences: columnar == classic at every version") {
    // three seeded runs of mixed appends / CoW deletes / updates /
    // compactions; after the run, EVERY version that qualifies for a
    // columnar read must return byte-identical rows to the classic
    // path (time travel included — checkpoint + tail replay on both)
    for (seed <- Seq(11, 23, 47)) withPartMax(4) {
      val rnd = new scala.util.Random(seed)
      val path = tablePath(s"col-prop-$seed")
      // deterministic base: enough files that the v10 cadence
      // checkpoint is always multi-part regardless of the random mix
      (0 until 6).foreach { i =>
        LakeWriter.write(
          (0 until 2).map(j => (i * 1000L + j, 20 + rnd.nextInt(30)))
            .toDF("id", "x").coalesce(1), path)
      }
      (0 until 14).foreach { i =>
        val t = if (new LakeLog(path).exists)
          Some(LakeTable.forPath(spark, path)) else None
        rnd.nextInt(4) match {
          case 0 | 1 =>
            LakeWriter.write(
              (0 until 1 + rnd.nextInt(4))
                .map(j => (i * 100L + j, rnd.nextInt(50)))
                .toDF("id", "x").coalesce(1), path)
          case 2 if t.isDefined =>
            t.get.delete(s"x < ${rnd.nextInt(12)}")
          case 3 if t.isDefined =>
            t.get.update(s"x > ${38 + rnd.nextInt(10)}",
              Map("x" -> "x - 1"))
          case _ =>
            LakeWriter.write(
              Seq((i * 100L, rnd.nextInt(50))).toDF("id", "x")
                .coalesce(1), path)
        }
      }
      val log = new LakeLog(path)
      var checked = 0
      (0L to log.latestVersion).foreach { v =>
        graft.sources.ColumnarLakeFileIndex.tryBuild(spark, log, v)
          .foreach { _ =>
            val classic = spark.read.format("lake")
              .option("columnarIndex", "false")
              .option("versionAsOf", v.toString).load(path)
              .collect().toSeq.map(_.toString).sorted
            val columnar = spark.read.format("lake")
              .option("columnarIndex", "true")
              .option("versionAsOf", v.toString).load(path)
              .collect().toSeq.map(_.toString).sorted
            assert(columnar === classic, s"seed $seed version $v")
            checked += 1
          }
      }
      assert(checked > 0, s"seed $seed never qualified for columnar")
    }
  }

  test("columnar reads column-mapped and bucketed tables correctly") {
    // column mapping: rename after data exists; the columnar relation
    // must translate logical -> physical names exactly like relationFor
    withPartMax(4) {
      val p1 = tablePath("col-mapped")
      LakeWriter.write(Seq((1L, "a")).toDF("id", "k").coalesce(1), p1,
        properties = Map(ColumnMapping.MODE_PROP -> "name"))
      LakeTable.forPath(spark, p1).renameColumn("k", "label")
      (2 to 12).foreach { i =>
        LakeWriter.write(Seq((i.toLong, s"v$i")).toDF("id", "label")
          .coalesce(1), p1)
      }
      val built = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, new LakeLog(p1), -1L)
      assert(built.isDefined)
      val classic = spark.read.format("lake")
        .option("columnarIndex", "false").load(p1)
      val columnar = columnarDF(p1)
      assert(columnar.columns.toSeq === Seq("id", "label"))
      assert(columnar.collect().toSet === classic.collect().toSet)
      assert(columnar.filter("label = 'v7'").count() === 1L)
    }
    // bucketed table: the columnar relation must declare the SAME
    // BucketSpec (all files tagged) and return identical rows
    withPartMax(4) {
      val p2 = tablePath("col-bucketed")
      (0 until 12).foreach { i =>
        LakeWriter.write(
          (0 until 4).map(j => (i * 10L + j, j.toLong)).toDF("id", "k"),
          p2,
          properties =
            if (i == 0) Map("graft.bucketBy" -> "k",
              "graft.bucketCount" -> "4")
            else Map.empty)
      }
      val built = graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, new LakeLog(p2), -1L)
      assert(built.isDefined && built.get.allBucketTagged)
      val classic = spark.read.format("lake")
        .option("columnarIndex", "false").load(p2)
      val columnar = columnarDF(p2)
      assert(columnar.collect().toSet === classic.collect().toSet)
      // co-bucketed aggregation stays shuffle-free through the
      // columnar relation too (the BucketSpec made it to the plan)
      val agg = columnar.groupBy("k").count()
      val exchanges = agg.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        "bucketed aggregation through the columnar index should not shuffle")
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        (0L until 4L).map(k => (k, 12L)).toSet)
    }
  }

  test("columnar DML: MERGE/DELETE/UPDATE plan without a full replay") {
    val path = buildTable("col-dml-noreplay")
    spark.conf.set("spark.graft.columnarFileIndex", "true")
    try {
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val before = Snapshot.fullReplays.get()
      val t = LakeTable.forPath(spark, path)
      // copy-on-write DELETE through the columnar plan
      t.delete("id = 3")
      // UPDATE through the columnar plan
      t.update("id = 5", Map("name" -> "'updated'"))
      // MERGE (update + insert) through the columnar plan
      t.as("t").merge(
          Seq((7L, "merged", 1), (100L, "new", 1))
            .toDF("id", "name", "p").as("s"),
          "t.id = s.id")
        .whenMatchedUpdate(Map("name" -> "s.name"))
        .whenNotMatchedInsert(
          Map("id" -> "s.id", "name" -> "s.name", "p" -> "s.p"))
        .execute()
      assert(Snapshot.fullReplays.get() === before,
        "a columnar-planned DML materialized the full file list " +
        "(Snapshot.doReplay ran)")
      // and the results are right (read back classic, cross-path)
      spark.conf.unset("spark.graft.columnarFileIndex")
      val rows = spark.read.format("lake").load(path)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(!rows.contains(3L))
      assert(rows(5L) === "updated")
      assert(rows(7L) === "merged")
      assert(rows(100L) === "new")
    } finally {
      if (spark.conf.getOption("spark.graft.columnarFileIndex").isDefined)
        spark.conf.unset("spark.graft.columnarFileIndex")
    }
  }

  test("ROW-TRACKED columnar DML: MERGE/UPDATE/DELETE plan without a " +
      "full replay and keep row ids stable") {
    // round 17: the row-tracked gate in dmlPlan is lifted — the row-id
    // discovery frame's base map is the index's executor-side
    // (path, baseRowId) projection
    val path = withPartMax(5) {
      val p = tablePath("col-dml-rowtrack")
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((i.toLong, s"row$i", i % 3)).toDF("id", "name", "p"), p,
          partitionBy = if (i == 0) Seq("p") else Nil,
          properties = if (i == 0) Map(
            graft.lake.RowTracking.PROP -> "true",
            LakeTable.PROP_ENABLE_DV -> "true") else Map.empty)
      }
      p
    }
    spark.conf.set("spark.graft.columnarFileIndex", "true")
    try {
      val t = LakeTable.forPath(spark, path)
      val idsBefore = t.toDFWithRowIds
        .select("id", graft.lake.RowTracking.COL)
        .as[(Long, Long)].collect().toMap
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val before = Snapshot.fullReplays.get()
      // DV UPDATE exercises withMetaDF(withRowIds = true) — the frame
      // the classic gate existed for
      t.update("id = 5", Map("name" -> "'updated'"))
      t.delete("id = 3")
      t.as("t").merge(
          Seq((7L, "merged", 1), (100L, "new", 1))
            .toDF("id", "name", "p").as("s"),
          "t.id = s.id")
        .whenMatchedUpdate(Map("name" -> "s.name"))
        .whenNotMatchedInsert(
          Map("id" -> "s.id", "name" -> "s.name", "p" -> "s.p"))
        .execute()
      assert(Snapshot.fullReplays.get() === before,
        "a row-tracked columnar DML materialized the full file list")
      spark.conf.unset("spark.graft.columnarFileIndex")
      val after = LakeTable.forPath(spark, path).toDFWithRowIds
        .select("id", "name", graft.lake.RowTracking.COL)
        .as[(Long, String, Long)].collect()
      val byId = after.map(r => r._1 -> r).toMap
      assert(!byId.contains(3L))
      assert(byId(5L)._2 === "updated")
      assert(byId(7L)._2 === "merged")
      assert(byId(100L)._2 === "new")
      // stability: surviving rows keep the ids they carried before
      after.filter(_._1 != 100L).foreach { case (id, _, rid) =>
        assert(rid === idsBefore(id),
          s"row $id changed its stable id under columnar DML")
      }
      // the merge-inserted row got a FRESH id
      assert(!idsBefore.values.toSet.contains(byId(100L)._3))
    } finally {
      if (spark.conf.getOption("spark.graft.columnarFileIndex").isDefined)
        spark.conf.unset("spark.graft.columnarFileIndex")
    }
  }

  test("RESTORE streams its re-add actions through the columnar " +
      "index: no full replay, state equals the target version") {
    val path = buildTable("col-restore-stream") // v0..v12 writes, v13 DELETE
    spark.conf.set("spark.graft.columnarFileIndex", "true")
    try {
      val expected = LakeTable.forPath(spark, path).asOf(11L)
        .collect().toSet
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val fr0 = Snapshot.fullReplays.get()
      LakeTable.forPath(spark, path).restoreTo(11L)
      assert(Snapshot.fullReplays.get() === fr0,
        "streamed RESTORE materialized a full file list")
      spark.conf.unset("spark.graft.columnarFileIndex")
      val got = spark.read.format("lake").load(path).collect().toSet
      assert(got === expected)
      // the restore commit carries the re-adds (v13's delete undone)
      val log = new LakeLog(path)
      val actions = log.readVersion(log.latestVersion)
      assert(actions.collectFirst { case c: CommitInfo => c.operation }
        .contains("RESTORE"))
      assert(actions.exists(_.isInstanceOf[AddFile]),
        "restore must re-add the deleted file")
    } finally {
      if (spark.conf.getOption("spark.graft.columnarFileIndex").isDefined)
        spark.conf.unset("spark.graft.columnarFileIndex")
    }
  }

  test("columnar DML: partition-only DELETE stays metadata-only") {
    withPartMax(5) {
      val path = tablePath("col-dml-partdel")
      (0 until 13).foreach { i =>
        LakeWriter.write(
          Seq((i.toLong, s"row$i", i % 3)).toDF("id", "name", "p"),
          path, partitionBy = if (i == 0) Seq("p") else Nil)
      }
      spark.conf.set("spark.graft.columnarFileIndex", "true")
      try {
        Snapshot.clearCacheForTest()
        graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
        val before = Snapshot.fullReplays.get()
        LakeTable.forPath(spark, path).delete("p = 2")
        assert(Snapshot.fullReplays.get() === before,
          "partition-only columnar DELETE did a full replay")
        // metadata-only: the DELETE commit added no files
        val log = new LakeLog(path)
        val actions = log.readVersion(log.latestVersion)
        assert(!actions.exists(_.isInstanceOf[AddFile]),
          "metadata-only DELETE must not write data")
        assert(actions.count(_.isInstanceOf[RemoveFile]) > 0)
      } finally spark.conf.unset("spark.graft.columnarFileIndex")
      assert(spark.read.format("lake").load(path)
        .filter("p = 2").count() === 0L)
      assert(spark.read.format("lake").load(path).count() > 0L)
    }
  }

  test("randomized DML through columnar == classic (3 seeds)") {
    // the SAME seeded op sequence applied to two tables — one with
    // every DML planned through the columnar index, one classic —
    // must produce identical rows at EVERY version (the r14 parity
    // matrix, extended from reads to the DML write paths)
    for (seed <- Seq(5, 19, 31)) withPartMax(4) {
      val rnd = new scala.util.Random(seed)
      val ops: Seq[(String, Seq[(Long, Long)])] = {
        // pre-generate so both tables see the identical sequence
        val base: Seq[(String, Seq[(Long, Long)])] = (0 until 6).map { i =>
          ("seed", (0 until 2).map(j => (i * 1000L + j,
            (20 + rnd.nextInt(30)).toLong)).toSeq)
        }
        val mixed: Seq[(String, Seq[(Long, Long)])] = (0 until 12).map { i =>
          rnd.nextInt(5) match {
            case 0 | 1 => ("append", (0 until 1 + rnd.nextInt(3))
              .map(j => (i * 100L + j, rnd.nextInt(50).toLong)).toSeq)
            case 2 => ("delete", Seq((rnd.nextInt(12).toLong, 0L)))
            case 3 => ("update", Seq(((38 + rnd.nextInt(10)).toLong, 0L)))
            case _ => ("merge", (0 until 2)
              .map(j => (i * 100L + j, rnd.nextInt(50).toLong)).toSeq)
          }
        }
        base ++ mixed
      }
      def run(path: String, columnar: Boolean): Unit = {
        // the conf defaults ON (round 15) — the classic side must opt
        // out EXPLICITLY or both sides would plan columnar
        spark.conf.set("spark.graft.columnarFileIndex", columnar.toString)
        try ops.foreach {
          case (op, rows) if op == "seed" || op == "append" =>
            LakeWriter.write(
              rows.map { case (a, b) => (a, b.toInt) }.toDF("id", "x")
                .coalesce(1), path)
          case ("delete", Seq((v, _))) =>
            LakeTable.forPath(spark, path).delete(s"x < $v")
          case ("update", Seq((v, _))) =>
            LakeTable.forPath(spark, path)
              .update(s"x > $v", Map("x" -> "x - 1"))
          case ("merge", rows) =>
            LakeTable.forPath(spark, path).as("t").merge(
                rows.map { case (a, b) => (a, b.toInt) }.toDF("id", "x")
                  .as("s"),
                "t.id = s.id")
              .whenMatchedUpdate(Map("x" -> "s.x + 1"))
              .whenNotMatchedInsert(Map("id" -> "s.id", "x" -> "s.x"))
              .execute()
        } finally {
          if (spark.conf.getOption("spark.graft.columnarFileIndex").isDefined)
            spark.conf.unset("spark.graft.columnarFileIndex")
        }
      }
      val pCol = tablePath(s"col-dml-prop-c-$seed")
      val pCls = tablePath(s"col-dml-prop-x-$seed")
      run(pCol, columnar = true)
      run(pCls, columnar = false)
      val logCol = new LakeLog(pCol)
      val logCls = new LakeLog(pCls)
      assert(logCol.latestVersion === logCls.latestVersion,
        s"seed $seed: version drift")
      (0L to logCol.latestVersion).foreach { v =>
        val a = spark.read.format("lake")
          .option("versionAsOf", v.toString).load(pCol)
          .collect().toSeq.map(_.toString).sorted
        val b = spark.read.format("lake")
          .option("versionAsOf", v.toString).load(pCls)
          .collect().toSeq.map(_.toString).sorted
        assert(a === b, s"seed $seed version $v: columnar-DML drift")
      }
    }
  }

  test("columnar maintenance: scoped compact plans without a full replay") {
    val path = buildTable("col-maint")
    spark.conf.set("spark.graft.columnarFileIndex", "true")
    try {
      val rowsBefore = spark.read.format("lake").load(path)
        .collect().map(_.toString).sorted
      val filesBefore = new LakeLog(path).snapshot().numFiles
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val before = Snapshot.fullReplays.get()
      LakeTable.forPath(spark, path).compact(where = Some("p = 0"))
      assert(Snapshot.fullReplays.get() === before,
        "WHERE-scoped compact materialized the full file list")
      val after = new LakeLog(path).snapshot()
      assert(after.numFiles < filesBefore, "compact folded nothing")
      assert(spark.read.format("lake").load(path)
        .collect().map(_.toString).sorted === rowsBefore,
        "compaction must be an identity rewrite")
    } finally spark.conf.unset("spark.graft.columnarFileIndex")
  }

  test("metadata-only DDL and appends never replay the file list") {
    val path = buildTable("col-ddl-noreplay")
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    val before = Snapshot.fullReplays.get()
    val t = LakeTable.forPath(spark, path)
    // plain append (the highest-frequency operation)
    LakeWriter.write(Seq((100L, "x", 1)).toDF("id", "name", "p"), path)
    // metadata-only DDL battery
    t.addColumns(Seq("extra" -> "INT"))
    t.widenColumn("extra", "BIGINT")
    t.dropColumn("extra")
    t.addConstraint("pos_id", "id >= 0")
    t.dropConstraint("pos_id")
    assert(Snapshot.fullReplays.get() === before,
      "an append / metadata-only DDL replayed the full file list")
    // the state is right: new column gone, data intact + appended row
    val rows = spark.read.format("lake").load(path)
    assert(rows.columns.toSeq === Seq("id", "name", "p"))
    assert(rows.filter("id = 100").count() === 1L)
  }

  test("SET/UNSET TBLPROPERTIES never replay the file list — the " +
      "bucket one-way door answers emptiness from the summary") {
    val path = buildTable("col-props-noreplay") // v0..v13, ckpt at v10
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    val before = Snapshot.fullReplays.get()
    val t = LakeTable.forPath(spark, path)
    t.setTblProperties(Map(LakeLog.LOG_RETENTION_PROP -> "720"))
    assert(t.tblProperties.get(LakeLog.LOG_RETENTION_PROP) ===
      Some("720"))
    t.unsetTblProperties(Seq(LakeLog.LOG_RETENTION_PROP))
    assert(!t.tblProperties.contains(LakeLog.LOG_RETENTION_PROP))
    // declaring a bucket spec on a POPULATED table must still refuse —
    // the emptiness bit comes from the columnar summary, not a replay
    intercept[IllegalArgumentException] {
      t.setTblProperties(Map(
        LakeTable.PROP_BUCKET_BY -> "id",
        LakeTable.PROP_BUCKET_COUNT -> "4"))
    }
    assert(Snapshot.fullReplays.get() === before,
      "a property set/unset replayed the full file list")
  }

  test("columnar index summary: counts, bytes, bucket flag") {
    val path = buildTable("col-summary")
    val log = new LakeLog(path)
    val idx = graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, log, -1L).get
    val snap = log.snapshot()
    assert(idx.sizeInBytes === snap.sizeInBytes)
    // unbucketed table: files carry no bucket tags
    assert(!idx.allBucketTagged)
  }

  test("FSCK and VACUUM dry-runs take the columnar sidecar projection " +
      "— no full replay") {
    val path = buildTable("col-maint-noreplay")
    Snapshot.clearCacheForTest()
    graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
    val t = LakeTable.forPath(spark, path)
    val before = Snapshot.fullReplays.get()
    assert(t.fsckRepair(dryRun = true).isEmpty,
      "healthy table: FSCK must find nothing missing")
    val deletable = t.vacuum(dryRun = true)
    assert(deletable.forall(p => !p.endsWith(".json")),
      "vacuum must never flag log files")
    assert(Snapshot.fullReplays.get() === before,
      "FSCK/VACUUM dry-runs replayed the full file list")
  }

  test("toDFWithRowIds plans columnar: parity with classic, no full " +
      "replay") {
    withPartMax(5) {
      val path = tablePath("col-rowids")
      // row-tracked multi-row files, a DV mid-history, then enough
      // appends for a multi-part checkpoint past the DV commit
      (0 until 12).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          path,
          properties =
            if (i == 0) Map(RowTracking.PROP -> "true",
              LakeTable.PROP_ENABLE_DV -> "true")
            else Map.empty)
      }
      LakeTable.forPath(spark, path).delete("id = 31")
      (12 until 22).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          path)
      }
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val t = LakeTable.forPath(spark, path)
      val fr0 = Snapshot.fullReplays.get()
      val viaColumnar = t.toDFWithRowIds.collect().toSet
      assert(Snapshot.fullReplays.get() === fr0,
        "columnar row-id read replayed the full file list")
      // exact parity with the classic snapshot path (ids included)
      val classic = graft.sources.LakeDataSource
        .snapshotDFWithRowIds(spark, new LakeLog(path).snapshot(-1))
        .collect().toSet
      assert(viaColumnar === classic)
      // the DV'd row is gone and every live row carries a non-null id
      assert(!viaColumnar.exists(_.getLong(0) == 31L))
      assert(viaColumnar.forall(!_.isNullAt(2)))
      assert(viaColumnar.size === 65)
      // plan shape: the (file -> baseRowId) map joins BROADCAST — a
      // shuffled join here would exchange the whole corpus to meet a
      // metadata-sized table
      val plan = t.toDFWithRowIds.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"row-id base map must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        "row-id base map must not sort-merge")
    }
  }

  test("detail() answers from the columnar summary — no full replay") {
    // DV-bearing fixture so numDeletionVectors/numDeletedRows flow
    // through the summary fold, not a per-file driver walk
    withPartMax(5) {
      val path = tablePath("col-detail")
      (0 until 12).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          path,
          properties =
            if (i == 0) Map(LakeTable.PROP_ENABLE_DV -> "true")
            else Map.empty)
      }
      LakeTable.forPath(spark, path).delete("id = 31")
      (12 until 22).foreach { i =>
        LakeWriter.write(
          (0 until 3).map(j => (i * 10L + j, s"r$i-$j")).toDF("id", "v")
            .coalesce(1),
          path)
      }
      Snapshot.clearCacheForTest()
      graft.sources.ColumnarLakeFileIndex.clearCacheForTest()
      val t = LakeTable.forPath(spark, path)
      val fr0 = Snapshot.fullReplays.get()
      val d = t.detail().collect().head
      assert(Snapshot.fullReplays.get() === fr0,
        "detail() on a multi-part-checkpointed table replayed the " +
        "full file list")
      // field parity with the classic snapshot's answer
      val s = new LakeLog(path).snapshot(-1)
      assert(d.getAs[Long]("version") === s.version)
      assert(d.getAs[Long]("numFiles") === s.numFiles.toLong)
      assert(d.getAs[Long]("sizeInBytes") === s.sizeInBytes)
      assert(d.getAs[Seq[String]]("partitionColumns") ===
        s.partitionColumns)
      assert(d.getAs[String]("schema") === s.schema.toDDL)
      assert(d.getAs[Long]("numDeletionVectors") ===
        s.files.count(_.dvPath.isDefined).toLong)
      assert(d.getAs[Long]("numDeletionVectors") === 1L)
      assert(d.getAs[Long]("numDeletedRows") ===
        s.files.map(_.dvCardinality).sum)
      assert(d.getAs[Long]("numDeletedRows") === 1L)
    }
  }

  test("addsForPaths is strict; addsForPathsIfLive tolerates non-live " +
      "paths (the classic filter contract)") {
    val path = buildTable("col-tolerant")
    val idx = graft.sources.ColumnarLakeFileIndex
      .tryBuild(spark, new LakeLog(path), -1L).get
    val live = idx.pathSizes().map(_._1)
    val one = live.head
    assert(idx.addsForPaths(Seq(one)).map(_.path) === Seq(one))
    intercept[IllegalArgumentException] {
      idx.addsForPaths(Seq(one, "not-a-live-file.parquet"))
    }
    val tolerant =
      idx.addsForPathsIfLive(Seq(one, "not-a-live-file.parquet"))
    assert(tolerant.map(_.path) === Seq(one))
    assert(idx.addsForPathsIfLive(Seq("gone.parquet")).isEmpty)
  }

  test("changes() tolerates a commit whose DV-bearing re-adds were not " +
      "live at v-1 (RESTORE), columnar == classic") {
    withPartMax(2) {
      val path = tablePath("col-cdf-restore")
      import spark.implicits._
      // v0: one file, DVs on; v1: DV-delete buries two rows; v2: the
      // rest of the file dies -> file removed outright
      LakeWriter.write((1L to 10L).map(i => (i, s"r$i")).toDF("id", "v")
        .coalesce(1), path,
        properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
      val t = LakeTable.forPath(spark, path)
      t.delete("id <= 2")                                         // v1: DV
      t.delete("id <= 10")                                        // v2: gone
      // pad to the checkpoint boundary so v10 writes a MULTI-part
      // parquet checkpoint (partMax 2)
      val log = new LakeLog(path)
      (3L to 9L).foreach { v =>
        log.commit(v, Seq(CommitInfo(System.currentTimeMillis(),
          "EMPTY", Map.empty)))
      }
      LakeWriter.write(Seq((11L, "r11")).toDF("id", "v").coalesce(1),
        path)                                                     // v10
      assert(graft.sources.ColumnarLakeFileIndex
        .tryBuild(spark, log, 10L).isDefined,
        "expected a multi-part parquet checkpoint at v10")
      // v2 removed the DV'd file outright (zero live rows) — it must
      // NOT be live at v10, or this test exercises nothing
      assert(log.snapshot(10L).files.size === 1)
      // v11: RESTORE to v1 re-adds the DV-bearing file, which is NOT
      // live at v10 — the columnar pre-image fetch must tolerate that
      // (the classic snapshot filter always did)
      t.restoreTo(1L)                                             // v11
      def changed(columnar: Boolean): Set[(Long, String, String)] = {
        spark.conf.set("spark.graft.columnarFileIndex", columnar.toString)
        try LakeTable.forPath(spark, path).changes(11, 11)
          .select("id", "v", "_change_type")
          .as[(Long, String, String)].collect().toSet
        finally spark.conf.unset("spark.graft.columnarFileIndex")
      }
      val classic = changed(columnar = false)
      assert(changed(columnar = true) === classic)
      // sanity: the restore re-surfaces the v1 rows (3..10) as inserts
      assert(classic.filter(_._3 == "insert").map(_._1) === (3L to 10L).toSet)
    }
  }
}
