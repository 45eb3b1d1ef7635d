package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** User-facing handle to a versioned lake table — the engine's
  * equivalent of the reference's `DeltaTable` surface
  * (`etl/02:495`, `rapid:416-420`): snapshot/time-travel reads, MERGE,
  * UPDATE, DELETE, history, vacuum, compaction, detail.
  */
final class LakeTable private (
    val spark: SparkSession,
    val log: LakeLog,
    targetAlias: Option[String]) {

  def tablePath: String = log.tablePath

  /** Alias the target for merge/update conditions ("bronze.value = ..."). */
  def as(alias: String): LakeTable = new LakeTable(spark, log, Some(alias))
  def alias(a: String): LakeTable = as(a)

  // ---- reads -------------------------------------------------------------

  def snapshot(version: Long = -1): Snapshot = log.snapshot(version)

  /** Current-version DataFrame (SURVEY §2 S4). */
  def toDF: DataFrame = applyAlias(readAt(-1L))

  /** Time-travel read (S6/D6). */
  def asOf(version: Long): DataFrame = applyAlias(readAt(version))

  /** Version read, honoring the session-wide columnar-index conf
    * (`spark.graft.columnarFileIndex`, DEFAULT ON since round 15 —
    * set `false` to opt out): when the table qualifies (manifest
    * checkpoint; DV/bloom tables included as long as their
    * sidecar count stays under the index's bound), the read —
    * including every catalog view LakeCatalog refreshes through
    * here — plans without materializing the file list on the driver;
    * otherwise the classic snapshot path.
    */
  private def readAt(version: Long): DataFrame = {
    columnarIdx(version).foreach { idx =>
      return spark.baseRelationToDataFrame(
        graft.sources.LakeDataSource.columnarRelation(
          spark, idx, Map.empty))
    }
    snapshot(version).toDF(spark)
  }

  /** Timestamp-based time travel: the state as of the LAST commit at
    * or before `timestampMillis` (Delta `TIMESTAMP AS OF`). Commit
    * timestamps come from CommitInfo; throws if the timestamp predates
    * the table. Rides the aggregated history sidecar — only commits
    * SINCE the last checkpoint read their version files, so the
    * timestamp→version mapping is O(tail), not O(table age); the
    * reference leans on time travel constantly (`etl/05:161-209`,
    * `rapid:256-260`) and a 100k-commit table must not pay a full
    * serial log replay per read.
    */
  def versionAtTimestamp(timestampMillis: Long): Long = {
    val versions = commitTimestamps
    versions.filter(_._2 <= timestampMillis).map(_._1).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no commit at or before timestamp $timestampMillis for " +
        s"$tablePath (earliest: ${versions.headOption.map(_._2)})"))
  }

  /** First version committed AT OR AFTER the timestamp — the streaming
    * `startingTimestamp` contract (time travel uses at-or-BEFORE
    * above). A timestamp past the last commit starts at the next
    * future version, matching Delta: the stream begins empty and picks
    * up commits as they arrive.
    */
  def versionAtOrAfterTimestamp(timestampMillis: Long): Long = {
    val versions = commitTimestamps
    versions.find(_._2 >= timestampMillis).map(_._1)
      .getOrElse(log.latestVersion + 1)
  }

  /** (version, commit timestamp) for EVERY commit, ascending: sidecar
    * head + per-file tail since the last checkpoint. A commit that
    * carries no CommitInfo (raw protocol append) is invisible to both,
    * so it falls back to the version file's modification time — the
    * same clock `changes()` uses for `_commit_timestamp`. Without the
    * fallback such a commit would get no vacuum retention-window
    * protection and be unreachable by timestamp travel.
    */
  private def commitTimestamps: Seq[(Long, Long)] = {
    val latest = log.latestVersion
    val (head, from) = log.latestHistoryAtOrBefore(latest) match {
      case Some((hv, entries)) =>
        (entries.map(c => (c.version, c.timestamp)), hv + 1)
      // no sidecar at all (lost to failed best-effort writes + age
      // sweep): walk from the oldest version file that still exists —
      // retention may have deleted the prefix including version 0
      case None => (Seq.empty[(Long, Long)], log.oldestSurvivingVersion)
    }
    val tail = (from to latest).map { v =>
      log.readVersion(v).collectFirst { case c: CommitInfo =>
        (v, c.timestamp)
      }.getOrElse((v, log.store.stat(log.versionFile(v)).map(_._2)
        .getOrElse(throw new IllegalStateException(
          s"cannot stat just-read version file $v of $tablePath"))))
    }
    val known = head ++ tail
    val seen = known.map(_._1).toSet
    // Sidecar-era versions the sidecar never recorded (CommitInfo-less
    // commits before the last checkpoint): same mtime fallback. ONE
    // seam-routed directory listing finds them — a per-version
    // existence probe would cost O(table age) driver stat calls on
    // every vacuum / timestamp-travel of a 100k-commit table. A file
    // a concurrent retention cleanup deletes between the listing and
    // the stat is simply dropped — a deleted version is unreachable
    // by every reader, so it needs no timestamp entry.
    val gaps = log.listVersionFiles
      .filter(p => LakeLog.versionOf(p) < from &&
        !seen(LakeLog.versionOf(p)))
      .flatMap(p => log.store.stat(p).map(s => (LakeLog.versionOf(p),
        s._2)))
    (known ++ gaps).sortBy(_._1)
  }

  def asOfTimestamp(timestampMillis: Long): DataFrame =
    asOf(versionAtTimestamp(timestampMillis))

  /** ALTER TABLE ADD COLUMN: metadata-only commit appending a nullable
    * column; existing files null-fill it on read (same mechanism as
    * mergeSchema evolution, made explicit DDL).
    */
  def addColumn(name: String, ddlType: String): Unit =
    addColumns(Seq(name -> ddlType))

  /** Files-empty snapshot carrying the LATEST metadata / protocol /
    * domains / txn watermarks — the state a METADATA-ONLY DDL commit
    * (ADD/DROP/WIDEN COLUMN, mapped RENAME) needs, via the
    * metadata-light replay: an ALTER TABLE against a 10⁷-file table
    * must not replay the file list to edit its schema. Callers MUST
    * NOT consult `files` (empty by construction); any path that needs
    * the inventory takes `snapshot()`.
    */
  private def metaSnapshot(): Snapshot = {
    val v = log.latestVersion
    val (m, p, d, t) = Snapshot.replayMetaTxns(log, v)
    Snapshot(log, v, m, Nil, t, p, d)
  }

  /** The columnar file index for `version` iff the session conf
    * allows (default ON — `spark.graft.columnarFileIndex=false` is
    * the uniform opt-out) AND the table qualifies. Every
    * metadata/maintenance path that can answer from the index routes
    * through here so the opt-out works everywhere, not just on scans.
    */
  private[lake] def columnarIdx(version: Long = -1)
      : Option[graft.sources.ColumnarLakeFileIndex] = {
    val enabled = spark.conf
      .getOption("spark.graft.columnarFileIndex").forall(_.toBoolean)
    if (enabled)
      graft.sources.ColumnarLakeFileIndex.tryBuild(spark, log, version)
    else None
  }

  /** Add several nullable columns in ONE metadata commit (used by
    * MERGE schema evolution so an N-column source widens the table in
    * a single atomic step, not N racing commits).
    */
  def addColumns(cols: Seq[(String, String)]): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val snap = metaSnapshot()
    val mapped = ColumnMapping.enabled(snap.metadata)
    cols.foreach { case (name, _) =>
      require(!snap.schema.fieldNames.contains(name),
        s"column $name already exists on $tablePath")
      // under column mapping a re-added name gets a FRESH physical
      // name, so the resurrection hazard the tombstone guards is gone
      if (!mapped) LakeTable.assertNotDropped(snap, name, tablePath)
    }
    LakeWriter.commitWithRetry(log) { _ =>
      // re-derived per attempt so a retry composes with (instead of
      // reverting) any metadata a concurrent commit landed
      val cur = metaSnapshot()
      cols.foreach { case (name, _) =>
        require(!cur.schema.fieldNames.contains(name),
          s"column $name appeared concurrently on $tablePath")
        // the tombstone check must hold against the COMPOSED state: a
        // concurrent dropColumn landing first would otherwise have
        // its dropped bytes resurrected by this retry (mapped tables
        // are immune — the re-add gets a fresh physical name)
        if (!ColumnMapping.enabled(cur.metadata))
          LakeTable.assertNotDropped(cur, name, tablePath)
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.schema.fields ++ cols.map { case (name, ddlType) =>
          org.apache.spark.sql.types.StructField(
            name, org.apache.spark.sql.types.DataType.fromDDL(ddlType),
            nullable = true)
        })
      val schemaMeta = cur.metadata.copy(schemaDDL = newSchema.toDDL)
      val meta =
        if (!ColumnMapping.enabled(cur.metadata)) schemaMeta
        else schemaMeta.copy(properties = schemaMeta.properties +
          (ColumnMapping.TABLE_PROP -> ColumnMapping.encode(
            ColumnMapping.overrides(cur.metadata) ++
              cols.map { case (n, _) =>
                n -> ColumnMapping.freshPhysical() })))
      Seq(CommitInfo(System.currentTimeMillis(), "ADD COLUMNS",
        Map("columns" -> cols.map { case (n, t) => s"$n $t" }
          .mkString(", "))), meta)
    }
    ()
  }

  /** ALTER TABLE ALTER COLUMN ... TYPE (Delta's typeWidening analog):
    * metadata-only — existing files keep their narrower physical type
    * and the parquet readers upcast at scan time (Spark 4's widening
    * read support); files written after the change carry the wide
    * type natively. Allowed promotions are the lossless ones whose
    * physical decode is well-defined: byte→short→int→long and
    * float→double. The commit ratchets the protocol to the
    * `typeWidening` reader+writer feature — an engine unaware of it
    * would refuse (or misread) the file/schema mismatch, so both
    * sides are fenced. Partition columns are refused (their values
    * are TYPED from path strings, a different decode path); bloom
    * sidecars survive integral widening untouched — [[BloomIndex]]
    * canonicalizes every integral key through putLong, so an int-built
    * sidecar answers long probes identically. Footer min/max stats
    * remain valid: they are stored as plain decimal strings and every
    * consumer compares numerically.
    */
  def widenColumn(name: String, newTypeDdl: String): Unit = {
    import org.apache.spark.sql.types._
    val newDt = DataType.fromDDL(newTypeDdl)
    def check(snap: Snapshot): Unit = {
      val field = snap.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist on $tablePath"))
      require(!snap.partitionColumns.contains(name),
        s"cannot widen partition column $name: partition values are " +
        "typed from path strings, not parquet data")
      require(LakeTable.widens(field.dataType, newDt),
        s"cannot change $name from ${field.dataType.sql} to " +
        s"${newDt.sql}: only lossless widenings " +
        "(byte->short->int->long, float->double) are supported")
    }
    check(metaSnapshot())
    LakeWriter.commitWithRetry(log) { _ =>
      // re-derived per attempt (compose, not revert); metadata-light
      val cur = metaSnapshot()
      check(cur)
      val fromDt = cur.schema.fields.find(_.name == name).get.dataType
      val newSchema = StructType(cur.schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = newDt) else f))
      // float→double leaves pre-widen footer stats INEXACT under the
      // new type (Float.toString renderings vs double literals) —
      // record the column so stats-based pruning skips it rather than
      // wrongly eliminating files; integral stats stay exact
      val props =
        if (fromDt != FloatType) cur.metadata.properties
        else {
          val key = ColumnMapping.physicalName(name,
            ColumnMapping.overrides(cur.metadata))
          val lossy = LakeTable.lossyStatsKeys(cur.metadata.properties)
          cur.metadata.properties + (LakeTable.PROP_LOSSY_STATS ->
            (lossy + key).toSeq.sorted.mkString(","))
        }
      Seq(
        CommitInfo(System.currentTimeMillis(), "WIDEN COLUMN",
          Map("column" -> name, "from" -> fromDt.sql, "to" -> newDt.sql)),
        LakeProtocol.upgraded(cur.protocol,
          LakeProtocol.typeWideningProtocol),
        cur.metadata.copy(schemaDDL = newSchema.toDDL,
          properties = props))
    }
    ()
  }

  /** ALTER TABLE DROP COLUMN: metadata-only — readers stop projecting
    * the column; the bytes stay in existing data files until DML or
    * OPTIMIZE rewrites them. The name is tombstoned
    * ([[LakeTable.PROP_DROPPED_COLUMNS]]): re-adding it would silently
    * resurrect the old file data for pre-drop rows (Delta requires
    * column mapping to make that safe), so the re-add fails loudly
    * instead. Partition columns and columns referenced by a CHECK
    * constraint or a generation expression cannot be dropped.
    */
  def dropColumn(name: String): Unit = {
    val snap = metaSnapshot()
    require(snap.schema.fieldNames.contains(name),
      s"no column $name on $tablePath " +
      s"(columns: ${snap.schema.fieldNames.mkString(", ")})")
    require(!snap.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    val parser = spark.sessionState.sqlParser
    def references(exprStr: String): Boolean =
      parser.parseExpression(exprStr).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.exists(_.equalsIgnoreCase(name))
    snap.metadata.constraints.foreach { case (cn, ce) =>
      require(!references(ce),
        s"cannot drop $name: CHECK constraint $cn references it ($ce)")
    }
    LakeTable.generatedColumns(snap.metadata.properties).foreach {
      case (gc, ge) =>
        require(gc != name && !references(ge),
          s"cannot drop $name: generated column $gc depends on it ($ge)")
    }
    require(snap.schema.fields.count(_.name != name) > 0,
      s"cannot drop the last column of $tablePath")
    require(!LakeTable.bucketSpecOf(snap.metadata.properties)
        .exists(_._1.contains(name)),
      s"cannot drop $name: it is a ${LakeTable.PROP_BUCKET_BY} " +
        "bucket column")
    LakeWriter.commitWithRetry(log) { _ =>
      // re-derived per attempt (see addColumns): compose with, never
      // revert, concurrently-landed metadata; metadata-light
      val cur = metaSnapshot()
      require(cur.schema.fieldNames.contains(name),
        s"column $name disappeared concurrently on $tablePath")
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.schema.fields.filterNot(_.name == name))
      require(newSchema.nonEmpty,
        s"cannot drop the last column of $tablePath")
      val meta =
        if (ColumnMapping.enabled(cur.metadata)) {
          // no tombstone needed: a re-added name gets a fresh
          // physical name (LakeWriter evolution / addColumns), so the
          // dropped column's bytes can never resurrect. Just retire
          // the entry.
          val ov = ColumnMapping.overrides(cur.metadata) - name
          cur.metadata.copy(
            schemaDDL = newSchema.toDDL,
            properties = cur.metadata.properties +
              (ColumnMapping.TABLE_PROP -> ColumnMapping.encode(ov)))
        } else {
          val dropped =
            (LakeTable.droppedColumns(cur.metadata.properties) +
              name).toSeq.sorted.mkString(",")
          cur.metadata.copy(
            schemaDDL = newSchema.toDDL,
            properties = cur.metadata.properties +
              (LakeTable.PROP_DROPPED_COLUMNS -> dropped))
        }
      Seq(CommitInfo(System.currentTimeMillis(), "DROP COLUMNS",
        Map("column" -> name)), meta)
    }
    ()
  }

  /** ALTER TABLE RENAME COLUMN.
    *
    * On a column-mapped table ([[ColumnMapping]], Delta's
    * `columnMapping.mode=name` analog) the rename is METADATA-ONLY:
    * the column keeps its stable physical name, only the
    * logical→physical override table moves — O(1) at any table size,
    * no file touched, time travel across the rename correct on both
    * sides because each version reads through its own mapping.
    *
    * Without mapping it is an identity rewrite of the whole table
    * under the new name, in one atomic commit (parquet resolves
    * columns by name, so a pure-metadata rename would silently
    * null-out the column in every existing file; Delta REJECTS rename
    * outright in this mode). At 100 TB: enable column mapping first —
    * `setTblProperties(Map("graft.columnMapping.mode" -> "name"))`.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    // mapped tables rename metadata-only (the 100 TB path) and must
    // not replay the file list even once; unmapped tables need the
    // inventory anyway (empty-table check, or the full rewrite)
    val snap =
      if (ColumnMapping.enabled(
          Snapshot.replayMeta(log, log.latestVersion)._1))
        metaSnapshot()
      else snapshot()
    require(snap.schema.fieldNames.contains(oldName),
      s"no column $oldName on $tablePath " +
      s"(columns: ${snap.schema.fieldNames.mkString(", ")})")
    require(!snap.schema.fieldNames.contains(newName),
      s"column $newName already exists on $tablePath")
    require(!snap.partitionColumns.contains(oldName),
      s"cannot rename partition column $oldName (partition values are " +
      "encoded in file paths; recreate the table instead)")
    if (!ColumnMapping.enabled(snap.metadata))
      LakeTable.assertNotDropped(snap, newName, tablePath)
    val parser = spark.sessionState.sqlParser
    def references(exprStr: String): Boolean =
      parser.parseExpression(exprStr).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.exists(_.equalsIgnoreCase(oldName))
    snap.metadata.constraints.foreach { case (cn, ce) =>
      require(!references(ce),
        s"cannot rename $oldName: CHECK constraint $cn references it " +
        s"($ce); drop and re-add the constraint around the rename")
    }
    (LakeTable.generatedColumns(snap.metadata.properties) ++
      LakeTable.identityColumns(snap.metadata.properties)
        .map { case (n, _) => n -> "" }).foreach { case (gc, ge) =>
      require(gc != oldName && (ge.isEmpty || !references(ge)),
        s"cannot rename $oldName: generated/identity column $gc " +
        s"depends on it")
    }
    // bucket columns are placement-load-bearing: a rename would leave
    // graft.bucketBy naming a ghost (bricking writes) while reads
    // silently stop declaring the BucketSpec
    require(!LakeTable.bucketSpecOf(snap.metadata.properties)
        .exists(_._1.contains(oldName)),
      s"cannot rename $oldName: it is a ${LakeTable.PROP_BUCKET_BY} " +
        "bucket column")
    def renamedMetaOf(cur: Snapshot): Metadata = {
      // recomputed per commit attempt: a retry after a concurrent
      // commit must re-derive schema AND mapping from the winner's
      // state, never re-emit metadata built from a stale snapshot
      // (which would silently revert the concurrent DDL)
      require(cur.schema.fieldNames.contains(oldName),
        s"column $oldName disappeared concurrently on $tablePath")
      require(!cur.schema.fieldNames.contains(newName),
        s"column $newName appeared concurrently on $tablePath")
      val curSchema = org.apache.spark.sql.types.StructType(
        cur.schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
      val base = cur.metadata.copy(schemaDDL = curSchema.toDDL)
      if (!ColumnMapping.enabled(cur.metadata)) base
      else {
        val ov = ColumnMapping.overrides(cur.metadata)
        val newOv = (ov - oldName) +
          (newName -> ColumnMapping.physicalName(oldName, ov))
        base.copy(properties = base.properties +
          (ColumnMapping.TABLE_PROP -> ColumnMapping.encode(
            newOv.filter { case (l, p) => l != p })))
      }
    }
    if (ColumnMapping.enabled(snap.metadata) || snap.files.isEmpty) {
      // metadata-only: under mapping the column keeps its PHYSICAL
      // name and only the override table moves — no file touched,
      // O(1) at any table size. (An empty table is trivially the
      // same commit shape.)
      val wasMapped = ColumnMapping.enabled(snap.metadata)
      LakeWriter.commitWithRetry(log) { _ =>
        // the branch condition must still hold on retry: an append
        // that raced onto a bare (unmapped, was-empty) table makes a
        // metadata-only rename unsound — its files store the old
        // name, a pure-metadata flip would null the column. A MAPPED
        // entry stays mapped (one-way door), so its retry check is
        // metadata-light; the was-empty entry must re-verify
        // emptiness, which needs the inventory.
        val cur = if (wasMapped) metaSnapshot() else snapshot()
        if (!(ColumnMapping.enabled(cur.metadata) ||
            (!wasMapped && cur.files.isEmpty)))
          throw new ConflictingCommitException(
            s"rename of $oldName on $tablePath raced a concurrent " +
            "append onto an unmapped table; re-run (the rewrite path " +
            "now applies)")
        Seq(CommitInfo(System.currentTimeMillis(), "RENAME COLUMN",
          Map("from" -> oldName, "to" -> newName)),
          renamedMetaOf(cur))
      }
      return
    }
    val newSchema = org.apache.spark.sql.types.StructType(
      snap.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
    val meta = snap.metadata.copy(schemaDDL = newSchema.toDDL)
    val renamed = toDF.withColumnRenamed(oldName, newName)
    val adds = LakeWriter.writeFiles(renamed, tablePath,
      snap.partitionColumns, ColumnMapping.overrides(snap.metadata),
      snap.metadata.properties, computeLight = true)
    val now = System.currentTimeMillis()
    try {
      LakeWriter.commitWithRetry(log, snap.version,
        snap.files.map(_.path)) { _ =>
        // file-level conflict detection won't catch a concurrent
        // METADATA change (addColumn, property flip — no file
        // overlap); re-emitting `meta` built from the stale snapshot
        // would silently revert it. Nor a concurrent plain append:
        // its file would survive the rewrite carrying the OLD column
        // name (silent nulls under the new schema). Either way: loud
        // abort, caller re-runs against the new state.
        val cur = snapshot()
        if (cur.metadata != snap.metadata ||
            cur.files.map(_.path).toSet != snap.files.map(_.path).toSet)
          throw new ConflictingCommitException(
            s"rename of $oldName on $tablePath raced a concurrent " +
            "commit; re-run the rename")
        Seq(CommitInfo(now, "RENAME COLUMN",
          Map("from" -> oldName, "to" -> newName)), meta) ++
          snap.files.map(f => RemoveFile(f.path, now)) ++ adds
      }
      ()
    } catch { case e: Throwable =>
      LakeWriter.sweepStaged(tablePath, adds)
      throw e
    }
  }

  private def applyAlias(df: DataFrame): DataFrame =
    targetAlias.map(df.as(_)).getOrElse(df)

  /** Snapshot read with log-level pruning. Since the `LakeFileIndex`
    * integration, `toDF` plans every read through the log: partition
    * filters drop whole files by their `partitionValues` and min/max
    * stats drop files whose range can't satisfy pushed predicates —
    * inside the planner's `listFiles`, for any filter applied to the
    * DataFrame. At 100 TB this is what keeps a selective query from
    * opening every file. Kept as API surface; now just a filtered read.
    */
  def scan(filter: String): DataFrame = toDF.where(filter)

  // ---- audit -------------------------------------------------------------

  /** DESCRIBE HISTORY (D7): one row per commit, newest first. Audit
    * must see every commit (checkpoints don't carry CommitInfo), so
    * every version file is read — but past
    * [[LakeTable.DISTRIBUTED_HISTORY_MIN_VERSIONS]] commits the reads
    * run as a Spark job over the shared log directory instead of a
    * serial driver loop: a 100k-commit table costs one task wave, not
    * minutes of driver I/O.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val latest = log.latestVersion
    // Start from the aggregated-history sidecar written at checkpoint
    // time: only the commits SINCE the last checkpoint read their
    // version files, so DESCRIBE HISTORY is O(tail) at any table age.
    // Tables checkpointed before sidecars existed fall back to the
    // full scan (distributed past the threshold).
    val (head, from) = log.latestHistoryAtOrBefore(latest) match {
      case Some((hv, entries)) =>
        (entries.map(c => (c.version, new java.sql.Timestamp(c.timestamp),
          c.operation, c.operationParameters)), hv + 1)
      case None =>
        // no sidecar: walk from the oldest version file that still
        // exists — retention may have deleted the prefix
        (Seq.empty[(Long, java.sql.Timestamp, String, Map[String, String])],
          log.oldestSurvivingVersion)
    }
    val tail =
      if (latest - from + 1 >= LakeTable.DISTRIBUTED_HISTORY_MIN_VERSIONS) {
        val tp = tablePath
        spark.sparkContext.parallelize(from to latest, 64).flatMap { v =>
          new LakeLog(tp).readVersion(v).collect { case c: CommitInfo =>
            (v, new java.sql.Timestamp(c.timestamp), c.operation,
              c.operationParameters)
          }
        }.collect().toSeq
      } else {
        (from to latest).flatMap { v =>
          log.readVersion(v).collect { case c: CommitInfo =>
            (v, new java.sql.Timestamp(c.timestamp), c.operation,
              c.operationParameters)
          }
        }
      }
    (head ++ tail).sortBy(-_._1)
      .toDF("version", "timestamp", "operation", "operationParameters")
  }

  /** Live partition columns, DISTINCT partition-value maps, and the
    * table schema — SHOW PARTITIONS' metadata. On manifest-
    * checkpointed tables the dedupe runs on the executors; the driver
    * holds one entry per partition, never per file.
    */
  private[lake] def livePartitionValues()
      : (Seq[String], Seq[Map[String, String]],
         org.apache.spark.sql.types.StructType) =
    columnarIdx() match {
      case Some(idx) =>
        val m = idx.metadata
        (m.partitionColumns, idx.distinctPartitionTuples(),
          org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL))
      case None =>
        val snap = snapshot()
        (snap.partitionColumns,
          snap.files.map(_.partitionValues).distinct, snap.schema)
    }

  /** DESCRIBE DETAIL (K12). Every field is table-level metadata or a
    * summary aggregate, so on a manifest-checkpointed table it is
    * answered from the columnar index's summary pass — counts, bytes,
    * DV totals folded on the executors — never a full file-list
    * replay; the classic snapshot serves small tables.
    */
  def detail(): DataFrame = {
    import spark.implicits._
    val row = columnarIdx() match {
      case Some(idx) =>
        val m = idx.metadata
        ("lake", tablePath, idx.version, m.partitionColumns,
          idx.numFiles, idx.sizeInBytes,
          org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL).toDDL,
          m.constraints.toSeq.sorted.map { case (n, e) => s"$n: $e" },
          m.properties.toSeq.sorted.map { case (k, v) => s"$k=$v" },
          idx.dvPairs.size.toLong, idx.dvDeletedRows)
      case None =>
        val s = snapshot()
        ("lake", tablePath, s.version, s.partitionColumns,
          s.numFiles.toLong, s.sizeInBytes, s.schema.toDDL,
          s.metadata.constraints.toSeq.sorted
            .map { case (n, e) => s"$n: $e" },
          s.metadata.properties.toSeq.sorted
            .map { case (k, v) => s"$k=$v" },
          s.files.count(_.dvPath.isDefined).toLong,
          s.files.map(_.dvCardinality).sum)
    }
    Seq(row).toDF("format", "location", "version", "partitionColumns",
      "numFiles", "sizeInBytes", "schema", "constraints", "properties",
      "numDeletionVectors", "numDeletedRows")
  }

  /** FSCK: drop log entries whose physical data file is GONE (someone
    * deleted parquet out-of-band — the operational wound every
    * long-lived table eventually takes). `dryRun` lists without
    * committing. Returns the missing files' relative paths.
    *
    * Existence probing runs DISTRIBUTED above a file-count threshold
    * (the LakeStreamSource posture): a 10⁶-file table must not serial
    * driver-stat its way through the check. The repair commit is
    * RemoveFile tombstones via the normal conflict-checked path, so a
    * concurrent writer's commit wins a retry, never a lost update.
    */
  def fsckRepair(dryRun: Boolean = false): Seq[String] = {
    // probe the data file AND its deletion-vector sidecar: a file
    // whose DV is gone cannot be read safely (its deleted rows would
    // resurrect) — Delta's FSCK removes those entries too. Bloom
    // sidecars are deliberately NOT probed: the bloom read path is
    // conservative on a missing sidecar (opens the file), so losing
    // one costs speed, not correctness. The probe and the repair
    // commit need only PATHS, so on a manifest-checkpointed table
    // the inventory is the columnar index's sidecar projection —
    // never a driver-resident file list.
    val (version, live): (Long, Seq[(String, Option[String])]) =
      columnarIdx() match {
        case Some(idx) =>
          (idx.version, idx.pathSidecars().map { case (p, dv, _) =>
            (p, dv) })
        case None =>
          val snap = snapshot()
          (snap.version, snap.files.map(f => (f.path, f.dvPath)))
      }
    def damaged(p: String, dv: Option[String]): Boolean =
      !DataStore.current.exists(LakeLog.resolveFile(tablePath, p)) ||
        dv.exists(d =>
          !DataStore.current.exists(LakeLog.resolveFile(tablePath, d)))
    val missing: Seq[String] =
      if (live.size < 2048) {
        live.collect { case (p, dv) if damaged(p, dv) => p }
      } else {
        val root = tablePath
        spark.sparkContext
          .parallelize(live, math.min(live.size / 256 + 1, 64))
          .filter { case (p, dv) =>
            !DataStore.current.exists(LakeLog.resolveFile(root, p)) ||
              dv.exists(d => !DataStore.current.exists(
                LakeLog.resolveFile(root, d)))
          }
          .map(_._1).collect().toSeq
      }
    if (missing.nonEmpty && !dryRun) {
      val now = System.currentTimeMillis()
      LakeWriter.commitWithRetry(log, version, missing) { _ =>
        CommitInfo(now, "FSCK",
          Map("numRemovedFiles" -> missing.size.toString)) +:
          missing.map(p => RemoveFile(p, now): Action)
      }
      ()
    }
    missing
  }

  // ---- DML ---------------------------------------------------------------

  /** DML planning state (VERDICT r14 #2): columnar when the session
    * conf allows (default ON) and the table qualifies (manifest
    * checkpoint, sidecar bound — [[graft.sources
    * .ColumnarLakeFileIndex.tryBuild]]'s gate) so touched-file
    * discovery and the touched AddFile fetch run through the
    * distributed checkpoint scan and the driver never materializes
    * the live list; the classic materialized snapshot otherwise.
    * Row-tracked tables stay classic: their DV paths scan the full
    * table `withRowIds`, whose (file → baseRowId) broadcast map is
    * O(table) driver state either way.
    */
  private[lake] def dmlPlan(): DmlPlan = {
    // row-tracked tables plan columnar too (round 17): the row-id
    // discovery frame's base map rides the index's (path, baseRowId)
    // executor-side projection, so a 10⁷-file tracked table no longer
    // pays the resident O(table) snapshot per MERGE/UPDATE/DELETE
    columnarIdx()
      .foreach { idx => return new DmlPlan.Columnar(this, idx) }
    new DmlPlan.Classic(this, snapshot())
  }

  /** Predicate DELETE (D5). Partition-only predicates are metadata-only:
    * whole files are dropped from the log without reading data — the
    * matched paths stream from the plan into the commit's tombstones,
    * so the driver never holds the matched set, and the commit
    * conflicts exactly on those paths. Other predicates go through
    * [[rewriteWhere]].
    */
  def delete(condition: String): Unit = {
    val plan = dmlPlan()
    LakeTable.assertNotAppendOnly(plan.metadata, "DELETE", tablePath)
    plan.partitionOnlyPaths(condition) match {
      case Some((matched, paths)) => // metadata-only path
        if (matched == 0) return
        val now = System.currentTimeMillis()
        LakeWriter.commitWithRetry(log, plan.version,
          scala.collection.View.fromIteratorProvider(paths),
          () => paths().map(p => RemoveFile(p, now): Action)) { _ =>
          assertMetadataUnchangedAt(plan.version, plan.metadata, "DELETE")
          Seq(CommitInfo(now, "DELETE", Map("predicate" -> condition)))
        }
        ()
      case None => rewriteWhere(plan, "DELETE", condition, None)
    }
  }

  /** Write-side core of deletion vectors, for every DML on a
    * merge-on-read table ([[StreamedRewrite.rewrite]]): write (or
    * grow) one deletion-vector sidecar per file for the given
    * (file path, row index) pairs. Only those pairs shuffle
    * (repartition by file + in-partition sort streams each file's
    * indices into one task in order); existing DVs are merged on the
    * executor; the driver sees only per-file descriptors. A file
    * whose remaining live count reaches zero is removed outright
    * instead of carrying a full-file DV. The full-dead removes and DV
    * re-adds go to `dvSpill`, whose sweep covers the sidecars from
    * then on; returns the DV re-add count.
    */
  private[lake] def stageDeletionVectors(
      snap: Snapshot, touched: Seq[String], pairs: DataFrame,
      dvSpill: StreamedRewrite.ActionSpill): Long = {
    // Existing DVs of touched files: merged into the new vector on
    // the executor writing that file's DV (metadata-sized map).
    // Keyed by plain absolute path — the exact string
    // `_metadata.file_path` carries for our FileIndex's listings.
    val touchedSet = touched.toSet
    val oldDvByFile: Map[String, String] = snap.files
      .filter(f => touchedSet(f.path) && f.dvPath.isDefined)
      .map(f => LakeLog.resolveFile(tablePath, f.path).toString ->
        LakeLog.resolveFile(tablePath, f.dvPath.get).toString)
      .toMap
    val tp = tablePath
    import spark.implicits._
    val Seq(fileCol, idxCol) = pairs.columns.toSeq.map(c => col(quoted(c)))
    val results: Seq[(String, String, Long)] = pairs
      .select(fileCol, idxCol).as[(String, Long)]
      .repartition(fileCol)
      .sortWithinPartitions(fileCol, idxCol)
      .mapPartitions { iter =>
        val out = Seq.newBuilder[(String, String, Long)]
        var curFile: String = null
        var buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def flush(): Unit = if (curFile != null && buf.nonEmpty) {
          var idxs = buf.toArray
          oldDvByFile.get(curFile).foreach { old =>
            idxs = DeletionVector.merge(
              DeletionVector.read(java.nio.file.Paths.get(old)), idxs)
          }
          out += ((curFile, DeletionVector.write(tp, idxs),
            idxs.length.toLong))
          buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        }
        iter.foreach { case (f, i) =>
          if (f != curFile) { flush(); curFile = f }
          buf += i
        }
        flush()
        out.result().iterator
      }.collect().toSeq
    def deleteDv(rel: String): Unit =
      try { DataStore.current.deleteIfExists(Paths.get(tablePath, rel)); () }
      catch { case _: java.io.IOException => () }
    try {
      val addByPath = snap.files.map(f => f.path -> f).toMap
      val now = System.currentTimeMillis()
      val (gone, kept) = results.partition { case (uri, _, card) =>
        val f = addByPath(relativize(uri))
        f.numRecords >= 0 && card >= f.numRecords
      }
      val removes = gone.map { case (uri, rel, _) =>
        // full-file deletion: drop the entry entirely; the just-written
        // DV is unreferenced scratch
        deleteDv(rel)
        RemoveFile(relativize(uri), now)
      }
      val dvAdds = kept.map { case (uri, rel, card) =>
        addByPath(relativize(uri)).copy(
          dvPath = Some(rel), dvCardinality = card)
      }
      dvSpill.append(removes ++ dvAdds)
      dvAdds.size.toLong
    } catch { case e: Throwable =>
      results.foreach { case (_, rel, _) => deleteDv(rel) }
      throw e
    }
  }

  /** DELETE (`set` None) or UPDATE of the rows matching `condition`,
    * as row changes for [[StreamedRewrite.rewrite]], which applies
    * them copy-on-write or with deletion vectors. Discovery follows
    * the strategy:
    *  - copy-on-write rewrites whole files, so one `_metadata` scan
    *    names the touched files and each chunk's frame holds every row
    *    of its files, KEEP where the predicate fails;
    *  - with deletion vectors only the matching rows matter, so ONE
    *    scan evaluates them once: that frame names the touched files
    *    and every chunk's rows are its slice. Existing DVs are applied
    *    by the scan, so a soft-deleted row is never re-deleted.
    * Row-tracked tables carry [[RowTracking.COL]] wherever rows are
    * written, so an updated or kept row keeps its id (same logical
    * row, new version — Delta's row-tracking semantics).
    */
  private def rewriteWhere(plan: DmlPlan, operation: String,
      condition: String, set: Option[Map[String, String]]): Unit = {
    import StreamedRewrite.{Changes, FILE, IDX, KEEP, KIND, post}
    if (plan.isEmpty) return
    val fields = plan.schema.fields.toSeq
    val hit = coalesce(expr(condition), lit(false))
    val kind =
      lit(if (set.isDefined) StreamedRewrite.UPDATE else StreamedRewrite.DELETE)
    val dv = StreamedRewrite.mergeOnRead(plan)
    val withIds = RowTracking.enabled(plan.metadata.properties) &&
      (set.isDefined || !dv)
    // KIND in its own projection under the postimages that read it: a
    // non-deterministic predicate is evaluated once per row
    def changes(scan: DataFrame, kindOf: Column): DataFrame =
      scan.withColumn(KIND, kindOf).select(
        fields.map(f => col(quoted(f.name))) ++
        set.toSeq.flatMap(s => fields.map { f =>
          s.get(f.name)
            .map(e => when(col(KIND) === kind, expr(e))
              .otherwise(col(quoted(f.name))))
            .getOrElse(col(quoted(f.name)))
            .cast(f.dataType).as(post(f.name))
        }) ++ Seq(col(KIND),
          col("_metadata.file_path").as(FILE),
          col("_metadata.row_index").as(IDX)) ++
        (if (withIds) Seq(col(quoted(RowTracking.COL))) else Nil): _*)
    // a DELETE's postimage columns alias its preimage, projected over
    // the evaluated frame
    def withPost(df: DataFrame): DataFrame =
      if (set.isDefined) df
      else df.select(col("*") +:
        fields.map(f => col(quoted(f.name)).as(post(f.name))): _*)
    val params = Map("predicate" -> condition)
    if (dv)
      StreamedRewrite.withEvaluated(this,
        changes(plan.withMetaDF(withIds).filter(hit), kind)) { hits =>
        val chunks = StreamedRewrite.split(this, plan, hits.select(col(FILE)))
        if (chunks.count > 0)
          StreamedRewrite.rewrite(this, plan, chunks, operation, params) { c =>
            Changes(Some(withPost(hits.filter(chunks.memberOf(col(FILE),
              c.index)))), updates = set.isDefined)
          }
      }
    else {
      val chunks = StreamedRewrite.split(this, plan,
        plan.withMetaDF.filter(hit).select(col("_metadata.file_path")))
      if (chunks.count > 0)
        StreamedRewrite.rewrite(this, plan, chunks, operation, params) { c =>
          Changes(Some(withPost(c.evaluated(changes(
            readFilesWithMeta(c.snap, c.paths, withIds),
            when(hit, kind).otherwise(KEEP))))), updates = set.isDefined)
        }
    }
  }

  /** Predicate UPDATE: set columns from expression strings where the
    * condition holds ([[rewriteWhere]]). The SET expressions are
    * evaluated exactly once per row, so the CDC postimage is
    * byte-identical to the written data even for rand() or uuid().
    */
  def update(condition: String, set: Map[String, String]): Unit = {
    val plan = dmlPlan()
    LakeTable.assertNotAppendOnly(plan.metadata, "UPDATE", tablePath)
    val identityTargets = set.keySet.intersect(
      LakeTable.identityColumns(plan.metadata.properties).keySet)
    require(identityTargets.isEmpty,
      s"cannot UPDATE identity column(s) ${identityTargets.mkString(", ")}" +
      s" of $tablePath (GENERATED ALWAYS AS IDENTITY)")
    rewriteWhere(plan, "UPDATE", condition, Some(set))
  }

  /** ADD CONSTRAINT (Delta CHECK-constraint analog): the existing data
    * must already satisfy the expression (one full-table validation
    * pass, exactly Delta's behavior), after which every append,
    * UPDATE, and MERGE enforces it on the rows it writes. NULL
    * evaluations satisfy, per the SQL standard.
    */
  def addConstraint(name: String, checkExpr: String): Unit = {
    // metadata-light + columnar-aware: the validation pass reads the
    // table through readAt (no driver file list on qualifying tables)
    val meta0 = Snapshot.replayMeta(log, log.latestVersion)._1
    require(!meta0.constraints.contains(name),
      s"constraint $name already exists on $tablePath")
    expr(checkExpr) // must parse
    LakeWriter.enforceConstraints(
      toDF, Map(name -> checkExpr), tablePath)
    val meta = meta0.copy(
      constraints = meta0.constraints + (name -> checkExpr))
    LakeWriter.commitWithRetry(log) { _ =>
      Seq(CommitInfo(System.currentTimeMillis(), "ADD CONSTRAINT",
        Map("name" -> name, "expr" -> checkExpr)), meta)
    }
    ()
  }

  /** DROP CONSTRAINT. */
  def dropConstraint(name: String): Unit = {
    val meta0 = Snapshot.replayMeta(log, log.latestVersion)._1
    require(meta0.constraints.contains(name),
      s"no constraint $name on $tablePath")
    val meta = meta0.copy(
      constraints = meta0.constraints - name)
    LakeWriter.commitWithRetry(log) { _ =>
      Seq(CommitInfo(System.currentTimeMillis(), "DROP CONSTRAINT",
        Map("name" -> name)), meta)
    }
    ()
  }

  /** ALTER TABLE SET TBLPROPERTIES (Delta parity): arbitrary
    * key→value metadata on the table, committed like any schema
    * change. `graft.`-prefixed keys are HONORED, not just stored:
    *
    *  - [[LakeTable.PROP_RETENTION_HOURS]] — per-table vacuum
    *    retention default and safety floor (Delta's
    *    `delta.deletedFileRetentionDuration`);
    *  - [[LakeTable.PROP_ENABLE_CDF]] — `false` stops DELETE/UPDATE/
    *    MERGE from staging change-data files; `changes()` falls back
    *    to the read-time diff (Delta's `delta.enableChangeDataFeed`,
    *    default `true` here because CDC files make CDF reads
    *    O(changes) instead of O(rewritten data));
    *  - [[LakeTable.PROP_OPTIMIZE_WRITE]] — `true` pre-shuffles
    *    partitioned appends by the partition columns (small-file
    *    prevention; Delta's `delta.autoOptimize.optimizeWrite`).
    *
    * Unknown `graft.*` keys are rejected (a typo must not silently
    * store-and-ignore a knob); other namespaces pass through freely.
    */
  def setTblProperties(props: Map[String, String]): Unit = {
    LakeTable.validateProperties(props)
    // metadata-light: a property set needs metadata + protocol; the
    // file list matters ONLY to prove emptiness when the bucket spec
    // changes, and that single bit comes from the columnar summary on
    // manifest-checkpointed tables
    val snap = metaSnapshot()
    // column mapping is a one-way door: files already written under
    // override physical names would be misread the moment the
    // translation stops
    require(!(ColumnMapping.enabled(snap.metadata) &&
        props.get(ColumnMapping.MODE_PROP).exists(_ != "name")),
      s"${ColumnMapping.MODE_PROP} cannot be disabled once enabled")
    LakeWriter.commitWithRetry(log) { _ =>
      // re-derived per attempt: merge into the CURRENT properties so
      // a retry composes with, never reverts, a concurrent commit —
      // and the one-way door re-checks against the COMPOSED state (a
      // concurrent enable must not be disabled by this retry)
      val cur = metaSnapshot()
      require(!(ColumnMapping.enabled(cur.metadata) &&
          props.get(ColumnMapping.MODE_PROP).exists(_ != "name")),
        s"${ColumnMapping.MODE_PROP} cannot be disabled once enabled")
      val merged = cur.metadata.properties ++ props
      LakeTable.validatePropertyCoherence(merged)
      // bucketing is a one-way door on a populated table: existing
      // files were PLACED under the current spec, and a different
      // declared spec makes Spark's bucketed scan silently drop
      // out-of-range bucket files or prune to the wrong bucket
      def tableIsEmpty: Boolean = columnarIdx() match {
        case Some(idx) => idx.numFiles == 0L
        case None => snapshot().files.isEmpty
      }
      require(LakeTable.bucketSpecOf(cur.metadata.properties) ==
          LakeTable.bucketSpecOf(merged) || tableIsEmpty,
        "bucketing cannot be changed on a populated table (files " +
          "are placed under the existing spec); rewrite into a new " +
          "table instead")
      val meta = cur.metadata.copy(properties = merged)
      // Enabling a protocol-gated feature (deletion vectors, column
      // mapping) ratchets the table's protocol in the SAME commit, so
      // a feature-unaware engine refuses the table from the moment
      // the feature can exist.
      val needed = LakeProtocol.requiredFor(meta.properties)
      val upgradedP = LakeProtocol.upgraded(cur.protocol, needed)
      val protocolActions: Seq[Action] =
        if (upgradedP != cur.protocol) Seq(upgradedP) else Nil
      protocolActions ++ Seq(
        CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
          props), meta)
    }
    // Newly-enabled row tracking: stamp pre-existing files in a
    // follow-up metadata-only commit (see [[backfillRowIds]] for why
    // it must be its own commit). Failure here leaves the table
    // valid — unstamped files read null ids until a retried backfill.
    if (RowTracking.enabled(props) &&
        !RowTracking.enabled(snap.metadata.properties)) {
      backfillRowIds()
      ()
    }
    ()
  }

  /** ALTER TABLE UNSET TBLPROPERTIES. Missing keys are a no-op, per
    * Delta's IF EXISTS behavior.
    */
  def unsetTblProperties(keys: Seq[String]): Unit = {
    // metadata-light, mirroring setTblProperties: only the bucket
    // one-way door ever needs the file list, and only its emptiness
    val snap = metaSnapshot()
    require(!(ColumnMapping.enabled(snap.metadata) &&
        keys.exists(k => k == ColumnMapping.MODE_PROP ||
          k == ColumnMapping.TABLE_PROP)),
      "column mapping properties cannot be removed once enabled " +
      "(files already carry physical column names)")
    LakeWriter.commitWithRetry(log) { _ =>
      val cur = metaSnapshot()
      // re-check against the CURRENT state: a concurrent enable must
      // not have its mapping properties stripped by this retry
      require(!(ColumnMapping.enabled(cur.metadata) &&
          keys.exists(k => k == ColumnMapping.MODE_PROP ||
            k == ColumnMapping.TABLE_PROP)),
        "column mapping properties cannot be removed once enabled " +
        "(files already carry physical column names)")
      val merged = cur.metadata.properties -- keys
      LakeTable.validatePropertyCoherence(merged)
      // same one-way door as SET: un-declaring bucketing on a
      // populated table leaves bucket-placed files behind a scan that
      // no longer knows it (correct but slow) and, worse, allows a
      // later RE-declare with a different count over the old files
      def tableIsEmpty: Boolean = columnarIdx() match {
        case Some(idx) => idx.numFiles == 0L
        case None => snapshot().files.isEmpty
      }
      require(LakeTable.bucketSpecOf(cur.metadata.properties) ==
          LakeTable.bucketSpecOf(merged) || tableIsEmpty,
        "bucketing cannot be removed from a populated table")
      Seq(CommitInfo(System.currentTimeMillis(), "UNSET TBLPROPERTIES",
        Map("keys" -> keys.mkString(","))),
        cur.metadata.copy(properties = merged))
    }
    ()
  }

  /** Current table properties (SHOW TBLPROPERTIES) — metadata-light. */
  def tblProperties: Map[String, String] =
    Snapshot.replayMeta(log, log.latestVersion)._1.properties

  /** MERGE builder (D1–D4). `condition` may be any expression —
    * including non-equi / RLIKE (J5) — resolved against the aliased
    * target and source plans.
    */
  def merge(source: DataFrame, condition: String): LakeMergeBuilder =
    new LakeMergeBuilder(this, targetAlias, source, condition)

  /** RESTORE to an old version as a new commit (first-class form of
    * the reference's manual rollback, D12/etl/05:203-209): the file set
    * and schema of `version` become the current state; history is
    * preserved (nothing is rewritten, only log references change).
    *
    * The diff is per ENTRY, not per path: a file live at both versions
    * whose mutable entry facts changed in between (a deletion vector
    * added or replaced, a bloom/row-id/cluster re-add) is re-added
    * with the TARGET's entry — restoring to a pre-DV-delete version
    * really does resurrect the soft-deleted rows (Delta's semantics),
    * and the restored state equals the target state exactly. That
    * exact equality is what lets the restore publish a checkpoint
    * that REUSES the target's manifest slices
    * ([[LakeLog.checkpointAfterRestore]]), keeping the next cadence
    * off the all-dirty worst path.
    */
  def restoreTo(version: Long): Unit = {
    // the CURRENT side contributes its (path -> mutable entry facts)
    // map, metadata, and read version — a columnar lite projection on
    // big tables (path strings + three optionals; never stats-bearing
    // AddFiles)
    type Mut = (Option[String], Option[String], Option[Long], Option[Long])
    def mutOf(a: AddFile): Mut =
      (a.dvPath, a.bloomPath, a.baseRowId, a.clusterGen)
    val (curVersion, curMeta, curMut)
        : (Long, Metadata, Map[String, Mut]) = columnarIdx() match {
      case Some(idx) =>
        (idx.version, idx.metadata,
          idx.pathMutables()
            .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap)
      case None =>
        val current = snapshot()
        (current.version, current.metadata,
          current.files.map(f => f.path -> mutOf(f)).toMap)
    }
    val currentPaths = curMut.keySet
    val currentPathSeq = curMut.keysIterator.toSeq
    val now = System.currentTimeMillis()
    // The TARGET side's entries ARE the re-add actions — but they need
    // not all be resident at once: with a columnar index at the target
    // version they STREAM to the commit in bounded chunks
    // (path-filtered distributed fetches feeding [[LakeLog.commit]]'s
    // bulk stream, the version-file twin of the checkpoint writer's
    // actionIterator), so restoring a 10⁷-file
    // table holds O(chunk) AddFiles plus the path lists, never the
    // interned target file list. Small/classic tables keep the
    // materialized path.
    columnarIdx(version) match {
      case Some(tIdx) =>
        val targetMeta = tIdx.metadata
        val targetPathSeq = tIdx.pathSizes().map(_._1)
        // vacuum-loss probe, distributed like FSCK's (never an
        // O(table) serial driver stat loop at this scale); existence
        // probes are DataStore traffic — tasks resolve the seam in
        // their own JVM, like the vacuum/FSCK probes
        val missing: Seq[String] = {
          val tp = tablePath
          if (targetPathSeq.size < LakeTable.DISTRIBUTED_VACUUM_MIN_FILES)
            targetPathSeq.filterNot(p =>
              DataStore.current.exists(LakeLog.resolveFile(tp, p))).take(1)
          else spark.sparkContext.parallelize(targetPathSeq, 64)
            .filter(p =>
              !DataStore.current.exists(LakeLog.resolveFile(tp, p)))
            .take(1).toSeq
        }
        if (missing.nonEmpty) throw new IllegalStateException(
          s"cannot restore $tablePath to version $version: " +
          "data files of that version were removed by VACUUM " +
          s"(first: ${missing.head})")
        val targetPaths = targetPathSeq.toSet
        val removed = currentPathSeq.filterNot(targetPaths.contains)
        val head = Seq(CommitInfo(now, "RESTORE",
          Map("version" -> version.toString))) ++
          (if (targetMeta.schemaDDL != curMeta.schemaDDL ||
            targetMeta.partitionColumns != curMeta.partitionColumns)
            Seq(targetMeta) else Nil)
        val rv = LakeWriter.commitWithRetry(log, curVersion, removed,
          () => removed.iterator.map(p => RemoveFile(p, now): Action) ++
            tIdx.liveAddsStream()
              // entry diff: absent OR mutable facts changed -> re-add
              .filter(a => !curMut.get(a.path).contains(mutOf(a))))(
          _ => head)
        LakeTable.manifestAfterRestore(log, rv, curVersion, version)
      case None =>
        val target = snapshot(version)
        val missing = target.files.filterNot(f =>
          DataStore.current.exists(LakeLog.resolveFile(tablePath, f.path)))
        if (missing.nonEmpty) throw new IllegalStateException(
          s"cannot restore $tablePath to version $version: " +
          s"${missing.size} of its data files were removed by VACUUM " +
          s"(first: ${missing.head.path})")
        val targetPaths = target.files.map(_.path).toSet
        val removed = currentPathSeq.filterNot(targetPaths.contains)
        val rv = LakeWriter.commitWithRetry(log, curVersion, removed) { _ =>
          Seq(CommitInfo(now, "RESTORE",
            Map("version" -> version.toString))) ++
            (if (target.metadata.schemaDDL != curMeta.schemaDDL ||
              target.partitionColumns != curMeta.partitionColumns)
              Seq(target.metadata) else Nil) ++
            removed.map(p => RemoveFile(p, now)) ++
            target.files.filterNot(f =>
              curMut.get(f.path).contains(mutOf(f)))
        }
        LakeTable.manifestAfterRestore(log, rv, curVersion, version)
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * create a new table at `destPath` whose version 0 references this
    * table's current data files by ABSOLUTE path — zero data copied,
    * metadata (schema, partitioning, constraints) carried over.
    *
    * The clone then lives its own life: appends land in its own
    * directory; DML rewrites copy-on-write (rewritten rows become
    * clone-local files, the commit tombstones the absolute source
    * reference without touching the source); VACUUM never deletes
    * outside the clone's root, so the source's files are safe.
    * The experimentation primitive at 100 TB — try a cleaning recipe
    * on a clone, compare, throw it away. (Caveat, same as Delta's:
    * the SOURCE's vacuum can delete files the clone still references;
    * clone from a version you retain.)
    */
  def shallowCloneTo(destPath: String): LakeTable = {
    val destLog = new LakeLog(destPath)
    require(!destLog.exists, s"$destPath is already a lake table")
    val snap = snapshot()
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    // sidecars (DV, bloom) absolutize exactly like the data path —
    // a clone-relative `_deletion_vectors/...` would resolve under
    // the CLONE's root where no such file exists, crashing every read
    // of a soft-deleted file (round-10 fix; the bloom analog merely
    // lost its skipping, but same rule)
    def abs(rel: String): String =
      LakeLog.resolveFile(root.toString, rel)
        .toAbsolutePath.normalize.toString
    val cloneAdds = snap.files.map { f =>
      f.copy(path = abs(f.path),
        dvPath = f.dvPath.map(abs),
        bloomPath = f.bloomPath.map(abs))
    }
    java.nio.file.Files.createDirectories(Paths.get(destPath))
    destLog.commit(0L, Seq(
      snap.protocol,
      CommitInfo(System.currentTimeMillis(), "CLONE",
        Map("source" -> tablePath,
          "sourceVersion" -> snap.version.toString)),
      snap.metadata.copy(createdTime = System.currentTimeMillis())
    ) ++ cloneAdds)
    LakeTable.forPath(spark, destPath)
  }

  /** DEEP CLONE: an independent copy — data files are physically
    * copied under the destination root (same relative paths, stats
    * carried over, no re-encode/rewrite) and the clone's log starts
    * fresh at version 0. Unlike a shallow clone the result shares no
    * storage with the source: the source can be vacuumed or dropped
    * freely. The copy is distributed past
    * [[LakeTable.DISTRIBUTED_VACUUM_MIN_FILES]] files — at 100 TB the
    * copy is executor-bandwidth-bound, never a serial driver loop.
    */
  def deepCloneTo(destPath: String): LakeTable = {
    val destLog = new LakeLog(destPath)
    require(!destLog.exists, s"$destPath is already a lake table")
    val snap = snapshot()
    val src = Paths.get(tablePath).toAbsolutePath.normalize
    val dest = Paths.get(destPath).toAbsolutePath.normalize
    // A shallow-clone source references files by ABSOLUTE path; those
    // get fresh clone-local names (partition pruning reads
    // partitionValues from the log, not the directory layout, so the
    // flat name loses nothing). Ordinary relative paths are preserved.
    // Sidecars (DV, bloom) copy under the same rule — they are part
    // of the file's state; leaving them behind crashes every read of
    // a soft-deleted file (round-10 fix).
    def destRel(srcRef: String, i: Int, tag: String): String =
      if (Paths.get(srcRef).isAbsolute)
        s"cloned-$tag$i-${Paths.get(srcRef).getFileName}"
      else srcRef
    val mapped: Seq[(Seq[(String, String)], AddFile)] =
      snap.files.zipWithIndex.map { case (f, i) =>
        val rel = destRel(f.path, i, "")
        val dvRel = f.dvPath.map(destRel(_, i, "dv-"))
        val bloomRel = f.bloomPath.map(destRel(_, i, "bloom-"))
        val copies = Seq(f.path -> rel) ++
          f.dvPath.zip(dvRel) ++ f.bloomPath.zip(bloomRel)
        (copies, f.copy(path = rel, dvPath = dvRel, bloomPath = bloomRel))
      }
    val srcStr = src.toString
    val destStr = dest.toString
    def copyOne(fromRel: String, toRel: String): Unit = {
      val to = Paths.get(destStr).resolve(toRel)
      Files.createDirectories(to.getParent)
      Files.copy(LakeLog.resolveFile(srcStr, fromRel), to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    val allCopies = mapped.flatMap(_._1)
    if (allCopies.size >= LakeTable.DISTRIBUTED_VACUUM_MIN_FILES) {
      spark.sparkContext
        .parallelize(allCopies, math.min(allCopies.size / 8 + 1, 64))
        .foreach { case (fromRel, toRel) =>
          val to = Paths.get(destStr).resolve(toRel)
          Files.createDirectories(to.getParent)
          Files.copy(LakeLog.resolveFile(srcStr, fromRel), to,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    } else allCopies.foreach { case (from, to) => copyOne(from, to) }
    Files.createDirectories(dest)
    destLog.commit(0L, Seq(
      snap.protocol,
      CommitInfo(System.currentTimeMillis(), "CLONE",
        Map("source" -> tablePath, "mode" -> "deep",
          "sourceVersion" -> snap.version.toString)),
      snap.metadata.copy(createdTime = System.currentTimeMillis())
    ) ++ mapped.map(_._2))
    LakeTable.forPath(spark, destPath)
  }

  // ---- incremental ingest ------------------------------------------------

  /** COPY INTO: idempotent incremental file ingest (Databricks COPY
    * INTO semantics). Lists `sourceDir`, loads only files not already
    * recorded, and commits the data together with one `Txn` action per
    * source file (appId = file URI, version = mtime), so:
    *
    *  - re-running the same COPY is a no-op (retryable ingest crons);
    *  - a file REPLACED in place (newer mtime) is picked up again;
    *  - two concurrent COPYs of overlapping file sets cannot
    *    double-load: the commit conflicts on the shared Txn and the
    *    loser re-filters and retries with only the files it still owns.
    *
    * Scale shape: the per-file ledger lives in the checkpointed
    * transactions map — O(source files) entries, the same order as the
    * table's own file list; discovery is one directory listing and the
    * load is an ordinary distributed read+append (schema enforcement
    * included). `force = true` reloads everything regardless of the
    * ledger (stamped at load time, so later non-force runs still skip).
    *
    * Returns a 1-row frame: (num_loaded_files, num_skipped_files,
    * num_loaded_rows).
    */
  def copyInto(
      sourceDir: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      force: Boolean = false,
      attemptsLeft: Int = 5): DataFrame = {
    import spark.implicits._
    val root = Paths.get(sourceDir).toAbsolutePath.normalize
    require(Files.exists(root), s"COPY INTO source not found: $sourceDir")
    val files: Seq[Path] =
      if (Files.isDirectory(root)) {
        val stream = Files.list(root)
        try stream.iterator.asScala
          .filter(p => Files.isRegularFile(p))
          .filterNot { p =>
            val n = p.getFileName.toString
            n.startsWith(".") || n.startsWith("_")
          }.toSeq.sortBy(_.toString)
        finally stream.close()
      } else Seq(root)
    // Identity includes the file SIZE (Databricks COPY INTO keys on
    // path+mtime+size): a file replaced in place with an equal-or-older
    // mtime (mtime-preserving cp -p/rsync, coarse object-store stamps)
    // but different length gets a fresh ledger key and reloads instead
    // of being silently skipped. A same-size same-mtime replacement is
    // indistinguishable without content hashing and stays skipped.
    // Tables ingested before the size-keyed identity carry ledger
    // entries under the legacy `copy-into:<uri>` key; those must keep
    // skipping (not silently re-load), so the filter honors EITHER key.
    // metadata-light: the ledger is the txn watermark map — a COPY
    // INTO against a 10⁶-file table must not replay the file list to
    // decide which source files are new
    val recorded: Map[String, Long] =
      if (log.exists && log.latestVersion >= 0)
        Snapshot.replayMetaTxns(log, log.latestVersion)._4
      else Map.empty
    // A source file can vanish between the directory listing and the
    // per-file stat (compaction jobs, aggressive retention): stat
    // inside Try and drop vanished files from this run instead of
    // aborting the whole COPY — the next run simply won't list them.
    val stamped = files.flatMap { p =>
      scala.util.Try {
        val id = s"copy-into:${p.toUri}:${Files.size(p)}"
        val v = if (force) System.currentTimeMillis()
                else Files.getLastModifiedTime(p).toMillis
        (p, id, s"copy-into:${p.toUri}", v)
      }.toOption
    }
    val toLoad = stamped.filter { case (_, id, legacyId, v) =>
      force || !(recorded.get(id).exists(_ >= v) ||
        recorded.get(legacyId).exists(_ >= v))
    }.map { case (p, id, _, v) => (p, id, v) }
    val skipped = files.size - toLoad.size
    if (toLoad.isEmpty)
      return Seq((0L, skipped.toLong, 0L))
        .toDF("num_loaded_files", "num_skipped_files", "num_loaded_rows")
    var reader = spark.read.format(format).options(options)
    // For self-describing parquet the files carry the schema; for
    // text formats read with the TABLE's schema when it exists —
    // inference must not get to redefine an established table.
    if (log.exists && format != "parquet")
      reader = reader.schema(StructType.fromDDL(
        Snapshot.replayMeta(log, log.latestVersion)._1.schemaDDL))
    val df = reader.load(toLoad.map(_._1.toString): _*)
    val res = LakeWriter.write(df, tablePath,
      mode = "append",
      operation = "COPY INTO",
      operationParameters = Map(
        "source" -> sourceDir, "format" -> format,
        "numSourceFiles" -> toLoad.size.toString,
        "force" -> force.toString),
      transactions = toLoad.map { case (_, id, v) => (id, v) })
    val nowRecorded =
      Snapshot.replayMetaTxns(log, log.latestVersion)._4
    val unrecorded = toLoad.filterNot { case (_, id, v) =>
      nowRecorded.get(id).exists(_ >= v) }
    if (res.added.isEmpty && unrecorded.nonEmpty) {
      // Lost a Txn race to a concurrent COPY of an overlapping file
      // set (the write staged, conflicted, and cleaned up). Re-filter
      // against the winner's ledger and load the remainder.
      require(attemptsLeft > 0,
        s"COPY INTO $tablePath kept losing txn races; re-run to resume")
      copyInto(sourceDir, format, options, force, attemptsLeft - 1)
    } else {
      val rows = res.added.map(_.numRecords).filter(_ >= 0).sum
      val loaded = if (res.added.isEmpty) 0L else toLoad.size.toLong
      Seq((loaded, skipped.toLong, rows))
        .toDF("num_loaded_files", "num_skipped_files", "num_loaded_rows")
    }
  }

  // ---- maintenance -------------------------------------------------------

  /** VACUUM (D8): physically delete files no longer reachable within
    * the retention horizon. Retention below the table's default (the
    * `graft.deletedFileRetentionHours` property, else 168 h) throws
    * unless `spark.graft.lake.retentionDurationCheck.enabled=false`.
    *
    * Delta's production model — directory listing, not log replay:
    * a candidate is any file under the table root (log excluded) that
    * is (a) not in the CURRENT snapshot, (b) not protected by a
    * tombstone or change-data entry of a commit INSIDE the retention
    * window, and (c) older than the horizon by modification time. The
    * protection set comes from the history sidecar's timestamps plus
    * only the version files of in-window commits, so vacuum is
    * O(listing + retention window) at any table age — a 100k-commit
    * table no longer pays a full serial driver replay. The mtime
    * clause (c) is what retires EXPIRED tombstones without ever
    * enumerating them, and what sweeps untracked debris: scratch
    * `.staging-*` dirs orphaned by a crashed DML, aged change-data
    * files, conversion leftovers. Files of a shallow-clone
    * source are referenced by absolute path and live outside this
    * table's root, so the listing never sees (and never deletes) them
    * — Delta's rule for cloned files. As with Delta, retention 0 is
    * unsafe under concurrent writers (an in-flight commit's staged
    * files are untracked and unprotected by mtime); that is exactly
    * what the retention guard fences.
    */
  def vacuum(retentionHours: Double = -1.0,
      dryRun: Boolean = false): Seq[String] = {
    // the live/protection sets need only path + sidecar strings; on
    // a manifest-checkpointed table they come from the columnar
    // sidecar projection — VACUUM of a 10⁶-file table never
    // materializes its stats-bearing file list on the driver
    val (liveTriples, liveCount)
        : (Seq[(String, Option[String], Option[String])], Long) =
      columnarIdx() match {
        case Some(idx) => (idx.pathSidecars(), idx.numFiles)
        case None =>
          val fs = snapshot().files
          (fs.map(f => (f.path, f.dvPath, f.bloomPath)), fs.size.toLong)
      }
    val props = Snapshot.replayMeta(log, log.latestVersion)._1.properties
    // The table's own retention property (Delta's
    // deletedFileRetentionDuration) is both the no-arg default and the
    // safety floor the guard compares against — a table whose owner
    // set a short retention has opted in for THAT table.
    val tableDefault = props
      .get(LakeTable.PROP_RETENTION_HOURS).map(_.toDouble)
      .getOrElse(LakeTable.DEFAULT_RETENTION_HOURS)
    val retention = if (retentionHours < 0) tableDefault else retentionHours
    val checkEnabled = spark.conf
      .getOption(LakeTable.RETENTION_CHECK_KEY).forall(_.toBoolean)
    if (retention < tableDefault && checkEnabled) {
      throw new IllegalArgumentException(
        s"requested retention of $retention hours is below this " +
        s"table's $tableDefault h safety threshold. Set " +
        s"${LakeTable.RETENTION_CHECK_KEY}=false or lower the table's " +
        s"${LakeTable.PROP_RETENTION_HOURS} property to vacuum recent " +
        "versions (this breaks time travel to them).")
    }
    val cutoff = System.currentTimeMillis() - (retention * 3600 * 1000).toLong
    val live = liveTriples.map(_._1).toSet ++
      liveTriples.flatMap(_._2) ++
      liveTriples.flatMap(_._3)
    // Tombstones/change-data of commits still inside the retention
    // window stay reachable by time travel / CDF reads — as do
    // deletion-vector and bloom sidecars referenced by in-window
    // commits. A sidecar superseded in-window has no tombstone of its
    // own (the re-add IS its supersession), so the sidecars live at
    // the window start are protected from the snapshot at the last
    // pre-cutoff commit.
    // one evaluation: commitTimestamps is a sidecar read + O(tail)
    // version reads + a log listing per call
    val stamps = commitTimestamps
    val inWindow = stamps.filter(_._2 > cutoff)
    val preCutoffSidecars: Set[String] = stamps
      .filter(_._2 <= cutoff).lastOption.map { case (v, _) =>
        // log cleanup may have dropped the replay prefix below the
        // retention horizon; the oldest REPLAYABLE version is then
        // the earliest state any reader can reach, so its sidecars
        // are the right protection set
        val pv = math.max(v, log.earliestReplayableVersion)
        columnarIdx(pv) match {
          case Some(idx) => idx.pathSidecars()
            .flatMap { case (_, dv, bl) => dv ++ bl }.toSet
          case None => snapshot(pv)
            .files.flatMap(f => f.dvPath ++ f.bloomPath).toSet
        }
      }.getOrElse(Set.empty)
    // The sidecar-backed timestamp index still lists versions whose
    // files log retention deleted (short graft.logRetentionHours can
    // undercut the vacuum window); those versions are unreachable by
    // replay and CDF alike, so their tombstones need no protection —
    // and reading them would crash the whole vacuum. The NoSuchFile
    // catch covers the same deletion racing this loop.
    val oldestSurviving = log.oldestSurvivingVersion
    val protectedPaths: Set[String] = inWindow
      .filter(_._1 >= oldestSurviving).flatMap { case (v, _) =>
        try log.readVersion(v).flatMap {
          case r: RemoveFile => Seq(r.path)
          case c: CdcFile => Seq(c.path)
          case a: AddFile => a.dvPath.toSeq ++ a.bloomPath.toSeq
          case _ => Nil
        } catch { case _: java.nio.file.NoSuchFileException => Nil }
      }.toSet ++ preCutoffSidecars
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    val logRoot = root.resolve(LakeLog.LOG_DIR)
    // Candidate listing. Small tables walk on the driver; above the
    // threshold the walk fans out as a Spark job over the table's
    // top-level directories — at 100-TB file counts (10⁶–10⁷ entries)
    // the serial driver walk+stat is the vacuum bottleneck, and
    // listing subtrees is embarrassingly parallel (Delta's parallel
    // vacuum listing). Each task returns (relative path, mtime), so
    // the age gate below never re-stats on the driver. The filter
    // itself stays driver-side: the live/protected sets are already
    // in driver memory and the test is pure set lookup — shipping
    // those sets to executors would cost more than it saves.
    val distributed =
      liveCount >= LakeTable.DISTRIBUTED_VACUUM_LIST_MIN_FILES
    def mtimeOf(p: Path): Long =
      // vanished between listing and stat = a concurrent deleter got
      // it first; MaxValue keeps it out of the deletable set
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException => Long.MaxValue }
    val candidatesWithMtime: Seq[(String, Long)] =
      if (!distributed) {
        LakeTable.walkTolerant(root)._1
          .filterNot(_.startsWith(logRoot))
          .map(p => (root.relativize(p).toString, mtimeOf(p)))
      } else {
        val top = {
          val l = Files.list(root)
          try l.iterator.asScala.toSeq finally l.close()
        }
        val (topDirs, topFiles) = top.filterNot(_ == logRoot)
          .partition(Files.isDirectory(_))
        val rootStr = root.toString // no `this` in the task closure
        val subtree =
          if (topDirs.isEmpty) Nil
          else spark.sparkContext
            .parallelize(topDirs.map(_.toString).sorted,
              math.min(topDirs.size, 64))
            .flatMap { d =>
              val base = Paths.get(rootStr)
              LakeTable.walkTolerant(Paths.get(d))._1.map { f =>
                val m = try Files.getLastModifiedTime(f).toMillis
                  catch { case _: java.io.IOException => Long.MaxValue }
                (base.relativize(f).toString, m)
              }
            }.collect().toSeq
        topFiles.filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, mtimeOf(p))) ++ subtree
      }
    val deletable = candidatesWithMtime.collect {
      case (rel, mtime)
        if !live.contains(rel) && !protectedPaths.contains(rel) &&
          mtime <= cutoff => rel
    }.sorted
    // DRY RUN (Delta parity): report what WOULD go, touch nothing,
    // commit nothing.
    if (dryRun) return deletable
    // Large vacuums delete distributed: at millions of tombstones the
    // serial driver loop is the bottleneck, and deletes are
    // embarrassingly parallel (idempotent, no ordering).
    if (deletable.size >= LakeTable.DISTRIBUTED_VACUUM_MIN_FILES) {
      val tp = tablePath
      spark.sparkContext
        .parallelize(deletable, math.min(deletable.size / 32 + 1, 64))
        .foreach(rel => DataStore.current.deleteIfExists(Paths.get(tp, rel)))
    } else deletable.foreach { rel =>
      DataStore.current.deleteIfExists(Paths.get(tablePath, rel))
      ()
    }
    // Sweep now-empty directories (drained partitions, .staging-* and
    // cdc-* scratch) bottom-up; the deepest-first sort makes children
    // go before parents. No mtime gate: removing an EMPTY directory
    // never loses data, and every writer recreates its directories on
    // write (the parquet writer creates a file's missing parent dirs).
    LakeTable.walkTolerant(root)._2
      .filterNot(_.startsWith(logRoot))
      .sortBy(p => -p.getNameCount)
      .foreach { d =>
        try {
          val empty = { val l = Files.list(d); try !l.iterator.hasNext finally l.close() }
          if (empty) Files.deleteIfExists(d)
        } catch {
          // Vanished concurrently, or a writer dropped a file into it
          // between the emptiness check and the delete — both fine.
          case _: java.nio.file.NoSuchFileException =>
          case _: java.nio.file.DirectoryNotEmptyException =>
        }
      }
    LakeWriter.commitWithRetry(log) { _ =>
      Seq(CommitInfo(System.currentTimeMillis(), "VACUUM",
        Map("retentionHours" -> retention.toString,
          "filesDeleted" -> deletable.size.toString)))
    }
    deletable
  }

  /** Compaction (SURVEY §7.5): bin-pack files smaller than
    * `targetFileBytes` into fewer files per partition. Identity rewrite;
    * readers before/after see the same rows.
    */
  /** Restrict a maintenance rewrite to the files of partitions
    * matching `where` (Delta's `OPTIMIZE t WHERE ...` semantics: the
    * predicate must reference partition columns only, so scoping is a
    * metadata decision — no data is read to pick the file set).
    */
  private def scopeFiles(snap: Snapshot, where: Option[String]): Seq[AddFile] =
    where match {
      case None => snap.files
      case Some(pred) =>
        FilePruner.partitionOnlyMatches(snap, pred, Some(spark)).getOrElse(
          throw new IllegalArgumentException(
            s"OPTIMIZE ... WHERE supports partition-column predicates " +
              s"only (partition columns: " +
              s"${snap.partitionColumns.mkString(", ")}), got: $pred"))
    }

  /** Snapshot a WHERE-scoped maintenance pass (compact / REORG PURGE /
    * bloom or stats rebuild / clustered OPTIMIZE) operates on: under
    * the columnar conf on a qualifying table, its `files` are the
    * predicate's CANDIDATES from the distributed checkpoint scan — a
    * conservative superset the exact [[scopeFiles]] test then
    * filters — so a partition-scoped maintenance job on a 10⁷-file
    * table holds the scope on the driver, not the table. Unscoped
    * passes (`where = None`) rewrite table-wide and legitimately hold
    * the full inventory; they keep the classic snapshot.
    */
  private def maintenanceSnap(where: Option[String]): Snapshot = {
    if (where.isDefined && spark.conf
        .getOption("spark.graft.columnarFileIndex").forall(_.toBoolean)) {
      graft.sources.ColumnarLakeFileIndex.tryBuild(spark, log, -1)
        .foreach { idx =>
          val parsed = spark.sessionState.sqlParser
            .parseExpression(where.get)
          return idx.syntheticSnap(idx.candidatesFor(
            FilePruner.serializableConjuncts(Seq(parsed))))
        }
    }
    snapshot()
  }

  def compact(targetFileBytes: Long = -1L,
      where: Option[String] = None): Unit = {
    val snap = maintenanceSnap(where)
    // -1 = "the table's configured target" (graft.targetFileSize,
    // 128 MiB default) — an explicit argument still wins
    val target =
      if (targetFileBytes > 0) targetFileBytes
      else LakeTable.targetFileBytes(snap.metadata.properties)
    val small = scopeFiles(snap, where).filter(_.size < target)
    // Only partitions with 2+ small files benefit.
    val byPartition = small.groupBy(_.partitionValues).filter(_._2.size >= 2)
    if (byPartition.isEmpty) return
    compactFileSet(snap, byPartition, target,
      where.map("where" -> _).toMap)
  }

  /** REORG TABLE ... APPLY (PURGE): rewrite every deletion-vector-
    * carrying file to a physical copy without the soft-deleted rows.
    * Identity rewrite of LIVE rows (readFiles applies DVs), one atomic
    * commit; the orphaned DV sidecars age out via vacuum's mtime
    * sweep. The steady-state pattern at scale: DELETEs accrue cheap
    * DVs, a periodic partition-scoped REORG folds them into clean
    * files off the ingest path.
    */
  def purgeDeletionVectors(where: Option[String] = None): Int = {
    val snap = maintenanceSnap(where)
    val dvFiles = scopeFiles(snap, where).filter(_.dvPath.isDefined)
    if (dvFiles.isEmpty) return 0
    val df = readForRewrite(snap, dvFiles.map(_.path))
    val adds = LakeWriter.writeFiles(df, tablePath,
      snap.partitionColumns, ColumnMapping.overrides(snap.metadata),
      snap.metadata.properties, computeLight = true)
    commitRewrite(snap, dvFiles.map(_.path), adds, "REORG",
      Map("applyPurge" -> "true",
        "numFilesPurged" -> dvFiles.size.toString) ++
        where.map("where" -> _).toMap)
    dvFiles.size
  }

  /** Backfill bloom sidecars ([[BloomIndex]]) for live files that
    * lack them — the path that makes `graft.bloomFilter.columns` on
    * an EXISTING table useful: writes only index files they create,
    * so without this the index covers nothing until the table is
    * rewritten. This is metadata-plus-sidecars, never a data
    * rewrite: one column-pruned distributed pass over the un-indexed
    * files builds the sidecars, then each file's log entry is
    * RE-ADDED with `bloomPath` set (replay replaces by path — the DV
    * re-add rule, so no RemoveFile). A concurrent rewrite of the
    * same files conflicts via the re-add check; on abort the
    * just-written sidecars are swept (they are the only thing this
    * commit created — live data files are never touched).
    *
    * `where` (partition-column predicate, the OPTIMIZE ... WHERE
    * rule) scopes the pass: at 100 TB a backfill is run
    * partition-by-partition from a maintenance cron, not as one
    * table-wide job.
    *
    * Returns the number of files indexed (0 = all covered already).
    */
  def rebuildBloomIndexes(where: Option[String] = None): Int = {
    val snap = maintenanceSnap(where)
    val props = snap.metadata.properties
    val logicalCols = BloomIndex.indexedColumns(props)
    require(logicalCols.nonEmpty,
      s"${BloomIndex.PROP_COLUMNS} is not set on $tablePath; " +
      "configure the indexed columns before rebuilding")
    logicalCols.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"${BloomIndex.PROP_COLUMNS} names unknown column $c; " +
        s"table columns: ${snap.schema.fieldNames.sorted.mkString(", ")}")
    }
    val mapping = ColumnMapping.overrides(snap.metadata)
    val physCols = logicalCols.map(ColumnMapping.physicalName(_, mapping))
    val missing = scopeFiles(snap, where).filter(_.bloomPath.isEmpty)
    if (missing.isEmpty) return 0
    val root = Paths.get(tablePath)
    val bloomFor = BloomIndex.buildSidecars(
      spark,
      missing.map(f => LakeLog.resolveFile(tablePath, f.path).toString),
      relBase = root, tableRoot = root,
      physCols = physCols, partCols = snap.partitionColumns,
      expectedItems = BloomIndex.numItems(props),
      fppValue = BloomIndex.fpp(props),
      // pre-evolution files may lack an indexed column; a uniform
      // schema cannot be assumed across the table's history
      mergeSchema = true)
    // buildSidecars keys its result by relBase.relativize(absolute
    // scan path). For table-relative AddFiles that equals f.path, but
    // a SHALLOW CLONE's AddFile is ABSOLUTE (it references the source
    // table's file) and relativize turns it into a "../..."-style key
    // that f.path never equals — so look up by the SAME derivation,
    // not by the raw log path, or every cloned file is silently
    // skipped and its just-written sidecar orphaned.
    val rootAbs = root.toAbsolutePath.normalize
    def sidecarKey(f: AddFile): String = rootAbs.relativize(
      LakeLog.resolveFile(tablePath, f.path).toAbsolutePath.normalize)
      .toString
    val adds = missing.flatMap(f =>
      bloomFor.get(sidecarKey(f)).map(rel => f.copy(bloomPath = Some(rel))))
    if (adds.isEmpty) return 0
    val now = System.currentTimeMillis()
    try {
      LakeWriter.commitWithRetry(log, snap.version, adds.map(_.path)) { _ =>
        assertMetadataUnchanged(snap, "ADD BLOOM INDEX")
        Seq(CommitInfo(now, "ADD BLOOM INDEX",
          Map("columns" -> logicalCols.mkString(","),
            "numFilesIndexed" -> adds.size.toString))) ++ adds
      }
    } catch {
      case e: ConflictingCommitException =>
        // the sidecars are this commit's ONLY products; sweep them
        bloomFor.values.foreach { rel =>
          try { DataStore.current.deleteIfExists(Paths.get(tablePath, rel)); () }
          catch { case _: java.io.IOException => () }
        }
        throw e
    }
    adds.size
  }

  /** Backfill footer STATS (numRecords, min/max, null counts) for
    * live files that lack them — Databricks' `ANALYZE TABLE ...
    * COMPUTE DELTA STATISTICS` analog. Files written by this engine
    * carry stats from birth; entries from foreign or legacy logs may
    * not (`numRecords = -1`), which disables min/max skipping AND the
    * metadata-only COUNT(*) rewrite for the whole table (one
    * uncounted file means the scan is the only truth).
    *
    * Footer reads DISTRIBUTE (one task per file batch — at 100 TB
    * the footers are the only bytes touched, never row data); the
    * driver receives O(files) stats maps and re-adds the entries in
    * one metadata-only commit that the change feed and streaming
    * source skip wholesale (`COMPUTE STATS` rides
    * [[LakeTable.METADATA_ONLY_READD_OPS]] — no row changed).
    * `where` scopes the pass partition-by-partition for cron-driven
    * adoption, mirroring [[rebuildBloomIndexes]].
    *
    * Returns the number of files whose stats were computed (0 = all
    * covered already).
    */
  def rebuildStats(where: Option[String] = None): Int = {
    val snap = maintenanceSnap(where)
    val missing = scopeFiles(snap, where).filter(_.numRecords < 0L)
    if (missing.isEmpty) return 0
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val paths = missing.map(f =>
      f.path -> LakeLog.resolveFile(tablePath, f.path).toString)
    val statsFor = spark.sparkContext
      .parallelize(paths, math.min(paths.size, 64).max(1))
      .map { case (rel, abs) =>
        rel -> ParquetFooters.statsWithConf(confB.value.value, abs)
      }.collect().toMap
    val statsOv = ColumnMapping.overrides(snap.metadata)
    val adds = LakeWriter.capStats(
      missing.flatMap(f => statsFor.get(f.path).map {
        case (rows, mins, maxs, nulls) => f.copy(numRecords = rows,
          minValues = mins, maxValues = maxs, nullCounts = nulls)
      }),
      snap.schema.fieldNames.toSeq
        .map(n => ColumnMapping.physicalName(n, statsOv)),
      snap.metadata.properties, statsOv)
    val now = System.currentTimeMillis()
    LakeWriter.commitWithRetry(log, snap.version, adds.map(_.path)) { _ =>
      assertMetadataUnchanged(snap, "COMPUTE STATS")
      Seq(CommitInfo(now, "COMPUTE STATS",
        Map("numFilesComputed" -> adds.size.toString))) ++ adds
    }
    adds.size
  }

  /** Drop the bloom index: unset the configuration (writes stop
    * building sidecars) and strip `bloomPath` from every live file in
    * one metadata-only re-add commit, so the scan path stops
    * consulting them and the now-unreferenced sidecars age out via
    * vacuum's mtime sweep. Returns the number of files stripped.
    */
  def dropBloomIndexes(): Int = {
    val configured = Seq(BloomIndex.PROP_COLUMNS, BloomIndex.PROP_FPP,
      BloomIndex.PROP_NUM_ITEMS)
      .filter(Snapshot.replayMeta(log, log.latestVersion)._1
        .properties.contains)
    if (configured.nonEmpty) unsetTblProperties(configured)
    // bloom-CARRYING entries are bounded by the sidecar count (the
    // columnar gate's own 2¹⁶ bound): on a manifest-checkpointed
    // table they come by path from the summary's pairs, never from a
    // driver-resident inventory
    val (anchor, carrying): (Snapshot, Seq[AddFile]) =
      columnarIdx() match {
        case Some(idx) =>
          val paths = idx.bloomPairs.map(_._1)
          (metaSnapshot(),
            if (paths.isEmpty) Nil else idx.addsForPaths(paths))
        case None =>
          val snap = snapshot()
          (snap, snap.files.filter(_.bloomPath.isDefined))
      }
    if (carrying.isEmpty) return 0
    val adds = carrying.map(_.copy(bloomPath = None))
    val now = System.currentTimeMillis()
    LakeWriter.commitWithRetry(log, anchor.version, adds.map(_.path)) { _ =>
      assertMetadataUnchanged(anchor, "DROP BLOOM INDEX")
      Seq(CommitInfo(now, "DROP BLOOM INDEX",
        Map("numFilesStripped" -> adds.size.toString))) ++ adds
    }
    adds.size
  }

  /** Identity-rewrite the given per-partition file groups into
    * `targetFileBytes`-sized bins (shared by OPTIMIZE and auto
    * compaction).
    */
  private def compactFileSet(
      snap: Snapshot,
      byPartition: Map[Map[String, String], Seq[AddFile]],
      targetFileBytes: Long,
      extraParams: Map[String, String]): Unit = {
    val toCompact = byPartition.values.flatten.toSeq
    val totalBytes = toCompact.map(_.size).sum
    val numOut = math.max(1, (totalBytes / targetFileBytes).toInt)
    val df = readForRewrite(snap, toCompact.map(_.path))
    val repartitioned =
      if (LakeTable.bucketSpecOf(snap.metadata.properties).isDefined)
        df // bucket placement owns the layout; writeFiles repartitions
      else if (snap.partitionColumns.nonEmpty)
        df.repartition(math.max(numOut, byPartition.size),
          snap.partitionColumns.map(c => col(quoted(c))): _*)
      else df.repartition(numOut)
    val adds = LakeWriter.writeFiles(repartitioned, tablePath,
      snap.partitionColumns, ColumnMapping.overrides(snap.metadata),
      snap.metadata.properties, layoutManaged = true)
    commitRewrite(snap, toCompact.map(_.path), adds, "OPTIMIZE",
      Map("numFilesRemoved" -> toCompact.size.toString,
        "numFilesAdded" -> adds.size.toString) ++ extraParams)
  }

  /** Auto compaction (Delta's `delta.autoOptimize.autoCompact`): after
    * a write, compact any JUST-TOUCHED partition that has accumulated
    * at least [[LakeTable.PROP_AUTO_COMPACT_MIN_FILES]] (default 50)
    * files under `targetFileBytes`. Scoped to the write's partitions —
    * the steady-state cost rides the ingest that created the debris,
    * never a full-table sweep; a 100k-partition table pays only for
    * the partitions this commit touched.
    */
  private[lake] def autoCompactAfterWrite(
      written: Seq[AddFile],
      targetFileBytes: Long = -1L): Unit = {
    val touched = written.map(_.partitionValues).toSet
    // Partition-scoped inventory: this rides EVERY auto-compact write
    // commit, so on a qualifying columnar table the file list of the
    // just-touched partitions comes from the distributed checkpoint
    // scan — the steady-state ingest never re-materializes a 10⁶-file
    // table to fold a handful of fresh small files.
    val snap: Snapshot = {
      val columnar = spark.conf
        .getOption("spark.graft.columnarFileIndex").forall(_.toBoolean)
      val viaIdx =
        if (!columnar) None
        else graft.sources.ColumnarLakeFileIndex
          .tryBuild(spark, log, -1)
          .map(idx => idx.syntheticSnap(idx.addsForPartitions(touched)))
      viaIdx.getOrElse(snapshot())
    }
    val target =
      if (targetFileBytes > 0) targetFileBytes
      else LakeTable.targetFileBytes(snap.metadata.properties)
    val minFiles = snap.metadata.properties
      .get(LakeTable.PROP_AUTO_COMPACT_MIN_FILES).map(_.toInt)
      .getOrElse(LakeTable.AUTO_COMPACT_DEFAULT_MIN_FILES)
    val byPartition = snap.files
      .filter(f => touched.contains(f.partitionValues) &&
        f.size < target)
      .groupBy(_.partitionValues)
      .filter(_._2.size >= minFiles)
    if (byPartition.nonEmpty)
      compactFileSet(snap, byPartition, target,
        Map("auto" -> "true"))
  }

  /** Row-level changes between two versions (a Change-Data-Feed read,
    * Delta `table_changes` analog), reconstructed from the log:
    *
    *  - append commits: their AddFiles' rows as `insert`;
    *  - rewrite commits (DELETE/UPDATE/MERGE/RESTORE): the multiset
    *    diff — removed-files' rows minus added-files' rows are
    *    `delete`, the reverse are `insert` (an UPDATE appears as
    *    delete+insert, the CDF representation when no change files
    *    are written);
    *  - OPTIMIZE commits rewrite identical rows, so their diff is
    *    empty and they contribute nothing (correctly).
    *
    * Cost: O(data touched by the requested versions) — reading CDC
    * from a table that doesn't persist change files requires diffing
    * the rewritten files; appends (the bulk of most logs) cost only
    * their own scan. Columns: table schema + `_change_type`,
    * `_commit_version`. Requires the versions' files to still exist
    * (VACUUM limits how far back changes can be read — same as Delta).
    */
  /** Change feed bounded by TIMESTAMPS (Delta's
    * `startingTimestamp`/`endingTimestamp` for `table_changes`):
    * `from` maps to the first commit at-or-after it, `to` (when >= 0)
    * to the last commit at-or-before it — both O(tail) through the
    * history sidecar, then the version-bounded [[changes]].
    */
  def changesByTimestamp(fromMillis: Long, toMillis: Long = -1L): DataFrame = {
    val from = versionAtOrAfterTimestamp(fromMillis)
    require(from <= log.latestVersion,
      s"no commits of $tablePath at or after timestamp $fromMillis")
    val to = if (toMillis < 0) -1L else versionAtTimestamp(toMillis)
    changes(from, to)
  }

  def changes(fromVersion: Long, toVersion: Long = -1): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val to = if (toVersion < 0) log.latestVersion else toVersion
    require(fromVersion >= 0 && fromVersion <= to,
      s"invalid change range [$fromVersion, $to]")
    // the feed replays version files; below the log-retention horizon
    // they are gone — say so instead of a bare missing-file error
    val earliest = log.earliestReplayableVersion
    if (fromVersion < earliest) throw new IllegalStateException(
      s"cannot read changes of $tablePath from version $fromVersion: " +
      s"version files below the log retention horizon were removed by " +
      s"log cleanup (earliest available version: $earliest)")
    // metadata-light carrier at `to`: the feed needs schema/mapping/
    // protocol from the end state, never its file list (per-version
    // reads below fetch exactly each commit's own files)
    val snapAtTo = {
      val (m, p, d) = Snapshot.replayMeta(log, to)
      LakeProtocol.assertReadable(p, tablePath)
      Snapshot(log, to, m, Nil, Map.empty, p, d)
    }
    val schema = snapAtTo.schema
    def readRel(files: Seq[AddFile]): DataFrame = {
      val missing = files.filterNot(f =>
        DataStore.current.exists(LakeLog.resolveFile(tablePath, f.path)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"cannot read changes of $tablePath: ${missing.size} file(s) " +
        s"were removed by VACUUM (first: ${missing.head.path}); change " +
        "reads are bounded by the vacuum retention horizon")
      graft.sources.LakeDataSource.snapshotDF(spark,
        snapAtTo.copy(files = files))
    }
    val perVersion: Seq[DataFrame] = (fromVersion to to).flatMap { v =>
      val actions = log.readVersion(v)
      // Bloom index build/drop commits re-add every file changing
      // only skipping metadata — zero row-level changes; the diff
      // fallback below would misread their AddFiles as a whole-table
      // insert. Skip them wholesale.
      val metadataOnlyReadd = actions
        .collectFirst { case c: CommitInfo => c.operation }
        .exists(LakeTable.METADATA_ONLY_READD_OPS)
      // Persisted CDC (written by DELETE/UPDATE at DML time): read it
      // directly — O(changes), no diff of rewritten files. Falls back
      // to the diff when a commit carries no cdc files (appends,
      // MERGE, OPTIMIZE) or they were vacuumed away.
      val cdcFiles = actions.collect { case c: CdcFile => c.path }
      val parts: Seq[DataFrame] =
        if (metadataOnlyReadd) Nil
        else if (cdcFiles.nonEmpty && cdcFiles.forall(p =>
            DataStore.current.exists(LakeLog.resolveFile(tablePath, p))) &&
            !ColumnMapping.enabled(snapAtTo.metadata)) {
          // unmapped fast path: logical names never moved (mapping is
          // a one-way door, so end-unmapped proves every version in
          // range is unmapped) — pin the end schema; by-name parquet
          // resolution null-fills evolution gaps, no per-version
          // snapshot replay needed
          val cdcSchema = org.apache.spark.sql.types.StructType(
            schema.fields :+ org.apache.spark.sql.types.StructField(
              "_change_type", org.apache.spark.sql.types.StringType))
          Seq(spark.read.schema(cdcSchema).parquet(
            cdcFiles.map(p =>
              LakeLog.resolveFile(tablePath, p).toString): _*))
        } else if (cdcFiles.nonEmpty && cdcFiles.forall(p =>
            DataStore.current.exists(LakeLog.resolveFile(tablePath, p)))) {
          // CDC files carry the LOGICAL column names of the version
          // that wrote them; a range spanning a mapped RENAME must
          // read each version with ITS schema and conform to the
          // request schema via the stable PHYSICAL identity —
          // pinning the end schema onto older files would silently
          // null the renamed column for pre-rename changes. (The
          // read-time-diff branch below reads through the snapshot
          // relation, whose mapping translation already handles
          // this.) A column the end schema lacks is dropped; one the
          // writing version lacked null-fills.
          val metaV = Snapshot.replayMeta(log, v)._1
          val snapV = Snapshot(log, v, metaV, Nil, Map.empty,
            snapAtTo.protocol, Map.empty)
          val mapV = ColumnMapping.overrides(snapV.metadata)
          val mapTo = ColumnMapping.overrides(snapAtTo.metadata)
          val physToLogicalV: Map[String, String] = snapV.schema.fields
            .map(f => ColumnMapping.physicalName(f.name, mapV) -> f.name)
            .toMap
          val cdcSchemaV = org.apache.spark.sql.types.StructType(
            snapV.schema.fields :+ org.apache.spark.sql.types.StructField(
              "_change_type", org.apache.spark.sql.types.StringType))
          val raw = spark.read.schema(cdcSchemaV).parquet(
            cdcFiles.map(p =>
              LakeLog.resolveFile(tablePath, p).toString): _*)
          Seq(raw.select((schema.fields.toSeq.map { f =>
            physToLogicalV
              .get(ColumnMapping.physicalName(f.name, mapTo)) match {
              case Some(lv) =>
                col(quoted(lv)).cast(f.dataType).as(f.name)
              case None =>
                lit(null).cast(f.dataType).as(f.name)
            }
          } :+ col("_change_type")): _*))
        } else {
          val adds = actions.collect { case a: AddFile => a }
          // A deletion-vector commit re-adds a path with a grown DV
          // and no RemoveFile; for the diff it is a remove+re-add of
          // that file (old DV state vs new), so the exceptAll below
          // yields exactly the newly-deleted rows.
          val dvChanged = adds.filter(_.dvPath.isDefined).map(_.path).toSet
          val removePaths =
            actions.collect { case r: RemoveFile => r.path }.toSet ++
              dvChanged
          // removed files' AddFile entries (with partition values)
          // come from the pre-commit state — through the columnar
          // index's path-filtered scan on manifest-checkpointed
          // tables (O(removed) driver AddFiles), a snapshot replay
          // only on small/classic ones. TOLERANT fetch: a commit's
          // DV-carrying AddFiles may name files NOT live at v-1
          // (RESTORE re-adding DV-bearing target files lands them in
          // dvChanged) — those contribute no pre-image, same as the
          // classic filter below.
          val removes =
            if (removePaths.isEmpty) Nil
            else columnarIdx(v - 1) match {
              case Some(idx) => idx.addsForPathsIfLive(removePaths.toSeq)
              case None =>
                snapshot(v - 1).files.filter(f => removePaths(f.path))
            }
          if (removes.isEmpty) {
            if (adds.isEmpty) Nil
            else Seq(readRel(adds)
              .withColumn("_change_type", lit("insert")))
          } else {
            val b = readRel(removes)
            if (adds.isEmpty)
              Seq(b.withColumn("_change_type", lit("delete")))
            else {
              val a = readRel(adds)
              Seq(
                b.exceptAll(a).withColumn("_change_type", lit("delete")),
                a.exceptAll(b).withColumn("_change_type", lit("insert")))
            }
          }
        }
      // Delta CDF's fallback when a commit carries no CommitInfo is
      // the commit file's modification time — epoch-0 would mislead
      // downstream time-based consumers.
      val commitTs = actions.collectFirst { case ci: CommitInfo =>
        ci.timestamp }.getOrElse(
        log.store.stat(log.versionFile(v)).map(_._2)
          .getOrElse(throw new IllegalStateException(
            s"cannot stat just-read version file $v of $tablePath")))
      parts.map(_.withColumn(Cdf.COMMIT_VERSION, lit(v))
        .withColumn(Cdf.COMMIT_TIMESTAMP,
          lit(new java.sql.Timestamp(commitTs))))
    }
    perVersion.reduceOption(_.unionByName(_)).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Cdf.schema(schema))
    }
  }

  /** Clustered compaction — `OPTIMIZE t BY (cols)` /
    * `OPTIMIZE t ZORDER BY (cols)`: rewrite the table range-partitioned
    * and sorted by the clustering key, so each output file covers a
    * narrow slice of the key space. Per-file min/max stats then make
    * `FilePruner`/`LakeFileIndex` skipping selective on those columns —
    * for a 100 TB table this is THE lever that turns a non-partition-
    * column predicate from a full scan into a few file reads. Identity
    * rewrite: same rows, one atomic commit, time travel to the
    * unclustered version still works.
    *
    * `zOrder = false` clusters lexicographically: optimal for the
    * FIRST column, nothing for the rest. `zOrder = true` clusters on
    * the interleaved-bit Morton key ([[ZOrder.zOrderKey]], the Delta
    * ZORDER analog), giving every clustered column partial min/max
    * locality — the right choice when queries filter the columns
    * independently.
    */
  def compactClustered(
      clusterBy: Seq[String],
      targetFileBytes: Long = -1L,
      zOrder: Boolean = false,
      where: Option[String] = None,
      incremental: Boolean = false): Unit = {
    require(clusterBy.nonEmpty, "compactClustered needs cluster columns")
    val snap = maintenanceSnap(where)
    val target =
      if (targetFileBytes > 0) targetFileBytes
      else LakeTable.targetFileBytes(snap.metadata.properties)
    // hash bucketing owns file placement on a bucketed table; a
    // range/Z-order re-cluster would be silently destroyed by the
    // bucket repartition at write — refuse loudly instead
    require(LakeTable.bucketSpecOf(snap.metadata.properties).isEmpty,
      s"table $tablePath is hash-bucketed " +
        s"(${LakeTable.PROP_BUCKET_BY}): clustering and bucketing " +
        "are mutually exclusive file-placement policies")
    // INCREMENTAL (liquid clustering's steady-state posture): touch
    // files that were never clustered — appends and DML-rewrite
    // output, whose clusterGen is unset — plus every file of an
    // UNSTABLE generation (total bytes under half a target file, the
    // Delta-liquid minCubeSize idea): trickle-sized generations keep
    // folding into the next run, so generation count stays bounded
    // instead of growing by one per incremental pass. Stable
    // generations — a previous OPTIMIZE's range-disjoint layout with
    // real data behind it — are left alone: re-sorting yesterday's
    // 100 TB to admit today's 1 % is the O(partition) cost this mode
    // exists to avoid, and skipping stays tight because each
    // generation is internally disjoint on the cluster key — a point
    // query opens at most one file per (stable) generation. The
    // periodic FULL OPTIMIZE folds everything back to one generation.
    val scoped0 = scopeFiles(snap, where)
    val scoped =
      if (!incremental) scoped0
      else {
        val genBytes = scoped0.filter(_.clusterGen.isDefined)
          .groupBy(_.clusterGen.get)
          .map { case (g, fs) => g -> fs.map(_.size).sum }
        val unstable = genBytes.filter(_._2 < target / 2).keySet
        val unstamped = scoped0.filter(_.clusterGen.isEmpty)
        // folding a LONE unstable generation with nothing new to fold
        // it with would rewrite the same debris into fresh debris on
        // every cron tick — act only when the fold makes progress
        // (new data arrived, or two+ unstable generations can merge)
        if (unstamped.isEmpty && unstable.size <= 1) return
        unstamped ++ scoped0.filter(_.clusterGen.exists(unstable))
      }
    if (scoped.isEmpty) return
    clusterBy.foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"cluster column $c not in schema ${snap.schema.simpleString}")
    }
    val numOut = math.max(1,
      math.ceil(scoped.map(_.size).sum.toDouble / target).toInt)
    // quantile boundaries computed over the SCOPED rows only — a
    // partition-local re-cluster gets partition-local cut points
    val df = readForRewrite(snap, scoped.map(_.path))
    val clustered =
      if (zOrder && clusterBy.size > 1) {
        // adapt interleave width to the column count so any number of
        // ZORDER columns fits a 62-bit key (Delta accepts arbitrary
        // counts); 6 bits (64 quantile buckets) when room allows
        val bits = math.max(1, math.min(6, 62 / clusterBy.size))
        df.withColumn("__zkey", ZOrder.zOrderKey(df, clusterBy, bits))
          .repartitionByRange(numOut, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      } else {
        val sortCols = clusterBy.map(c => col(quoted(c)))
        df.repartitionByRange(numOut, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
      }
    // generation stamp: files of one clustering run share a gen id
    // (read-version + 1 ≈ the commit that writes them — an opaque
    // marker, only is-set/size matter to the incremental filter)
    val adds = LakeWriter.writeFiles(clustered, tablePath,
      snap.partitionColumns, ColumnMapping.overrides(snap.metadata),
      snap.metadata.properties, layoutManaged = true)
      .map(_.copy(clusterGen = Some(snap.version + 1)))
    commitRewrite(snap, scoped.map(_.path), adds, "OPTIMIZE",
      Map("clusterBy" -> clusterBy.mkString(","),
        "zOrder" -> (zOrder && clusterBy.size > 1).toString,
        "incremental" -> incremental.toString,
        "numFilesRemoved" -> scoped.size.toString,
        "numBytesRemoved" -> scoped.map(_.size).sum.toString,
        "numFilesAdded" -> adds.size.toString) ++
        where.map("where" -> _))
  }

  // ---- internals ---------------------------------------------------------

  private[lake] def quoted(name: String): String = s"`$name`"

  /** What reorganizing rewrites (OPTIMIZE/Z-order/PURGE) read: on
    * row-tracked tables the rows carry [[RowTracking.COL]] so the
    * rewrite MATERIALIZES every row's id into the new files — the
    * step that makes ids survive reorganization (the fresh files'
    * `baseRowId + index` would otherwise re-key every row).
    */
  private def readForRewrite(
      snap: Snapshot, relPaths: Seq[String]): DataFrame =
    if (RowTracking.enabled(snap.metadata.properties))
      readFilesWithRowIds(snap, relPaths)
    else readFiles(snap, relPaths)

  /** Read a subset of the table's files as a DataFrame — through the
    * snapshot relation (LakeFileIndex), so partition values come from
    * the log, not path inference, and shallow-cloned absolute-path
    * files read the same as table-local ones.
    */
  private[lake] def readFiles(snap: Snapshot, relPaths: Seq[String]): DataFrame = {
    graft.sources.LakeDataSource.snapshotDF(spark,
      snap.copy(files = fileSubset(snap, relPaths)))
  }

  /** [[readFiles]] with `_metadata` materialized as a column (DML
    * paths that need (file, row) identity plan through this; deletion
    * vectors are applied on both variants).
    */
  private[lake] def readFilesWithMeta(
      snap: Snapshot, relPaths: Seq[String],
      withRowIds: Boolean = false): DataFrame = {
    graft.sources.LakeDataSource.snapshotDFWithMeta(spark,
      snap.copy(files = fileSubset(snap, relPaths)), withRowIds)
  }

  /** Assign row-id blocks to live files written BEFORE row tracking
    * was enabled — a metadata-only maintenance commit re-adding each
    * unstamped file (replay replaces by path, the DV re-add rule; the
    * central [[RowTracking.stamp]] in the commit path carves the
    * actual blocks). Runs as its OWN commit with operation
    * "ROW ID BACKFILL" ([[LakeTable.METADATA_ONLY_READD_OPS]]) so
    * streaming and CDF consumers classify it as no-row-changed
    * instead of re-delivering the whole table. [[setTblProperties]]
    * invokes it automatically when the property is newly enabled;
    * it is also callable directly (idempotent — returns the number
    * of files stamped, 0 when all are covered).
    */
  def backfillRowIds(): Int = {
    val snap = snapshot()
    require(RowTracking.enabled(snap.metadata.properties),
      s"${RowTracking.PROP} is not set on $tablePath; enable row " +
      "tracking before backfilling")
    val missing = snap.files.filter(_.baseRowId.isEmpty)
    if (missing.isEmpty) return 0
    LakeWriter.commitWithRetry(log, snap.version,
      missing.map(_.path)) { _ =>
      val cur = snapshot()
      val stillMissing = cur.files.filter(_.baseRowId.isEmpty)
      Seq(CommitInfo(System.currentTimeMillis(), "ROW ID BACKFILL",
        Map("numFiles" -> stillMissing.size.toString))) ++ stillMissing
    }
    missing.size
  }

  /** Current table with stable row ids: table columns plus
    * [[RowTracking.COL]] (see [[RowTracking]] for the semantics and
    * [[graft.sources.LakeDataSource.snapshotDFWithRowIds]] for the
    * plan shape). The id column is null for files written before the
    * feature was enabled and never backfilled.
    */
  def toDFWithRowIds: DataFrame = readWithRowIdsAt(-1L)

  /** Time-traveled [[toDFWithRowIds]]: the ids a row carried AT THAT
    * VERSION — which, by the preservation guarantee, equal its ids at
    * every other version where the row exists. Diffing two versions'
    * id sets is the cheap "which rows appeared/disappeared" question
    * CDF answers with data reads.
    */
  def asOfWithRowIds(version: Long): DataFrame =
    readWithRowIdsAt(version)

  /** Row-id read routing, mirroring [[readAt]]: on a manifest-
    * checkpointed table the scan AND the (file → baseRowId) base map
    * plan through the columnar index — the base map is a projection
    * decoded on executors, so the driver never materializes the file
    * list for a row-tracked read; classic snapshot otherwise.
    */
  private def readWithRowIdsAt(version: Long): DataFrame = {
    columnarIdx(version).foreach { idx =>
      return graft.sources.LakeDataSource.columnarDFWithRowIds(spark, idx)
    }
    graft.sources.LakeDataSource.snapshotDFWithRowIds(spark,
      snapshot(version))
  }

  /** [[readFiles]] carrying [[RowTracking.COL]] — what reorganizing
    * rewrites read so the ids of the rows they carry land MATERIALIZED
    * in the new files (the id column is a physical column of the
    * staged parquet, outside the table schema, so normal reads never
    * see it).
    */
  private[lake] def readFilesWithRowIds(
      snap: Snapshot, relPaths: Seq[String]): DataFrame =
    graft.sources.LakeDataSource.snapshotDFWithRowIds(spark,
      snap.copy(files = fileSubset(snap, relPaths)))

  private def fileSubset(
      snap: Snapshot, relPaths: Seq[String]): Seq[AddFile] = {
    require(relPaths.nonEmpty)
    val wanted = relPaths.toSet
    val subset = snap.files.filter(f => wanted(f.path))
    require(subset.size == wanted.size,
      s"readFiles: ${wanted.size - subset.size} paths not in snapshot")
    subset
  }

  /** Map a scan-reported file URI back to its AddFile path: relative
    * when under the table root, absolute otherwise (shallow-cloned
    * source files live outside the root).
    */
  private[lake] def relativize(fileUri: String): String = {
    val p =
      if (fileUri.startsWith("file:")) Paths.get(java.net.URI.create(fileUri))
      else Paths.get(fileUri)
    val abs = p.toAbsolutePath.normalize
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    if (abs.startsWith(root)) root.relativize(abs).toString
    else abs.toString
  }

  /** Metadata conflict detection (Delta's rule: ANY transaction fails
    * when the table metadata changed under it). A DML whose rewrite/DV/
    * CDC stage raced a metadata commit (mapped RENAME, ADD COLUMN, new
    * constraint) staged files under the OLD mapping epoch — committing
    * them would mis-map columns (or skip the new check) for readers of
    * the new schema. Call inside the commit closure so it re-runs on
    * every retry attempt; loud abort, caller re-runs the operation.
    */
  private def assertMetadataUnchanged(
      snap: Snapshot, operation: String): Unit =
    assertMetadataUnchangedAt(snap.version, snap.metadata, operation)

  /** [[assertMetadataUnchanged]] for callers holding a (version,
    * metadata) pair instead of a snapshot (the DML plans).
    */
  private[lake] def assertMetadataUnchangedAt(
      readVersion: Long, meta: Metadata, operation: String): Unit =
    if (log.latestVersion > readVersion &&
        Snapshot.replayMeta(log, log.latestVersion)._1 != meta)
      throw new ConflictingCommitException(
        s"table metadata of $tablePath changed concurrently with " +
        s"this $operation (read version $readVersion); re-run " +
        "the operation")

  private[lake] def commitRewrite(
      snap: Snapshot,
      removedRelPaths: Seq[String],
      adds: Seq[AddFile],
      operation: String,
      params: Map[String, String]): Long = {
    val now = System.currentTimeMillis()
    try {
      LakeWriter.commitWithRetry(log, snap.version, removedRelPaths) { _ =>
        assertMetadataUnchanged(snap, operation)
        Seq(CommitInfo(now, operation, params)) ++
          removedRelPaths.map(RemoveFile(_, now)) ++ adds
      }
    } catch {
      case e: ConflictingCommitException =>
        // The commit never happened: the staged rewrite files are
        // unreferenced debris — sweep them before surfacing the
        // conflict (mirrors LakeWriter.write's conflict sweep).
        LakeWriter.sweepStaged(tablePath, adds)
        throw e
    }
  }
}

object LakeTable {

  /** Touched-file count at which a MERGE/UPDATE/DELETE's touched
    * source turns distributed ([[StreamedRewrite.split]]): the driver
    * then holds one chunk's paths + AddFiles at a time instead of the
    * whole touched set. Staging and commit are the same either way.
    * Var for suite/bench control; the default keeps every realistic
    * interactive DML on the resident single-chunk source.
    */
  private[graft] var STREAMED_REWRITE_MIN_FILES: Long = 200000L

  /** Path-chunk size of a distributed touched source (driver
    * residency bound).
    */
  private[graft] var REWRITE_CHUNK_FILES: Long = 100000L

  /** Best-effort slice-reuse checkpoint after a RESTORE
    * ([[LakeLog.checkpointAfterRestore]]). Published ONLY when the
    * restore landed without an interleaving commit (rv == read + 1):
    * a racing append's file would be live at rv but absent from the
    * target's slices, and a manifest missing a live file is data
    * loss — the retry-interleaved case falls back to the regular
    * cadence. Checkpoint failure never fails the restore itself.
    */
  private def manifestAfterRestore(
      log: LakeLog, rv: Long, readVersion: Long, targetV: Long): Unit =
    if (rv == readVersion + 1) {
      try { log.checkpointAfterRestore(rv, targetV); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[lake] post-restore checkpoint of " +
          s"${log.tablePath} failed (cadence will recover): " +
          e.getMessage)
      }
    }

  val DEFAULT_RETENTION_HOURS: Double = 168.0
  val RETENTION_CHECK_KEY = "spark.graft.lake.retentionDurationCheck.enabled"
  /** Per-table vacuum retention default/floor, in hours. */
  /** Operations whose commits RE-ADD live files changing only
    * file-level skipping metadata (bloom sidecar references) — no row
    * of the table is inserted, deleted or modified. Row-level readers
    * (the change feed's diff fallback, the streaming source) must
    * skip them wholesale: classifying their AddFiles as fresh data
    * would re-deliver the ENTIRE table. Engine-defined operation
    * names, so the match is within-protocol, not heuristic.
    */
  val METADATA_ONLY_READD_OPS: Set[String] =
    Set("ADD BLOOM INDEX", "DROP BLOOM INDEX", "COMPUTE STATS",
      "ROW ID BACKFILL")

  val PROP_RETENTION_HOURS = "graft.deletedFileRetentionHours"
  /** `false` disables persisted change-data files for DML on this
    * table; CDF reads fall back to the read-time diff.
    */
  val PROP_ENABLE_CDF = "graft.enableChangeDataFeed"
  /** `true` pre-shuffles partitioned appends by the partition columns
    * via an AQE rebalance binned toward [[PROP_TARGET_FILE_SIZE]]:
    * trickle appends coalesce to ~one file per partition value, and a
    * skewed partition value splits across writers instead of
    * funnelling through one (small-file prevention; Delta's
    * `delta.autoOptimize.optimizeWrite`).
    */
  val PROP_OPTIMIZE_WRITE = "graft.optimizeWrite"
  /** `true` makes the table append-only (Delta's `delta.appendOnly`):
    * DELETE, UPDATE, MERGE with matched clauses, and overwrite writes
    * are rejected. The audit-log / immutable-bronze contract — a
    * misdirected DML cannot silently destroy history.
    */
  val PROP_APPEND_ONLY = "graft.appendOnly"
  /** `true` compacts a just-written partition once it accumulates
    * [[PROP_AUTO_COMPACT_MIN_FILES]] small files (Delta's
    * `delta.autoOptimize.autoCompact`). Runs synchronously after the
    * write commit, scoped to the partitions that write touched.
    */
  val PROP_AUTO_COMPACT = "graft.autoOptimize.autoCompact"
  /** Small-file count per partition that triggers auto compaction. */
  val PROP_AUTO_COMPACT_MIN_FILES = "graft.autoOptimize.minNumFiles"
  /** Target data file size in bytes (Delta's `delta.targetFileSize`).
    * Governs the optimizeWrite rebalance bin size, the "small file"
    * threshold of compaction, and auto-compact's output sizing. The
    * 128 MiB default matches one comfortable scan-task unit — large
    * enough that a 100 TB table stays under ~10⁶ files, small enough
    * that a single task's read never dominates a stage.
    */
  val PROP_TARGET_FILE_SIZE = "graft.targetFileSize"
  val DEFAULT_TARGET_FILE_BYTES: Long = 128L * 1024 * 1024
  private[lake] def targetFileBytes(props: Map[String, String]): Long =
    props.get(PROP_TARGET_FILE_SIZE).map(_.trim.toLong)
      .getOrElse(DEFAULT_TARGET_FILE_BYTES)
  /** `true` makes DELETE merge-on-read (Delta's
    * `delta.enableDeletionVectors`): matching rows are soft-deleted by
    * writing their row indices to a [[DeletionVector]] sidecar and
    * re-adding the file's log entry with the DV descriptor — O(deleted
    * indices) bytes written instead of rewriting every touched file.
    * Reads apply the DV transparently; UPDATE/MERGE/OPTIMIZE rewrites
    * materialize it away; `REORG TABLE ... APPLY (PURGE)` /
    * [[LakeTable.purgeDeletionVectors]] rewrites DV-carrying files
    * eagerly.
    */
  val PROP_ENABLE_DV = "graft.enableDeletionVectors"
  /** Liquid-clustering-style policy property: comma-separated columns
    * a plain `OPTIMIZE t` (no BY clause) re-clusters on — the
    * clustering choice travels with the table rather than with each
    * maintenance job. Multi-column values interleave (Z-order).
    */
  val PROP_CLUSTER_BY = "graft.clusterBy"

  /** Per-file min/max/null stats are recorded only for the first N
    * schema columns (Delta's dataSkippingNumIndexedCols, default 32):
    * on a 1000-column table, unbounded per-column stats multiply the
    * transaction log — the driver-side structure every snapshot
    * replay and checkpoint carries — by the full column count for
    * skipping power almost no query uses. Columns past the window
    * simply fall back to scans (the metadata-only rewrite and
    * FilePruner already bail on absent stats). -1 = index everything.
    */
  val PROP_STATS_COLS = "graft.dataSkippingNumIndexedCols"
  val DEFAULT_STATS_COLS = 32

  /** The configured stats-column window for a property map. */
  private[lake] def statsColCap(props: Map[String, String]): Int =
    props.get(PROP_STATS_COLS).map(_.trim.toInt)
      .getOrElse(DEFAULT_STATS_COLS)

  /** The declared `graft.clusterBy` columns (LOGICAL names) — the ONE
    * parse of the comma list, shared by OPTIMIZE routing and the
    * stats-window exemption.
    */
  private[lake] def clusterByCols(props: Map[String, String]): Seq[String] =
    props.get(PROP_CLUSTER_BY).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Hash bucketing (Spark `bucketBy` parity as table properties):
    * every write hash-partitions rows into `graft.bucketCount` bucket
    * files on the `graft.bucketBy` columns — Spark's own bucket hash
    * (`HashPartitioning.partitionIdExpression`, which `repartition(n,
    * cols)` evaluates), Spark's own file-name contract — so scans
    * report `HashPartitioning` and equi-joins/aggregations on the
    * bucket columns between co-bucketed tables run with NO shuffle on
    * either side. The 100 TB lever the brief calls "bucketing for
    * co-located joins": a fact-fact join that would shuffle 100 TB
    * twice becomes a zipped per-bucket merge.
    */
  val PROP_BUCKET_BY = "graft.bucketBy"
  val PROP_BUCKET_COUNT = "graft.bucketCount"

  /** Cross-key invariants over a table's COMPOSED property map —
    * enforced wherever a property commit could produce an incoherent
    * WHOLE (create-time write, SET/UNSET TBLPROPERTIES), so a
    * half-set bucket spec or a bucket+cluster conflict is rejected at
    * the ALTER, never discovered by the next read or the nightly
    * OPTIMIZE cron.
    */
  private[lake] def validatePropertyCoherence(
      merged: Map[String, String]): Unit = {
    val bucketed = bucketSpecOf(merged) // throws on a half-set spec
    require(bucketed.isEmpty || clusterByCols(merged).isEmpty,
      s"$PROP_BUCKET_BY and $PROP_CLUSTER_BY are mutually exclusive " +
        "file-placement policies")
  }

  /** The configured (bucketColumns, numBuckets), if bucketed. */
  private[graft] def bucketSpecOf(props: Map[String, String])
      : Option[(Seq[String], Int)] = {
    val cols = props.get(PROP_BUCKET_BY).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val n = props.get(PROP_BUCKET_COUNT).map(_.trim.toInt)
    (cols, n) match {
      case (Nil, None) => None
      case (c, Some(k)) if c.nonEmpty && k >= 1 => Some((c, k))
      case _ => throw new IllegalArgumentException(
        s"$PROP_BUCKET_BY and $PROP_BUCKET_COUNT must be set together " +
          s"(columns + a positive bucket count)")
    }
  }
  val AUTO_COMPACT_DEFAULT_MIN_FILES = 50
  /** Prefix for identity columns (Delta's GENERATED ALWAYS AS
    * IDENTITY): `graft.identity.<col> = "<start>,<step>"`. A write
    * that omits the column gets monotonically unique LONG ids assigned
    * executor-side (no global coordination — see LakeWriter); a write
    * that supplies it is rejected (ALWAYS semantics). The allocation
    * high-water mark rides the table metadata as
    * `graft.identity.<col>.hwm`, updated transactionally with each
    * identity write; ids are unique and move in `step` direction but
    * may have gaps (Delta documents the same).
    */
  val PROP_IDENTITY_PREFIX = "graft.identity."
  private val IDENTITY_HWM_SUFFIX = ".hwm"

  /** Declared identity columns: name → (start, step). */
  private[lake] def identityColumns(
      props: Map[String, String]): Map[String, (Long, Long)] =
    props.collect {
      case (k, v) if k.startsWith(PROP_IDENTITY_PREFIX) &&
          !k.endsWith(IDENTITY_HWM_SUFFIX) =>
        val name = k.stripPrefix(PROP_IDENTITY_PREFIX)
        val Array(start, step) = v.split(",").map(_.trim.toLong)
        name -> (start, step)
    }

  private[lake] def identityHwmKey(col: String): String =
    s"$PROP_IDENTITY_PREFIX$col$IDENTITY_HWM_SUFFIX"

  /** Prefix for generated columns (Delta's GENERATED ALWAYS AS):
    * `graft.generated.<col> = <sql expr>`. A write that omits the
    * column gets it computed from the expression; a write that
    * supplies it has the values CHECKED against the expression (a
    * divergent value is rejected like a constraint violation). The
    * date-partition-from-timestamp pattern without trusting every
    * writer to derive it consistently.
    */
  val PROP_GENERATED_PREFIX = "graft.generated."
  /** Comma-separated tombstones of dropped column names (engine-
    * maintained by [[LakeTable.dropColumn]]): pre-drop data files
    * still carry these columns' bytes, so re-introducing a tombstoned
    * name (ADD COLUMN or mergeSchema) is rejected — it would silently
    * resurrect old values for pre-drop rows.
    */
  val PROP_DROPPED_COLUMNS = "graft.droppedColumns"

  private[lake] def droppedColumns(props: Map[String, String]): Set[String] =
    props.get(PROP_DROPPED_COLUMNS)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Stats keys (PHYSICAL column names) whose recorded min/max are no
    * longer EXACT under the column's current type (engine-maintained
    * by [[LakeTable.widenColumn]], currently only float→double): a
    * pre-widen footer stat is the Float.toString shortest rendering,
    * and comparing it as an exact decimal against a double literal can
    * wrongly prune a file whose upcast values straddle the literal
    * (e.g. stat "0.1" vs (double) 0.1f = 0.10000000149…). Consumers
    * of min/max stats must skip these columns; null counts and row
    * counts stay exact. Keyed by physical name so metadata-only
    * mapped renames cannot stale the entry.
    */
  val PROP_LOSSY_STATS = "graft.typeWidening.lossyStats"

  private[graft] def lossyStatsKeys(props: Map[String, String]): Set[String] =
    props.get(PROP_LOSSY_STATS)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Lossless type promotions whose narrow-file decode Spark's
    * parquet readers perform natively (SPARK-40876 type widening):
    * integral up-chains and float→double. Everything else —
    * narrowing, cross-family, decimal reshaping — is refused.
    */
  private[lake] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Throws if `name` is tombstoned as dropped on this snapshot. */
  private[lake] def assertNotDropped(
      snap: Snapshot, name: String, tablePath: String): Unit =
    assertNotDropped(snap.metadata, name, tablePath)

  private[lake] def assertNotDropped(
      meta: Metadata, name: String, tablePath: String): Unit =
    if (droppedColumns(meta.properties)
        .exists(_.equalsIgnoreCase(name)))
      throw new IllegalArgumentException(
        s"column $name was previously dropped from $tablePath and " +
        "pre-drop data files still carry its old values; re-adding the " +
        "name would resurrect them for old rows. Use a different name, " +
        "or rewrite the table (e.g. CREATE TABLE AS) to physically " +
        "shed the column first.")

  /** (column -> generation expr) declared on this snapshot's table. */
  private[graft] def generatedColumns(
      props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(PROP_GENERATED_PREFIX) =>
      k.stripPrefix(PROP_GENERATED_PREFIX) -> v
    }

  /** Whether DML on this table should persist CDC files. */
  private[lake] def cdfEnabled(meta: Metadata): Boolean =
    meta.properties.get(PROP_ENABLE_CDF).forall(_.toBoolean)

  /** Whether DML on this table writes deletion vectors (merge-on-read)
    * instead of rewriting files (copy-on-write).
    */
  private[lake] def dvEnabled(meta: Metadata): Boolean =
    meta.properties.get(PROP_ENABLE_DV).exists(_.toBoolean)

  /** Throws if the table forbids row-removing operations. */
  private[graft] def assertNotAppendOnly(
      snap: Snapshot, op: String, tablePath: String): Unit =
    assertNotAppendOnly(snap.metadata, op, tablePath)

  private[graft] def assertNotAppendOnly(
      meta: Metadata, op: String, tablePath: String): Unit =
    if (meta.properties.get(PROP_APPEND_ONLY).exists(_.toBoolean))
      throw new UnsupportedOperationException(
        s"$op is not allowed on append-only table $tablePath " +
        s"($PROP_APPEND_ONLY=true); unset the property first if this " +
        "table is genuinely mutable")

  /** Map a case-mangled `graft.*` key (the V1 writer lower-cases
    * option keys) back to its canonical casing; unknown keys pass
    * through unchanged for validateProperties to reject.
    */
  private[graft] def canonicalPropertyKey(k: String): String =
    Seq(PROP_RETENTION_HOURS, PROP_ENABLE_CDF, PROP_OPTIMIZE_WRITE,
      PROP_APPEND_ONLY, PROP_AUTO_COMPACT, PROP_AUTO_COMPACT_MIN_FILES,
      PROP_TARGET_FILE_SIZE,
      PROP_ENABLE_DV, RowTracking.PROP, ColumnMapping.MODE_PROP,
      BloomIndex.PROP_COLUMNS, BloomIndex.PROP_FPP,
      BloomIndex.PROP_NUM_ITEMS,
      LakeLog.COPY_INTO_RETENTION_PROP, LakeLog.LOG_RETENTION_PROP)
      .find(_.equalsIgnoreCase(k)).getOrElse(k)

  /** Shared by SET TBLPROPERTIES and create-time writer properties:
    * `graft.*` keys must be known with a well-formed value (a typo
    * must not silently store-and-ignore a knob); other namespaces
    * pass through freely.
    */
  private[graft] def validateProperties(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      if (k.startsWith("graft.")) k match {
        case PROP_RETENTION_HOURS =>
          require(scala.util.Try(v.toDouble).toOption.exists(_ >= 0),
            s"$k must be a non-negative number of hours, got '$v'")
        case PROP_ENABLE_CDF | PROP_OPTIMIZE_WRITE | PROP_APPEND_ONLY |
            PROP_AUTO_COMPACT | PROP_ENABLE_DV | RowTracking.PROP =>
          require(v == "true" || v == "false",
            s"$k must be true or false, got '$v'")
        case PROP_AUTO_COMPACT_MIN_FILES =>
          require(scala.util.Try(v.toInt).toOption.exists(_ >= 2),
            s"$k must be an integer >= 2, got '$v'")
        case PROP_TARGET_FILE_SIZE =>
          require(scala.util.Try(v.trim.toLong).toOption
              .exists(_ >= 1024 * 1024),
            s"$k must be a byte count >= 1048576 (1 MiB), got '$v'")
        case PROP_STATS_COLS =>
          require(scala.util.Try(v.trim.toInt).toOption
              .exists(n => n >= -1),
            s"$k must be an integer >= -1 (-1 = index all columns), " +
              s"got '$v'")
        case PROP_BUCKET_BY =>
          require(v.split(",").exists(_.trim.nonEmpty),
            s"$k must name at least one column, got '$v'")
        case PROP_BUCKET_COUNT =>
          require(scala.util.Try(v.trim.toInt).toOption.exists(_ >= 1),
            s"$k must be a positive integer, got '$v'")
        case PROP_CLUSTER_BY =>
          // column existence is checked at OPTIMIZE time (the schema
          // can evolve after the property is set)
          require(v.split(",").exists(_.trim.nonEmpty),
            s"$k must name at least one column, got '$v'")
        case ColumnMapping.MODE_PROP =>
          require(v == "name" || v == "none",
            s"$k must be 'name' or 'none', got '$v'")
        case ColumnMapping.TABLE_PROP =>
          throw new IllegalArgumentException(
            s"$k is maintained by the engine (RENAME/ADD/DROP COLUMN); " +
            s"set ${ColumnMapping.MODE_PROP}=name to enable column mapping")
        case BloomIndex.PROP_COLUMNS =>
          require(BloomIndex.indexedColumns(Map(k -> v)).nonEmpty,
            s"$k must be a non-empty comma-separated column list, got '$v'")
        case BloomIndex.PROP_FPP =>
          require(scala.util.Try(v.toDouble).toOption
              .exists(p => p > 0 && p < 1),
            s"$k must be a false-positive probability in (0, 1), got '$v'")
        case BloomIndex.PROP_NUM_ITEMS =>
          require(scala.util.Try(v.toLong).toOption.exists(_ > 0),
            s"$k must be a positive expected item count, got '$v'")
        case LakeLog.COPY_INTO_RETENTION_PROP =>
          require(scala.util.Try(v.toDouble).isSuccess,
            s"$k must be a number of hours (negative disables), got '$v'")
        case LakeLog.LOG_RETENTION_PROP =>
          require(scala.util.Try(v.toDouble).isSuccess,
            s"$k must be a number of hours (negative disables), got '$v'")
        case g if g.startsWith(PROP_GENERATED_PREFIX) =>
          require(g.length > PROP_GENERATED_PREFIX.length,
            s"$k is missing the column name")
          // syntax-check the generation expression up front
          org.apache.spark.sql.SparkSession.active
            .sessionState.sqlParser.parseExpression(v)
        case g if g.startsWith(PROP_IDENTITY_PREFIX) =>
          require(g.length > PROP_IDENTITY_PREFIX.length,
            s"$k is missing the column name")
          if (g.endsWith(IDENTITY_HWM_SUFFIX))
            require(scala.util.Try(v.toLong).isSuccess,
              s"$k must be a long, got '$v'")
          else {
            val parts = v.split(",").map(_.trim)
            require(parts.length == 2 &&
              parts.forall(p => scala.util.Try(p.toLong).isSuccess) &&
              parts(1).toLong != 0L,
              s"$k must be '<start>,<step>' with step != 0, got '$v'")
          }
        case _ => throw new IllegalArgumentException(
          s"unknown graft table property: $k (known: " +
            s"$PROP_RETENTION_HOURS, $PROP_ENABLE_CDF, " +
            s"$PROP_OPTIMIZE_WRITE, $PROP_APPEND_ONLY, " +
            s"$PROP_AUTO_COMPACT, $PROP_AUTO_COMPACT_MIN_FILES, " +
            s"$PROP_ENABLE_DV, $PROP_CLUSTER_BY, " +
            s"${BloomIndex.PROP_COLUMNS}, ${BloomIndex.PROP_FPP}, " +
            s"${BloomIndex.PROP_NUM_ITEMS}, " +
            s"${ColumnMapping.MODE_PROP}, " +
            s"${LakeLog.COPY_INTO_RETENTION_PROP}, " +
            s"${LakeLog.LOG_RETENTION_PROP})")
      }
    }
  /** Below these sizes the driver loop wins (job-launch overhead). */
  private[lake] val DISTRIBUTED_HISTORY_MIN_VERSIONS = 128
  private[lake] val DISTRIBUTED_VACUUM_MIN_FILES = 64
  /** Live-file count above which vacuum's candidate LISTING fans out
    * as a Spark job over top-level dirs instead of a driver walk.
    * var only so tests can exercise the distributed path cheaply.
    */
  private[lake] var DISTRIBUTED_VACUUM_LIST_MIN_FILES = 10000

  /** Recursive (files, dirs) listing tolerant of entries vanishing
    * mid-traversal. `Files.walk`'s lazy iterator throws an
    * UncheckedIOException when a concurrent deleter (another vacuum's
    * sweep, a crashed writer's finally-block) removes a directory it
    * is about to descend into — and once thrown the stream is dead.
    * `walkFileTree` with a CONTINUE-on-failure visitor skips the
    * vanished entry and keeps going, which is the right semantics for
    * vacuum: already-gone is success.
    */
  private[lake] def walkTolerant(root: Path): (Seq[Path], Seq[Path]) = {
    val files = Seq.newBuilder[Path]
    val dirs = Seq.newBuilder[Path]
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      import java.nio.file.FileVisitResult.CONTINUE
      override def visitFile(f: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (attrs.isRegularFile) files += f
        CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult = CONTINUE
      override def preVisitDirectory(d: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        if (d != root) dirs += d
        CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult = CONTINUE
    })
    (files.result(), dirs.result())
  }

  def forPath(spark: SparkSession, path: String): LakeTable =
    new LakeTable(spark, new LakeLog(path), None)

  def isLakeTable(path: String): Boolean = new LakeLog(path).exists

  /** Parquet→lake conversion (K5): synthesize a version-0 log over the
    * files already in place; no data is rewritten.
    */
  def convertToLake(
      spark: SparkSession, path: String,
      partitionSchemaDDL: String = ""): LakeTable = {
    val log = new LakeLog(path)
    require(!log.exists, s"$path is already a lake table")
    val partSchema =
      if (partitionSchemaDDL.isEmpty) new StructType()
      else StructType.fromDDL(partitionSchemaDDL)
    var df =
      if (partitionSchemaDDL.nonEmpty)
        spark.read.option("basePath", path).parquet(path)
      else spark.read.parquet(path)
    // honor the declared partition types over Spark's inference
    partSchema.fields.foreach { f =>
      df = df.withColumn(f.name,
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType))
    }
    val root = Paths.get(path)
    val files = LakeWriter.walkParquet(root)
    val adds = LakeWriter.capStats(files.map { f =>
      val rel = root.relativize(f).toString
      val (rows, mins, maxs, nulls) = ParquetFooters.stats(spark, f.toString)
      AddFile(rel, LakeWriter.partitionValuesOf(rel), Files.size(f),
        rows, mins, maxs, nulls)
    }, df.schema.fieldNames.toSeq, Map.empty)
    val partCols = partSchema.fieldNames.toSeq
    log.commit(0L, Seq(
      CommitInfo(System.currentTimeMillis(), "CONVERT",
        Map("numFiles" -> adds.size.toString)),
      Metadata(df.schema.toDDL, partCols, System.currentTimeMillis())
    ) ++ adds)
    forPath(spark, path)
  }
}
