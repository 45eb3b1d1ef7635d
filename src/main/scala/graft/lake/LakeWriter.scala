package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Writes to a lake table (SURVEY §2 K1/K2, §7.1–7.2).
  *
  * Protocol: each data file is written once, under a fresh unique name,
  * directly in the table's Hive-partitioned layout
  * ([[DirectWriteProtocol]]), and becomes visible only when the log
  * commit naming it succeeds (write data first, log last — crash-safe
  * on the reference's semantics, SURVEY §7.9). Schema enforcement
  * rejects new columns unless `mergeSchema` (D9/D10).
  */
object LakeWriter {

  final case class WriteResult(version: Long, added: Seq[AddFile])

  /** Append or overwrite `df` into the table at `tablePath`.
    *
    * `transaction = Some((appId, version))` makes the write idempotent
    * (Delta `txn` semantics): if the table already records a commit
    * from `appId` at or past `version`, the write is skipped entirely —
    * the exactly-once guarantee for foreachBatch sinks replaying a
    * micro-batch after a crash between lake commit and checkpoint.
    *
    * `properties` are table properties applied when this write CREATES
    * the table (Delta's writer-option `delta.*` create semantics, e.g.
    * `graft.enableChangeDataFeed=false` for a table whose change feed
    * nothing will consume). On an existing table they must already
    * match the stored values — a loud error beats silently diverging
    * from what the caller believes the table is configured as; use
    * `setTblProperties` to change configuration.
    */
  def write(
      df: DataFrame,
      tablePath: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false,
      operation: String = null,
      operationParameters: Map[String, String] = Map.empty,
      transaction: Option[(String, Long)] = None,
      transactions: Seq[(String, Long)] = Nil,
      properties: Map[String, String] = Map.empty,
      replaceWhere: Option[String] = None): WriteResult = {
    require(mode == "append" || mode == "overwrite",
      s"unsupported write mode: $mode")
    require(replaceWhere.isEmpty || mode == "overwrite",
      "replaceWhere requires SaveMode.Overwrite")
    val spark = df.sparkSession
    val log = new LakeLog(tablePath)
    // Metadata-light (round 15): an APPEND — the highest-frequency
    // operation a table sees — needs only metadata + txn watermarks
    // from the existing state, never its file list. replaceWhere
    // plans its touched set through the DML planner (columnar on
    // qualifying tables); overwrite's tombstones (O(live files)
    // Remove actions are inherent to what overwrite writes) come from
    // the columnar index's path projection on manifest-checkpointed
    // tables (round 16), a full replay only on small/classic ones.
    val readVersion = if (log.exists) log.latestVersion else -1L
    val existingMeta: Option[Metadata] =
      if (readVersion >= 0)
        Some(Snapshot.replayMeta(log, readVersion)._1)
      else None

    if (mode == "overwrite")
      existingMeta.foreach(
        LakeTable.assertNotAppendOnly(_, "overwrite write", tablePath))
    if (properties.nonEmpty) {
      LakeTable.validateProperties(properties)
      // Create-time writes commit the FULL property map — coherence
      // (half-set bucket spec, bucket+cluster conflict) must be
      // rejected here, not discovered by the next OPTIMIZE. Existing
      // tables skip this: `properties` may legitimately be a partial
      // restatement, and the clash check below pins it to the stored
      // (already-coherent) map.
      if (existingMeta.isEmpty)
        LakeTable.validatePropertyCoherence(properties)
      existingMeta.foreach { m =>
        val clash = properties.filter { case (k, v) =>
          !m.properties.get(k).contains(v) }
        if (clash.nonEmpty) throw new IllegalArgumentException(
          s"write properties ${clash.keys.mkString(", ")} differ from " +
          s"the table's stored values at $tablePath; use " +
          "setTblProperties / ALTER TABLE to change configuration")
      }
    }

    // Multi-txn (COPY INTO records one Txn per source file) and the
    // single foreachBatch txn share one idempotence rule: skip the
    // write only when EVERY claimed txn already landed; a partial
    // overlap must go to commit-time conflict so the caller can
    // re-plan around the subset a concurrent writer took.
    val allTxns = transaction.toSeq ++ transactions
    if (allTxns.nonEmpty && readVersion >= 0 && {
        val txns = Snapshot.replayMetaTxns(log, readVersion)._4
        allTxns.forall {
          case (appId, v) => txns.get(appId).exists(_ >= v) } })
      return WriteResult(log.latestVersion, Nil) // already committed


    val partCols: Seq[String] = existingMeta match {
      case Some(m) =>
        if (partitionBy.nonEmpty && partitionBy != m.partitionColumns)
          throw new IllegalArgumentException(
            s"partitioning ${partitionBy.mkString(",")} does not match " +
            s"table partitioning ${m.partitionColumns.mkString(",")}")
        m.partitionColumns
      case None => partitionBy
    }

    val effectiveProps = existingMeta.map(_.properties)
      .getOrElse(Map.empty) ++ properties

    // Generated columns (Delta GENERATED ALWAYS AS): a write that
    // omits a declared column gets it computed here — BEFORE schema
    // reconciliation, so at create time the column lands in the table
    // schema and on an existing table it is never null-filled.
    val genCols = LakeTable.generatedColumns(effectiveProps)
    val withGen = genCols.foldLeft(df) { case (d, (name, genExpr)) =>
      if (d.columns.contains(name)) d
      else d.withColumn(name, org.apache.spark.sql.functions.expr(genExpr))
    }

    // Identity columns (Delta GENERATED ALWAYS AS IDENTITY): assign
    // monotonically unique LONG ids executor-side — no global sort, no
    // driver coordination; `monotonically_increasing_id` spreads a
    // 2^33 stride per task, so ids are unique within the write and the
    // stored high-water mark (advanced below from the written files'
    // footer stats) keeps them unique ACROSS writes. Gaps are allowed
    // (Delta documents the same); values always move in `step`
    // direction. ALWAYS semantics: a write supplying the column fails.
    val idCols = LakeTable.identityColumns(effectiveProps)
    idCols.keys.foreach { n =>
      require(!df.columns.contains(n),
        s"column $n is GENERATED ALWAYS AS IDENTITY on $tablePath and " +
        "cannot be assigned by the writer; omit it from the dataframe")
    }
    val baseHwm: Map[String, Option[Long]] = idCols.map { case (n, _) =>
      n -> effectiveProps.get(LakeTable.identityHwmKey(n)).map(_.toLong)
    }
    val withIdentity = idCols.foldLeft(withGen) {
      case (d, (n, (start, step))) =>
        val base = baseHwm(n).getOrElse(start - step)
        d.withColumn(n,
          (lit(base) + (monotonically_increasing_id() + 1L) * step)
            .cast("long"))
    }

    val mappingOn = ColumnMapping.enabled(effectiveProps)
    val existingSchema: Option[org.apache.spark.sql.types.StructType] =
      existingMeta.map(m =>
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDDL))
    val finalSchema = (existingMeta, existingSchema) match {
      case (Some(m), Some(sch)) =>
        // a mergeSchema write must not re-introduce a dropped column —
        // same resurrection hazard ADD COLUMN guards against. Under
        // column mapping the hazard does not exist: the re-added
        // column gets a fresh physical name, so old bytes stay dark.
        if (!mappingOn)
          withIdentity.schema.fieldNames
            .filterNot(sch.fieldNames.contains)
            .foreach(LakeTable.assertNotDropped(m, _, tablePath))
        reconcileSchema(sch, withIdentity.schema, mergeSchema, tablePath)
      case _ => withIdentity.schema
    }
    // Column-mapped evolution: columns this commit INTRODUCES get
    // fresh physical names, recorded in the same metadata action the
    // schema change rides (a crash can never leave files whose
    // physical names the log does not explain).
    val curOverrides = existingMeta.map(ColumnMapping.overrides)
      .getOrElse(Map.empty[String, String])
    val newMappingEntries: Map[String, String] =
      if (!mappingOn) Map.empty
      else finalSchema.fieldNames
        .filterNot(existingSchema.map(_.fieldNames.toSet)
          .getOrElse(finalSchema.fieldNames.toSet))
        .map(n => n -> ColumnMapping.freshPhysical()).toMap
    val effectiveMapping: Map[String, String] =
      if (!mappingOn) Map.empty else curOverrides ++ newMappingEntries
    val mappingProps: Map[String, String] =
      if (newMappingEntries.isEmpty) Map.empty
      else Map(ColumnMapping.TABLE_PROP ->
        ColumnMapping.encode(effectiveMapping))
    partCols.foreach { c =>
      require(finalSchema.fieldNames.contains(c),
        s"partition column $c not in schema ${finalSchema.simpleString}")
    }

    // Normalize to the final schema: order columns, null-fill missing.
    val normalized = withIdentity.select(finalSchema.fields.toSeq.map { f =>
      if (withIdentity.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

    // Caller-supplied values for a generated column must match its
    // expression (null-safe equality, so a NULL mismatch still fails).
    val genChecks = genCols.collect {
      case (n, e) if df.columns.contains(n) =>
        s"generated_$n" -> s"`$n` <=> ($e)"
    }
    if (genChecks.nonEmpty)
      enforceConstraints(normalized, genChecks, tablePath)

    existingMeta.map(_.constraints).filter(_.nonEmpty).foreach {
      cs => enforceConstraints(normalized, cs, tablePath)
    }

    // replaceWhere (Delta's selective overwrite): atomically replace
    // ONLY the rows matching the predicate with the incoming frame —
    // the idempotent partition-reload idiom. Partition-only predicates
    // select their removal set from log metadata (no data read);
    // arbitrary predicates rewrite the boundary files' kept rows, like
    // DELETE. Incoming rows must all satisfy the predicate (a row
    // outside the replaced region would silently survive the next
    // idempotent re-run — rejected up front, Delta's default). Plans
    // through [[graft.lake.LakeTable.dmlPlan]] — on a qualifying
    // columnar table the partition-reload of one partition of a
    // 10⁷-file table holds that partition's files on the driver, not
    // the table's.
    val replaceInfo: Option[(Seq[String], Seq[AddFile])] =
      replaceWhere.flatMap { pred =>
        existingMeta.map { _ =>
          enforceConstraints(normalized,
            Map("replaceWhere" -> pred), tablePath)
          val t = LakeTable.forPath(spark, tablePath)
          val plan = t.dmlPlan()
          plan.partitionOnlyPaths(pred) match {
            case Some((_, paths)) => (paths().toSeq, Seq.empty[AddFile])
            case None =>
              val cond = org.apache.spark.sql.functions.expr(pred)
              val touched = plan.touchedPaths(cond)
              if (touched.isEmpty) (Nil, Nil)
              else {
                val snap = plan.subset(touched)
                val kept = t.readFiles(snap, touched).filter(
                  !org.apache.spark.sql.functions.coalesce(cond, lit(false)))
                (touched,
                  writeFiles(kept, tablePath, partCols, effectiveMapping,
                    effectiveProps, computeLight = true))
              }
          }
        }
      }

    // optimizeWrite (Delta's autoOptimize.optimizeWrite): a size-aware
    // AQE REBALANCE of the output toward graft.targetFileSize,
    // applied inside writeFiles (the one choke point every
    // un-managed written frame passes — appends here, but also
    // MERGE/DELETE/UPDATE rewrite output). Without it, N write
    // tasks × P live partitions can emit N×P small files per append —
    // the classic small-file explosion a continuously-ingesting
    // 100 TB table dies of. Rebalance (not a plain
    // repartition(partCols)) because sizing must work in BOTH
    // directions: AQE coalesces the many tiny shuffle partitions of a
    // trickle append into one bin per partition value, and SPLITS a
    // skewed 10 GB partition value across several writer tasks
    // instead of funnelling it through one.

    // Write the data files into the table dir, then commit them.
    {
      val adds = writeFiles(normalized, tablePath, partCols,
        effectiveMapping, effectiveProps)

      // Identity high-water mark advance, read back from the WRITTEN
      // files' footer stats — the written parquet is the only safe
      // source, because monotonically_increasing_id is
      // non-deterministic and re-evaluating the frame could diverge
      // from what landed on disk.
      val hwmUpdates: Map[String, String] = idCols.flatMap {
        case (n, (_, step)) =>
          // footer stats are keyed by physical name (identity columns
          // cannot be renamed, so this is normally the identity map)
          val statsKey = ColumnMapping.physicalName(n, effectiveMapping)
          val vals = adds.flatMap(a =>
            (if (step > 0) a.maxValues else a.minValues).get(statsKey))
            .map(_.toLong)
          if (vals.isEmpty) None
          else Some(LakeTable.identityHwmKey(n) ->
            (if (step > 0) vals.max else vals.min).toString)
      }

      val schemaChanged =
        existingMeta.forall(_.schemaDDL != finalSchema.toDDL)
      val op = Option(operation).getOrElse(
        if (existingMeta.isEmpty) "CREATE TABLE AS" else mode.toUpperCase)

      try {
      // replaceWhere rewrites specific files → participate in rewrite
      // conflict detection (a concurrent DML superseding one of them
      // must abort this commit, like any other rewrite)
      val version = commitWithRetry(log,
        readVersion = if (replaceInfo.isDefined) readVersion else -1L,
        ourPaths = replaceInfo.map(_._1).getOrElse(Nil)) { version =>
        allTxns.foreach { case (appId, txnVersion) =>
          // Re-check on every attempt: a concurrent writer of the same
          // app may have landed this txn while we were writing. ANY
          // overlap aborts — committing the rest here could double-load
          // files whose txns raced; the caller re-filters and retries.
          // Metadata-light read — never replays the file list.
          if (version > 0 && Snapshot
              .replayMetaTxns(log, log.latestVersion)._4
              .get(appId).exists(_ >= txnVersion))
            throw new TxnAlreadyCommittedException(appId, txnVersion)
        }
        // Identity allocation conflict: a concurrent identity write
        // that advanced the high-water mark we based assignment on
        // would make our written ids collide with its — fail loudly
        // (the caller re-runs the write against the new mark) rather
        // than commit duplicates. Re-checked on every retry attempt.
        if (hwmUpdates.nonEmpty && version > 0) {
          val cur = Snapshot.replayMeta(log, log.latestVersion)
            ._1.properties
          idCols.keys.foreach { n =>
            val key = LakeTable.identityHwmKey(n)
            if (cur.get(key).map(_.toLong) != baseHwm(n))
              throw new ConflictingCommitException(
                s"identity column $n of $tablePath was advanced by a " +
                s"concurrent write (mark now ${cur.get(key)}, this " +
                s"write assigned from ${baseHwm(n)}); re-run the write")
          }
        }
        val removes = replaceInfo match {
          case Some((paths, _)) =>
            paths.map(RemoveFile(_, System.currentTimeMillis()))
          case None if mode == "overwrite" && existingMeta.nonEmpty =>
            // overwrite tombstones every live file: O(live) actions
            // are WHAT an overwrite commit is (re-resolved per
            // attempt so a racing append's files are tombstoned too).
            // But the tombstones need only PATHS — on a manifest-
            // checkpointed table they come from the columnar index's
            // path projection (distributed decode, path strings on
            // the driver), never a full replay materializing
            // stats-bearing AddFiles for files this write only buries
            val now = System.currentTimeMillis()
            val columnar = df.sparkSession.conf
              .getOption("spark.graft.columnarFileIndex")
              .forall(_.toBoolean)
            (if (columnar)
              graft.sources.ColumnarLakeFileIndex
                .tryBuild(df.sparkSession, log, -1)
            else None) match {
              case Some(idx) =>
                idx.pathSizes().map { case (p, _) => RemoveFile(p, now) }
              case None =>
                log.snapshot().files.map(f => RemoveFile(f.path, now))
            }
          case None => Nil
        }
        // Metadata conflict detection (Delta's rule: ANY transaction
        // fails when the table metadata changed under it, not only
        // metadata-writing ones). A schema-changing write re-emitting
        // stale metadata would silently revert the concurrent DDL; a
        // plain append written under the old schema would land files
        // whose columns the new schema reads as null (e.g. racing a
        // rewrite-mode rename). Loud abort — the caller re-runs
        // against the new state. Metadata-light read.
        if (version > 0 && !existingMeta
            .contains(Snapshot.replayMeta(log, log.latestVersion)._1))
          throw new ConflictingCommitException(
            s"table metadata of $tablePath changed concurrently with " +
            "this write; re-run the write")
        val meta =
          if (version == 0L || schemaChanged || hwmUpdates.nonEmpty ||
              mappingProps.nonEmpty)
            Seq(Metadata(finalSchema.toDDL, partCols,
              System.currentTimeMillis(),
              existingMeta.map(_.constraints).getOrElse(Map.empty),
              existingMeta.map(_.properties)
                .getOrElse(Map.empty) ++ properties ++ hwmUpdates ++
                mappingProps))
          else Nil
        // v0 declares the protocol the table's properties require
        // (feature-bearing tables — e.g. deletion vectors — ratchet
        // reader/writer versions so a feature-unaware engine refuses
        // instead of misreading)
        val protocolActions: Seq[Action] =
          if (version == 0L) Seq(LakeProtocol.requiredFor(effectiveProps))
          else Nil
        protocolActions ++
        Seq(CommitInfo(System.currentTimeMillis(), op,
          operationParameters ++ Map("mode" -> mode) ++
            replaceWhere.map("replaceWhere" -> _))) ++
          meta ++ removes ++ adds ++
          replaceInfo.map(_._2).getOrElse(Nil) ++
          allTxns.map { case (a, v) => Txn(a, v) }
      }
      // Auto compaction rides the write that created the debris. Its
      // failure must not fail the already-committed user write — the
      // data is durable; compaction retries on the next write.
      if (adds.nonEmpty && effectiveProps
          .get(LakeTable.PROP_AUTO_COMPACT).exists(_.toBoolean)) {
        try LakeTable.forPath(spark, tablePath).autoCompactAfterWrite(adds)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[lake] auto compaction after write to $tablePath failed " +
            s"(write itself committed): ${e.getMessage}")
        }
      }
      WriteResult(version, adds)
      } catch {
        case _: TxnAlreadyCommittedException =>
          // Lost the race to an identical writer: discard our written
          // (still unreferenced) files and report the winner's commit.
          adds.foreach(a =>
            DataStore.current.deleteIfExists(Paths.get(tablePath, a.path)))
          WriteResult(log.latestVersion, Nil)
        case e: ConflictingCommitException =>
          // Non-retryable conflict (metadata changed, replaceWhere
          // rewrite superseded): the commit never happened, so the
          // written files are unreferenced debris — sweep them before
          // surfacing the conflict to the caller.
          (adds ++ replaceInfo.map(_._2).getOrElse(Nil)).foreach(a =>
            DataStore.current.deleteIfExists(Paths.get(tablePath, a.path)))
          throw e
      }
    }
  }

  /** Physically write `df` (Hive-partitioned by `partCols`) straight
    * into the table layout ([[DirectWriteProtocol]]) and return the
    * files' AddFile actions, with footer-derived row counts and column
    * stats. The files are invisible to readers until a commit
    * references them; if this call fails after they landed, it deletes
    * them before rethrowing.
    *
    * Column-mapped tables ([[ColumnMapping]]) write PHYSICAL names.
    * Every caller that holds a read snapshot (DML, compaction,
    * `write()`) threads that snapshot's mapping and properties
    * EXPLICITLY, so the written files agree with the state the commit
    * will be validated against — re-resolving from the log here could
    * adopt a concurrent writer's metadata and write files the commit's
    * conflict check would then reject. The null defaults re-resolve
    * from the log and remain only for snapshot-less callers (e.g.
    * first write to a new table).
    *
    * Bloom-indexed tables ([[BloomIndex]]) additionally (a) enable
    * parquet-native bloom filters on the write for free row-group
    * skipping, and (b) run one distributed pass over the written files
    * to build the per-file sidecars, attached to the returned AddFiles.
    */
  private[lake] def writeFiles(
      df: DataFrame, tablePath: String, partCols: Seq[String],
      physicalFor: Map[String, String] = null,
      properties: Map[String, String] = null,
      layoutManaged: Boolean = false,
      computeLight: Boolean = false): Seq[AddFile] = {
    val spark = df.sparkSession
    // metadata-light: every fallback below needs the Metadata action
    // only, never the file list
    lazy val logMeta: Option[Metadata] = {
      val log = new LakeLog(tablePath)
      if (log.exists && log.latestVersion >= 0)
        Some(Snapshot.replayMeta(log, log.latestVersion)._1)
      else None
    }
    val mapping = Option(physicalFor).getOrElse {
      logMeta.map(ColumnMapping.overrides)
        .getOrElse(Map.empty[String, String])
    }
    val props = Option(properties).getOrElse {
      logMeta.map(_.properties)
        .getOrElse(Map.empty[String, String])
    }
    val bloomLogicalCols = BloomIndex.indexedColumns(props)
    // A configured index that can never be built should fail the
    // write, not silently not exist: a column unknown to BOTH the
    // table schema and this frame is a typo. (Known to the table but
    // absent from this frame — a pre-evolution write — is fine and
    // skipped per-file by buildSidecars.)
    if (bloomLogicalCols.nonEmpty) {
      val known = logMeta
        .map(m => org.apache.spark.sql.types.StructType
          .fromDDL(m.schemaDDL).fieldNames.toSet)
        .getOrElse(Set.empty[String]) ++ df.columns
      bloomLogicalCols.foreach { c =>
        require(known.contains(c),
          s"${BloomIndex.PROP_COLUMNS} names unknown column $c; " +
          s"table columns: ${known.toSeq.sorted.mkString(", ")}")
      }
    }
    val bloomPhysCols = bloomLogicalCols
      .map(c => ColumnMapping.physicalName(c, mapping))
    // bucketed table: EVERY written frame (appends, DML rewrites,
    // compaction output — this is the one choke point they all pass)
    // hash-partitions on the bucket columns with Spark's own bucket
    // hash: repartition(n, cols) evaluates HashPartitioning's
    // partitionIdExpression, so task index == bucket id, and the
    // file names get the _%05d suffix Spark's bucketed scan parses. A caller's own repartition/coalesce is overridden here —
    // bucket placement is a TABLE invariant, not a writer choice.
    val bucketSpec = LakeTable.bucketSpecOf(props)
    bucketSpec.foreach { case (cols, _) =>
      val known = df.columns.toSet
      cols.foreach(c => require(known.contains(c),
        s"${LakeTable.PROP_BUCKET_BY} names unknown column $c; " +
          s"frame columns: ${df.columns.sorted.mkString(", ")}"))
      cols.foreach(c => require(!partCols.contains(c),
        s"${LakeTable.PROP_BUCKET_BY} column $c is a partition " +
          "column — bucket columns must be data columns"))
    }
    val physDf0 = ColumnMapping.toPhysical(df, mapping)
    // optimizeWrite (Delta's autoOptimize.optimizeWrite) applies at
    // THIS choke point so every un-managed written frame — appends,
    // CTAS, streaming batches, and the kept/updated rows of
    // MERGE/DELETE/UPDATE rewrites — gets the size-aware AQE
    // rebalance toward graft.targetFileSize. `layoutManaged` callers
    // (compaction's own bin repartition, clustered OPTIMIZE's
    // range+sort — a rebalance would shuffle the sort away and
    // destroy min/max locality) are exempt, and bucketed tables own
    // placement outright.
    val optimizeWriteOn = !layoutManaged && bucketSpec.isEmpty &&
      props.get(LakeTable.PROP_OPTIMIZE_WRITE).exists(_.toBoolean)
    val physDf = bucketSpec match {
      case Some((cols, n)) =>
        val physCols = cols.map(c => ColumnMapping.physicalName(c, mapping))
        physDf0.repartition(n,
          physCols.map(org.apache.spark.sql.functions.col): _*)
      case None if optimizeWriteOn =>
        // partition columns are identity-mapped by invariant
        if (partCols.nonEmpty) physDf0.hint("rebalance", partCols: _*)
        else physDf0.hint("rebalance")
      case None if !layoutManaged && (computeLight ||
          cheapAppendPlan(physDf0.queryExecution.optimizedPlan)) =>
        adaptiveStageCoalesce(physDf0)
      case None => physDf0
    }
    val options = bloomPhysCols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" ->
        BloomIndex.numItems(props).toString)).toMap
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    // partition columns are identity-mapped by invariant
    val written = withBucketStablePlanning(spark, bucketSpec.isDefined) {
      withAdvisoryPartitionSize(spark,
          if (optimizeWriteOn) Some(LakeTable.targetFileBytes(props))
          else None) {
        withMicrosTimestamps(spark) {
          directWrite(physDf, root, partCols, options,
            bucketed = bucketSpec.isDefined)
        }
      }
    }
    try {
      // a DML whose kept/updated frame writes no rows commits only
      // removes: there is nothing to index
      val bloomFor: Map[String, String] =
        if (bloomPhysCols.isEmpty || written.isEmpty) Map.empty
        else BloomIndex.buildSidecars(spark,
          written.map(a => root.resolve(a.path).toString), root, root,
          bloomPhysCols, partCols, BloomIndex.numItems(props),
          BloomIndex.fpp(props))
      capStats(written, physDf.schema.fieldNames, props, mapping)
        .map(a => a.copy(bloomPath = bloomFor.get(a.path)))
    } catch { case e: Throwable =>
      sweepStaged(tablePath, written)
      throw e
    }
  }

  /** Write `df` as parquet straight into `root` through a
    * [[DirectWriteProtocol]] and return the written files' AddFiles
    * (paths relative to `root`).
    */
  private def directWrite(df: DataFrame, root: Path, partCols: Seq[String],
      options: Map[String, String], bucketed: Boolean): Seq[AddFile] = {
    val protocol = new DirectWriteProtocol(root.toString, bucketed)
    org.apache.spark.sql.classic.graftshim.WriteShim
      .writeParquet(df, root.toString, partCols, options, protocol)
    protocol.added
  }

  /** Unit of write work per task: one write task per this many
    * ESTIMATED frame bytes. Defaults to 4 MiB — Spark's stock
    * `openCostInBytes`, the size below which the scan side itself
    * treats a file as pure overhead. (The session's actual
    * openCostInBytes is deliberately lowered to 16 KB for the
    * scan-parallelism floor, so it cannot serve as this unit.)
    */
  val EST_BYTES_PER_TASK_CONF = "spark.graft.write.estBytesPerTask"
  val DEFAULT_EST_BYTES_PER_TASK: Long = 4L * 1024 * 1024

  /** A user append qualifies for the adaptive fold only when its LAST
    * stage provably carries nothing but scan + cheap row expressions:
    * Project/Filter over a file/local/range leaf, every expression
    * from a codegen-trivial whitelist. Parse/encode projections
    * (from_json, to_variant_object), UDFs, generators, aggregates and
    * streaming batch plans all fail the test and keep their natural
    * parallelism — the size estimate cannot see per-row compute cost,
    * so the plan shape has to prove its absence.
    * `monotonically_increasing_id` (identity columns) is deliberately
    * NOT whitelisted: its values encode the partition id, so folding
    * partitions would change assigned ids.
    */
  private def cheapAppendPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    def cheapExpr(e: Expression): Boolean = e match {
      case _: AttributeReference | _: Literal => true
      case _: Alias | _: Cast | _: BinaryArithmetic |
           _: BinaryComparison | _: And | _: Or | _: Not |
           _: IsNull | _: IsNotNull | _: In | _: InSet |
           _: CaseWhen | _: Coalesce | _: UnaryMinus =>
        e.children.forall(cheapExpr)
      case _ => false
    }
    p match {
      case Project(list, child) =>
        list.forall(cheapExpr) && cheapAppendPlan(child)
      case Filter(cond, child) =>
        cheapExpr(cond) && cheapAppendPlan(child)
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation |
           _: LocalRelation | _: Range => true
      case _ => false
    }
  }

  /** Size-derived write parallelism (guide §6 small files / §1.2
    * per-task work): an un-shaped frame writes with whatever
    * partitioning its plan produced — on a 32-core local session a
    * 1 MB commit pays 32 task launches and 32 parquet writer opens, and
    * leaves 32 sub-openCost shards that every later scan of the table
    * re-pays (measured 0.29 s vs 0.12 s for a tiny commit). Derive the write's task count from the frame's own
    * optimizer size estimate instead: one task per
    * [[EST_BYTES_PER_TASK_CONF]] bytes, `coalesce`d (no shuffle; an
    * AQE rebalance was measured SLOWER than doing nothing at this
    * size — its extra stage costs more than the parquet opens it
    * saves). Self-limiting at scale: a frame estimated past
    * cores × 4 MiB keeps natural parallelism (`coalesce(n >= current)`
    * is a no-op), so real-data write parallelism is never reduced and
    * file sizing at scale stays optimizeWrite's job. A caller's
    * explicit repartition / coalesce / rebalance anywhere in the plan
    * is a layout instruction (bucket fan-out, bloom-sidecar sharding,
    * sorted single-file writes) and is honored unchanged.
    *
    * Scoped to `computeLight` callers — the machinery-synthesized DML
    * rewrite frames (kept/updated/merge rows: reads of the table's own
    * files plus row-level expressions), where serializing the last
    * stage can only serialize a cheap scan. User append frames are
    * deliberately NOT folded: a blanket version of this was measured
    * to regress stateful streaming batch writes (state stores open
    * per post-shuffle partition: streaming_windowed_counts
    * 1.33 → 2.13 s) and parse-heavy ingest (pipeline_medallion
    * 3.89 → 5.24 s) — the frame's last stage carried the gate's real
    * compute, and the estimate cannot see compute cost.
    */
  private def adaptiveStageCoalesce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      RebalancePartitions, Repartition, RepartitionByExpression}
    val shaped = df.queryExecution.analyzed.exists {
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions => true
      case _ => false
    }
    if (shaped) df
    else {
      val spark = df.sparkSession
      val unit = BigInt(spark.conf.getOption(EST_BYTES_PER_TASK_CONF)
        .map(_.toLong).getOrElse(DEFAULT_EST_BYTES_PER_TASK).max(1L))
      val maxN = BigInt(spark.sparkContext.defaultParallelism)
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val n = ((est + unit - 1) / unit).max(1).min(maxN)
      if (n >= maxN) df else df.coalesce(n.toInt)
    }
  }

  /** Drop recorded stats for columns past the table's
    * dataSkippingNumIndexedCols window (first N fields in schema
    * order — physical names, matching the stats keys). Declared
    * `graft.clusterBy` columns stay statted even outside the window:
    * clustering exists FOR min/max skipping, so capping its own
    * columns would silently undo OPTIMIZE's locality work on a wide
    * table. Row counts are always kept; un-statted columns fall back
    * to scans.
    */
  private[lake] def capStats(adds: Seq[AddFile],
      schemaOrder: Seq[String],
      props: Map[String, String],
      physicalFor: Map[String, String] = Map.empty): Seq[AddFile] = {
    val cap = LakeTable.statsColCap(props)
    if (cap < 0 || schemaOrder.lengthCompare(cap) <= 0) adds
    else {
      // clusterBy names are LOGICAL; stats keys (and schemaOrder)
      // are PHYSICAL — map through the column-mapping overrides so
      // the exemption holds on mapped tables too
      val keep = schemaOrder.take(cap).toSet ++
        LakeTable.clusterByCols(props)
          .map(c => ColumnMapping.physicalName(c, physicalFor))
      adds.map(a => a.copy(
        minValues = a.minValues.filter { case (k, _) => keep(k) },
        maxValues = a.maxValues.filter { case (k, _) => keep(k) },
        nullCounts = a.nullCounts.filter { case (k, _) => keep(k) }))
    }
  }

  /** Delta's write-compat type rule: equal up to COMPATIBLE
    * nullability — an incoming nested type may be STRICTER than the
    * table's (a non-null array element writes safely into a nullable
    * one; the round trip through schema DDL loses containsNull=false,
    * so a frame re-derived from the exact expressions that built the
    * table would otherwise be rejected against it) but never looser,
    * and names/types must match exactly.
    */
  private def writeCompatible(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ArrayType(f, fn), ArrayType(t, tn)) =>
        (!fn || tn) && writeCompatible(f, t)
      case (MapType(fk, fv, fn), MapType(tk, tv, tn)) =>
        (!fn || tn) && writeCompatible(fk, tk) && writeCompatible(fv, tv)
      case (StructType(ff), StructType(tf)) =>
        ff.length == tf.length && ff.zip(tf).forall { case (a, b) =>
          a.name == b.name && (!a.nullable || b.nullable) &&
            writeCompatible(a.dataType, b.dataType)
        }
      case _ => from == to
    }

  /** Enforcement (D9) / evolution (D10): extra incoming columns are
    * rejected unless mergeSchema, then appended to the table schema;
    * same-name columns must keep their type; missing columns null-fill.
    */
  private[lake] def reconcileSchema(
      table: StructType,
      incoming: StructType,
      mergeSchema: Boolean,
      tablePath: String): StructType = {
    val tableByName = table.fields.map(f => f.name -> f).toMap
    val extra = incoming.fields.filterNot(f => tableByName.contains(f.name))
    val mismatched = incoming.fields.flatMap { f =>
      tableByName.get(f.name) match {
        case Some(tf) if !writeCompatible(f.dataType, tf.dataType) =>
          Some((f, tf))
        case _ => None
      }
    }
    if (mismatched.nonEmpty) {
      val (f, tf) = mismatched.head
      throw new SchemaMismatchException(
        s"column ${f.name} has type ${f.dataType.simpleString} but table " +
        s"$tablePath expects ${tf.dataType.simpleString}")
    }
    if (extra.nonEmpty && !mergeSchema) {
      throw new SchemaMismatchException(
        s"write to $tablePath rejected: columns " +
        extra.map(_.name).mkString("[", ", ", "]") +
        " are not in the table schema. Enable schema evolution with " +
        "option(\"mergeSchema\", \"true\") to add them.")
    }
    if (extra.isEmpty) table
    else StructType(table.fields ++ extra.map(_.copy(nullable = true)))
  }

  /** Pin bucketed-scan planning while writing a BUCKETED table's
    * files. Two individually-reasonable planner rules compose into
    * silent bucket corruption on identity rewrites (compact, DV
    * purge): the write's `repartition(n, bucketCols)` is elided
    * because the source scan's bucket partitioning already satisfies
    * it, and then auto-bucketed-scan-disabling re-packs that SAME
    * scan into split-based partitions ("Bucketed: false (disabled by
    * query planner)") — task index no longer equals bucket id, and
    * the written files carry wrong bucket tags that a later
    * co-located join trusts (observed: compact() of an 8-bucket
    * table wrote 4 task-packed files; the bucketed-join gate then
    * returned empty). With auto-disabling OFF for the write,
    * an elided shuffle implies the scan really runs
    * one-partition-per-bucket, so the task-index == bucket-id
    * contract holds on both the elided and the shuffled path.
    */
  private def withBucketStablePlanning[A](
      spark: org.apache.spark.sql.SparkSession, bucketed: Boolean)
      (body: => A): A =
    if (!bucketed) body
    else {
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Pin AQE's advisory partition size around an optimizeWrite
    * write, so the REBALANCE hint bins shuffle output toward the
    * table's target file size instead of the session default. The
    * advisory governs SHUFFLE bytes; parquet encoding + column
    * compression shrink those further on disk, so the advisory is set
    * to 2× the file target (the on-disk ratio observed for the lz4
    * shuffle → snappy parquet pair on mixed text/numeric rows — a
    * heuristic, like Delta's 512 MB bin for 128 MB files, erring
    * toward files UNDER target rather than over). No-op when the
    * write is not optimizeWrite-governed.
    */
  private def withAdvisoryPartitionSize[A](
      spark: org.apache.spark.sql.SparkSession, target: Option[Long])
      (body: => A): A = target match {
    case None => body
    case Some(bytes) =>
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, (bytes * 2).toString)
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
  }

  /** Run `body` with parquet timestamps written as INT64 epoch-micros.
    * Spark's legacy INT96 default carries no usable footer statistics
    * (parquet deems INT96 min/max unordered), so timestamp range
    * predicates — the most common analytical filter — would never
    * skip a lake file. Scoped to LAKE data writes rather than set
    * session-wide: driver-facing result parquet (Verify) must keep
    * the session default, whose naive DuckDB reading the oracle
    * harness depends on. Reentrant under the engine's concurrent
    * writes (index builds overlap two lake writes): a depth count
    * makes the first entrant set and the last restore; a concurrent
    * write from a DIFFERENT session during the window merely misses
    * the optimization (writes INT96, no stats) — never correctness.
    */
  private def withMicrosTimestamps[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    microsLock.synchronized {
      if (microsDepth == 0) {
        microsPrev = spark.conf.getOption(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
      }
      microsDepth += 1
    }
    try body
    finally microsLock.synchronized {
      microsDepth -= 1
      if (microsDepth == 0) microsPrev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
  private val microsLock = new Object
  private var microsDepth = 0
  private var microsPrev: Option[String] = None

  private[lake] def walkParquet(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Spark/Hive's path encoding of a null partition value. */
  private[graft] val HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

  /** Parse `k=v/k2=v2/part-....parquet` into partition values. The
    * Hive null sentinel maps to a true null so predicates like
    * `p IS NULL` (and never `p = '__HIVE_DEFAULT_PARTITION__'`) match.
    */
  private[lake] def partitionValuesOf(relPath: String): Map[String, String] = {
    relPath.split('/').dropRight(1).iterator.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) =>
          val unescaped = unescapePathName(v)
          Some(k -> (if (unescaped == HIVE_NULL) null else unescaped))
        case _ => None
      }
    }.toMap
  }

  /** Inverse of Hive/Spark's escapePathName (%XX escapes). */
  private[lake] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Commit with optimistic retry — the one loop every commit runs
    * through. On a version collision `head` is recomputed for the next
    * version and the commit ([[LakeLog.commit]], which also streams
    * `bulk`) is tried again.
    *
    * Logical conflict detection (Delta optimistic concurrency, SURVEY
    * §7.1): a rewrite commit carries RemoveFile/AddFile actions
    * computed from the snapshot it *read* (`readVersion`). If another
    * writer committed in between, blindly replaying those actions
    * loses that writer's update — e.g. a concurrent DELETE already
    * removed one of our files and we'd re-add rows rewritten from its
    * stale contents. So before every attempt the interleaved commits
    * (readVersion+1 .. latest) are checked against `ourPaths`, the
    * files this commit removes or supersedes: if one of them removed
    * such a file, or re-added it (a deletion vector supersedes a file
    * in place), the operation is based on dead data and aborts with
    * [[ConflictingCommitException]]. Version collisions alone (pure
    * appends interleaving) still retry freely.
    *
    * The interleaved commits' paths are the resident side — O(their
    * size), and interactive commits are small — while `ourPaths` is
    * re-iterated as a stream against them, so a table-sized rewrite
    * never holds its own path set. An interleaved commit touching
    * more than [[EXACT_CONFLICT_MAX_THEIRS]] files (another bulk
    * writer) aborts conservatively instead of materializing a second
    * table-sized set.
    */
  private[lake] def commitWithRetry(
      log: LakeLog,
      readVersion: Long = -1L,
      ourPaths: Iterable[String] = Nil,
      bulk: () => Iterator[Action] = () => Iterator.empty)(
      head: Long => Seq[Action]): Long = {
    // Writer protocol gate — EVERY commit path (write, DML rewrite,
    // DDL, maintenance) refuses a table whose log demands writer
    // semantics this engine does not implement. Metadata-light: the
    // gate needs the Protocol action only.
    val latest0 = log.latestVersion
    if (latest0 >= 0)
      LakeProtocol.assertWritable(
        Snapshot.replayMeta(log, latest0)._2, log.tablePath)
    var attempts = 0
    while (true) {
      val latest = log.latestVersion
      // a provably empty path set cannot conflict (a streamed one is
      // never probed for emptiness: that would start its scan)
      if (readVersion >= 0 && latest > readVersion && ourPaths.knownSize != 0)
        assertNoConflict(log, readVersion, latest, ourPaths)
      val version = latest + 1
      try {
        log.commit(version, head(version), bulk)
        return version
      } catch {
        case _: ConcurrentWriteException if attempts < 20 => attempts += 1
      }
    }
    -1L // unreachable
  }

  private def assertNoConflict(log: LakeLog, readVersion: Long,
      latest: Long, ourPaths: Iterable[String]): Unit = {
    // path -> (first interleaved version touching it, removed?)
    val theirs = scala.collection.mutable.HashMap.empty[String, (Long, Boolean)]
    ((readVersion + 1) to latest).foreach { v =>
      log.readVersion(v).foreach {
        case r: RemoveFile => theirs.getOrElseUpdate(r.path, (v, true)); ()
        // Appends and rewrites mint fresh uuid paths, so an AddFile
        // matching one of ours is a same-file supersession (deletion
        // vector): a later DV would silently resurrect rows the
        // earlier commit deleted.
        case a: AddFile => theirs.getOrElseUpdate(a.path, (v, false)); ()
        case _ => ()
      }
      if (theirs.size > EXACT_CONFLICT_MAX_THEIRS)
        throw new ConflictingCommitException(
          s"conflicting commit: version $v of ${log.tablePath} " +
          s"touched over $EXACT_CONFLICT_MAX_THEIRS files while this " +
          s"operation (reading version $readVersion) was writing. " +
          "Re-run the operation.")
    }
    if (theirs.nonEmpty) ourPaths.foreach { p =>
      theirs.get(p).foreach { case (v, removed) =>
        val what =
          if (removed) s"removed file $p"
          else s"superseded file $p (deletion vector)"
        throw new ConflictingCommitException(
          s"conflicting commit: version $v of ${log.tablePath} $what, " +
          "which this operation (reading version " +
          s"$readVersion) also rewrites. Re-read the table and retry " +
          "the operation.")
      }
    }
  }

  /** Interleaved-commit size bound of [[commitWithRetry]]'s conflict
    * check (above it: conservative abort, never a second resident set).
    */
  private[lake] var EXACT_CONFLICT_MAX_THEIRS: Long = 1000000L

  /** Run `body` on a daemon thread — DML paths use this to overlap
    * independent Spark jobs (the CDC stage vs the data stage, the
    * MERGE dup check vs the rewrite). Await with [[awaitTask]].
    */
  private[lake] def inParallel[A](name: String)(body: => A)
      : java.util.concurrent.FutureTask[A] = {
    val task = new java.util.concurrent.FutureTask[A](() => body)
    val t = new Thread(task, name)
    t.setDaemon(true)
    t.start()
    task
  }

  /** Join an [[inParallel]] task, rethrowing the original cause. */
  private[lake] def awaitTask[A](f: java.util.concurrent.FutureTask[A]): A =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException =>
      throw Option(e.getCause).getOrElse(e)
    }

  /** Fresh dir for one commit's change-data files. Allocated before a
    * side-thread CDC stage starts, so a failure sweep can remove the
    * whole dir even if the stage died mid-write.
    */
  private[lake] def newCdcDir(tablePath: String): Path =
    Paths.get(tablePath).toAbsolutePath.normalize
      .resolve("_change_data").resolve(s"cdc-${UUID.randomUUID()}")

  /** Write a commit's row-level change set (table schema +
    * `_change_type`) into `dir` under `_change_data/` and return the
    * CdcFile actions for the commit. One extra scan-shaped write per
    * DML — the Delta CDF trade: pay O(changes) at write time so change
    * reads never have to diff rewritten files. Written through the
    * same [[DirectWriteProtocol]] as the data files.
    */
  private[lake] def stageCdc(df: DataFrame, tablePath: String,
      dir: Path): Seq[CdcFile] = {
    val root = Paths.get(tablePath).toAbsolutePath.normalize
    // CDC frames are machinery-synthesized (filters/projections of the
    // DML's own touched files plus a lit change-type column) — the
    // same computeLight class as the rewrite frames, so the
    // size-adaptive fold applies
    directWrite(adaptiveStageCoalesce(df), dir, Nil, Map.empty,
      bucketed = false).map { a =>
      CdcFile(root.relativize(dir.resolve(a.path)).toString, a.size)
    }
  }

  /** Best-effort sweep of what a FAILED write left: the written data
    * files and bloom sidecars by path, and the whole (quiescent) cdc
    * dir. Written files are
    * unreferenced by the log until the commit, so the sweep leaves the
    * table exactly as before instead of leaving untracked debris for
    * vacuum to age out. Never throws: it runs on a failure path that
    * must re-raise the ORIGINAL error.
    */
  private[lake] def sweepStaged(tablePath: String, adds: Seq[AddFile],
      cdcDir: Option[Path] = None): Unit = {
    (adds.map(_.path) ++ adds.flatMap(_.bloomPath)).foreach { p =>
      try { DataStore.current.deleteIfExists(Paths.get(tablePath, p)); () }
      catch { case _: java.io.IOException => () }
    }
    cdcDir.filter(Files.exists(_)).foreach { d =>
      val (files, dirs) = LakeTable.walkTolerant(d)
      (files ++ dirs.sortBy(p => -p.getNameCount) :+ d).foreach { p =>
        try { Files.deleteIfExists(p); () }
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** CHECK enforcement (Delta `delta.constraints.*` semantics): a row
    * violates a constraint only when the expression evaluates to
    * FALSE — NULL/unknown satisfies, per the SQL standard. One
    * filter + limit(1) action per constraint, run only on tables that
    * declare constraints; the scan is the data about to be committed
    * (already in memory/shuffle), not the whole table.
    */
  private[lake] def enforceConstraints(
      df: DataFrame,
      constraints: Map[String, String],
      tablePath: String): Unit = {
    constraints.toSeq.sortBy(_._1).foreach { case (name, exprStr) =>
      val violating = df.filter(s"NOT coalesce(($exprStr), true)")
        .limit(1).count()
      if (violating > 0) throw new ConstraintViolationException(
        s"write to $tablePath violates CHECK constraint $name " +
        s"($exprStr)")
    }
  }

  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator.asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }
}

final class SchemaMismatchException(msg: String)
  extends IllegalArgumentException(msg)

private[lake] final class TxnAlreadyCommittedException(
    appId: String, version: Long) extends RuntimeException(
  s"transaction ($appId, $version) was already committed")

final class ConstraintViolationException(msg: String)
  extends IllegalArgumentException(msg)
