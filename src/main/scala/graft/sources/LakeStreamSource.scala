package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.classic.graftshim.StreamingShim
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.types.StructType

import graft.lake.{AddFile, LakeLog, RemoveFile}

/** Version-based offset: "all appends through log version N". */
final case class LakeStreamOffset(version: Long) extends OffsetV1 {
  override def json(): String = version.toString
}

/** Offset INSIDE the initial snapshot: "files [0, fileIndex) of the
  * snapshot at `version` (path-sorted) delivered". Produced only when
  * a rate limit (`maxFilesPerTrigger`/`maxBytesPerTrigger`) chunks
  * the initial snapshot — the Delta initial-snapshot batching shape —
  * and parsed back from the engine's checkpoint on restart. Plain
  * version offsets stay bare longs, so existing checkpoints replay
  * unchanged.
  */
final case class LakeStreamInitOffset(version: Long, fileIndex: Long)
    extends OffsetV1 {
  override def json(): String = s"$version#$fileIndex"
}

/** `spark.readStream.format("lake")` — incremental consumption of a
  * lake table's appends, the engine's Delta-streaming-source analog.
  *
  * Offsets are log versions: batch (start, end] reads exactly the
  * AddFiles committed in those versions, so every appended row is
  * delivered once regardless of file layout, compaction timing (see
  * options), or concurrent writers. Restart recovery replays from the
  * checkpointed version — combined with the Txn-idempotent lake sink
  * this gives exactly-once end to end.
  *
  * Options:
  *  - `startingVersion` (long, default: all existing data) — first
  *    version whose files are delivered; `startingTimestamp`
  *    (mutually exclusive) maps to the first version committed at or
  *    after it;
  *  - `ignoreDeletes` (bool) — tolerate delete-only commits (their
  *    removes are skipped; nothing is re-delivered);
  *  - `skipChangeCommits` (bool) — skip remove-carrying commits
  *    WHOLESALE (their AddFiles are not delivered either); the
  *    append-pure alternative to `ignoreChanges`;
  *  - `ignoreChanges` (bool) — additionally tolerate rewrites
  *    (UPDATE/MERGE/OPTIMIZE); their AddFiles ARE delivered, which
  *    re-emits the untouched rows they carry (the Delta contract —
  *    downstream must dedupe on key). Without these, a non-append
  *    commit fails the stream: an append-only source must not
  *    silently drop or duplicate.
  *  - `readChangeFeed` (bool) — deliver the CHANGE FEED instead of
  *    the data: each batch carries the row-level changes
  *    (`_change_type` insert/delete, `_commit_version`,
  *    `_commit_timestamp`) of the new
  *    versions, computed like batch `changes()` (persisted CDC files
  *    when present, read-time diff otherwise). DML commits are the
  *    point here, so the non-append guards don't apply.
  *
  * 100 TB shape: getOffset is one log-tail stat; getBatch ships only
  * the new files' paths into a parquet scan (pruning, vectorized read,
  * whole-stage codegen all apply — the shim wraps the SAME planned
  * scan, it does not re-implement reading).
  */
final class LakeStreamSource(
    spark: SparkSession,
    tablePath: String,
    options: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val log = new LakeLog(tablePath)

  /** Trigger.AvailableNow latches the end version here; a rate-limited
    * source then advances in bounded batches UP TO the latch instead
    * of having its first (limited) offset mistaken for the end.
    */
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = log.latestVersion
  }

  /** SupportsAdmissionControl route — the engine prefers this over
    * `getOffset` once the trait is mixed in; same version arithmetic
    * (our own maxFilesPerTrigger option carries the rate limit).
    */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull
  private val readChangeFeed =
    options.get("readChangeFeed").exists(_.toBoolean)

  /** `withRowIds=true`: every delivered row carries its stable
    * [[graft.lake.RowTracking.COL]] — the streaming face of row
    * tracking, so an incremental consumer (feature store, example
    * ledger) keys micro-batch output on an id that a later OPTIMIZE
    * or UPDATE of the source table will not re-key.
    */
  private val withRowIds =
    options.get("withRowIds").exists(_.toBoolean)
  require(!(withRowIds && readChangeFeed),
    "withRowIds and readChangeFeed are mutually exclusive (change-feed " +
    "rows describe row VERSIONS, not live rows)")

  override val schema: StructType = {
    // metadata-light (round 15): the declared schema needs the
    // Metadata action only — a full replay here held the entire file
    // list of a 10⁶-file table just to start a stream
    val tableSchema = StructType.fromDDL(
      graft.lake.Snapshot.replayMeta(log, log.latestVersion)._1.schemaDDL)
    if (readChangeFeed) graft.lake.Cdf.schema(tableSchema)
    else if (withRowIds)
      StructType(tableSchema.fields :+
        org.apache.spark.sql.types.StructField(
          graft.lake.RowTracking.COL,
          org.apache.spark.sql.types.LongType))
    else tableSchema
  }

  private val explicitStart: Option[Long] = {
    require(!(options.contains("startingVersion") &&
        options.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    options.get("startingVersion").map(_.toLong)
      .orElse(options.get("startingTimestamp").map { ts =>
        graft.lake.LakeTable.forPath(spark, tablePath)
          .versionAtOrAfterTimestamp(java.sql.Timestamp.valueOf(ts).getTime)
      })
  }
  private val startingVersion: Long = {
    val floor = log.earliestReplayableVersion
    explicitStart.foreach { s =>
      if (s < floor) throw new IllegalStateException(
        s"startingVersion $s of $tablePath is below the log retention " +
        s"horizon (earliest replayable version: $floor); those " +
        "versions' files cannot be replayed")
    }
    explicitStart.getOrElse(0L)
  }
  private val ignoreDeletes =
    options.get("ignoreDeletes").exists(_.toBoolean)
  private val ignoreChanges =
    options.get("ignoreChanges").exists(_.toBoolean)
  private val skipChangeCommits =
    options.get("skipChangeCommits").exists(_.toBoolean)
  private val maxFilesPerTrigger: Option[Int] =
    options.get("maxFilesPerTrigger").map(_.toInt)
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxBytesPerTrigger").map(_.toLong)
  private val failOnDataLoss =
    options.get("failOnDataLoss").forall(_.toBoolean) // default true

  /** Highest version already handed out via getBatch — the rate-limit
    * cursor. The engine's checkpoint remains the source of truth for
    * recovery; this only bounds how far the NEXT offset may advance.
    */
  @volatile private var deliveredThrough: Long = startingVersion - 1

  /** Highest initial-snapshot file index already handed out — the
    * within-snapshot twin of [[deliveredThrough]], advanced by the
    * chunked init batches; [[deliveredThrough]] itself only reaches
    * the snapshot version once the LAST chunk is delivered.
    */
  @volatile private var initIndexDelivered: Long = -1L

  /** The snapshot version [[initIndexDelivered]] counts against. The
    * chunk index is path-sorted PER VERSION; if the replay floor
    * advances mid-delivery the pinned version changes and a cursor
    * carried across versions would skip or re-deliver snapshot files
    * against the differently-sorted new list.
    */
  @volatile private var initIndexVersion: Long = -1L

  /** The pinned initial snapshot's (path, size) chunk index, sorted
    * by path so offsets are deterministic across triggers AND across
    * restarts (the snapshot at a version is immutable). Built through
    * the columnar file index when the table has one — distributed
    * checkpoint decode, paths+sizes only on the driver — and released
    * once the initial snapshot is fully delivered. PARALLEL PRIMITIVE
    * arrays, not a tuple IndexedSeq: at 10⁷ entries the per-entry
    * Tuple2 + boxed Long cost ~48 B/file of pure overhead on a
    * structure that is BY DESIGN resident for the whole initial sync.
    */
  private final class InitIndex(val version: Long,
      val paths: Array[String], val sizes: Array[Long]) {
    def size: Int = paths.length
  }
  @volatile private var initState: Option[InitIndex] = None

  /** Columnar index iff the session conf allows (the same uniform
    * `spark.graft.columnarFileIndex` opt-out every batch path honors)
    * and the table qualifies.
    */
  private def columnarIdx(version: Long): Option[ColumnarLakeFileIndex] = {
    val enabled = spark.conf
      .getOption("spark.graft.columnarFileIndex").forall(_.toBoolean)
    if (enabled) ColumnarLakeFileIndex.tryBuild(spark, log, version)
    else None
  }

  private def initStateFor(version: Long): InitIndex =
    initState match {
      case Some(idx) if idx.version == version => idx
      case _ =>
        val pairs = (columnarIdx(version) match {
            case Some(idx) => idx.pathSizes()
            case None => log.snapshot(version).files.map(f => (f.path, f.size))
          }).sortBy(_._1)
        val built = new InitIndex(version,
          pairs.iterator.map(_._1).toArray,
          pairs.iterator.map(_._2).toArray)
        // key the delivered-file cursor to the pinned version: a
        // rebuild for a NEW version (floor advanced mid-delivery)
        // must restart the cursor — at-least-once on this edge beats
        // silently skipping files of the re-sorted new list
        if (initIndexVersion != version) {
          initIndexDelivered = -1L
          initIndexVersion = version
        }
        initState = Some(built)
        built
    }

  /** The AddFiles of exactly `paths` at `version` — columnar when the
    * table has a manifest checkpoint (driver holds O(chunk)
    * AddFiles), classic snapshot filter otherwise.
    */
  private def addsForChunk(version: Long, paths: Seq[String]): Seq[AddFile] =
    columnarIdx(version) match {
      case Some(idx) => idx.addsForPaths(paths)
      case None =>
        val want = paths.toSet
        log.snapshot(version).files.filter(f => want(f.path))
    }

  override def getOffset: Option[OffsetV1] = {
    val latest = math.min(log.latestVersion, availableNowCap)
    if (latest < 0) return None
    val cursor = math.max(deliveredThrough, startingVersion - 1)
    // A table older than its log retention has no version files below
    // the replay floor; the surviving effect of those versions is the
    // snapshot AT the floor, delivered as the initial batch (the
    // Delta initial-snapshot shape) — wholesale when unthrottled, or
    // in maxFilesPerTrigger/maxBytesPerTrigger-bounded CHUNKS when a
    // rate limit is set (a 10⁶-file mature table must not land as one
    // giant first micro-batch). The per-version budget applies from
    // the floor on.
    val floor = log.earliestReplayableVersion
    if (cursor + 1 < floor) {
      val initV = math.min(floor, latest)
      if ((maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) ||
          readChangeFeed)
        return Some(LakeStreamOffset(initV))
      val files = initStateFor(initV)
      if (files.size == 0) return Some(LakeStreamOffset(initV))
      val from = math.max(initIndexDelivered, 0L)
      if (from >= files.size) return None // last chunk not committed yet
      val maxFiles = maxFilesPerTrigger.getOrElse(Int.MaxValue).toLong
      val maxBytes = maxBytesPerTrigger.getOrElse(Long.MaxValue)
      var j = from
      var bytes = 0L
      // always at least one file per chunk, whatever the byte budget
      while (j < files.size && (j - from) < maxFiles &&
          (j == from || bytes + files.sizes(j.toInt) <= maxBytes)) {
        bytes += files.sizes(j.toInt)
        j += 1
      }
      return Some(LakeStreamInitOffset(initV, j))
    }
    if (latest <= cursor) return None // nothing past the start yet
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      return Some(LakeStreamOffset(latest))
    // Advance version-by-version until a budget (files and/or bytes,
    // whichever binds first) is spent — always at least one version
    // per trigger: a 10k-commit backlog becomes a sequence of bounded
    // batches instead of one giant first micro-batch.
    val maxFiles = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    val maxBytes = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var end = cursor
    var filesTaken = 0
    var bytesTaken = 0L
    var done = false
    while (!done && end < latest) {
      val adds = log.readVersion(end + 1).collect { case a: AddFile => a }
      val sz = adds.map(_.size).sum
      val fits = filesTaken + adds.size <= maxFiles &&
        bytesTaken + sz <= maxBytes
      if (filesTaken == 0 && bytesTaken == 0 || fits) {
        filesTaken += adds.size
        bytesTaken += sz
        end += 1
        done = filesTaken >= maxFiles || bytesTaken >= maxBytes
      } else done = true
    }
    if (end <= cursor) None
    else Some(LakeStreamOffset(end))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    // Clamped to the starting version: a checkpointed offset BELOW an
    // explicit startingVersion (the engine's restart replay, or a
    // stale checkpoint reused with a new start option) must not
    // resurrect versions the user asked to skip.
    val fromExclusive = math.max(
      start.map(versionOf).getOrElse(startingVersion - 1),
      startingVersion - 1)
    val toInclusive = versionOf(end)
    if (readChangeFeed) return changeFeedBatch(fromExclusive, toInclusive)
    // A chunked initial-snapshot batch: deliver files [fromIdx, toIdx)
    // of the path-sorted snapshot at the pinned version, fetched
    // through the columnar index (O(chunk) driver AddFiles).
    initIndexOf(end) match {
      case Some(_) if start.isDefined &&
          start.flatMap(initIndexOf).isEmpty &&
          fromExclusive + 1 < log.earliestReplayableVersion =>
        // A PLAIN version start below the snapshot floor is a restarted
        // (or mid-run-lapped) consumer whose versions log retention
        // aged out — the SAME data-loss decision the unthrottled
        // version path makes below. Re-delivering the whole floor
        // snapshot in chunks would silently duplicate every
        // already-consumed row; surface the loss (or, with
        // failOnDataLoss=false, fall through to the version path,
        // which resumes from the floor WITHOUT snapshot re-delivery).
        if (failOnDataLoss) {
          val floor = log.earliestReplayableVersion
          throw new IllegalStateException(
            s"lake streaming source at $tablePath: versions " +
            s"(${fromExclusive + 1}..${floor - 1}) were removed by log " +
            "retention while this consumer lagged; their rows cannot " +
            "be replayed. Set failOnDataLoss=false to continue from " +
            s"the earliest replayable version ($floor).")
        }
        // fall to the version path below (replayFrom = floor - 1)
      case Some(toIdx) =>
        val initV = toInclusive
        // trust the start cursor only when it counts against THIS
        // pinned version — a cursor from an older pinned snapshot
        // (floor advanced between the checkpointed batch and this
        // one) indexes a differently-sorted list; restart at 0
        // (at-least-once) rather than skip files (loss)
        val fromIdx = start.flatMap(initIndexOf)
          .filter(_ => start.forall(s => versionOf(s) == initV))
          .getOrElse(0L)
        val all = initStateFor(initV)
        val chunk = addsForChunk(initV, all.paths.view
          .slice(fromIdx.toInt, toIdx.toInt).toSeq)
        // catch the cursor up to BOTH ends (the version-offset rule):
        // a restart replay may hand a start at or past the end, and
        // the cursor must recover from it rather than re-offer
        // already-committed chunks
        val through = math.max(fromIdx, toIdx)
        initIndexDelivered = math.max(initIndexDelivered, through)
        if (through >= all.size) {
          // snapshot fully delivered: advance the version cursor and
          // release the chunk index — steady state retains nothing
          deliveredThrough = math.max(deliveredThrough, initV)
          initState = None
        }
        return deliverFiles(chunk, initV,
          s"initial snapshot files [$fromIdx, $toIdx) at version $initV")
      case None => ()
    }
    val adds = Seq.newBuilder[AddFile]
    // Versions below the replay floor have no log files (log
    // retention); their surviving effect is the snapshot at the floor.
    // A FRESH stream (no checkpointed start) delivers that snapshot as
    // its initial batch — the default "all existing data" contract on
    // a mature table. A RESTARTED stream finding its cursor below the
    // floor has genuinely lost versions (retention outran the
    // consumer): that is the data-loss decision, not a silent skip.
    val floor = log.earliestReplayableVersion
    var replayFrom = fromExclusive
    if (fromExclusive + 1 < floor) {
      if (start.isEmpty && toInclusive >= floor) {
        // wholesale (unthrottled) initial snapshot: list through the
        // columnar index when the table has a manifest checkpoint —
        // distributed part decode instead of a driver replay
        adds ++= (columnarIdx(floor) match {
          case Some(idx) => idx.candidatesFor(Nil)
          case None => log.snapshot(floor).files
        })
        replayFrom = floor
      } else if (start.isEmpty) {
        // Restart replay of a batch delivered BEFORE retention aged
        // its versions out (the engine re-runs the first batch's
        // getBatch(None, end) on recovery): those versions are gone
        // and — if the batch was committed — already consumed, so
        // there is nothing to produce. If it was NOT committed, the
        // NEXT batch's cursor is still below the floor and the
        // start-defined branch below surfaces the loss loudly.
        replayFrom = toInclusive
      } else if (failOnDataLoss) {
        throw new IllegalStateException(
          s"lake streaming source at $tablePath: versions " +
          s"(${fromExclusive + 1}..${floor - 1}) were removed by log " +
          "retention while this consumer lagged; their rows cannot be " +
          "replayed. Set failOnDataLoss=false to continue from the " +
          s"earliest replayable version ($floor).")
      } else replayFrom = floor - 1
    }
    ((replayFrom + 1) to toInclusive).foreach { v =>
      val actions = log.readVersion(v)
      // Bloom index build/drop commits re-add EVERY live file
      // changing only skipping metadata (no row appended, deleted or
      // modified); classifying those AddFiles as fresh data would
      // re-deliver the whole table to the stream. Skip wholesale —
      // engine-defined operation names, within-protocol.
      val metadataOnlyReadd = actions
        .collectFirst { case c: graft.lake.CommitInfo => c.operation }
        .exists(graft.lake.LakeTable.METADATA_ONLY_READD_OPS)
      // A DV-carrying re-add is a change commit even without a
      // RemoveFile (a deletion-vector DELETE supersedes the file's
      // entry in place); treating its AddFile as fresh appended data
      // would re-deliver the whole file. Count it with the removes.
      val dvAdds = actions.collect {
        case a: AddFile if a.dvPath.isDefined => a }
      val removes = actions.collect { case r: RemoveFile => r } ++
        dvAdds.map(a => RemoveFile(a.path, 0L))
      val versionAdds = actions.collect {
        case a: AddFile if a.dvPath.isEmpty => a }
      if (metadataOnlyReadd) {
        // nothing delivered, no option needed: the commit is not a
        // change commit at the ROW level at all
      } else if (removes.nonEmpty && skipChangeCommits) {
        // Delta's skipChangeCommits: a commit that removed files is
        // skipped WHOLESALE — none of its AddFiles are delivered (vs
        // ignoreChanges, which re-emits them). The stream stays
        // append-pure at the cost of missing rows DML inserted.
      } else if (removes.nonEmpty && !ignoreChanges) {
        // Delete-only commits (no AddFiles) are tolerated iff
        // ignoreDeletes; rewrites (removes AND adds) always need
        // ignoreChanges — silently dropping their AddFiles would lose
        // MERGE-inserted/updated rows from the stream.
        if (versionAdds.nonEmpty || !ignoreDeletes) {
          throw new IllegalStateException(
            s"lake streaming source at $tablePath found a non-append " +
            s"commit at version $v (${removes.size} file removals). " +
            "Set ignoreDeletes=true to skip delete-only commits, or " +
            "ignoreChanges=true to also pass rewrites through " +
            "(re-emits rewritten files' rows).")
        }
      }
      // For rewrites under ignoreChanges, Delta semantics: deliver the
      // commit's AddFiles as-is. For delete-only commits nothing is
      // delivered. Plain appends deliver their AddFiles.
      // skipChangeCommits suppresses every remove-carrying commit;
      // metadata-only re-adds deliver nothing ever.
      if (!metadataOnlyReadd &&
          (removes.isEmpty || (ignoreChanges && !skipChangeCommits)))
        adds ++= versionAdds
    }
    // Catch the cursor up to BOTH ends: on restart the engine replays
    // the checkpointed range before our internal state knows about it.
    deliveredThrough =
      math.max(deliveredThrough, math.max(fromExclusive, toInclusive))
    deliverFiles(adds.result(), toInclusive,
      s"versions (${fromExclusive + 1}..$toInclusive]")
  }

  /** Materialize one micro-batch from `allAdds` at `toInclusive`:
    * vacuum-loss probe, schema pin + evolution guards, pseudo-snapshot
    * scan. `rangeDesc` names the delivered range in data-loss errors.
    */
  private def deliverFiles(allAdds: Seq[AddFile], toInclusive: Long,
      rangeDesc: String): DataFrame = {
    // A lagging consumer can reference files VACUUM already deleted.
    // Surface that as an explicit data-loss decision, not a mid-scan
    // task failure: fail by default, or skip with failOnDataLoss=false.
    // Small batches probe through the storage seam on the driver;
    // above the threshold (an unthrottled first batch over a large
    // backlog) the probe distributes — O(table) serial driver stats
    // is the cost Snapshot.toDF explicitly avoids for current reads.
    val missingPaths: Set[String] =
      if (allAdds.size <= LakeStreamSource.DISTRIBUTED_PROBE_MIN_FILES)
        allAdds.iterator.map(_.path).filterNot(p =>
          graft.lake.DataStore.current
            .exists(LakeLog.resolveFile(tablePath, p))).toSet
      else {
        val tp = tablePath
        spark.sparkContext
          .parallelize(allAdds.map(_.path), 64)
          .filter(p => !graft.lake.DataStore.current.exists(
            LakeLog.resolveFile(tp, p)))
          .collect().toSet
      }
    val (missing, present) = allAdds.partition(f => missingPaths(f.path))
    if (missing.nonEmpty && failOnDataLoss) {
      throw new IllegalStateException(
        s"lake streaming source at $tablePath: ${missing.size} file(s) " +
        s"in $rangeDesc no longer " +
        s"exist (first: ${missing.head.path}) — likely removed by " +
        "VACUUM while this consumer lagged. Set failOnDataLoss=false " +
        "to skip the lost files and continue.")
    }
    val files = present
    if (files.isEmpty) {
      StreamingShim.streamingDataFrame(spark,
        spark.sparkContext.emptyRDD, schema)
    } else {
      // read through the snapshot relation (log-sourced partition
      // values; shallow-cloned absolute paths work unchanged), pinned
      // to the source's declared schema so mid-range evolution
      // null-fills instead of shifting columns. The relation emits
      // rows in dataSchema ++ partitionSchema order — re-select into
      // DECLARED order before the positional streaming relabel, or a
      // partition column anywhere but last silently swaps columns.
      // Metadata-light (round 15): this ran log.snapshot(toInclusive)
      // — a FULL file-list replay per micro-batch just for the
      // version's metadata/protocol; the pseudo snapshot only ever
      // carries THIS BATCH's files.
      val (metaAt, protocolAt, domainsAt) =
        graft.lake.Snapshot.replayMeta(log, toInclusive)
      graft.lake.LakeProtocol.assertReadable(protocolAt, tablePath)
      // the pinned schema must stay the TABLE schema — the row-id
      // column is computed by the read path, never a stored column
      val tableSchema =
        if (withRowIds) StructType(schema.fields.dropRight(1)) else schema
      // a TYPE change (widening) after this stream started makes
      // post-change files unreadable through the pinned narrow schema
      // (narrowing parquet reads are unsupported) — stop with a clear
      // schema-changed signal instead of a mid-batch decode crash.
      // Additive evolution keeps the existing null-fill contract.
      val schemaAt = StructType.fromDDL(metaAt.schemaDDL)
      tableSchema.fields.foreach { f =>
        schemaAt.fields.find(_.name == f.name).foreach { cur =>
          if (cur.dataType != f.dataType)
            throw new IllegalStateException(
              s"lake streaming source: column ${f.name} changed type " +
              s"${f.dataType.sql} -> ${cur.dataType.sql} after this " +
              "stream started; restart the streaming query to adopt " +
              "the new schema")
        }
      }
      val pseudo = graft.lake.Snapshot(log, toInclusive,
        metaAt.copy(schemaDDL = tableSchema.toDDL), files,
        Map.empty, protocolAt, domainsAt)
      val batch0 =
        if (withRowIds) LakeDataSource.snapshotDFWithRowIds(spark, pseudo)
        else LakeDataSource.snapshotDF(spark, pseudo)
      val batch = batch0
        .select(schema.fieldNames.map(
          n => org.apache.spark.sql.functions.col(s"`$n`")): _*)
      StreamingShim.streamingDataFrame(spark,
        batch.queryExecution.toRdd, schema)
    }
  }

  /** One change-feed micro-batch: the row-level changes of versions
    * (from, to], via the same plan as batch `changes()` — persisted
    * CDC parquet when the commit wrote it, read-time diff otherwise.
    * Delivered columns are pinned to the source's declared schema so
    * mid-stream evolution cannot shift them.
    */
  private def changeFeedBatch(
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    deliveredThrough =
      math.max(deliveredThrough, math.max(fromExclusive, toInclusive))
    if (fromExclusive + 1 > toInclusive) {
      return StreamingShim.streamingDataFrame(spark,
        spark.sparkContext.emptyRDD, schema)
    }
    val cdf = graft.lake.LakeTable.forPath(spark, tablePath)
      .changes(fromExclusive + 1, toInclusive)
      .select(schema.fieldNames.map(
        n => org.apache.spark.sql.functions.col(s"`$n`")): _*)
    StreamingShim.streamingDataFrame(spark,
      cdf.queryExecution.toRdd, schema)
  }

  private def versionOf(o: OffsetV1): Long = o match {
    case LakeStreamOffset(v) => v
    case LakeStreamInitOffset(v, _) => v
    case other => // SerializedOffset on restart: "v" or "v#fileIndex"
      val s = other.json().trim
      val h = s.indexOf('#')
      (if (h >= 0) s.substring(0, h) else s).toLong
  }

  /** The initial-snapshot file index of a chunked offset; None for a
    * plain version offset.
    */
  private def initIndexOf(o: OffsetV1): Option[Long] = o match {
    case LakeStreamInitOffset(_, i) => Some(i)
    case LakeStreamOffset(_) => None
    case other =>
      val s = other.json().trim
      val h = s.indexOf('#')
      if (h >= 0) Some(s.substring(h + 1).toLong) else None
  }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()
}

object LakeStreamSource {
  /** Batch size above which the per-batch vacuum-loss probe runs as a
    * Spark job instead of serial driver stats.
    */
  var DISTRIBUTED_PROBE_MIN_FILES: Int = 2048
}

/** `df.writeStream.format("lake")` — micro-batch appends with the
  * idempotent Txn action, so a batch replayed after a crash between
  * lake commit and checkpoint advance is skipped (exactly-once). The
  * txn appId comes from `txnAppId` (preferred) or the checkpoint
  * location; with neither, writes are plain at-least-once appends.
  */
final class LakeStreamSink(
    tablePath: String,
    partitionColumns: Seq[String],
    options: Map[String, String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  private val txnAppId: Option[String] =
    options.get("txnAppId").orElse(options.get("checkpointLocation"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batchDF = StreamingShim.batchDataFrame(data)
    graft.lake.LakeWriter.write(
      batchDF, tablePath,
      partitionBy = partitionColumns,
      mergeSchema = options.get("mergeSchema").exists(_.toBoolean),
      operation = "STREAMING UPDATE",
      operationParameters = Map("batchId" -> batchId.toString),
      transaction = txnAppId.map(_ -> batchId))
    ()
  }

  override def toString: String = s"LakeStreamSink[$tablePath]"
}
