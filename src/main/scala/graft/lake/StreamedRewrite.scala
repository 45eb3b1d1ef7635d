package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The one staging-and-commit pipeline of DELETE, UPDATE and MERGE, on
  * copy-on-write and deletion-vector tables alike (the Delta paper's
  * DML protocol: find the touched files, rewrite them or mark their
  * rows, commit the removes and adds under optimistic conflict
  * checks). A command decides only WHICH rows change and how; this
  * object decides how the change is applied.
  *
  *  1. [[split]] turns the command's touched-path discovery frame into
  *     [[TouchedChunks]]. Below [[LakeTable.STREAMED_REWRITE_MIN_FILES]]
  *     touched files the source is RESIDENT: one `distinct().collect()`
  *     job, one chunk. Above it the source is DISTRIBUTED: the distinct
  *     path frame stays persisted and hands out bounded hash chunks,
  *     so a bulk DML on a 10⁷-file table never drags 10⁷ path strings
  *     plus their AddFiles (~7 GB) through the driver.
  *  2. [[rewrite]] asks the command for each chunk's [[Changes]] — a
  *     row-change frame marking every touched row keep, update or
  *     delete — and applies it: CDC, data files and deletion vectors
  *     are staged copy-on-write or merge-on-read as the table's
  *     properties say ([[mergeOnRead]]), and the staged actions SPILL
  *     to a driver-local file ([[Staged]]): the driver holds O(chunk)
  *     paths and AddFiles at any moment.
  *  3. The commit streams: tombstones re-derive from the touched
  *     source (or the spilled DV removes and re-adds) and the staged
  *     actions replay from the spill line by line
  *     ([[LakeWriter.commitWithRetry]] keeps the exact per-path
  *     conflict semantics by streaming OUR paths against the
  *     interleaved commits' — small — touched sets).
  *
  * Distributed chunk membership is `pmod(xxhash64(path), numChunks)` —
  * a deterministic, data-independent split, so re-deriving a chunk (or
  * the tombstone stream, or a commit retry) always yields the same
  * partition of the touched set.
  */
private[lake] object StreamedRewrite {

  /** High-water mark of simultaneously driver-resident touched paths
    * across all distributed rewrites — MetaScaleBench requires this
    * stays at O(chunk) while the touched count is table-sized.
    */
  private[graft] val peakDriverPaths =
    new java.util.concurrent.atomic.AtomicLong

  /** Count of rewrites whose touched source was distributed (test
    * hook).
    */
  private[graft] val chunkedRewrites =
    new java.util.concurrent.atomic.AtomicLong

  /** Test hook: runs after every chunk is staged and spilled,
    * immediately before the streamed commit — the crash window the
    * spill sweep exists for (StoreContractSuite kills here and
    * asserts the table is untouched and the staged files are gone).
    */
  private[graft] var onBeforeStreamedCommit: () => Unit = () => ()

  private def notePeak(n: Long): Unit = {
    var cur = peakDriverPaths.get()
    while (n > cur && !peakDriverPaths.compareAndSet(cur, n))
      cur = peakDriverPaths.get()
  }

  /** A DML's touched files, handed out in chunks of relativized paths. */
  sealed abstract class TouchedChunks {
    def count: Long
    /** True for the persisted, hash-chunked source. */
    def distributed: Boolean
    /** Run `f` over every NON-EMPTY chunk, one resident at a time;
      * `last` marks the final call (hash chunking can leave a chunk
      * empty when the chunk count is close to the path count — a
      * rewrite over zero files is a no-op).
      */
    def foreachChunk(f: (Int, Seq[String], Boolean) => Unit): Unit
    /** All touched paths as a chunk-buffered stream (the tombstone
      * source; resident window = one chunk).
      */
    def pathIterator(): Iterator[String]
    /** Predicate selecting chunk `i`'s rows of a frame keyed by the
      * RAW scan-reported file URI — a row lands with exactly its
      * file's chunk.
      */
    def memberOf(pathCol: Column, i: Int): Column
    def unpersist(): Unit
  }

  private final class Resident(paths: Seq[String]) extends TouchedChunks {
    def count: Long = paths.size.toLong
    def distributed: Boolean = false
    def foreachChunk(f: (Int, Seq[String], Boolean) => Unit): Unit =
      if (paths.nonEmpty) f(0, paths, true)
    def pathIterator(): Iterator[String] = paths.iterator
    def memberOf(pathCol: Column, i: Int): Column = lit(true)
    def unpersist(): Unit = ()
  }

  private final class Distributed(
      table: LakeTable, pathsDF: DataFrame, val count: Long)
      extends TouchedChunks {
    def distributed: Boolean = true
    private val numChunks: Int = math.max(1,
      ((count + LakeTable.REWRITE_CHUNK_FILES - 1) /
        LakeTable.REWRITE_CHUNK_FILES).toInt)
    private def chunkOf(pathCol: Column): Column =
      pmod(xxhash64(pathCol), lit(numChunks.toLong))

    private def chunk(i: Int): Seq[String] = {
      val rows = pathsDF
        .filter(chunkOf(col("__graft_touched")) === i.toLong)
        .collect()
      notePeak(rows.length.toLong)
      rows.map(r => table.relativize(r.getString(0))).toSeq
    }

    def foreachChunk(f: (Int, Seq[String], Boolean) => Unit): Unit = {
      // one small job names the non-empty chunks, so the last call is
      // known without holding a second chunk resident
      val ids = pathsDF.select(chunkOf(col("__graft_touched")))
        .distinct().collect().map(_.getLong(0).toInt).sorted
      ids.foreach(i => f(i, chunk(i), i == ids.last))
    }

    def pathIterator(): Iterator[String] =
      (0 until numChunks).iterator.flatMap(chunk)

    def memberOf(pathCol: Column, i: Int): Column =
      chunkOf(pathCol) === i.toLong

    def unpersist(): Unit = { pathsDF.unpersist(false); () }
  }

  /** The touched source of a DML that touches no file. */
  val noneTouched: TouchedChunks = new Resident(Nil)

  /** Touched-path discovery. `rawPathsDF` is a one-column frame of
    * scan-reported file URIs (possibly with duplicates — distinct
    * happens here). The source is distributed only when the live set
    * AND the touched count both clear
    * [[LakeTable.STREAMED_REWRITE_MIN_FILES]]; every Classic-plan table
    * (whose snapshot is driver-resident anyway) stays resident.
    */
  def split(table: LakeTable, plan: DmlPlan, rawPathsDF: DataFrame)
      : TouchedChunks = {
    val big = plan.isInstanceOf[DmlPlan.Columnar] &&
      plan.liveFileCountHint >= LakeTable.STREAMED_REWRITE_MIN_FILES
    val named = rawPathsDF.toDF("__graft_touched")
    def resident(rows: Array[Row]): TouchedChunks =
      new Resident(rows.map(r => table.relativize(r.getString(0))).toSeq)
    // a table below the threshold cannot exceed it: one collect job
    if (!big) return resident(named.distinct().collect())
    val distinct = named.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = distinct.count()
    if (n < LakeTable.STREAMED_REWRITE_MIN_FILES) {
      try resident(distinct.collect())
      finally { distinct.unpersist(false); () }
    } else {
      chunkedRewrites.incrementAndGet()
      new Distributed(table, distinct, n)
    }
  }

  /** Whether DML on `plan`'s table marks rows in deletion vectors
    * (merge-on-read) instead of rewriting whole files (copy-on-write):
    * write volume O(changed rows) instead of O(touched files), so a
    * predicate touching 1 % of the rows in every file of 100 TB writes
    * MBs of index sidecars instead of rewriting the table.
    */
  def mergeOnRead(plan: DmlPlan): Boolean =
    LakeTable.dvEnabled(plan.metadata)

  /** Row-change kinds of a [[Changes]] frame's [[KIND]] column. */
  val KEEP = 0
  val UPDATE = 1
  val DELETE = 2
  /** The change kind column: [[KEEP]], [[UPDATE]] or [[DELETE]]. */
  val KIND = "__graft_kind"
  /** The row's `_metadata.file_path` — its deletion-vector identity. */
  val FILE = "__graft_file"
  /** The row's `_metadata.row_index`. */
  val IDX = "__graft_idx"
  /** Name of table column `name`'s postimage column. */
  def post(name: String): String = s"__graft_post_$name"

  /** One chunk's row changes, as a DML hands them to [[rewrite]].
    *
    * `rows` holds one row per touched target row — every row of the
    * chunk's files, or only the changed ones — with the columns
    *  - the table columns: the preimage;
    *  - [[post]]`(name)` per table column: the postimage (a keep row's
    *    equals its preimage);
    *  - [[KIND]];
    *  - [[FILE]] and [[IDX]];
    *  - [[RowTracking.COL]] on row-tracked tables, wherever rows can be
    *    written (a merge-on-read DELETE writes none).
    * It is None when the DML touches no file (an insert-only MERGE).
    * `updates` says whether any row can be an [[UPDATE]] (a DELETE's
    * cannot, so no postimage is ever read). `inserts` are new rows with
    * the table columns only; `verify` runs after the chunk's data and
    * CDC are staged and before its deletion vectors are.
    */
  final case class Changes(
      rows: Option[DataFrame],
      updates: Boolean,
      inserts: Option[DataFrame] = None,
      verify: () => Unit = () => ())

  /** One non-empty touched chunk (or, for a DML that touches no file,
    * the one empty call): its relativized `paths`, its subset snapshot
    * `snap`, and whether it is the `last`. [[evaluated]] frames are
    * released once the chunk is staged.
    */
  final class Chunk private[StreamedRewrite] (table: LakeTable,
      val index: Int, val paths: Seq[String], val snap: Snapshot,
      val last: Boolean) {
    private val releases = scala.collection.mutable.Buffer.empty[() => Unit]

    /** `raw` evaluated once for the rest of this chunk's staging. */
    def evaluated(raw: DataFrame): DataFrame = {
      val (df, release) = evaluate(table, raw)
      releases += release
      df
    }

    private[StreamedRewrite] def release(): Unit = releases.foreach(_())
  }

  /** `raw` evaluated exactly once for all its consumers — data files,
    * CDC pre- and postimages, deletion vectors, checks — with its
    * release:
    *  - deterministic: persisted MEMORY_AND_DISK. A lost block
    *    recomputes identically, and per-block spill bounds memory (an
    *    A/B on the 4-MERGE medallion batch measured DISK_ONLY ~8 %
    *    slower, 5.34 vs 4.95 s min-of-6);
    *  - non-deterministic (rand(), uuid(), current_timestamp, anywhere
    *    in the plan): written to parquet scratch in a `.staging-<uuid>`
    *    dir of the table, which [[LakeTable.vacuum]] sweeps if a crash
    *    orphans it — cache blocks are best-effort, and a recompute
    *    would diverge between the data files and the CDC files.
    */
  private def evaluate(table: LakeTable, raw: DataFrame)
      : (DataFrame, () => Unit) =
    if (raw.queryExecution.analyzed.exists(
        _.expressions.exists(!_.deterministic))) {
      val dir = java.nio.file.Paths.get(table.tablePath,
        s".staging-${java.util.UUID.randomUUID()}")
      raw.write.parquet(dir.toString)
      (table.spark.read.parquet(dir.toString),
        () => LakeWriter.deleteRecursively(dir))
    } else {
      val df = raw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (df, () => { df.unpersist(false); () })
    }

  /** [[evaluate]] for a frame that outlives one chunk: `body` runs on
    * the evaluated frame, which is released after it.
    */
  def withEvaluated[A](table: LakeTable, raw: DataFrame)(
      body: DataFrame => A): A = {
    val (df, release) = evaluate(table, raw)
    try body(df) finally release()
  }

  /** Apply `changesOf` chunk by chunk and commit the result as one
    * version. `changesOf` runs once per non-empty chunk; a DML that
    * touches no file gets one call with an empty chunk (MERGE's
    * insert-only shape). Per chunk, after the table's CHECK constraints
    * are enforced on every updated and inserted row:
    *  - CDC, on its own thread: the preimage of every update and delete
    *    row, the postimage of every update row, and the inserts;
    *  - data files: copy-on-write writes the postimages of the keep and
    *    update rows, merge-on-read those of the update rows only; both
    *    write the inserts;
    *  - merge-on-read only: deletion vectors for the update and delete
    *    rows ([[LakeTable.stageDeletionVectors]]).
    * Copy-on-write commits tombstone every touched path; merge-on-read
    * commits the spilled full-dead removes and DV re-adds, and
    * conflicts on exactly those paths. On any failure every staged file
    * is swept and the table is left as it was.
    */
  def rewrite(table: LakeTable, plan: DmlPlan, chunks: TouchedChunks,
      operation: String, params: Map[String, String],
      txn: Option[(String, Long)] = None)(
      changesOf: Chunk => Changes): Unit = {
    val dv = mergeOnRead(plan)
    val staged = new Staged(table, LakeTable.cdfEnabled(plan.metadata))
    def stage(i: Int, paths: Seq[String], last: Boolean): Unit = {
      val chunk = new Chunk(table, i, paths, plan.subset(paths), last)
      try stageChanges(table, plan, dv, chunk, changesOf(chunk), staged)
      finally chunk.release()
    }
    try {
      try {
        if (chunks.count == 0) stage(0, Nil, true)
        else chunks.foreachChunk(stage)
        onBeforeStreamedCommit()
        val now = System.currentTimeMillis()
        val allParams = params ++
          (if (dv) Map("deletionVectors" -> staged.dvAdds.toString)
           else Map.empty) ++
          (if (chunks.distributed) Map("streamedRewrite" -> "true")
           else Map.empty)
        val ourPaths = scala.collection.View.fromIteratorProvider(() =>
          if (!dv) chunks.pathIterator()
          else staged.dv.iterator().collect {
            case r: RemoveFile => r.path
            case a: AddFile => a.path
          })
        val bulk = () =>
          (if (dv) staged.dv.iterator()
           else chunks.pathIterator().map(p => RemoveFile(p, now): Action)) ++
            staged.data.iterator()
        LakeWriter.commitWithRetry(table.log, plan.version, ourPaths,
          bulk) { _ =>
          table.assertMetadataUnchangedAt(plan.version, plan.metadata,
            operation)
          // idempotent-writer re-check on every attempt: a concurrent
          // twin of the same app landing this txn mid-stage means its
          // commit IS this one's effect
          txn.foreach { case (a, v) =>
            if (table.log.latestVersion > plan.version &&
                Snapshot.replayMetaTxns(table.log, table.log.latestVersion)
                  ._4.get(a).exists(_ >= v))
              throw new TxnAlreadyCommittedException(a, v)
          }
          Seq(CommitInfo(now, operation, allParams)) ++
            txn.map { case (a, v) => Txn(a, v) }
        }
        ()
      } catch { case e: Throwable =>
        staged.sweep()
        throw e
      }
    } finally {
      staged.delete()
      chunks.unpersist()
    }
  }

  /** Stage one chunk's [[Changes]] (see [[rewrite]]). */
  private def stageChanges(table: LakeTable, plan: DmlPlan, dv: Boolean,
      chunk: Chunk, changes: Changes, staged: Staged): Unit = {
    val meta = plan.metadata
    val fields = plan.schema.fields.toSeq
    val kind = col(KIND)
    def pre(df: DataFrame): DataFrame =
      df.select(fields.map(f => col(s"`${f.name}`")): _*)
    def postimage(df: DataFrame, withId: Boolean): DataFrame =
      df.select(fields.map(f => col(s"`${post(f.name)}`").as(f.name)) ++
        (if (withId) Seq(col(s"`${RowTracking.COL}`")) else Nil): _*)
    def union(dfs: Seq[DataFrame]): Option[DataFrame] =
      dfs.reduceOption(_.unionByName(_, allowMissingColumns = true))
    val Changes(rows, updates, inserts, verify) = changes
    val updated = rows.filter(_ => updates).map(_.filter(kind === UPDATE))
    val written =
      if (dv) updated else rows.map(_.filter(kind =!= DELETE))
    if (meta.constraints.nonEmpty)
      union(updated.map(postimage(_, withId = false)).toSeq ++ inserts)
        .foreach(LakeWriter.enforceConstraints(_, meta.constraints,
          table.tablePath))
    if (rows.nonEmpty || inserts.nonEmpty)
      staged.startCdc("graft-dml-cdc-stage") {
        union(
          rows.map(r => pre(r.filter(kind =!= KEEP))
            .withColumn("_change_type", lit("delete"))).toSeq ++
          (updated.map(postimage(_, withId = false)) ++ inserts)
            .map(_.withColumn("_change_type", lit("insert")))).get
      }
    val rt = RowTracking.enabled(meta.properties)
    // on row-tracked tables rewritten rows carry their ids into the new
    // files; inserted rows lack the column (null-filled) and read fresh
    // ids from their file's baseRowId block
    union(written.map(postimage(_, withId = rt)).toSeq ++ inserts)
      .foreach { df =>
        staged.data.append(LakeWriter.writeFiles(df, table.tablePath,
          plan.partitionColumns, ColumnMapping.overrides(meta),
          meta.properties, computeLight = true))
      }
    staged.joinCdc()
    verify()
    if (dv) rows.foreach { r =>
      staged.dvAdds += table.stageDeletionVectors(chunk.snap, chunk.paths,
        r.filter(kind =!= KEEP).select(col(FILE), col(IDX)), staged.dv)
    }
  }

  /** What one [[rewrite]] has staged so far: data AddFiles and
    * CdcFiles in `data`, merge-on-read removes and DV re-adds in `dv`,
    * and the CDC stage of the current chunk, which runs on its own
    * thread so it overlaps the chunk's data and DV staging.
    */
  private final class Staged(table: LakeTable, cdf: Boolean) {
    val data = new ActionSpill
    val dv = new ActionSpill
    var dvAdds = 0L
    private var cdcTask: Option[java.util.concurrent.FutureTask[Seq[CdcFile]]] =
      None
    private val cdcDirs =
      scala.collection.mutable.Buffer.empty[java.nio.file.Path]

    /** Launch `df`'s CDC stage on its own thread (no-op when the
      * table's change feed is off); [[joinCdc]] collects it.
      */
    def startCdc(name: String)(df: => DataFrame): Unit = if (cdf) {
      val dir = LakeWriter.newCdcDir(table.tablePath)
      cdcDirs += dir
      cdcTask = Some(LakeWriter.inParallel(name) {
        LakeWriter.stageCdc(df, table.tablePath, dir)
      })
    }

    def joinCdc(): Unit = cdcTask.foreach { t =>
      data.append(LakeWriter.awaitTask(t))
      cdcTask = None
    }

    /** Failure sweep: settle the in-flight CDC stage, then delete every
      * staged data file, bloom sidecar and DV sidecar the spills name,
      * and every CDC dir with its committer crumbs. Never throws.
      */
    def sweep(): Unit = {
      cdcTask.foreach(t =>
        try { LakeWriter.awaitTask(t); () } catch { case _: Throwable => () })
      data.sweep(table.tablePath)
      dv.sweep(table.tablePath, dvOnly = true)
      cdcDirs.foreach(d =>
        LakeWriter.sweepStaged(table.tablePath, Nil, Some(d)))
    }

    def delete(): Unit = { data.delete(); dv.delete() }
  }

  /** Spill file for the staged actions of an in-flight rewrite:
    * action JSON lines on the driver's local disk — O(1) heap while
    * writing, O(line) while replaying into the commit.
    */
  final class ActionSpill {
    private val file = java.nio.file.Files.createTempFile(
      "graft-rewrite-spill-", ".jsonl")
    private val out = java.nio.file.Files.newBufferedWriter(
      file, java.nio.charset.StandardCharsets.UTF_8)
    private var closed = false

    def append(actions: Seq[Action]): Unit = synchronized {
      require(!closed, "spill already sealed")
      actions.foreach { a => out.write(Action.toJson(a)); out.newLine() }
    }

    private def seal(): Unit = synchronized {
      if (!closed) { out.close(); closed = true }
    }

    /** Replay the spilled actions (seals the spill first). Re-invocable
      * — each call opens its own reader (commit retries re-pull the
      * bulk stream); the reader closes at exhaustion, and a deleted
      * still-open spill is harmless on POSIX.
      */
    def iterator(): Iterator[Action] = {
      seal()
      import scala.jdk.CollectionConverters._
      val reader = java.nio.file.Files.newBufferedReader(
        file, java.nio.charset.StandardCharsets.UTF_8)
      new Iterator[Action] {
        private val it = reader.lines().iterator().asScala
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) reader.close()
          h
        }
        def next(): Action = Action.fromJson(it.next())
      }
    }

    /** Failure sweep: delete every staged data file and bloom sidecar
      * the spill references (CDC files go with their dirs,
      * [[Staged.sweep]]). Never throws.
      *
      * `dvOnly` is for a spill holding merge-on-read actions
      * (RemoveFiles + DV re-adds): a DV re-add's `path` is a LIVE
      * pre-existing data file — only its freshly staged DV sidecar
      * may be deleted on failure.
      */
    def sweep(tablePath: String, dvOnly: Boolean = false): Unit = {
      try iterator().foreach { a =>
        val rels: Seq[String] = a match {
          case add: AddFile if dvOnly => add.dvPath.toSeq
          case add: AddFile => add.path +: add.bloomPath.toSeq
          case _ => Nil
        }
        rels.foreach { rel =>
          try {
            DataStore.current.deleteIfExists(
              java.nio.file.Paths.get(tablePath, rel)); ()
          } catch { case _: java.io.IOException => () }
        }
      } catch { case _: Throwable => () }
    }

    def delete(): Unit = {
      seal()
      try { java.nio.file.Files.deleteIfExists(file); () }
      catch { case _: java.io.IOException => () }
    }
  }
}
