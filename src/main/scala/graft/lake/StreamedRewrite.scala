package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The one staging-and-commit pipeline of DELETE, UPDATE and MERGE, on
  * copy-on-write and deletion-vector tables alike (the Delta paper's
  * DML protocol: find the touched files, rewrite them or mark their
  * rows, commit the removes and adds under optimistic conflict
  * checks).
  *
  *  1. [[split]] turns the touched-path discovery frame into
  *     [[TouchedChunks]]. Below [[LakeTable.STREAMED_REWRITE_MIN_FILES]]
  *     touched files the source is RESIDENT: one `distinct().collect()`
  *     job, one chunk. Above it the source is DISTRIBUTED: the distinct
  *     path frame stays persisted and hands out bounded hash chunks,
  *     so a bulk DML on a 10⁷-file table never drags 10⁷ path strings
  *     plus their AddFiles (~7 GB) through the driver.
  *  2. [[rewrite]] runs the DML's staging body once per chunk. Per
  *     chunk, the AddFiles arrive via `plan.subset` (the columnar
  *     index's path-filtered fetch on big tables), the chunk's rows
  *     are rewritten or marked, and the staged AddFile/CdcFile/DV
  *     actions SPILL to a driver-local file ([[Staged]]): the driver
  *     holds O(chunk) paths and AddFiles at any moment.
  *  3. The commit streams: tombstones re-derive from the touched
  *     source and the staged actions replay from the spill line by
  *     line ([[LakeWriter.commitWithRetry]] keeps the exact per-path
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

  /** Stage `chunks` with `stageChunk` and commit the result as one
    * version. `stageChunk(i, paths, snapC, last, staged)` runs once per
    * non-empty chunk with the chunk's subset snapshot; a DML that
    * touches no file runs it once with no paths (MERGE's insert-only
    * shape). Copy-on-write commits tombstone every touched path;
    * `dvMode` commits the spilled full-dead removes and DV re-adds
    * instead, and conflicts on exactly those paths. On any failure
    * every staged file is swept and the table is left as it was.
    */
  def rewrite(table: LakeTable, plan: DmlPlan, chunks: TouchedChunks,
      operation: String, params: Map[String, String],
      dvMode: Boolean = false, txn: Option[(String, Long)] = None)(
      stageChunk: (Int, Seq[String], Snapshot, Boolean, Staged) => Unit)
      : Unit = {
    val staged = new Staged(table, LakeTable.cdfEnabled(plan.metadata))
    try {
      try {
        if (chunks.count == 0) stageChunk(0, Nil, plan.subset(Nil), true,
          staged)
        else chunks.foreachChunk { (i, paths, last) =>
          stageChunk(i, paths, plan.subset(paths), last, staged)
        }
        onBeforeStreamedCommit()
        val now = System.currentTimeMillis()
        val allParams = params ++
          (if (dvMode) Map("deletionVectors" -> staged.dvAdds.toString)
           else Map.empty) ++
          (if (chunks.distributed) Map("streamedRewrite" -> "true")
           else Map.empty)
        val ourPaths = scala.collection.View.fromIteratorProvider(() =>
          if (!dvMode) chunks.pathIterator()
          else staged.dv.iterator().collect {
            case r: RemoveFile => r.path
            case a: AddFile => a.path
          })
        val bulk = () =>
          (if (dvMode) staged.dv.iterator()
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

  /** What one [[rewrite]] has staged so far: data AddFiles and
    * CdcFiles in `data`, merge-on-read removes and DV re-adds in `dv`,
    * and the CDC stage of the current chunk, which runs on its own
    * thread so it overlaps the chunk's data and DV staging.
    */
  final class Staged private[StreamedRewrite] (
      table: LakeTable, cdf: Boolean) {
    val data = new ActionSpill
    val dv = new ActionSpill
    private[StreamedRewrite] var dvAdds = 0L
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

    /** Stage a chunk's deletion vectors into `dv`. */
    def stageDv(snapC: Snapshot, paths: Seq[String], pairs: DataFrame)
        : Unit =
      dvAdds += table.stageDeletionVectors(snapC, paths, pairs, dv)

    /** Failure sweep: settle the in-flight CDC stage, then delete every
      * staged data file, bloom sidecar and DV sidecar the spills name,
      * and every CDC dir with its committer crumbs. Never throws.
      */
    private[StreamedRewrite] def sweep(): Unit = {
      cdcTask.foreach(t =>
        try { LakeWriter.awaitTask(t); () } catch { case _: Throwable => () })
      data.sweep(table.tablePath)
      dv.sweep(table.tablePath, dvOnly = true)
      cdcDirs.foreach(d =>
        LakeWriter.sweepStaged(table.tablePath, Nil, Some(d)))
    }

    private[StreamedRewrite] def delete(): Unit = { data.delete(); dv.delete() }
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
