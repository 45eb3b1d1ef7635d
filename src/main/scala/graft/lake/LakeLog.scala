package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption, NoSuchFileException}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The transaction log of one lake table: `<table>/_lake_log/NNN...N.json`,
  * one numbered JSON-lines file per version (Delta-protocol layout,
  * SURVEY §7.1). Commits are atomic: write a temp file, then
  * `ATOMIC_MOVE` into place; the move fails if the version already
  * exists, which is the optimistic-concurrency conflict signal.
  */
final class LakeLog(val tablePath: String) {
  import LakeLog._

  /** All log-critical storage I/O goes through the [[LogStore]] seam
    * (commit publish, sidecar replace, listing, reads) — the local
    * default preserves POSIX semantics; an object-store port swaps
    * [[LogStore.current]] without touching this class.
    */
  private[graft] def store: LogStore = LogStore.current

  val logDir: Path = Paths.get(tablePath, LOG_DIR)

  def exists: Boolean = latestVersion >= 0

  /** Highest committed version, or -1 for a nonexistent table. */
  def latestVersion: Long =
    listVersionFiles.lastOption.map(versionOf).getOrElse(-1L)

  def listVersionFiles: Seq[Path] =
    store.listDir(logDir)
      .filter(p => VERSION_FILE_RE.matches(p.getFileName.toString))
      .sortBy(_.getFileName.toString)

  def readVersion(version: Long): Seq[Action] = {
    LakeLog.readVersionCalls.incrementAndGet()
    val p = versionFile(version)
    if (!store.exists(p))
      throw new NoSuchFileException(
        s"version $version does not exist for lake table at $tablePath")
    store.readLinesStream(p)(
      _.map(_.trim).filter(_.nonEmpty).map(Action.fromJson).toVector)
  }

  /** Atomically commit `head ++ bulk` as `version`. Throws
    * [[ConcurrentWriteException]] if that version was already written.
    *
    * `head` holds the resident actions — every action of an ordinary
    * commit, or the small ones (CommitInfo, Metadata, Txn) of a
    * table-sized one. `bulk` streams the rest (a DML's tombstones and
    * staged adds, RESTORE's re-adds) straight into the version-file
    * write: the driver holds one source chunk and one serialized line
    * at a time, never the whole action list or its JSON. The factory
    * is re-invoked for the ambiguity readback and must be
    * deterministic for a given version.
    *
    * Every commit passes here, so three things happen here and nowhere
    * else:
    *  - the writer protocol gate and row-id assignment
    *    ([[RowTracking.stamp]]) against the parent's metadata-light
    *    state ([[Snapshot.replayMeta]] — never the parent's file list,
    *    which would make every commit O(table)). A version collision
    *    sends the caller back through here, so a retry re-stamps from
    *    the WINNING commit's high-water mark and racing appends never
    *    carve overlapping id blocks. Version 0 has no parent: no gate;
    *  - the in-commit timestamp clamp (Delta's inCommitTimestamps): a
    *    CommitInfo in `head` is moved to strictly after the previous
    *    commit's, so history order == timestamp order under
    *    same-millisecond bursts or writer clock skew. The previous
    *    version is read only up to its first CommitInfo line (its
    *    mtime if it has none);
    *  - every [[LakeLog.CHECKPOINT_INTERVAL]] commits, a checkpoint of
    *    the replayed state, so snapshot construction stays O(1) in
    *    table age.
    */
  def commit(version: Long, head: Seq[Action],
      bulk: () => Iterator[Action] = () => Iterator.empty): Unit = {
    // No direct filesystem calls here: putIfAbsent prepares its own
    // directory, so the whole commit path rides the LogStore seam.
    val target = versionFile(version)
    if (store.exists(target)) throw new ConcurrentWriteException(version)
    val (parentMeta, parentDomains) =
      if (version == 0) (None, Map.empty[String, Map[String, String]])
      else {
        val (meta, protocol, domains) = Snapshot.replayMeta(this, version - 1)
        LakeProtocol.assertWritable(protocol, tablePath)
        (Some(meta), domains)
      }
    val headStamped =
      if (version == 0 || !head.exists(_.isInstanceOf[CommitInfo])) head
      else {
        val prevTs = firstCommitInfoTimestamp(version - 1)
          .orElse(store.stat(versionFile(version - 1)).map(_._2))
          .getOrElse(Long.MinValue)
        head.map {
          case c: CommitInfo if c.timestamp <= prevTs =>
            c.copy(timestamp = prevTs + 1)
          case a => a
        }
      }
    // the meta-bearing actions of the last write pass, for the
    // metadata-light cache seed below (O(meta actions), not O(bulk))
    val metaSeen = scala.collection.mutable.ArrayBuffer.empty[Action]
    def lines(): Iterator[String] = {
      metaSeen.clear()
      RowTracking.stamp(parentMeta, parentDomains, headStamped, bulk())
        .map { a =>
          a match {
            case _: Metadata | _: Protocol | _: DomainMetadata | _: Txn =>
              metaSeen += a
            case _ => ()
          }
          Action.toJson(a)
        }
    }
    // Exclusive publish — put-if-absent is THE commit primitive:
    // whoever wins the version file name owns the version. Object
    // stores add one failure mode POSIX doesn't have: an AMBIGUOUS
    // put — the request times out but the object landed. Blindly
    // retrying at the next version would then commit the same actions
    // twice (the classic S3 double-commit), so ambiguity is resolved
    // by content: on conflict, read the winner back — if it is
    // byte-identical to what we wrote, OUR earlier put landed and the
    // commit succeeded (commits carry fresh timestamps/uuid paths, so
    // accidental equality with another writer is not a real case).
    var published = false
    var ioRetries = 0
    while (!published) {
      try { store.putIfAbsent(target, lines()); published = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // The name is taken — by another writer, or by our OWN
          // earlier put that landed despite its timeout. The readback
          // that distinguishes them can itself fail transiently, and
          // a failed read MUST NOT be classified as "lost the race":
          // callers treat ConcurrentWriteException as a clean loss,
          // and for rewrite commits that cascades into retrying
          // against our own landed RemoveFiles and sweeping staged
          // data files the landed commit references. Retry the read;
          // if it stays unreadable surface the I/O error as what it
          // is — an ambiguous commit — instead of a fake conflict.
          val same = readbackWithRetry(target).iterator
            .zipAll(lines(), null, null)
            .forall { case (a, b) => a == b }
          if (same) published = true
          else throw new ConcurrentWriteException(version)
        case _: java.io.IOException if ioRetries < MAX_PUT_RETRIES =>
          ioRetries += 1 // may or may not have landed; the retry's
                         // conflict + readback above resolves it
      }
    }
    // seed the metadata-light cache at the NEW version from the
    // parent's tuple + this commit's own meta actions: the next
    // commit's parent fold — and this boundary's checkpoint meta walk
    // — then reads no version file at all (pure optimization; a cold
    // process walks files and re-primes the chain)
    try Snapshot.seedMetaAfterCommit(this, version, metaSeen.toSeq)
    catch { case NonFatal(_) => () }
    maintainAtBoundary(version)
  }

  /** At a [[LakeLog.CHECKPOINT_INTERVAL]] boundary: checkpoint, history
    * sidecar, aux cleanup — all three are optimizations only, so each
    * is best-effort and never fails the commit that triggered it.
    */
  private def maintainAtBoundary(version: Long): Unit =
    if (version > 0 && version % CHECKPOINT_INTERVAL == 0) {
      try writeCheckpoint(version)
      catch { case NonFatal(_) => () }
      try writeHistorySidecar(version)
      catch { case NonFatal(_) => () }
      try cleanupAuxFiles(version)
      catch { case NonFatal(_) => () }
    }

  /** Read `target` back for ambiguity resolution, retrying transient
    * I/O failures; the final failure propagates (NOT a conflict — see
    * the call site in [[commit]]).
    */
  private def readbackWithRetry(target: Path): Seq[String] = {
    var attempt = 0
    while (true) {
      try return store.readLines(target)
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > MAX_PUT_RETRIES) throw e
      }
    }
    Nil // unreachable
  }

  /** Timestamp of `version`'s CommitInfo, streaming the file and
    * stopping at the first CommitInfo line (commits write it first, so
    * this is normally one line regardless of how many AddFiles follow).
    * The cheap substring pre-filter skips JSON parsing of non-matches.
    */
  private def firstCommitInfoTimestamp(version: Long): Option[Long] = {
    val p = versionFile(version)
    if (!store.exists(p)) return None
    store.readLines(p).iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && l.contains("\"commitInfo\""))
      .map(Action.fromJson)
      .collectFirst { case c: CommitInfo => c.timestamp }
  }

  /** Log maintenance, run at checkpoint boundaries. ORDER MATTERS:
    * version-file retention first (it may WRITE an anchor checkpoint
    * and advance the oldest surviving version), then the aux sweep,
    * which drops checkpoints/history sidecars older than the newest
    * [[LakeLog.RETAINED_AUX]] — EXCEPT the anchor checkpoint the
    * oldest surviving version file replays from. Sidecars are pure
    * accelerators (history() reads the newest one, which is
    * cumulative), but each is O(live state)/O(commits) big, so at
    * CHECKPOINT_INTERVAL cadence an old table would otherwise carry
    * O(versions) of them. Total retained checkpoints stay bounded at
    * RETAINED_AUX + 1 (the rolling anchor).
    *
    * Serialized per table within the process: two interleaved
    * cleaners could otherwise sweep a checkpoint the other just wrote
    * as its anchor (list → anchor-exempt → delete is not atomic).
    * Cross-process cleaner overlap keeps a narrow version of that
    * window — same as Delta's metadata cleanup, which also lists and
    * deletes non-atomically; the exposure is two writers hitting
    * checkpoint boundaries in the same instant, and a later cleanup
    * self-heals once the horizon passes the next surviving checkpoint.
    */
  private[lake] def cleanupAuxFiles(latest: Long): Unit =
    LakeLog.cleanupLockFor(tablePath).synchronized {
      cleanupAuxFilesLocked(latest)
    }

  private def cleanupAuxFilesLocked(latest: Long): Unit = {
    val keepFrom = latest - (RETAINED_AUX - 1) * CHECKPOINT_INTERVAL
    try cleanupOldVersionFiles(latest, keepFrom)
    catch { case NonFatal(_) => () }
    // ONE listing serves the anchor probe and the sweep below — on an
    // object store each listing is a LIST round trip, and this runs
    // at every checkpoint boundary.
    val entries = store.listDir(logDir)
    val names = entries.map(_.getFileName.toString)
    val oldestVersion = names.filter(VERSION_FILE_RE.matches)
      .minOption.map(_.stripSuffix(".json").toLong)
    // The anchor: the newest checkpoint at or below the oldest
    // surviving version file. Once v0 is gone, every version in
    // [anchor, keepFrom) replays only from it — deleting it would
    // strand all of them (unreplayable yet younger than the log
    // retention horizon), silently shrinking time-travel depth from
    // the documented 30 days to RETAINED_AUX*CHECKPOINT_INTERVAL
    // commits.
    val anchor: Option[Long] = oldestVersion match {
      case Some(0L) | None => None // full prefix: no anchor needed
      case Some(s) => checkpointVersionsIn(names).filter(_ <= s).maxOption
    }
    // The newest sidecar is exempt from the age sweep: sidecar writes
    // are best-effort (a NonFatal failure at RETAINED_AUX consecutive
    // checkpoint boundaries is swallowed), so without the exemption
    // the sweep could delete the LAST sidecar while no newer one
    // exists — and once retention has also dropped version 0, history
    // rebuild and timestamp travel would have no base to read from.
    val newestHistory = names.filter(HISTORY_FILE_RE.matches)
      .map(_.stripSuffix(".history.json").toLong).maxOption
    entries.foreach { p =>
      val n = p.getFileName.toString
      def ckptStale(v: Long) = v < keepFrom && !anchor.contains(v)
      val stale =
        (CHECKPOINT_FILE_RE.matches(n) &&
          ckptStale(n.stripSuffix(".checkpoint.json").toLong)) ||
        (MANIFEST_FILE_RE.matches(n) &&
          ckptStale(n.stripSuffix(".checkpoint.manifest.json").toLong)) ||
        (HISTORY_FILE_RE.matches(n) && {
          val v = n.stripSuffix(".history.json").toLong
          v < keepFrom && !newestHistory.contains(v)
        })
      if (stale) store.delete(p)
    }
    // sidecars a deleted manifest referenced exclusively are now
    // unreachable — GC them (age-gated, reference-counted across ALL
    // surviving manifests: incremental chains share slices)
    try sweepUnreferencedSidecars()
    catch { case NonFatal(_) => () }
    // Stores that stage tmp files sweep their own crash orphans (a
    // writer killed between write and publish leaves a tmp behind
    // forever otherwise; harmless to correctness — the version/
    // checkpoint regexes exclude them — but they accumulate).
    store.cleanupStaging(logDir, TMP_ORPHAN_HORIZON_MS)
    store.cleanupStaging(sidecarDirPath, TMP_ORPHAN_HORIZON_MS)
  }

  /** Oldest version file still present (0 for an empty log). */
  def oldestSurvivingVersion: Long =
    listVersionFiles.headOption.map(versionOf).getOrElse(0L)

  /** Log retention (Delta `delta.logRetentionDuration` analog): drop
    * version files older than [[LakeLog.LOG_RETENTION_PROP]] hours
    * (default 30 days; negative disables), keeping the newest
    * RETAINED_AUX checkpoint span regardless of age. Deletion is
    * bounded at a CHECKPOINT version — the cut — so every surviving
    * version stays replayable; when no checkpoint exists at the cut
    * (the count-based aux sweep deleted old checkpoints long before
    * their versions aged out), one is WRITTEN there first, which is
    * always possible because nothing below the cut has been deleted
    * yet. Deletion is restricted to a contiguous prefix — a surviving
    * version file must never depend on a deleted one for replay — and
    * in-commit timestamps are monotonic, so the age gate can only
    * stop the prefix early, never punch holes. Time travel below the
    * horizon fails loudly in [[Snapshot]] with the earliest
    * replayable version.
    */
  private def cleanupOldVersionFiles(latest: Long, keepFrom: Long): Unit = {
    if (keepFrom <= 0) return
    // metadata-light: only the retention property is needed, and the
    // incremental-checkpoint cadence no longer materializes a full
    // snapshot this could piggyback on
    val props = Snapshot.replayMeta(this, latest)._1.properties
    val hours = props.get(LOG_RETENTION_PROP).map(_.toDouble)
      .getOrElse(LOG_RETENTION_HOURS_DEFAULT)
    if (hours < 0) return
    val horizon = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    // one listing serves the version walk and the checkpoint scan
    val entries = store.listDir(logDir)
    val names = entries.map(_.getFileName.toString)
    val files = entries
      .filter(p => VERSION_FILE_RE.matches(p.getFileName.toString))
      .sortBy(_.getFileName.toString)
    // the contiguous age-eligible prefix: stop at the first commit
    // younger than the horizon
    var prefixEnd = -1L
    val it = files.iterator
    var continue = true
    while (continue && it.hasNext) {
      val p = it.next()
      val ts = firstCommitInfoTimestamp(versionOf(p))
        .orElse(store.stat(p).map(_._2))
        .getOrElse(Long.MaxValue)
      if (ts < horizon) prefixEnd = versionOf(p)
      else continue = false
    }
    if (prefixEnd < 0) return
    val cut = math.min(keepFrom, prefixEnd + 1)
    val oldest = files.headOption.map(versionOf).getOrElse(return)
    if (cut <= oldest) return // nothing deletable
    val ckpts = checkpointVersionsIn(names)
    val anchor: Option[Long] = ckpts.filter(_ <= cut).maxOption match {
      case Some(a) if a == cut => Some(a)
      case existing =>
        // No checkpoint at the cut. Write one THERE rather than
        // anchoring on a lower (or no) checkpoint: `cut` is still
        // replayable right now — version files [oldest, cut] all
        // exist and `oldest` is replayable by invariant — and once
        // the prefix below is gone it becomes the new replay base.
        // Best-effort: on failure fall back to the highest existing
        // checkpoint (partial progress), never to deleting anyway.
        scala.util.Try { writeCheckpoint(cut); cut }.toOption
          .orElse(existing)
    }
    anchor.foreach { a =>
      files.iterator.takeWhile(p => versionOf(p) < a)
        .foreach(store.delete)
    }
  }

  /** Oldest version from which replay is CONTIGUOUSLY possible: 0
    * while the full log survives; else the checkpoint at the oldest
    * surviving version file (the normal post-retention state — the
    * cut always lands on a checkpoint). A stale checkpoint BELOW the
    * oldest surviving version (a transiently failed sweep delete) is
    * individually replayable but versions between it and the
    * survivors are not — reporting it would overstate replayability,
    * so the answer is the first version at or above the survivors
    * that a checkpoint covers.
    */
  def earliestReplayableVersion: Long = {
    if (store.exists(versionFile(0L))) return 0L
    val ckpts = checkpointVersionsIn(
      store.listDir(logDir).map(_.getFileName.toString))
    val s = oldestSurvivingVersion
    ckpts.filter(_ <= s).maxOption match {
      case Some(c) if c == s => s
      case _ => ckpts.filter(_ >= s).minOption.getOrElse(s)
    }
  }

  /** Write the checkpoint of the state at `version`, in one of two
    * forms. A state of at most [[LakeLog.CHECKPOINT_PART_MAX_ACTIONS]]
    * actions writes the single atomic `<v>.checkpoint.json`; a bigger
    * one — or any table that already has a manifest chain — writes the
    * manifest + parquet sidecar form (below), whose cadence carries
    * unchanged sidecar slices forward BY REFERENCE, so it costs
    * O(tail delta + dirty slices), never a full O(table)
    * re-serialization. A chain whose tail since its last manifest is
    * no longer replayable (log retention) restarts from a full replay.
    */
  private def writeCheckpoint(version: Long): Unit =
    latestManifestAtOrBefore(version - 1)
      .filter { case (pv, _) => oldestSurvivingVersion <= pv + 1 } match {
      case Some((prevV, prevRefs)) =>
        incrementalManifest(version, prevV, prevRefs)
      case None =>
        val snap = Snapshot.replay(this, version)
        val txns = expireCopyIntoLedger(snap)
        val head = headActions(snap.metadata, snap.protocol,
          snap.domains, txns)
        if (head.size + snap.files.size <= CHECKPOINT_PART_MAX_ACTIONS)
          store.atomicReplace(
            logDir.resolve(f"$version%020d.checkpoint.json"),
            (head.iterator ++ snap.files.iterator).map(Action.toJson).toSeq)
        else bootstrapManifest(version, head, snap.files.toIndexedSeq)
        // the replay above cached the PRE-expiry snapshot for this
        // version; align the cache with the checkpoint just written
        if (txns.size != snap.transactions.size)
          Snapshot.reseed(this, version, snap.copy(transactions = txns))
    }

  // ------------------------------------------------------------------
  // Incremental (manifest + sidecar) checkpoints — the Delta
  // v2-checkpoint idea (manifest referencing immutable sidecar files),
  // re-derived for this log. Layout:
  //
  //   <v>.checkpoint.manifest.json   head actions (Protocol, Metadata,
  //                                  DomainMetadata, Txn) + one
  //                                  SidecarRef line per sidecar
  //   _sidecars/<v>-<seq>-<uuid>.parquet   disjoint AddFile slices
  //
  // INVARIANT: across the sidecars one manifest references, every live
  // path has EXACTLY ONE entry — readers (sequential replay and the
  // distributed columnar scan alike) need no ordering or filtering.
  // A cadence maintains it by rewriting only the DIRTY sidecars (those
  // holding a path the tail touched) minus the touched paths, putting
  // every touched-and-live path's current entry in the new delta
  // sidecar, and carrying every clean sidecar forward by reference.
  //
  // Crash semantics: sidecars publish first (staged, atomic, never
  // torn), the manifest publishes LAST via one atomic replace — a
  // manifest's existence IS the completeness marker. A crash mid-write
  // orphans unreferenced sidecars, which the age-gated
  // [[sweepUnreferencedSidecars]] GC removes at a later boundary.
  // ------------------------------------------------------------------

  private[lake] def manifestFile(version: Long): Path =
    logDir.resolve(f"$version%020d.checkpoint.manifest.json")

  private def sidecarDirPath: Path = logDir.resolve(SIDECAR_DIR)

  /** Head actions + sidecar refs of the manifest at `p`. */
  private[lake] def readManifest(p: Path): (Seq[Action], Seq[SidecarRef]) = {
    val actions = store.readLines(p).iterator.map(_.trim)
      .filter(_.nonEmpty).map(Action.fromJson).toVector
    (actions.filterNot(_.isInstanceOf[SidecarRef]),
      actions.collect { case s: SidecarRef => s })
  }

  /** Newest manifest checkpoint at or below `version`, with its refs;
    * None when absent or transiently unreadable (callers fall back to
    * a full write — never fail the commit).
    */
  private def latestManifestAtOrBefore(
      version: Long): Option[(Long, Seq[SidecarRef])] =
    store.listDir(logDir).map(_.getFileName.toString)
      .filter(MANIFEST_FILE_RE.matches)
      .map(_.stripSuffix(".checkpoint.manifest.json").toLong)
      .filter(_ <= version).maxOption.flatMap { v =>
        scala.util.Try(readManifest(manifestFile(v))).toOption
          .map { case (_, refs) => (v, refs) }
      }

  private def headActions(meta: Metadata, protocol: Protocol,
      domains: Map[String, Map[String, String]],
      txns: Map[String, Long]): Seq[Action] =
    Seq[Action](protocol, meta) ++
      domains.toSeq.sortBy(_._1)
        .map { case (d, cfg) => DomainMetadata(d, cfg) } ++
      txns.toSeq.sortBy(_._1).map { case (a, v) => Txn(a, v) }

  /** First manifest for this table: the full state sliced into
    * sidecars of at most [[LakeLog.CHECKPOINT_PART_MAX_ACTIONS]]
    * AddFiles each, written concurrently (encode + snappy is CPU-bound
    * and the slices are disjoint).
    */
  private def bootstrapManifest(version: Long, head: Seq[Action],
      files: IndexedSeq[AddFile]): Unit = {
    val partMax = CHECKPOINT_PART_MAX_ACTIONS
    val numParts = math.max(1, (files.size + partMax - 1) / partMax)
    import scala.collection.parallel.CollectionConverters._
    val refs = (0 until numParts).par.map { p =>
      writeSidecar(version, p + 1, files.view
        .slice(p * partMax, math.min((p + 1) * partMax, files.size))
        .iterator, math.min(partMax, files.size - p * partMax).toLong)
    }.seq
    publishManifest(version, head, refs)
  }

  /** The incremental cadence: O(tail + dirty slices), never O(table).
    * The only full-width pass is the PATH-PROJECTED dirty probe —
    * deciding which carried slices contain a touched path — which
    * decodes one dictionary column, not the stats the full rewrite
    * used to re-encode.
    *
    * `foldTo` (default `version`) bounds the tail fold: the
    * post-RESTORE manifest ([[checkpointAfterRestore]]) publishes AT
    * the restore version but folds only up to the restore TARGET —
    * the file state at the two versions is identical by restore's
    * definition, and folding the restore commit itself would re-parse
    * its O(table) re-adds and mark every slice dirty.
    */
  private def incrementalManifest(version: Long, prevV: Long,
      prevRefs: Seq[SidecarRef], foldTo: Long = -1L): Unit = {
    val partMax = CHECKPOINT_PART_MAX_ACTIONS
    import scala.collection.parallel.CollectionConverters._
    val liveTail =
      scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val touched = scala.collection.mutable.HashSet.empty[String]
    // tail version files PARSE across cores (each file is independent;
    // the order-sensitive fold below stays sequential) — the 10⁷
    // MetaScaleBench build loop measured this parse as the cadence's
    // dominant cost when it ran on one core. Chunked fold: bounded
    // transient heap (see [[LakeLog.foldTailChunked]]).
    LakeLog.foldTailChunked(prevV + 1,
      if (foldTo >= 0) foldTo else version, readVersion) {
      case a: AddFile    => liveTail(a.path) = a; touched += a.path; ()
      case r: RemoveFile => liveTail.remove(r.path); touched += r.path; ()
      case _             => ()
    }
    // head state via the metadata-light fold — the incremental path
    // never materializes the file list
    val (meta, protocol, domains, txns0) = Snapshot.replayMetaTxns(this, version)
    val txns = expireCopyIntoLedger(meta.properties, txns0)
    val touchedSet: Set[String] = touched.toSet
    // Tri-state probe: CLEAN (no touched path) carries forward by
    // reference; PARTIAL rewrites its untouched remainder; FULLY-DIRTY
    // (every path touched) has a provably EMPTY remainder — the full
    // stats decode the rewrite pass would pay just to discover that
    // is skipped outright. This is what caps the all-dirty worst case
    // (RESTORE / overwrite / bulk rewrite touching every live path,
    // measured 77.8 s vs 2.7 s steady at 10⁶ files pre-fix): the
    // cadence then costs the path-projected probe plus the delta
    // write, never a full decode + re-encode of every carried slice.
    // `forall` exits at the first untouched path, so the steady case
    // pays one extra hash lookup per dirty slice.
    val probed: Seq[(SidecarRef, Int)] = prevRefs.par.map { ref =>
      if (touchedSet.isEmpty) (ref, 0)
      else {
        val paths = CheckpointParquet
          .readPaths(store.fileReader(logDir.resolve(ref.path)))
        if (!paths.exists(touchedSet)) (ref, 0)
        else if (paths.forall(touchedSet)) (ref, 2)
        else (ref, 1)
      }
    }.seq
    val dirty = probed.collect { case (r, 1) => r }
    val clean = probed.collect { case (r, 0) => r }
    // absorb the smallest clean sidecars into the delta while the
    // combined slice fits one part: without this every cadence nets
    // one more (possibly tiny) sidecar file forever, and the columnar
    // scan's per-part task overhead grows with file count
    val absorb = scala.collection.mutable.ArrayBuffer.empty[SidecarRef]
    if (liveTail.size < partMax) {
      var room = partMax - liveTail.size
      clean.sortBy(_.count).foreach { r =>
        if (r.count <= room) { absorb += r; room -= r.count.toInt }
      }
    }
    val absorbSet = absorb.toSet
    val carried = clean.filterNot(absorbSet)
    // dirty slices rewrite minus the touched paths (their current
    // entries, if live, ride the delta); empty remainders drop
    val rewritten = dirty.zipWithIndex.par.flatMap { case (ref, i) =>
      LakeLog.sliceFullDecodes.incrementAndGet()
      val kept = CheckpointParquet
        .read(store.fileReader(logDir.resolve(ref.path)))
        .filterNot(a => touchedSet(a.path))
      if (kept.isEmpty) None
      else Some(writeSidecar(version, i + 1, kept.iterator, kept.size.toLong))
    }.seq
    val absorbedAdds: Seq[AddFile] = absorb.toSeq.par.map { ref =>
      CheckpointParquet.read(store.fileReader(logDir.resolve(ref.path)))
    }.seq.flatten
    val deltaAdds: IndexedSeq[AddFile] =
      (liveTail.values ++ absorbedAdds).toIndexedSeq
    val base = dirty.size
    val deltaParts = (deltaAdds.size + partMax - 1) / partMax
    val deltaRefs = (0 until deltaParts).par.map { p =>
      writeSidecar(version, base + p + 1, deltaAdds.view
        .slice(p * partMax, math.min((p + 1) * partMax, deltaAdds.size))
        .iterator,
        math.min(partMax, deltaAdds.size - p * partMax).toLong)
    }.seq
    publishManifest(version, headActions(meta, protocol, domains, txns),
      carried ++ rewritten ++ deltaRefs)
  }

  /** Publish a manifest checkpoint at `restoredV` that REUSES the
    * sidecar slices of the newest manifest at or below the restore
    * TARGET — the restore-specific escape from the cadence's all-dirty
    * worst case. After a RESTORE the file state at `restoredV` EQUALS
    * the state at `targetV` (restore re-adds exactly the target's
    * live set and removes everything else; a vacuum-lossy target
    * aborts the restore before any commit), so the manifest at
    * `restoredV` is exactly the incremental manifest `targetV` itself
    * would have had: target-side slices carried/rewritten against the
    * (manifest, targetV] tail, with HEAD state (metadata, txns,
    * domains) read at `restoredV`. The NEXT cadence then folds only
    * the small post-restore tail instead of the restore commit's
    * O(table) re-adds with every carried slice dirty. False (no-op)
    * when the form does not apply — non-manifest tables, or the tail
    * between the target's manifest and the target no longer
    * replayable.
    */
  private[lake] def checkpointAfterRestore(
      restoredV: Long, targetV: Long): Boolean =
    latestManifestAtOrBefore(targetV)
      .filter { case (pv, _) => oldestSurvivingVersion <= pv + 1 } match {
      case Some((prevV, prevRefs)) =>
        incrementalManifest(restoredV, prevV, prevRefs, foldTo = targetV)
        // aux cleanup stays with the regular cadence: this manifest
        // only ADDS a reference anchor, never invalidates one
        true
      case None => false
    }

  /** Write one sidecar slice (staged where the store says, atomic
    * publish), returning its log-dir-relative ref.
    */
  private def writeSidecar(version: Long, seq: Int,
      adds: Iterator[AddFile], count: Long): SidecarRef = {
    val name =
      f"$version%020d-$seq%04d-${java.util.UUID.randomUUID()}.parquet"
    val target = sidecarDirPath.resolve(name)
    val tmp = store.stageFileTarget(target)
    CheckpointParquet.write(tmp, adds)
    store.atomicReplaceFile(tmp, target)
    SidecarRef(s"$SIDECAR_DIR/$name", count,
      store.stat(target).map(_._1).getOrElse(0L))
  }

  private def publishManifest(version: Long, head: Seq[Action],
      refs: Seq[SidecarRef]): Unit =
    store.atomicReplace(manifestFile(version),
      (head ++ refs).map(Action.toJson))

  /** GC sidecar files no surviving manifest references. Aborts (keeps
    * everything) when any manifest is transiently unreadable — a
    * failed read must never cost a live manifest its slices. The
    * staging-horizon age gate protects an in-flight checkpoint's
    * just-published sidecars, whose manifest lands after them.
    */
  private def sweepUnreferencedSidecars(): Unit = {
    val sidecars = store.listDir(sidecarDirPath)
    if (sidecars.isEmpty) return
    val manifests = store.listDir(logDir)
      .filter(p => MANIFEST_FILE_RE.matches(p.getFileName.toString))
    val referenced = scala.collection.mutable.HashSet.empty[String]
    manifests.foreach { m =>
      try readManifest(m)._2.foreach(r => referenced += r.path)
      catch { case NonFatal(_) => return }
    }
    val cutoff = System.currentTimeMillis() - TMP_ORPHAN_HORIZON_MS
    sidecars.foreach { p =>
      val rel = SIDECAR_DIR + "/" + p.getFileName.toString
      if (!referenced.contains(rel) &&
          store.stat(p).exists(_._2 < cutoff)) {
        store.delete(p)
        ()
      }
    }
  }

  /** Versions in `names` with a checkpoint: the single-file form, or
    * a manifest — complete by existence, because its sidecars publish
    * BEFORE it and the sweep never deletes a referenced sidecar.
    */
  private def checkpointVersionsIn(names: Seq[String]): Seq[Long] =
    (names.filter(CHECKPOINT_FILE_RE.matches)
      .map(_.stripSuffix(".checkpoint.json").toLong) ++
      names.filter(MANIFEST_FILE_RE.matches)
        .map(_.stripSuffix(".checkpoint.manifest.json").toLong)).distinct

  /** COPY INTO ledger expiry: the per-source-file Txn entries grow
    * O(all files ever ingested) and ride inside every checkpoint
    * forever. At checkpoint time, drop entries whose local source file
    * is GONE and whose recorded stamp (the file's mtime at load) is
    * older than the retention horizon — a vanished file cannot be
    * re-listed, so the entry's only remaining effect is checkpoint
    * bloat. Entries for live files, recent entries (grace against a
    * file briefly moved aside), non-file URIs (not cheaply probeable)
    * and non-COPY-INTO appIds (streaming sinks' idempotent txns) are
    * always kept. If an expired file later REAPPEARS with its old
    * mtime+size it reloads once — the same behavior as a brand-new
    * file, and the price of a bounded ledger.
    *
    * Version files are never rewritten, so time travel to a
    * pre-expiry version still replays the full historical ledger.
    */
  private def expireCopyIntoLedger(snap: Snapshot): Map[String, Long] =
    expireCopyIntoLedger(snap.metadata.properties, snap.transactions)

  private def expireCopyIntoLedger(properties: Map[String, String],
      transactions: Map[String, Long]): Map[String, Long] = {
    val hours = properties
      .get(COPY_INTO_RETENTION_PROP).map(_.toDouble)
      .getOrElse(COPY_INTO_RETENTION_HOURS_DEFAULT)
    if (hours < 0) return transactions // negative disables expiry
    val horizon = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    transactions.filter { case (appId, stamp) =>
      val candidates = copyIntoLocalPaths(appId)
      !(stamp < horizon && candidates.nonEmpty &&
        candidates.forall(p => !Files.exists(p)))
    }
  }

  /** Write `<v>.history.json`: every CommitInfo through v with its
    * version stamped — the aggregated DESCRIBE HISTORY sidecar, kept
    * OUT of the checkpoint so snapshot replay stays O(live state).
    * Built incrementally from the previous sidecar, so each write
    * costs O(CHECKPOINT_INTERVAL) version reads and `history()` costs
    * O(tail since last checkpoint) at any table age.
    */
  private def writeHistorySidecar(version: Long): Unit = {
    // No previous sidecar (fresh table, or every sidecar was lost to
    // failed best-effort writes + the age sweep): rebuild from the
    // oldest version file that still EXISTS — retention may have
    // deleted the prefix, and entries below it are gone for good
    // (history is bounded by log retention, as in Delta).
    val (prevV, prev) = latestHistoryAtOrBefore(version - 1)
      .getOrElse((oldestSurvivingVersion - 1L, Seq.empty[CommitInfo]))
    // one CommitInfo per version file: the store's byte-prefix scan
    // skips a bulk commit's 10⁵ add lines without decoding them, and
    // the per-version reads fan across cores (order restored by the
    // ordered par map)
    import scala.collection.parallel.CollectionConverters._
    val entries = prev ++ ((prevV + 1) to version).par.map { v =>
      store.readLinesWithPrefix(versionFile(v), Action.CommitInfoPrefix)
        .map(Action.fromJson)
        .collect { case c: CommitInfo => c.copy(version = v) }
    }.seq.flatten
    store.atomicReplace(
      logDir.resolve(f"$version%020d.history.json"),
      entries.map(c => Action.toJson(c)))
  }

  /** Latest history sidecar at or below `version`: (version, entries). */
  def latestHistoryAtOrBefore(version: Long): Option[(Long, Seq[CommitInfo])] = {
    val candidates = store.listDir(logDir)
      .filter(p => HISTORY_FILE_RE.matches(p.getFileName.toString))
      .map(p => (p.getFileName.toString.stripSuffix(".history.json").toLong, p))
      .filter(_._1 <= version)
      .sortBy(_._1)
    candidates.lastOption.map { case (v, p) =>
      (v, store.readLines(p).iterator
        .map(_.trim).filter(_.nonEmpty).map(Action.fromJson)
        .collect { case c: CommitInfo => c }.toSeq)
    }
  }

  /** Latest checkpoint at or below `version`, if any: (version,
    * files). The single-file form is one file; the manifest form is
    * the manifest (which holds the head actions) followed by its
    * adds-only parquet sidecars.
    */
  def latestCheckpointFilesAtOrBefore(
      version: Long): Option[(Long, Seq[Path])] = {
    val names = store.listDir(logDir).map(_.getFileName.toString)
    // Newest candidate first; a candidate the listing promised can
    // vanish before the exists() probe (a cleaner in ANOTHER process —
    // the cleanup lock is per-JVM — deleting a stale checkpoint
    // between our LIST and the read). Skip it and fall back to the
    // next older one rather than crashing the read path.
    checkpointVersionsIn(names).filter(_ <= version)
      .sorted(Ordering[Long].reverse).iterator.map { v =>
        val single = logDir.resolve(f"$v%020d.checkpoint.json")
        val manifest = manifestFile(v)
        val files =
          if (names.contains(manifest.getFileName.toString))
            scala.util.Try(readManifest(manifest)).toOption match {
              case Some((_, refs)) =>
                manifest +: refs.map(r => logDir.resolve(r.path))
              case None => Nil // vanished under us: fall to next older
            }
          else if (store.exists(single)) Seq(single)
          else Nil
        (v, files)
      }.collectFirst { case (v, files) if files.nonEmpty => (v, files) }
  }

  /** Parsed actions of one checkpoint file — JSON lines for the
    * single-file checkpoint and the manifest, parquet AddFiles for a
    * sidecar.
    */
  def readCheckpointPart(p: Path): Seq[Action] =
    if (p.getFileName.toString.endsWith(".parquet"))
      CheckpointParquet.read(store.fileReader(p))
    else store.readLines(p).iterator
      .map(_.trim).filter(_.nonEmpty).map(Action.fromJson).toSeq

  /** Latest COMPLETE checkpoint at or below `version`, if any:
    * (version, streamed actions). The iterator reads one checkpoint
    * part at a time — memory is bounded by the part size plus
    * whatever the consumer retains, never the whole serialized state.
    */
  def latestCheckpointAtOrBefore(
      version: Long): Option[(Long, Iterator[Action])] =
    latestCheckpointFilesAtOrBefore(version).map { case (v, files) =>
      (v, files.iterator.flatMap(p => readCheckpointPart(p).iterator))
    }

  /** Replay all actions up to and including `version` (-1 = latest). */
  def snapshot(version: Long = -1): Snapshot = {
    val latest = latestVersion
    if (latest < 0)
      throw new IllegalStateException(s"not a lake table: $tablePath " +
        s"(no $LOG_DIR directory)")
    val v = if (version < 0) latest else version
    // v > latest is validated against the version FILE, not the
    // listing alone: on an object store a lagged LIST can under-report
    // `latest` for a version whose file a GET already serves — a
    // reader that just observed v must not be rejected by someone
    // else's stale LIST (read-after-write on GET is authoritative).
    if (v > latest && !store.exists(versionFile(v)))
      throw new IllegalArgumentException(
        s"cannot time travel to version $v; latest is $latest " +
        s"(table: $tablePath)")
    Snapshot.replay(this, v)
  }

  def versionFile(version: Long): Path =
    logDir.resolve(f"$version%020d.json")
}

object LakeLog {
  val LOG_DIR = "_lake_log"

  /** Parallel-parse the version files `lo..hi` and fold them in
    * version order — in bounded chunks, each chunk's parsed actions
    * folded (and released) before the next chunk parses. Keeps the
    * multi-core parse win without retaining the whole tail: a
    * delete-heavy tail's RemoveFile and superseded AddFile actions
    * would otherwise all be resident at peak, growing transient driver
    * heap with CHECKPOINT_INTERVAL × commit size.
    */
  private[lake] def foldTailChunked(lo: Long, hi: Long,
      read: Long => Seq[Action])(fold: Action => Unit): Unit = {
    if (hi < lo) return
    if (hi == lo) { read(lo).foreach(fold); return }
    import scala.collection.parallel.CollectionConverters._
    val chunk = math.max(2, Runtime.getRuntime.availableProcessors())
    var v = lo
    while (v <= hi) {
      val end = math.min(v + chunk - 1, hi)
      (v to end).par.map(read).seq.foreach(_.foreach(fold))
      v = end + 1
    }
  }

  /** Process-wide count of per-version log-file reads. Tests assert
    * O(tail) claims with it (history/time-travel/vacuum must not replay
    * a checkpointed table's whole log); never used for logic.
    */
  val readVersionCalls = new java.util.concurrent.atomic.AtomicLong

  /** Process-wide count of FULL (stats-decoding) sidecar reads by the
    * incremental cadence's rewrite pass. Tests and MetaScaleBench
    * assert the all-dirty worst case (every carried slice's every
    * path touched — RESTORE/overwrite shapes) skips the full decode
    * entirely; never used for logic.
    */
  val sliceFullDecodes = new java.util.concurrent.atomic.AtomicLong

  /** Resolve an AddFile path against its table root. Paths are
    * table-relative except for SHALLOW CLONE entries, which reference
    * the source table's files absolutely (zero copy).
    */
  def resolveFile(tablePath: String, filePath: String): java.nio.file.Path =
    if (filePath.startsWith("/")) java.nio.file.Paths.get(filePath)
    else java.nio.file.Paths.get(tablePath, filePath)
  val CHECKPOINT_INTERVAL = 10L
  /** Age past which a store's orphaned staging tmp files are swept. */
  val TMP_ORPHAN_HORIZON_MS: Long = 3600L * 1000
  /** Retries of an ambiguous (IOException) commit publish before the
    * failure surfaces; each retry resolves a landed-but-timed-out put
    * via the content readback in [[LakeLog.commit]].
    */
  val MAX_PUT_RETRIES = 3
  /** Newest checkpoints/history sidecars kept by the log cleanup. */
  val RETAINED_AUX = 3L

  /** Per-table in-process cleanup serialization (see
    * [[LakeLog.cleanupAuxFiles]]). Keyed by table path; the map only
    * ever holds one tiny monitor object per table touched by this
    * process.
    */
  private val cleanupLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def cleanupLockFor(tablePath: String): Object =
    cleanupLocks.computeIfAbsent(tablePath, _ => new Object)
  /** Table property bounding the COPY INTO ledger (hours a dead
    * source file's entry survives past its stamp); negative disables.
    */
  val COPY_INTO_RETENTION_PROP = "graft.copyIntoLedgerRetentionHours"
  val COPY_INTO_RETENTION_HOURS_DEFAULT = 168.0
  /** Table property: hours a version file is kept once it falls below
    * the oldest retained checkpoint; negative disables cleanup.
    */
  val LOG_RETENTION_PROP = "graft.logRetentionHours"
  val LOG_RETENTION_HOURS_DEFAULT = 720.0

  /** The candidate local filesystem paths inside a COPY INTO ledger
    * appId. `copy-into:<uri>[:<size>]` is ambiguous for a legacy
    * (size-less) key naming a file that itself ends in `:<digits>` —
    * so BOTH readings are returned and expiry treats an entry as dead
    * only when EVERY candidate is gone (a live file under either
    * reading keeps it). Non-file URIs yield no candidates (never
    * expired).
    */
  private[lake] def copyIntoLocalPaths(appId: String): Seq[Path] = {
    if (!appId.startsWith("copy-into:")) return Nil
    val raw = appId.stripPrefix("copy-into:")
    val stripped = raw.replaceFirst(":\\d+$", "") // size-keyed reading
    Seq(raw, stripped).distinct.flatMap { uriStr =>
      scala.util.Try {
        val uri = new java.net.URI(uriStr)
        if (uri.getScheme == "file") Some(Paths.get(uri)) else None
      }.toOption.flatten
    }
  }

  /** Single-reading form used by tests; prefers the size-keyed parse. */
  private[lake] def copyIntoLocalPath(appId: String): Option[Path] =
    copyIntoLocalPaths(appId).lastOption
  /** Actions above which a checkpoint takes the manifest + parquet
    * sidecar form instead of the single JSON file; also the AddFile
    * count per sidecar slice — bounded driver memory per write/read
    * regardless of table size. var only so tests and the columnar-scan
    * gate can exercise the manifest form cheaply.
    */
  private[graft] var CHECKPOINT_PART_MAX_ACTIONS: Int = 100000

  /** Subdirectory of the log holding checkpoint sidecar slices. */
  private[lake] val SIDECAR_DIR = "_sidecars"

  private val VERSION_FILE_RE = "\\d{20}\\.json".r
  private val CHECKPOINT_FILE_RE = "\\d{20}\\.checkpoint\\.json".r
  private[lake] val MANIFEST_FILE_RE =
    "\\d{20}\\.checkpoint\\.manifest\\.json".r
  private val HISTORY_FILE_RE = "\\d{20}\\.history\\.json".r

  def versionOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".json").toLong
}

final class ConcurrentWriteException(version: Long) extends RuntimeException(
  s"concurrent write detected: version $version was committed by " +
  "another writer; re-read the table and retry")

/** A concurrent commit logically conflicts with this operation (it
  * removed a file this operation read and rewrote). Unlike
  * [[ConcurrentWriteException]] this is NOT transparently retryable:
  * the caller must re-read the table and re-run the whole operation.
  */
final class ConflictingCommitException(msg: String)
  extends RuntimeException(msg)
