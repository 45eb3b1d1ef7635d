package graft.lake

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The state of a lake table at one version: live files + schema.
  * Produced by replaying log actions `0..version` (SURVEY §7.1).
  */
final case class Snapshot(
    log: LakeLog,
    version: Long,
    metadata: Metadata,
    files: Seq[AddFile],
    transactions: Map[String, Long] = Map.empty,
    protocol: Protocol = Protocol(),
    domains: Map[String, Map[String, String]] = Map.empty) {

  def schema: StructType = StructType.fromDDL(metadata.schemaDDL)

  def partitionColumns: Seq[String] = metadata.partitionColumns

  def numFiles: Int = files.size

  def sizeInBytes: Long = files.map(_.size).sum

  /** Every live file carries Spark's `_NNNNN` bucket-id tag — the
    * precondition for planning a bucketed relation. Immutable for a
    * snapshot, so memoized per instance (identity keying): the read
    * path asks per QUERY, and a 10⁶-file table must not re-walk a
    * million file names on every plan. Short-circuits on the first
    * untagged file (the common legacy/unbucketed case).
    */
  lazy val allFilesBucketTagged: Boolean =
    files.forall(f =>
      org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new java.io.File(f.path).getName).isDefined)

  /** DataFrame over the live files, planned through the log-backed
    * `LakeFileIndex` (same relation as `spark.read.format("lake")`):
    * the file set stays metadata resolved at planning time, partition
    * pruning and min/max data skipping happen inside `listFiles`, and
    * pre-evolution files null-fill new columns via the snapshot schema.
    * Missing data files (e.g. after VACUUM of a time-traveled version)
    * fail loudly here rather than mid-scan.
    */
  def toDF(spark: SparkSession): DataFrame = {
    if (files.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // The existence sweep is O(files) driver stat calls — a real cost
    // at 10⁶-file tables — and only TIME-TRAVELED snapshots can be
    // legitimately missing files (VACUUM never deletes the current
    // version's live set; it protects `live` explicitly). Current-
    // version reads skip the sweep; a tampered-with table still fails
    // at scan time, just without this message.
    if (version != log.latestVersion) {
      val missing = files.filterNot(f =>
        DataStore.current.exists(LakeLog.resolveFile(log.tablePath, f.path)))
      if (missing.nonEmpty) {
        throw new IllegalStateException(
          s"cannot read version $version of lake table ${log.tablePath}: " +
          s"${missing.size} data file(s) referenced by the log no longer " +
          s"exist (first: ${missing.head.path}). They were likely removed " +
          "by VACUUM; time travel to vacuumed versions is not possible.")
      }
    }
    graft.sources.LakeDataSource.snapshotDF(spark, this)
  }
}

object Snapshot {

  /** (canonical table path, version) → snapshot. A version's state is
    * IMMUTABLE once committed — the log is append-only and vacuum
    * deletes only data files (missing ones still fail loudly in
    * `toDF`) — so the cache needs no invalidation, only bounding:
    * an access-ordered LRU of soft references, so a huge table's file
    * list is reclaimable under memory pressure instead of pinned.
    * This is Delta's `DeltaLog` snapshot cache: without it every
    * read/DML of a busy table re-parses the O(live files) checkpoint
    * on the driver — at 1M files that is the dominant driver cost of
    * a 100 TB table's metadata path.
    */
  private val MAX_CACHED = 64
  private final case class Entry(
      fingerprint: Option[(Long, Long)], // version file (size, mtime)
      ref: java.lang.ref.SoftReference[Snapshot])
  private val cache =
    new java.util.LinkedHashMap[(String, Long), Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Entry]): Boolean =
        size() > MAX_CACHED
    }

  /** Re-seed the cache after a checkpoint rewrote derived state
    * (COPY INTO ledger expiry): the version FILE is unchanged — the
    * fingerprint stays valid — but replay-from-checkpoint now yields
    * the expired ledger, and this process must see the same state a
    * fresh process reading its checkpoint would.
    */
  private[lake] def reseed(log: LakeLog, version: Long, s: Snapshot): Unit = {
    val key = (Paths.get(log.tablePath).toAbsolutePath.normalize.toString,
      version)
    cache.synchronized {
      cache.put(key,
        Entry(fingerprint(log, version), new java.lang.ref.SoftReference(s)))
      ()
    }
  }

  /** Test hook: count of replays served from the cache. */
  private[lake] val cacheHits = new java.util.concurrent.atomic.AtomicLong
  /** Test hook: count of FULL replays (file list materializations) —
    * the columnar-DML tests assert a MERGE/DELETE/UPDATE planned
    * through the distributed checkpoint scan never increments it.
    */
  private[graft] val fullReplays = new java.util.concurrent.atomic.AtomicLong
  private[lake] def clearCacheForTest(): Unit = {
    cache.synchronized(cache.clear())
    metaCache.synchronized(metaCache.clear())
  }

  /** (size, mtime) of the version file — the cheap identity check
    * that catches a table DELETED AND RECREATED at the same path
    * (new commit file → new fingerprint → recompute). None when the
    * file is absent (aged out by log cleanup after a checkpoint),
    * which still compares equal against a cached None.
    */
  private def fingerprint(log: LakeLog, version: Long): Option[(Long, Long)] =
    log.store.stat(log.versionFile(version))

  /** Replay the log up to `version` (inclusive), starting from the
    * latest checkpoint at or below it (O(delta) not O(versions)),
    * memoized per (table, version).
    */
  def replay(log: LakeLog, version: Long): Snapshot = {
    val key = (Paths.get(log.tablePath).toAbsolutePath.normalize.toString,
      version)
    val fp = fingerprint(log, version)
    val cached = cache.synchronized(Option(cache.get(key)))
      .filter(_.fingerprint == fp).flatMap(e => Option(e.ref.get))
    cached match {
      case Some(s) => cacheHits.incrementAndGet(); s
      case None =>
        val s = doReplay(log, version)
        cache.synchronized {
          cache.put(key, Entry(fp, new java.lang.ref.SoftReference(s))); ()
        }
        s
    }
  }

  /** Metadata-light replay: (metadata, domains) at `version` WITHOUT
    * materializing the file list. The commit path needs exactly this
    * for row-id stamping ([[RowTracking.stamp]]), and paying a full
    * O(live files) replay per commit makes commit cost grow with
    * TABLE size instead of commit size — at 10⁶ files that is seconds
    * of driver time per commit for a feature the table may not even
    * have enabled. Cost here: checkpoint HEAD only (the first
    * checkpoint file — the single JSON checkpoint or the manifest —
    * with add lines prefix-skipped; sidecars are never opened) plus
    * the post-checkpoint tail with the same prefix skip. Serves from
    * the full snapshot cache when one is materialized (the common
    * in-process writer flow).
    */
  private[graft] def replayMeta(log: LakeLog, version: Long)
      : (Metadata, Protocol, Map[String, Map[String, String]]) = {
    val (m, p, d, _) = replayMetaTxns(log, version)
    (m, p, d)
  }

  /** [[replayMeta]] plus the idempotent-writer watermark map
    * (Txn actions): checkpoint txns ride the head prefix (strictly
    * before any add — [[LakeLog.writeCheckpoint]]'s contract) and the
    * tail's txn lines pass the same [[Action.isMetaLine]] prefix
    * sniff, so the fold stays O(head + tail), never O(files). The
    * columnar DML planner needs `transactions` for MERGE idempotence
    * without paying a full replay.
    */
  /** Metadata-light results memoized like the snapshot cache (same
    * keying incl. the version-file fingerprint; bounded LRU of soft
    * refs): the commit path's protocol gate, conflict re-checks, DML
    * planning, and metadata-only DDL all ask repeatedly, and each
    * cold walk re-reads the checkpoint head + the tail's meta lines.
    */
  private type MetaTuple = (Metadata, Protocol,
    Map[String, Map[String, String]], Map[String, Long])
  private val MAX_CACHED_META = 64
  private val metaCache = new java.util.LinkedHashMap[
      ((String, Long), Option[(Long, Long)]),
      java.lang.ref.SoftReference[MetaTuple]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[((String, Long), Option[(Long, Long)]),
          java.lang.ref.SoftReference[MetaTuple]]): Boolean =
      size() > MAX_CACHED_META
  }

  /** Seed the metadata-light cache at `version` by folding `actions`'
    * meta-bearing lines onto the parent's cached tuple — the COMMIT
    * path calls this right after publishing, so the NEXT commit's
    * parent fold (and a checkpoint boundary's own meta walk) reads no
    * version file at all. The fold is the same max-fold the tail walk
    * applies, and the actions here are exactly what was published
    * (both writers round-trip), so the seeded tuple is byte-equal to
    * what a cold [[replayMetaTxns]] at `version` computes
    * (suite-pinned) — with ONE documented exception: the COPY INTO
    * ledger. Checkpoints apply the time-based
    * `expireCopyIntoLedger` trim when they serialize txns, so a cold
    * walk that starts from a checkpoint reads the trimmed head while
    * a warm seeded/resumed chain carries pre-trim entries across the
    * boundary until process restart. The divergence is deliberately
    * left in place: it is conservative (expired source-file entries
    * linger, so a re-COPY of a dead file is skipped rather than
    * double-loaded), and applying the trim here would make warm
    * answers wall-clock-dependent between commits instead of only at
    * checkpoint cadence. No-op when the parent tuple is not cached
    * (cold process: the first fold walks files and re-primes the
    * chain).
    */
  private[lake] def seedMetaAfterCommit(log: LakeLog, version: Long,
      actions: Seq[Action]): Unit = {
    val tableKey =
      Paths.get(log.tablePath).toAbsolutePath.normalize.toString
    val parent: Option[MetaTuple] =
      if (version == 0L) Some((null, Protocol(), Map.empty, Map.empty))
      else {
        val parentFp = fingerprint(log, version - 1)
        metaCache.synchronized(
          Option(metaCache.get(((tableKey, version - 1), parentFp))))
          .flatMap(r => Option(r.get))
      }
    parent.foreach { case (m0, p0, d0, t0) =>
      var metadata = m0
      var protocol = p0
      val domains = scala.collection.mutable.HashMap
        .empty[String, Map[String, String]] ++= d0
      val txns = scala.collection.mutable.HashMap.empty[String, Long] ++= t0
      actions.foreach {
        case m: Metadata => metadata = m
        case p: Protocol => protocol = p
        case d: DomainMetadata =>
          if (d.removed) domains.remove(d.domain)
          else domains(d.domain) = d.configuration
        case t: Txn =>
          txns(t.appId) =
            math.max(t.version, txns.getOrElse(t.appId, Long.MinValue))
        case _ => ()
      }
      // a v0 commit without Metadata cannot seed a valid tuple (the
      // cold walk throws for it too — nothing to pre-answer)
      if (metadata != null) {
        val out: MetaTuple =
          (metadata, protocol, domains.toMap, txns.toMap)
        metaCache.synchronized {
          metaCache.put(((tableKey, version), fingerprint(log, version)),
            new java.lang.ref.SoftReference(out))
          ()
        }
      }
    }
  }

  private[graft] def replayMetaTxns(log: LakeLog, version: Long)
      : (Metadata, Protocol, Map[String, Map[String, String]],
         Map[String, Long]) = {
    val key = (Paths.get(log.tablePath).toAbsolutePath.normalize.toString,
      version)
    val fp = fingerprint(log, version)
    val cached = cache.synchronized(Option(cache.get(key)))
      .filter(_.fingerprint == fp).flatMap(e => Option(e.ref.get))
    cached match {
      case Some(s) => (s.metadata, s.protocol, s.domains, s.transactions)
      case None =>
        metaCache.synchronized(Option(metaCache.get((key, fp))))
          .flatMap(r => Option(r.get))
          .foreach(return _)
        var metadata: Metadata = null
        // Protocol folds here too: direct LakeLog.commit callers gate
        // on it (assertWritable) — dropping it from the meta replay
        // would let a raw commit against a table demanding unknown
        // writer features proceed silently.
        var protocol: Protocol = Protocol()
        val domains =
          scala.collection.mutable.HashMap.empty[String, Map[String, String]]
        val txns = scala.collection.mutable.HashMap.empty[String, Long]
        var inCheckpoint = true
        def fold(a: Action): Unit = a match {
          case m: Metadata => metadata = m
          case p: Protocol => protocol = p
          case d: DomainMetadata =>
            if (d.removed) domains.remove(d.domain)
            else domains(d.domain) = d.configuration
          case t: Txn =>
            // same semantics as doReplay: checkpoint rows assign,
            // tail lines max-fold
            if (inCheckpoint) txns(t.appId) = t.version
            else txns(t.appId) =
              math.max(t.version, txns.getOrElse(t.appId, Long.MinValue))
          case _ => ()
        }
        // the line filter rides the STORE's byte-level prefix scan —
        // a 100k-add version file yields its meta lines without
        // materializing 100k Strings (the per-commit cost every
        // bulk-ingest append pays through this fold)
        def metaOfJsonLines(p: java.nio.file.Path): Unit =
          log.store.readLinesWithPrefix(p, Action.MetaLinePrefixes)
            .iterator.map(Action.fromJson).foreach(fold)
        // INCREMENTAL RESUME (round 17): consecutive commits each ask
        // for the meta at their parent, and a cold walk from the
        // checkpoint re-reads every tail version file — O(interval²)
        // BYTES between checkpoints, the measured I/O floor of a
        // bulk-ingest commit loop at 10⁷ files. Version files are
        // immutable once published (putIfAbsent), so the newest cached
        // tuple at any w < version seeds the fold exactly and only
        // (w, version] is read — the fold is the same left-fold
        // whether or not a checkpoint sits between w and version.
        // The fingerprint probe re-validates w's file identity, the
        // same staleness rule the exact-version cache uses.
        val resume: Option[(Long, MetaTuple)] = {
          var found: Option[(Long, MetaTuple)] = None
          var w = version - 1
          while (found.isEmpty && w >= 0L && w >= version - 16) {
            val wfp = fingerprint(log, w)
            found = metaCache.synchronized(
              Option(metaCache.get(((key._1, w), wfp))))
              .flatMap(r => Option(r.get)).map((w, _))
            w -= 1
          }
          found
        }
        resume.foreach { case (_, t) =>
          metadata = t._1
          protocol = t._2
          domains ++= t._3
          txns ++= t._4
          inCheckpoint = false
        }
        val startAt = if (resume.isDefined) resume.get._1 + 1
        else log.latestCheckpointFilesAtOrBefore(version) match {
          case Some((ckptVersion, files)) =>
            // the head actions (protocol/metadata/domains/txns) live
            // whole in the FIRST checkpoint file — the single JSON
            // checkpoint or the manifest; sidecars hold only AddFiles
            metaOfJsonLines(files.head)
            ckptVersion + 1
          case None => 0L
        }
        inCheckpoint = false
        var v = startAt
        while (v <= version) {
          // same retention-horizon translation doReplay gives: a
          // version file removed by log cleanup must explain itself,
          // not surface as a bare missing-file error
          try metaOfJsonLines(log.versionFile(v))
          catch {
            case e: java.nio.file.NoSuchFileException =>
              throw explainMissingVersion(log, v, e)
          }
          v += 1
        }
        if (metadata == null)
          throw new IllegalStateException(
            s"lake table at ${log.tablePath} has no Metadata action by " +
            s"version $version")
        val out = (metadata, protocol, domains.toMap, txns.toMap)
        metaCache.synchronized {
          metaCache.put((key, fp), new java.lang.ref.SoftReference(out))
          ()
        }
        out
    }
  }

  /** Translate a missing version file into the retention-horizon
    * explanation when log cleanup removed it; rethrow otherwise.
    * Shared by [[doReplay]] and [[replayMeta]].
    */
  private def explainMissingVersion(log: LakeLog, version: Long,
      e: java.nio.file.NoSuchFileException): Throwable = {
    val earliest = log.earliestReplayableVersion
    if (version < earliest)
      new IllegalStateException(
        s"cannot time travel to version $version of lake " +
        s"table ${log.tablePath}: version files below the log " +
        s"retention horizon were removed by log cleanup " +
        s"(earliest replayable version: $earliest)", e)
    else e
  }

  private def doReplay(log: LakeLog, version: Long): Snapshot = {
    fullReplays.incrementAndGet()
    var metadata: Metadata = null
    var protocol: Protocol = Protocol()
    val live = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.HashMap.empty[String, Long]
    val domains =
      scala.collection.mutable.HashMap.empty[String, Map[String, String]]
    val startAt = log.latestCheckpointFilesAtOrBefore(version) match {
      case Some((ckptVersion, partFiles)) =>
        // decode is THE driver-side cost of opening a big table (10⁶
        // AddFiles): a manifest's sidecars hold disjoint slices of ONE
        // immutable state, so they decode across cores and the fold
        // below stays order-free (each path occurs once; the head
        // actions occur once, in the manifest). The materialized
        // per-file lists add no asymptotic memory — the live map
        // retains every decoded AddFile anyway.
        val parsed: Seq[Seq[Action]] =
          if (partFiles.size <= 1) partFiles.map(log.readCheckpointPart)
          else {
            import scala.collection.parallel.CollectionConverters._
            partFiles.par.map(log.readCheckpointPart).seq
          }
        parsed.foreach(_.foreach {
          case m: Metadata => metadata = m
          case a: AddFile  => live(a.path) = a
          case t: Txn      => txns(t.appId) = t.version
          case p: Protocol => protocol = p
          case d: DomainMetadata =>
            if (d.removed) domains.remove(d.domain)
            else domains(d.domain) = d.configuration
          case _ => ()
        })
        ckptVersion + 1
      case None => 0L
    }
    // tail version files PARSE across cores like the checkpoint sidecars
    // above (each file independent; the order-sensitive fold stays
    // sequential in version order — .par.map preserves ordering). A
    // bulk-ingest tail is 10⁵ lines per version, and the parse was the
    // single-core cost the parallel sidecar decode already removed for
    // the checkpoint side. Parsed in BOUNDED chunks, each folded
    // before the next parses: a delete-heavy tail's RemoveFile and
    // superseded AddFile actions must not all be resident at peak
    // (CHECKPOINT_INTERVAL × commit size of transient driver heap).
    def readTail(v: Long): Seq[Action] =
      try log.readVersion(v)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          // log cleanup removed the prefix this replay needs: say
          // so, with the horizon, instead of a bare missing-file
          throw explainMissingVersion(log, version, e)
      }
    LakeLog.foldTailChunked(startAt, version, readTail) {
      case m: Metadata   => metadata = m
      case a: AddFile    => live(a.path) = a
      case r: RemoveFile => live.remove(r.path); ()
      case t: Txn        =>
        txns(t.appId) = math.max(t.version, txns.getOrElse(t.appId, Long.MinValue))
      case p: Protocol   => protocol = p
      case d: DomainMetadata =>
        if (d.removed) { domains.remove(d.domain); () }
        else domains(d.domain) = d.configuration
      case _ => () // CommitInfo / CdcFile: not table state
    }
    if (metadata == null)
      throw new IllegalStateException(
        s"lake table at ${log.tablePath} has no Metadata action by " +
        s"version $version")
    // Refuse to expose state replayed under semantics we may not
    // implement — every read and DML path goes through here.
    LakeProtocol.assertReadable(protocol, log.tablePath)
    Snapshot(log, version, metadata, live.values.toSeq, txns.toMap, protocol,
      domains.toMap)
  }
}
