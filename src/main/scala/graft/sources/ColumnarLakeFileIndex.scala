package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.lake.{AddFile, ColumnMapping, FilePruner, LakeLog,
  LakeProtocol, LakeTable, Metadata, Protocol, RemoveFile, Snapshot}

/** Columnar-state [[FileIndex]]: answers `listFiles` WITHOUT ever
  * materializing the table's full file list on the driver — the
  * 10⁷-file posture, where a resident `Seq[AddFile]` is tens of GB of
  * driver heap for state the query never touches.
  *
  * How: the live set of a version = (checkpoint adds not superseded
  * since) + (post-checkpoint tail adds). The TAIL is bounded by the
  * checkpoint cadence and stays driver-parsed, exactly as before. The
  * CHECKPOINT — the O(table) part — is already columnar parquet
  * ([[graft.lake.CheckpointParquet]], round 10), so the candidate scan
  * runs as a SPARK JOB: one task per checkpoint part decodes its slice
  * and applies the same conservative stats/partition-bound test the
  * driver index uses ([[FilePruner.mayMatchFn]] — the identical
  * function, shipped to executors, so the two passes cannot drift).
  * Only the SURVIVORS of the query's own filters come back to the
  * driver.
  *
  * Exactness is then delegated, not re-implemented: the survivors wrap
  * into a synthetic [[Snapshot]] and the classic [[LakeFileIndex]]
  * runs its full pipeline over them (exact partition predicates,
  * bucket pruning, generated-column derivation). The distributed pass
  * only ever needs to be CONSERVATIVE — a dropped conjunct or an
  * unknown predicate shape keeps extra files, costing memory
  * proportional to the slack, never correctness.
  *
  * Scope (the `tryBuild` gate): the newest checkpoint at or below the
  * version is a manifest (the 10⁷ case always has one; small tables
  * keep the single JSON checkpoint and gain nothing), and reads only
  * (DML rewrites hold full snapshots by design). DV and bloom tables
  * ARE supported — their relation formats need a
  * driver-resident (file → sidecar) path map by design, so the
  * summary pass collects the pairs (bounded by SIDECAR count, never
  * table size) and only a table whose sidecar count itself exceeds
  * [[ColumnarLakeFileIndex.MAX_SIDECAR_PAIRS]] falls back. Task
  * reads go through DRIVER-built [[graft.lake.LogFileReader]] handles
  * from the table's [[graft.lake.LogStore]] — the same seam as every
  * other log read — so the columnar path holds on an object store,
  * not just a shared POSIX mount.
  */
final class ColumnarLakeFileIndex private[sources] (
    spark: SparkSession, val log: LakeLog, val version: Long,
    meta: Metadata, protocol: Protocol,
    domains: Map[String, Map[String, String]],
    transactions: Map[String, Long],
    ckptParts: Seq[String],
    tailAdds: Seq[AddFile], tailTouched: Set[String],
    summary: ColumnarLakeFileIndex.Summary) extends FileIndex {

  private val schema = StructType.fromDDL(meta.schemaDDL)

  override val partitionSchema: StructType = {
    val byName = schema.fields.map(f => f.name -> f).toMap
    StructType(meta.partitionColumns.map(byName(_)))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(log.tablePath))

  /** Survivor count of the last listFiles — test/diagnostic hook for
    * the driver-memory claim (survivors + tail, never the table).
    */
  @volatile private[graft] var lastCandidateCount: Long = -1L

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val survivors = candidates(partitionFilters ++ dataFilters)
    lastCandidateCount = survivors.size
    // exact semantics = the classic index over the survivors: its
    // stats re-test is idempotent, its partition predicate / bucket
    // pruning / generated-column derivation run unchanged. Bucket
    // pruning stays per-file-sound on a subset: a parsable tag is
    // ground truth for ITS file, untagged files are always kept.
    new LakeFileIndex(spark, syntheticSnap(survivors))
      .listFiles(partitionFilters, dataFilters)
  }

  private[graft] def syntheticSnap(files: Seq[AddFile]): Snapshot =
    Snapshot(log, version, meta, files, transactions, protocol, domains)

  /** Conservative candidate set for `filters`: distributed scan of
    * the checkpoint parts (tail-touched paths masked — any tail
    * action supersedes the checkpoint row) plus the driver-held tail
    * adds, both through the same [[FilePruner]] test. `project` maps
    * each surviving AddFile ON THE EXECUTOR, so a caller that needs
    * only a projection of the survivors (paths, say) never brings the
    * AddFiles themselves to the driver.
    */
  private def candidatesAs[T: scala.reflect.ClassTag](
      filters: Seq[Expression])(project: AddFile => T): Seq[T] = {
    val conjuncts = FilePruner.serializableConjuncts(filters)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val partCols = meta.partitionColumns.toSet
    val physFor = ColumnMapping.overrides(meta)
    val lossy = LakeTable.lossyStatsKeys(meta.properties)
    val fn = FilePruner.mayMatchFn(conjuncts, types, partCols, physFor,
      lossy)
    val fromCkpt: Seq[T] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        // DRIVER-built read handles: the task closure carries the
        // store's own GET handle per part, never a bare filesystem
        // path — the columnar scan works wherever the LogStore does
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.read(r).iterator
          }
          .filter(a => !touched.value.contains(a.path) && fn(a))
          .map(project)
          .collect().toSeq
      }
    fromCkpt ++ tailAdds.filter(fn).map(project)
  }

  private def candidates(filters: Seq[Expression]): Seq[AddFile] =
    candidatesAs(filters)(identity)

  /** Stats-free distributed projection of the live set: same scan
    * shape as [[candidatesAs]] with no pruning, but the checkpoint
    * parts decode under [[graft.lake.CheckpointParquet.readAddsLite]]
    * — parquet column pruning never reads the min/max/nullCount
    * chunks (the byte bulk of a part), so identity/placement
    * projections pay a small fraction of the part's I/O and decode.
    * The projected AddFiles carry EMPTY stats maps by contract —
    * every `project` passed here must not touch them.
    */
  private def liteProjectedAs[T: scala.reflect.ClassTag](
      project: AddFile => T): Seq[T] = {
    val fromCkpt: Seq[T] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.readAddsLite(r)
              .filter(a => !touched.value.contains(a.path))
              .map(project)
          }
          .collect().toSeq
      }
    fromCkpt ++ tailAdds.map(project)
  }

  /** Conservative candidate AddFiles for already-parsed predicates —
    * the DML planner's metadata-only entry point (partition-only
    * DELETE). Driver memory is bounded by the predicate's match
    * superset, never the table.
    */
  private[graft] def candidatesFor(filters: Seq[Expression]): Seq[AddFile] =
    candidates(filters)

  /** The AddFile entries of the given PARTITIONS — what a
    * partition-scoped maintenance pass (auto-compact after a write)
    * needs: driver memory bounded by the touched partitions' file
    * count, never the table.
    */
  private[graft] def addsForPartitions(
      pvs: Set[Map[String, String]]): Seq[AddFile] = {
    if (pvs.isEmpty) return Nil
    val fromCkpt: Seq[AddFile] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val want = spark.sparkContext.broadcast(pvs)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.read(r).iterator
          }
          .filter(a => !touched.value.contains(a.path) &&
            want.value.contains(a.partitionValues))
          .collect().toSeq
      }
    fromCkpt ++ tailAdds.filter(a => pvs(a.partitionValues))
  }

  /** The AddFile entries of exactly `relPaths` (a DML's touched set),
    * fetched through the distributed checkpoint scan — the driver
    * holds O(touched) AddFiles, never the live list. Throws if any
    * requested path is not live at this version (same contract as
    * [[graft.lake.LakeTable]]'s `fileSubset`).
    */
  private[graft] def addsForPaths(relPaths: Seq[String]): Seq[AddFile] = {
    val all = addsForPathsIfLive(relPaths)
    require(all.size == relPaths.toSet.size,
      s"addsForPaths: ${relPaths.toSet.size - all.size} of " +
      s"${relPaths.toSet.size} " +
      s"paths not live at version $version of ${log.tablePath}")
    all
  }

  /** Tolerant twin of [[addsForPaths]]: requested paths NOT live at
    * this version are simply absent from the result (the classic
    * `snapshot.files.filter` contract). CDF's pre-commit remove lookup
    * needs this — a commit's DV-carrying AddFiles may name files that
    * were not live at v-1 (e.g. RESTORE re-adding DV-bearing target
    * files), and those legitimately contribute no pre-image rows.
    */
  private[graft] def addsForPathsIfLive(
      relPaths: Seq[String]): Seq[AddFile] = {
    if (relPaths.isEmpty) return Nil
    val wanted = relPaths.toSet
    val fromCkpt: Seq[AddFile] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val want = spark.sparkContext.broadcast(wanted)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.read(r).iterator
          }
          .filter(a => !touched.value.contains(a.path) &&
            want.value.contains(a.path))
          .collect().toSeq
      }
    fromCkpt ++ tailAdds.filter(a => wanted(a.path))
  }

  /** The ENTIRE live set as a STREAM: one distributed pass over the
    * checkpoint parts whose entries arrive a partition at a time
    * (`RDD.toLocalIterator`) — the driver holds at most one part's
    * AddFiles, each part decodes exactly once, and nothing
    * table-sized is broadcast. This feeds the streamed RESTORE's
    * bulk iterator (the caller filters against its own path set as
    * entries flow past); per-chunk [[addsForPaths]] calls would
    * decode every part once PER CHUNK, and a path-set filter pushed
    * into the tasks would broadcast O(table) strings.
    */
  private[graft] def liveAddsStream(): Iterator[AddFile] = {
    val fromCkpt: Iterator[AddFile] =
      if (ckptParts.isEmpty) Iterator.empty
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        val rdd = spark.sparkContext
          .parallelize(readers, readers.size)
          .map { r =>
            graft.lake.CheckpointParquet.read(r).iterator
              .filter(a => !touched.value.contains(a.path))
              .toArray
          }
        prefetchedPartStream(rdd)
      }
    fromCkpt ++ tailAdds.iterator
  }

  /** Relative paths of the live files whose partition tuple is in
    * `pvs`, as a bounded-prefetch STREAM of path strings — the
    * streamed partition-DELETE's tombstone source. Parts decode LITE
    * (the filter needs partitionValues and path only) and the
    * partition-tuple set broadcasts (O(partitions), never O(files));
    * the driver holds at most [[ColumnarLakeFileIndex
    * .STREAM_PREFETCH_PARTS]] parts' matching paths at once.
    */
  private[graft] def pathsForPartitionsStream(
      pvs: Set[Map[String, String]]): Iterator[String] = {
    if (pvs.isEmpty) return Iterator.empty
    val fromCkpt: Iterator[String] =
      if (ckptParts.isEmpty) Iterator.empty
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val want = spark.sparkContext.broadcast(pvs)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        val rdd = spark.sparkContext
          .parallelize(readers, readers.size)
          .map { r =>
            graft.lake.CheckpointParquet.readAddsLite(r)
              .filter(a => !touched.value.contains(a.path) &&
                want.value.contains(a.partitionValues))
              .map(_.path)
              .toArray
          }
        prefetchedPartStream(rdd)
      }
    fromCkpt ++ tailAdds.iterator
      .filter(a => pvs(a.partitionValues)).map(_.path)
  }

  /** Bounded-prefetch local iterator over a one-array-per-partition
    * RDD: toLocalIterator runs one single-task job per partition
    * SERIALLY, so the decode that replay does across cores would
    * serialize here (measured 80 s for a 1M-entry restore). Keep
    * [[ColumnarLakeFileIndex.STREAM_PREFETCH_PARTS]] part-jobs in
    * flight — decode overlaps consumption, driver heap stays bounded
    * at the window's parts.
    */
  private def prefetchedPartStream[T: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[Array[T]]): Iterator[T] = {
    val n = rdd.partitions.length
    val window = ColumnarLakeFileIndex.STREAM_PREFETCH_PARTS
    new Iterator[Array[T]] {
      private val inflight = scala.collection.mutable.Queue
        .empty[scala.concurrent.Future[Array[T]]]
      private var nextPart = 0
      private def pump(): Unit =
        while (nextPart < n && inflight.size < window) {
          val p = nextPart
          // the future's value is resultFunc, evaluated once the
          // job completes — capture the single partition's array
          // through the handler
          val box = new java.util.concurrent.atomic.AtomicReference[
            Array[T]]()
          inflight.enqueue(spark.sparkContext.submitJob[
              Array[T], Array[T], Array[T]](
            rdd, it => it.next(), Seq(p),
            (_, u) => box.set(u), box.get()))
          nextPart += 1
        }
      def hasNext: Boolean = { pump(); inflight.nonEmpty }
      def next(): Array[T] = {
        pump()
        scala.concurrent.Await.result(inflight.dequeue(),
          scala.concurrent.duration.Duration.Inf)
      }
    }.flatMap(_.iterator)
  }

  /** (relative path, size) projection of the live set — the streaming
    * source's initial-snapshot chunk index. O(files) strings+longs on
    * the driver (released once the initial snapshot is delivered),
    * never stats-bearing AddFiles; the projection runs on the
    * executors like every other candidate scan.
    */
  private[graft] def pathSizes(): Seq[(String, Long)] =
    liteProjectedAs(f => (f.path, f.size))

  /** (relative path, baseRowId) projection of the live set — the
    * row-tracking read path's base map, projected on the executors so
    * the driver holds (path, long) pairs, never AddFiles.
    */
  private[graft] def pathBases(): Seq[(String, Option[Long])] =
    liteProjectedAs(f => (f.path, f.baseRowId))

  /** (relative path, dvPath, bloomPath, baseRowId, clusterGen) — the
    * per-path MUTABLE entry facts, i.e. everything a metadata-only
    * re-add can change (size/stats/partition values are immutable per
    * path because data paths are uuid-fresh per write). RESTORE's
    * entry diff rides this: a target entry differing in any of these
    * must be re-added even when the path is live at both versions.
    */
  private[graft] def pathMutables(): Seq[(String, Option[String],
      Option[String], Option[Long], Option[Long])] =
    liteProjectedAs(f =>
      (f.path, f.dvPath, f.bloomPath, f.baseRowId, f.clusterGen))

  /** DISTINCT partition-value maps of the live set, deduplicated ON
    * THE EXECUTORS — SHOW PARTITIONS' answer: the driver receives one
    * row per PARTITION (10³–10⁵ at any real layout), never one per
    * file.
    */
  private[graft] def distinctPartitionTuples(): Seq[Map[String, String]] = {
    val fromCkpt: Seq[Map[String, String]] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.readAddsLite(r)
              .filter(a => !touched.value.contains(a.path))
          }
          .map(_.partitionValues)
          .distinct()
          .collect().toSeq
      }
    (fromCkpt ++ tailAdds.map(_.partitionValues)).distinct
  }

  /** [[distinctPartitionTuples]] WITH exact per-tuple live-file
    * counts, folded inside the tasks (`reduceByKey`) so the driver
    * still holds O(partitions) state. The streamed-vs-classic DML
    * split routes on these counts: a uniform per-partition average
    * misroutes skewed layouts — a matched set far above the streaming
    * threshold could land on the classic path and drag the full path
    * list through the driver, the exact state the streamed commit
    * exists to avoid.
    */
  private[graft] def partitionTupleCounts()
      : Map[Map[String, String], Long] = {
    val fromCkpt: Seq[(Map[String, String], Long)] =
      if (ckptParts.isEmpty) Nil
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        val readers = ckptParts.map(p =>
          log.store.fileReader(java.nio.file.Paths.get(p)))
        spark.sparkContext
          .parallelize(readers, readers.size)
          .flatMap { r =>
            graft.lake.CheckpointParquet.readAddsLite(r)
              .filter(a => !touched.value.contains(a.path))
              .map(a => (a.partitionValues, 1L))
          }
          .reduceByKey(_ + _)
          .collect().toSeq
      }
    val all = scala.collection.mutable.HashMap
      .empty[Map[String, String], Long]
    fromCkpt.foreach { case (pv, n) =>
      all(pv) = all.getOrElse(pv, 0L) + n }
    tailAdds.foreach { a =>
      all(a.partitionValues) = all.getOrElse(a.partitionValues, 0L) + 1 }
    all.toMap
  }

  /** (relative path, dvPath, bloomPath) projection of the live set —
    * what FSCK's damage probe and VACUUM's protection set need:
    * path strings on the driver, never stats-bearing AddFiles.
    */
  private[graft] def pathSidecars()
      : Seq[(String, Option[String], Option[String])] =
    liteProjectedAs(f => (f.path, f.dvPath, f.bloomPath))

  /** Full path listing — O(files) driver STRINGS when called (rare:
    * `Dataset.inputFiles`); AddFiles are projected to resolved path
    * strings inside the Spark job, so the per-file metadata (stat and
    * partition maps) never materializes on the driver.
    */
  override def inputFiles: Array[String] = {
    val root = log.tablePath // no `this` in the task closure
    liteProjectedAs(f =>
      LakeLog.resolveFile(root, f.path).toString).toArray
  }

  override def refresh(): Unit = () // versions are immutable

  override def sizeInBytes: Long = summary.bytes

  private[graft] def allBucketTagged: Boolean = summary.allBucketTagged

  private[graft] def metadata: Metadata = meta
  private[graft] def tableProtocol: Protocol = protocol
  private[graft] def tableDomains: Map[String, Map[String, String]] = domains
  private[graft] def tableTransactions: Map[String, Long] = transactions
  private[graft] def numFiles: Long = summary.numFiles

  /** (file, sidecar) RELATIVE path pairs of the live set — what the
    * DV / bloom relation formats need (bounded by sidecar count).
    */
  private[graft] def dvPairs: Seq[(String, String)] = summary.dvPairs
  private[graft] def bloomPairs: Seq[(String, String)] = summary.bloomPairs

  /** Total rows buried by deletion vectors across the live set —
    * DESCRIBE DETAIL's numDeletedRows, folded in the same summary
    * pass (never a per-file driver walk).
    */
  private[graft] def dvDeletedRows: Long = summary.dvRows
}

object ColumnarLakeFileIndex {

  /** Table-level facts a relation needs BEFORE deciding to plan
    * columnar, computed in the same distributed pass shape as the
    * candidate scan and cached per (table, version). `dvPairs` /
    * `bloomPairs` are the (file, sidecar) RELATIVE path pairs the
    * DV/bloom relation formats need — their formats carry a
    * driver-resident path map by design, so collecting the pairs
    * (bounded by sidecar count, never table size) is the honest cost
    * of the feature; `overflow` trips past [[MAX_SIDECAR_PAIRS]] and
    * falls the read back to the classic path.
    */
  final case class Summary(
      numFiles: Long, bytes: Long, allBucketTagged: Boolean,
      dvPairs: Seq[(String, String)], bloomPairs: Seq[(String, String)],
      dvRows: Long, overflow: Boolean)

  /** Sidecar-map bound: a table whose DV/bloom file count exceeds this
    * materializes comparable driver state either way — classic path.
    */
  private val MAX_SIDECAR_PAIRS = 1 << 16

  /** Part-jobs kept in flight by [[liveAddsStream]]'s bounded-prefetch
    * local iterator — the driver-heap bound is this many parts'
    * AddFiles (each ≤ CHECKPOINT_PART_MAX_ACTIONS entries).
    */
  private val STREAM_PREFETCH_PARTS = 4

  /** Keyed like the snapshot cache: (path, version) PLUS the version
    * file's (size, mtime) fingerprint — a table deleted and recreated
    * at the same path (fixture rebuilds, scratch reuse) restarts its
    * version numbers and must never serve the old table's summary.
    * Bounded exactly like [[Snapshot]]'s cache (access-ordered LRU of
    * soft references): a long-lived process reading many versions of
    * many DV/bloom tables would otherwise pin up to 2×65536
    * path-string pairs PER ENTRY for its lifetime.
    */
  private val MAX_CACHED_SUMMARIES = 64
  private val summaryCache = new java.util.LinkedHashMap[
      (String, Long, Option[(Long, Long)]),
      java.lang.ref.SoftReference[Summary]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Option[(Long, Long)]),
          java.lang.ref.SoftReference[Summary]]): Boolean =
      size() > MAX_CACHED_SUMMARIES
  }
  private def cachedSummary(
      key: (String, Long, Option[(Long, Long)])): Option[Summary] =
    summaryCache.synchronized(Option(summaryCache.get(key)))
      .flatMap(r => Option(r.get))
  private def cacheSummary(
      key: (String, Long, Option[(Long, Long)]), s: Summary): Unit =
    summaryCache.synchronized {
      summaryCache.put(key, new java.lang.ref.SoftReference(s)); ()
    }

  /** Build the columnar index for `version` (-1 = latest) when the
    * preconditions hold: the newest checkpoint at or below the version
    * is a manifest, and (for DV/bloom tables) a sidecar count under
    * [[MAX_SIDECAR_PAIRS]]. None otherwise — the caller falls back to
    * the classic materialized path, which is also the honest one at
    * those shapes.
    */
  def tryBuild(spark: SparkSession, log: LakeLog, requested: Long)
      : Option[ColumnarLakeFileIndex] = {
    if (!log.exists) return None
    val latest = log.latestVersion
    if (latest < 0) return None
    val version = if (requested < 0) latest else requested
    // THE columnar rule: the newest checkpoint at or below the version
    // is a manifest. Its head rides the manifest (read by
    // replayMetaTxns below); the scan's part files are its adds-only
    // parquet sidecars.
    val ckpt = log.latestCheckpointFilesAtOrBefore(version)
      .collect { case (v, manifest +: sidecars)
        if manifest.getFileName.toString
          .endsWith(".checkpoint.manifest.json") && sidecars.nonEmpty =>
        (v, sidecars)
      }
    ckpt match {
      case None => None
      case Some((ckptVersion, partFiles)) =>
        val (meta, protocol, domains, txns) =
          Snapshot.replayMetaTxns(log, version)
        // the same gate every read path honors: never expose state
        // replayed under semantics this engine may not implement
        LakeProtocol.assertReadable(protocol, log.tablePath)
        // driver-parsed tail: bounded by the checkpoint cadence
        val live = scala.collection.mutable
          .LinkedHashMap.empty[String, AddFile]
        val touched = scala.collection.mutable.HashSet.empty[String]
        var v = ckptVersion + 1
        while (v <= version) {
          log.readVersion(v).foreach {
            case a: AddFile => live(a.path) = a; touched += a.path
            case r: RemoveFile => live.remove(r.path); touched += r.path
            case _ => ()
          }
          v += 1
        }
        val tailAdds = live.values.toSeq
        val parts = partFiles.map(_.toString)
        val key = (java.nio.file.Paths.get(log.tablePath)
          .toAbsolutePath.normalize.toString, version,
          log.store.stat(log.versionFile(version)))
        val summary = cachedSummary(key).getOrElse {
          val s = summarize(spark,
            partFiles.map(log.store.fileReader), tailAdds, touched.toSet)
          cacheSummary(key, s)
          s
        }
        if (summary.overflow) None
        else Some(new ColumnarLakeFileIndex(spark, log, version, meta,
          protocol, domains, txns, parts, tailAdds, touched.toSet,
          summary))
    }
  }

  /** Per-slice fold state for [[summarize]]: counts, bucket-tag flag,
    * and the bounded sidecar pair lists. Once `overflow` trips the
    * pair vectors STOP accumulating (the summary's only remaining job
    * is to report the fallback) — a heavily DV'd 10⁷-file table must
    * not transiently materialize all sidecar pairs on its way to the
    * classic path the bound exists to protect.
    */
  private final case class Agg(
      n: Long, bytes: Long, tagged: Boolean,
      dv: Vector[(String, String)], bloom: Vector[(String, String)],
      dvRows: Long, overflow: Boolean) {
    def +(a: AddFile): Agg = {
      val taggedA = org.apache.spark.sql.execution.datasources
        .BucketingUtils
        .getBucketId(new java.io.File(a.path).getName).isDefined
      if (overflow)
        return Agg(n + 1, bytes + a.size, tagged && taggedA,
          Vector.empty, Vector.empty, dvRows + a.dvCardinality,
          overflow = true)
      val dv2 = a.dvPath.fold(dv)(d => dv :+ (a.path, d))
      val bloom2 = a.bloomPath.fold(bloom)(b => bloom :+ (a.path, b))
      val over = dv2.size > MAX_SIDECAR_PAIRS ||
        bloom2.size > MAX_SIDECAR_PAIRS
      Agg(n + 1, bytes + a.size, tagged && taggedA,
        if (over) Vector.empty else dv2,
        if (over) Vector.empty else bloom2,
        dvRows + a.dvCardinality, over)
    }
    def merge(o: Agg): Agg = {
      val over = overflow || o.overflow ||
        dv.size + o.dv.size > MAX_SIDECAR_PAIRS ||
        bloom.size + o.bloom.size > MAX_SIDECAR_PAIRS
      Agg(n + o.n, bytes + o.bytes, tagged && o.tagged,
        if (over) Vector.empty else dv ++ o.dv,
        if (over) Vector.empty else bloom ++ o.bloom,
        dvRows + o.dvRows, over)
    }
  }
  private def aggZero = Agg(0L, 0L, true, Vector.empty, Vector.empty,
    0L, overflow = false)

  /** One distributed pass over the checkpoint parts folding
    * (count, bytes, bucket tags, DV/bloom sidecar pairs), tail folded
    * in on the driver. Nothing per-file survives the job beyond the
    * bounded sidecar lists.
    */
  private def summarize(spark: SparkSession,
      readers: Seq[graft.lake.LogFileReader],
      tailAdds: Seq[AddFile], tailTouched: Set[String]): Summary = {
    val ckptAgg =
      if (readers.isEmpty) aggZero
      else {
        val touched = spark.sparkContext.broadcast(tailTouched)
        spark.sparkContext.parallelize(readers, readers.size)
          .map { r =>
            // lite decode: the fold touches no stats, and parquet
            // column pruning skips the stats chunks' I/O entirely —
            // the 10⁷-file summary pass reads paths and scalars, not
            // the table's whole stat volume
            graft.lake.CheckpointParquet.readAddsLite(r)
              .filterNot(a => touched.value.contains(a.path))
              .foldLeft(aggZero)(_ + _)
          }
          .reduce(_ merge _)
      }
    val all = tailAdds.foldLeft(ckptAgg)(_ + _)
    Summary(all.n, all.bytes, all.tagged, all.dv, all.bloom,
      all.dvRows, all.overflow)
  }

  private[graft] def clearCacheForTest(): Unit =
    summaryCache.synchronized(summaryCache.clear())
}
