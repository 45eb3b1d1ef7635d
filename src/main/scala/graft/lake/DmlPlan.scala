package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DML planning state at a pinned table version (VERDICT r14 #2).
  *
  * MERGE/UPDATE/DELETE need three things from the table: (a) its
  * metadata (schema, properties, protocol, txn watermarks) — always
  * metadata-sized; (b) a full-table scan for touched-file discovery /
  * anti-joins — a DataFrame, which need not materialize the file list
  * if the plan's FileIndex is columnar; and (c) the AddFile entries of
  * the TOUCHED files only, for the rewrite phase. Only the classic
  * path conflates these into one driver-resident `Seq[AddFile]` of
  * the whole table (~GBs at 10⁶ files).
  *
  * [[DmlPlan.Classic]] wraps a materialized [[Snapshot]].
  * [[DmlPlan.Columnar]] wraps a
  * [[graft.sources.ColumnarLakeFileIndex]]: discovery scans plan
  * through the distributed checkpoint scan, and `subset` fetches the
  * touched AddFiles with a path-filtered distributed pass — the
  * driver holds O(touched chunk), never O(table). The rewrite
  * pipeline downstream ([[StreamedRewrite.rewrite]],
  * [[LakeTable.readFilesWithMeta]], [[LakeTable.stageDeletionVectors]])
  * is the same for both: it receives a subset Snapshot per chunk,
  * which carries exactly the chunk's files.
  */
private[lake] sealed trait DmlPlan {
  def table: LakeTable
  def version: Long
  def metadata: Metadata
  def transactions: Map[String, Long]
  /** true iff the live set is empty. */
  def isEmpty: Boolean
  /** Live file count — the distributed-touched-source gate's cheap
    * pre-test (metadata-resident on both plan shapes).
    */
  def liveFileCountHint: Long
  final def schema: StructType = StructType.fromDDL(metadata.schemaDDL)
  final def partitionColumns: Seq[String] = metadata.partitionColumns
  /** Full-table frame, external read semantics (DVs applied). */
  def toDF: DataFrame
  /** Full-table frame with `_metadata` materialized and DVs applied —
    * the discovery scan every touched-file pass filters. The row-id
    * variant carries [[RowTracking.COL]]; under the columnar plan its
    * (file → baseRowId) base map is the index's executor-side
    * projection (paths + longs on the driver, never stats-bearing
    * AddFiles — the same honest cost the read path's row-id frame
    * pays).
    */
  def withMetaDF: DataFrame = withMetaDF(withRowIds = false)
  def withMetaDF(withRowIds: Boolean): DataFrame
  /** Snapshot restricted to exactly `relPaths` — what the rewrite
    * phase reads and the commit anchors on (version + metadata ride
    * along for conflict checks). Empty `relPaths` yields a files-empty
    * anchor snapshot.
    */
  def subset(relPaths: Seq[String]): Snapshot
  /** Metadata-only DELETE / replaceWhere support: when `filter`
    * references partition columns only, the EXACT matched file count
    * and a re-invocable stream of the matched paths; None otherwise.
    * The stream lets a partition DELETE on a 10⁷-file table commit its
    * tombstones without the driver ever holding the matched set.
    */
  def partitionOnlyPaths(filter: String)
      : Option[(Long, () => Iterator[String])]

  /** Relative paths of live files containing ≥1 row matching `cond` —
    * shared discovery logic over [[withMetaDF]].
    */
  final def touchedPaths(cond: Column): Seq[String] = {
    if (isEmpty) return Nil
    withMetaDF
      .filter(coalesce(cond, lit(false)))
      .select(col("_metadata.file_path"))
      .distinct().collect()
      .map(r => table.relativize(r.getString(0))).toSeq
  }
}

private[lake] object DmlPlan {

  final class Classic(val table: LakeTable, snap: Snapshot)
      extends DmlPlan {
    def version: Long = snap.version
    def metadata: Metadata = snap.metadata
    def transactions: Map[String, Long] = snap.transactions
    def isEmpty: Boolean = snap.files.isEmpty
    def liveFileCountHint: Long = snap.files.size.toLong
    def toDF: DataFrame = snap.toDF(table.spark)
    def withMetaDF(withRowIds: Boolean): DataFrame =
      graft.sources.LakeDataSource.snapshotDFWithMeta(table.spark, snap,
        withRowIds)
    def subset(relPaths: Seq[String]): Snapshot =
      if (relPaths.isEmpty) snap.copy(files = Nil)
      else {
        val wanted = relPaths.toSet
        val files = snap.files.filter(f => wanted(f.path))
        require(files.size == wanted.size,
          s"subset: ${wanted.size - files.size} paths not in snapshot")
        snap.copy(files = files)
      }
    def partitionOnlyPaths(filter: String)
        : Option[(Long, () => Iterator[String])] =
      FilePruner.partitionOnlyMatches(snap, filter, Some(table.spark))
        .map(files => (files.size.toLong, () => files.iterator.map(_.path)))
    /** The wrapped snapshot, for callers that hold a Classic plan. */
    def snapshot: Snapshot = snap
  }

  final class Columnar(val table: LakeTable,
      idx: graft.sources.ColumnarLakeFileIndex) extends DmlPlan {
    private def spark: SparkSession = table.spark
    def version: Long = idx.version
    def metadata: Metadata = idx.metadata
    def transactions: Map[String, Long] = idx.tableTransactions
    def isEmpty: Boolean = idx.numFiles == 0L
    def liveFileCountHint: Long = idx.numFiles
    def toDF: DataFrame = spark.baseRelationToDataFrame(
      graft.sources.LakeDataSource.columnarRelation(spark, idx, Map.empty))
    def withMetaDF(withRowIds: Boolean): DataFrame =
      graft.sources.LakeDataSource.columnarDFWithMeta(spark, idx,
        withRowIds)
    def subset(relPaths: Seq[String]): Snapshot =
      idx.syntheticSnap(idx.addsForPaths(relPaths))
    /** EXACT matched partition tuples for a partition-only filter —
      * evaluated over the executor-deduplicated DISTINCT tuples (with
      * their per-tuple live-file counts), so the driver holds
      * O(partitions) state, never candidate AddFiles.
      */
    private def matchedTuples(filter: String)
        : Option[(Map[Map[String, String], Long],
                  Set[Map[String, String]])] = {
      if (metadata.partitionColumns.isEmpty) return None
      // cheap reference check first (parse only — no file access);
      // non-partition references fall straight to the rewrite path
      val parsed = spark.sessionState.sqlParser.parseExpression(filter)
      val refs = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
      if (refs.isEmpty || !refs.forall(metadata.partitionColumns.contains))
        return None
      val counts = idx.partitionTupleCounts()
      FilePruner.matchingPartitionTuples(metadata.partitionColumns,
        schema, filter, counts.keys.toSeq, Some(spark)).map((counts, _))
    }

    /** The count is the per-tuple fold of live-file counts; the paths
      * stream from the partition-filtered checkpoint-part scan
      * ([[graft.sources.ColumnarLakeFileIndex.pathsForPartitionsStream]]).
      */
    def partitionOnlyPaths(filter: String)
        : Option[(Long, () => Iterator[String])] =
      matchedTuples(filter).map { case (counts, pvs) =>
        (pvs.iterator.map(pv => counts.getOrElse(pv, 0L)).sum,
          () => idx.pathsForPartitionsStream(pvs))
      }
  }
}
