package graft.lake

/** Stable row identity (Delta Lake's `rowTracking` table feature,
  * delta-io PROTOCOL.md "Row Tracking"): every row of a tracked table
  * has an id that is stable across file REORGANIZATION — OPTIMIZE
  * compaction, Z-order clustering, REORG ... APPLY (PURGE) — and
  * across deletion-vector deletes. Downstream incremental consumers
  * (feature stores, training-example ledgers, CDC joins) can key on
  * the id instead of re-deriving a content key per run.
  *
  * Two representations, exactly Delta's design:
  *
  *  - FRESH files: the commit assigns each new [[AddFile]] a
  *    `baseRowId` — a block of `numRecords` consecutive ids carved
  *    from a table-level high-water mark — and physical row i of the
  *    file has id `baseRowId + i`. Zero storage cost: the id is
  *    computed at scan time from the parquet row index the deletion-
  *    vector machinery already materializes exactly.
  *  - REWRITTEN files: reorganization destroys the (file, index) ↦ id
  *    correspondence, so reorganizing rewrites MATERIALIZE the ids of
  *    the rows they carry as a physical [[COL]] column in the new
  *    files. The column is invisible to normal reads (it is not in
  *    the table schema; scans prune to requested columns) and wins
  *    over `baseRowId + index` when present.
  *
  * The high-water mark lives in a [[DomainMetadata]] entry — NOT in
  * [[Metadata.properties]], which would turn every append into a
  * metadata change and abort concurrent writers via the
  * metadata-conflict rule. Assignment happens centrally in
  * [[LakeLog.commit]]: optimistic retries re-read the parent
  * snapshot, so two racing appends can never carve overlapping id
  * blocks (the loser's version collision forces a re-stamp).
  *
  * Preservation scope: ids survive OPTIMIZE compaction, Z-order
  * clustering, REORG ... APPLY (PURGE), copy-on-write DELETE (kept
  * rows), deletion-vector DELETE, UPDATE on both rewrite paths, and
  * MERGE (matched-update and untouched keep-side rows keep their
  * ids; merge-inserted rows are new logical rows and get fresh ids),
  * RESTORE, and clones — an updated row keeps its id because it is
  * the same logical row at a new version.
  *
  * Writer-only feature ([[LakeProtocol.FEATURE_ROW_TRACKING]]): an
  * engine unaware of row ids still reads the data correctly — it just
  * cannot see ids — but a writer must maintain the high-water mark
  * and the rewrite materialization, so unaware writers are fenced.
  */
object RowTracking {

  /** Table property that enables the feature (Delta:
    * `delta.enableRowTracking`).
    */
  val PROP = "graft.enableRowTracking"

  /** [[DomainMetadata]] domain holding the id high-water mark. */
  val DOMAIN = "graft.rowTracking"

  /** Key inside the domain configuration: the NEXT unassigned row id
    * (i.e. 1 + the highest id ever carved out; 0 on a fresh table).
    */
  val HWM_KEY = "rowIdHighWaterMark"

  /** Physical column name for materialized row ids in rewritten
    * files, and the column name row-id reads expose.
    */
  val COL = "_lake_row_id"

  def enabled(props: Map[String, String]): Boolean =
    props.get(PROP).exists(_.equalsIgnoreCase("true"))

  /** Next unassigned id per the replayed domain state. */
  def highWaterMark(domains: Map[String, Map[String, String]]): Long =
    domains.get(DOMAIN).flatMap(_.get(HWM_KEY)).map(_.toLong).getOrElse(0L)

  /** Stamp one commit's actions, `head ++ bulk`, against the parent's
    * metadata and domain state (parentMeta None for version 0): every
    * un-stamped AddFile gets a consecutive id block as the stream is
    * consumed, and the advanced high-water-mark [[DomainMetadata]] is
    * appended once the stream is exhausted — one action resident at a
    * time, so a table-sized bulk never materializes here. The feature
    * switch is read from the commit's own Metadata in `head` (it can
    * toggle the property), else from the parent's. Returns the actions
    * unchanged when the feature is off.
    *
    * Re-adds of EXISTING files (deletion vectors, bloom/stats
    * backfill, RESTORE, clones) arrive with `baseRowId` already set —
    * copied from the entry they supersede — and pass through
    * untouched: that is precisely what keeps ids stable. Files
    * written BEFORE the feature was enabled stay unstamped (their
    * rows read null ids) until [[LakeTable.backfillRowIds]] re-adds
    * them in its own metadata-only maintenance commit — a separate
    * commit, not a piggyback on the enable, so streaming/CDF
    * consumers can classify it by operation name instead of
    * re-delivering the whole table as fresh data.
    */
  def stamp(parentMeta: Option[Metadata],
      parentDomains: Map[String, Map[String, String]],
      head: Seq[Action], bulk: Iterator[Action]): Iterator[Action] = {
    val actions = head.iterator ++ bulk
    val commitMeta = head.collectFirst { case m: Metadata => m }
    val effective = commitMeta.orElse(parentMeta)
      .map(_.properties).getOrElse(Map.empty)
    if (!enabled(effective)) return actions
    val wasEnabled = parentMeta.exists(m => enabled(m.properties))
    var hwm = highWaterMark(parentDomains)
    val priorHwm = hwm
    val stamped: Iterator[Action] = actions.map {
      case a: AddFile if a.baseRowId.isEmpty =>
        if (a.numRecords < 0)
          throw new IllegalStateException(
            s"cannot assign row ids to ${a.path}: the log entry has " +
            "no row count. Backfill stats first (ANALYZE TABLE ... " +
            "COMPUTE DELTA STATISTICS) or rewrite the file, then retry.")
        val s = a.copy(baseRowId = Some(hwm))
        hwm += a.numRecords
        s
      case other => other
    }
    // The domain tail evaluates only after `stamped` is exhausted
    // (Iterator.++ is lazy), so it sees the final high-water mark. It
    // is emitted even when nothing was carved on the enable commit, so
    // the table's tracked state is explicit in the log.
    stamped ++ new Iterator[Action] {
      private var emitted = false
      def hasNext: Boolean = !emitted && (hwm != priorHwm || !wasEnabled)
      def next(): Action = {
        emitted = true
        DomainMetadata(DOMAIN, Map(HWM_KEY -> hwm.toString))
      }
    }
  }
}
