package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE INTO for lake tables, with the reference's builder shape
  * (`etl/02:501-506`, `rapid:416-420`, `util:68-73`):
  *
  * {{{
  * LakeTable.forPath(spark, path).as("t")
  *   .merge(sourceDF.as("s"), "t.value = s.value")
  *   .whenMatchedUpdate(Map("status" -> "s.status"))
  *   .whenNotMatchedInsert(Map("value" -> "s.value", ...))
  *   .execute()
  * }}}
  *
  * Algorithm (SURVEY §7.3, mirroring the Delta MERGE strategy):
  *  1. inner/semi join source × target to find *touched files*;
  *  2. full-outer join source × (rows of touched files only), classify
  *     each row matched / target-only / source-only, apply the clause
  *     list in order (first clause whose condition holds wins) — the
  *     winning clause is the row's keep / update / delete kind;
  *  3. [[StreamedRewrite.rewrite]] applies those row changes, with the
  *     inserts, copy-on-write or with deletion vectors, in one atomic
  *     commit.
  *
  * The join condition is an arbitrary expression — non-equi and RLIKE
  * conditions (J5, `etl/05:100-107`) plan as broadcast-nested-loop
  * joins automatically. A target row matched by more than one source
  * row errors when update/delete clauses exist (Delta semantics,
  * `etl/02:250-252` relies on it).
  *
  * `WHEN NOT MATCHED BY SOURCE` clauses (Delta parity) act on target
  * rows with no source match — the table-sync idiom
  * (matched-update + not-matched-insert + by-source-delete) in one
  * atomic commit. Their file-touch set comes from an anti-join, and
  * their expressions must resolve against the target alone.
  */
final class LakeMergeBuilder private[lake] (
    table: LakeTable,
    targetAlias: Option[String],
    source: DataFrame,
    condition: String) {

  private sealed trait MatchedClause {
    def cond: Option[String]
  }
  private case class UpdateClause(cond: Option[String],
      set: Map[String, String]) extends MatchedClause
  private case class DeleteClause(cond: Option[String]) extends MatchedClause
  private case class InsertClause(cond: Option[String],
      values: Map[String, String])

  private var matchedClauses = Vector.empty[MatchedClause]
  private var insertClauses = Vector.empty[InsertClause]
  private var bySourceClauses = Vector.empty[MatchedClause]
  private var schemaEvolution = false
  private var txn: Option[(String, Long)] = None

  /** Idempotent-writer watermark riding the MERGE commit (the same
    * Delta `txn` action [[LakeWriter.write]] supports for appends):
    * when `(appId, version)` is already recorded in the table's
    * transactions, the whole merge is a silent no-op. This is what
    * makes a foreachBatch MERGE sink exactly-once — a restarted
    * streaming query replaying an already-committed micro-batch must
    * not re-apply it (deletes would no-op but a re-run of
    * aggregating/expression SETs could diverge, and the replay would
    * burn a rewrite commit either way). Re-checked on every commit
    * retry: if a concurrent twin of the same app lands the txn while
    * this merge stages, the commit aborts and the merge returns
    * quietly instead of double-applying.
    */
  def withTransaction(appId: String, version: Long): LakeMergeBuilder = {
    txn = Some((appId, version))
    this
  }

  /** Enable automatic schema evolution (Delta's
    * `withSchemaEvolution()` / SQL `MERGE WITH SCHEMA EVOLUTION`):
    * source columns absent from the target are added to the table —
    * nullable, in ONE metadata commit — before the merge runs, so
    * `UPDATE SET *` / `INSERT *` carry them through. Existing rows
    * read NULL for the new columns (same read-schema mechanics as
    * ALTER TABLE ADD COLUMN). Explicit set/values maps keep the
    * all-columns-explicit discipline against the WIDENED schema.
    */
  def withSchemaEvolution(): LakeMergeBuilder = {
    schemaEvolution = true
    this
  }

  def whenMatchedUpdate(set: Map[String, String]): LakeMergeBuilder =
    whenMatchedUpdate(null, set)

  def whenMatchedUpdate(condition: String,
      set: Map[String, String]): LakeMergeBuilder = {
    matchedClauses :+= UpdateClause(Option(condition), set)
    this
  }

  /** UPDATE SET * — every target column from the like-named source
    * column, qualified by the source alias when given.
    */
  def whenMatchedUpdateAll(): LakeMergeBuilder = {
    matchedClauses :+= UpdateClause(None, null)
    this
  }

  /** UPDATE SET * guarded by a clause condition. */
  def whenMatchedUpdateAll(condition: String): LakeMergeBuilder = {
    matchedClauses :+= UpdateClause(Option(condition), null)
    this
  }

  def whenMatchedDelete(): LakeMergeBuilder = whenMatchedDelete(null)

  def whenMatchedDelete(condition: String): LakeMergeBuilder = {
    matchedClauses :+= DeleteClause(Option(condition))
    this
  }

  def whenNotMatchedInsert(values: Map[String, String]): LakeMergeBuilder =
    whenNotMatchedInsert(null, values)

  def whenNotMatchedInsert(condition: String,
      values: Map[String, String]): LakeMergeBuilder = {
    insertClauses :+= InsertClause(Option(condition), values)
    this
  }

  /** INSERT * — every target column from the like-named source column. */
  def whenNotMatchedInsertAll(): LakeMergeBuilder = {
    insertClauses :+= InsertClause(None, null)
    this
  }

  /** WHEN NOT MATCHED BY SOURCE ... UPDATE — acts on TARGET rows with
    * no matching source row (Delta's by-source clauses; the standard
    * table-sync idiom is matched-update + not-matched-insert +
    * by-source-delete). Set expressions and the clause condition may
    * reference target columns only: source columns are definitionally
    * NULL for these rows, so a source reference would silently
    * null-poison the update — rejected up front in [[execute]].
    */
  def whenNotMatchedBySourceUpdate(
      set: Map[String, String]): LakeMergeBuilder =
    whenNotMatchedBySourceUpdate(null, set)

  def whenNotMatchedBySourceUpdate(condition: String,
      set: Map[String, String]): LakeMergeBuilder = {
    require(set != null, "BY SOURCE update requires an explicit set map " +
      "(UPDATE SET * is undefined when there is no source row)")
    bySourceClauses :+= UpdateClause(Option(condition), set)
    this
  }

  /** WHEN NOT MATCHED BY SOURCE ... DELETE. */
  def whenNotMatchedBySourceDelete(): LakeMergeBuilder =
    whenNotMatchedBySourceDelete(null)

  def whenNotMatchedBySourceDelete(condition: String): LakeMergeBuilder = {
    bySourceClauses :+= DeleteClause(Option(condition))
    this
  }

  def execute(): Unit = {
    require(matchedClauses.nonEmpty || insertClauses.nonEmpty ||
      bySourceClauses.nonEmpty,
      "merge needs at least one WHEN MATCHED / WHEN NOT MATCHED / " +
      "WHEN NOT MATCHED BY SOURCE clause")
    if (schemaEvolution) {
      // metadata-light: the widen decision needs the schema only
      val tgt = org.apache.spark.sql.types.StructType.fromDDL(
        Snapshot.replayMeta(table.log, table.log.latestVersion)
          ._1.schemaDDL).fieldNames
        .map(_.toLowerCase).toSet
      val newCols = source.schema.fields
        .filterNot(f => tgt.contains(f.name.toLowerCase))
        .map(f => f.name -> f.dataType.sql).toSeq
      if (newCols.nonEmpty) table.addColumns(newCols)
    }
    val SRC = "__graft_src_present"

    def aliasTgt(df: DataFrame): DataFrame =
      targetAlias.map(df.as(_)).getOrElse(df)
    // Marker column added *after* the caller's .as(alias) — projections
    // preserve attribute qualifiers, so "s.col" still resolves.
    // Cached: the source participates in up to three jobs (touched-file
    // semi-join, rewrite join, insert anti-join); without caching an
    // expensive source plan would be recomputed each time.
    val src = source.withColumn(SRC, lit(true))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try executeStaged(aliasTgt, src)
    catch {
      // a concurrent twin of the same app committed this txn while we
      // were staging: its effect IS this merge's effect — success
      case _: TxnAlreadyCommittedException => ()
      // the twin's commit can also surface as a REWRITE conflict
      // (both merges touch the same files, and the file-conflict
      // check fires before any closure re-check can) — same verdict
      // iff the txn is now recorded; a conflict with any OTHER
      // writer stays loud. Metadata-light: the watermark check needs
      // txns only, never the file list.
      case e: ConflictingCommitException
          if txn.exists { case (a, v) =>
            Snapshot.replayMetaTxns(table.log, table.log.latestVersion)
              ._4.get(a).exists(_ >= v) } => ()
    }
    finally { src.unpersist(false); () }
  }

  private def executeStaged(
      aliasTgt: DataFrame => DataFrame, src: DataFrame): Unit = {
    val spark = table.spark
    // DML plan (VERDICT r14 #2): under the columnar conf the
    // touched-file discovery, the insert anti-join, and the touched
    // AddFile fetch all run through the distributed checkpoint scan —
    // a MERGE against a 10⁷-file table never materializes the live
    // list on the driver; only one touched chunk at a time does.
    val plan = table.dmlPlan()
    // idempotence: this app already committed through this version —
    // the merge's effect is in the table, replaying it would not be
    if (txn.exists { case (a, v) =>
        plan.transactions.get(a).exists(_ >= v) })
      return
    // insert-only merges are appends; matched / by-source clauses
    // rewrite rows
    if (matchedClauses.nonEmpty || bySourceClauses.nonEmpty)
      LakeTable.assertNotAppendOnly(plan.metadata,
        "MERGE with matched clauses", table.tablePath)
    val fields = plan.schema.fields.toSeq
    val condExpr = expr(condition)
    import StreamedRewrite.{Changes, FILE, IDX, KIND, post}
    val SRC = "__graft_src_present"
    val IDXC = "__graft_clause"
    val MATCHED = "__graft_matched"
    // Row-tracked tables ([[RowTracking]]): target-derived rewrite
    // rows (updates AND untouched keep-side rows) carry their ids
    // into the new files; merge-INSERTED rows are new logical rows
    // and read fresh ids from the new file's baseRowId block (their
    // materialized id is null, so the read-side coalesce falls
    // through to base + row_index).
    val rt = RowTracking.enabled(plan.metadata.properties)

    def qualTgt(name: String): Column =
      col(targetAlias.map(a => s"$a.`$name`").getOrElse(s"`$name`"))
    val sourceAliasName: Option[String] = sourceAliasOf(source)
    def qualSrc(name: String): Column =
      col(sourceAliasName.map(a => s"$a.`$name`").getOrElse(s"`$name`"))
    def clauseCond(c: Option[String]): Column =
      c.map(expr).getOrElse(lit(true))

    // Explicit insert maps must supply EVERY table column — the
    // reference's discipline (`rapid:610-629` redefines the insert map
    // after schema evolution rather than relying on null-fill), which
    // SURVEY §7.9 requires replicating. This intentionally diverges
    // from Delta's silent null-fill: a merge written before an ALTER
    // TABLE ADD COLUMN fails loudly here, before any job runs, instead
    // of quietly writing nulls. Intentional nulls stay expressible
    // (`CAST(NULL AS ...)`), and INSERT * (`whenNotMatchedInsertAll`)
    // is unaffected.
    insertClauses.withFilter(_.values != null).foreach { cl =>
      val missing = fields.map(_.name).filterNot(cl.values.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        "MERGE insert clause must supply every table column " +
        s"(missing: ${missing.mkString(", ")}). After schema " +
        "evolution, redefine the insert map explicitly — use " +
        "CAST(NULL AS <type>) for intentional nulls, or " +
        "whenNotMatchedInsertAll() / INSERT * for like-named " +
        "source columns.")
    }

    // BY SOURCE clause expressions must resolve against the target
    // alone — a source-column reference would be silently NULL for
    // every not-matched row. Analyzed (not executed) on the driver
    // against the target plan; unresolvable ⇒ loud failure before any
    // job runs.
    if (bySourceClauses.nonEmpty) {
      // analysis only — an empty frame with the table schema resolves
      // identically and costs no planning against the file index
      val tgtOnly = aliasTgt(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        plan.schema))
      val exprs = bySourceClauses.flatMap {
        case UpdateClause(c, set) => c.toSeq ++ set.values
        case DeleteClause(c) => c.toSeq
      }
      exprs.foreach { e =>
        try tgtOnly.select(expr(e)).queryExecution.analyzed
        catch { case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"WHEN NOT MATCHED BY SOURCE expression '$e' must " +
            "reference target columns only (source columns are NULL " +
            s"for by-source rows): ${ex.getMessage}")
        }
      }
    }

    // ---- rewrite side: touched files → left-outer rewrite ---------------
    // Phase 1: find the files that must be rewritten. Matched clauses
    // touch files containing >=1 join match (semi-join); by-source
    // clauses touch files containing >=1 row with NO match where some
    // clause condition holds (anti-join). Only those files are
    // rewritten — an unconditional by-source clause degrades to
    // all-files-with-unmatched-rows, which is what the semantics
    // require.
    // the with-meta frame (not toDF): `_metadata` is materialized as
    // a real column so file identity survives the deletion-vector
    // anti-join/union on DV-carrying tables.
    val withFile = aliasTgt(
      plan.withMetaDF.withColumn(FILE, col("_metadata.file_path")))
    val bySourceHit: Column = bySourceClauses
      .map(cl => clauseCond(cl.cond))
      .reduceOption(_ || _).getOrElse(lit(false))

    // ---- clause machinery (all pure Column builders) --------------------
    val matched = col(SRC).isNotNull
    // One ordered clause list drives the whole rewrite: matched
    // clauses guard on `matched`, by-source clauses on `!matched`
    // (a target row is exactly one of the two, so the relative order
    // across the groups never changes an outcome — within each group
    // first-hit wins, Delta semantics).
    val allClauses = matchedClauses ++ bySourceClauses
    def clauseGuard(i: Int): Column =
      if (i < matchedClauses.size) matched else !matched
    // 0 = no clause applies (keep row as-is); i >= 1 = clause i-1 wins.
    val clauseIdx = allClauses.zipWithIndex.foldLeft(
      when(lit(false), lit(0))) { case (acc, (cl, i)) =>
        acc.when(clauseGuard(i) && clauseCond(cl.cond), lit(i + 1))
    }.otherwise(lit(0))
    val deleteIdxs = allClauses.zipWithIndex.collect {
      case (_: DeleteClause, i) => i + 1
    }
    val updateIdxs = allClauses.zipWithIndex.collect {
      case (_: UpdateClause, i) => i + 1
    }
    // the winning clause as a row-change kind
    val kindOf = when(col(IDXC).isin(updateIdxs: _*),
        lit(StreamedRewrite.UPDATE))
      .when(col(IDXC).isin(deleteIdxs: _*), lit(StreamedRewrite.DELETE))
      .otherwise(lit(StreamedRewrite.KEEP))
    // clause-applied new value for a field: the winning update
    // clause's expression, the original target value otherwise
    def newValue(f: org.apache.spark.sql.types.StructField): Column = {
      val updates = allClauses.zipWithIndex.collect {
        case (UpdateClause(_, set), i) =>
          val e = if (set == null) qualSrc(f.name)
            else set.get(f.name).map(expr).getOrElse(qualTgt(f.name))
          (i + 1, e)
      }
      updates.foldLeft(when(lit(false), lit(null))) { case (acc, (i, e)) =>
        acc.when(col(IDXC) === i, e)
      }.otherwise(qualTgt(f.name)).cast(f.dataType)
    }
    // Delta semantics: error if one target row matches several source
    // rows while the outcome would be nondeterministic — any update,
    // or a conditional delete. An unconditional delete is unambiguous
    // (deleting a row twice is still deleting it), which the GDPR
    // RLIKE-delete (etl/05:100-107) depends on: one record can match
    // several deletion patterns.
    val ambiguous = matchedClauses.exists {
      case _: UpdateClause => true
      case DeleteClause(c) => c.isDefined
    }

    /** Touched rows of `relPaths` with their (FILE, IDX) identity. */
    def tgtTouchedFor(snapT: Snapshot, relPaths: Seq[String]): DataFrame =
      aliasTgt(
        table.readFilesWithMeta(snapT, relPaths, withRowIds = rt)
        .withColumn(FILE, col("_metadata.file_path"))
        .withColumn(IDX, col("_metadata.row_index"))
        .drop(graft.sources.LakeDataSource.META))

    def joinedFor(tgtTouched: DataFrame): DataFrame =
      if (matchedClauses.nonEmpty)
        tgtTouched.join(src, condExpr, "left_outer")
      else {
        // By-source-only merge: no clause reads source values, so
        // only a match FLAG is needed. A plain left-outer would
        // duplicate a target row that matches k source rows (every
        // copy kept, clause 0); semi-join + (FILE, IDX) equi-join keeps
        // exactly one copy per target row. (With matched clauses
        // present the duplicate either errors via the multi-match
        // check or is deleted, so this case is the only exposure.)
        val matchedRows = tgtTouched.join(src, condExpr, "left_semi")
          .select(col(FILE), col(IDX)).withColumn(SRC, lit(true))
        tgtTouched.join(matchedRows, Seq(FILE, IDX), "left_outer")
      }

    /** The chunk's row-change frame ([[StreamedRewrite.Changes]]):
      * old values, clause-applied new values, the winning clause as a
      * kind, the (FILE, IDX) identity, plus the matched flag the
      * duplicate-match check reads.
      */
    def changesFor(joined: DataFrame): DataFrame =
      joined.withColumn(IDXC, clauseIdx).select(
        fields.map(f => qualTgt(f.name).cast(f.dataType).as(f.name)) ++
        fields.map(f => newValue(f).as(post(f.name))) ++
        Seq(kindOf.as(KIND), col(FILE), col(IDX), matched.as(MATCHED)) ++
        (if (rt)
          Seq(qualTgt(RowTracking.COL).as(RowTracking.COL)) else Nil): _*)

    // ---- touched-file discovery ------------------------------------------
    val matchedPathsDF: Option[DataFrame] =
      if (matchedClauses.isEmpty || plan.isEmpty) None
      else Some(withFile.join(src, condExpr, "left_semi").select(col(FILE)))
    val bySourcePathsDF: Option[DataFrame] =
      if (bySourceClauses.isEmpty || plan.isEmpty) None
      else Some(withFile.join(src, condExpr, "left_anti")
        .filter(bySourceHit).select(col(FILE)))
    val chunks = (matchedPathsDF.toSeq ++ bySourcePathsDF.toSeq)
      .reduceOption(_.union(_))
      .map(StreamedRewrite.split(table, plan, _))
      .getOrElse(StreamedRewrite.noneTouched)

    // ---- not-matched side: anti-join → inserts ---------------------------
    def insertsFrame(): Option[DataFrame] =
      if (insertClauses.isEmpty) None else {
        val unmatched =
          if (plan.isEmpty) src
          else src.join(aliasTgt(plan.toDF), condExpr, "left_anti")
        val insertIdx = insertClauses.zipWithIndex.foldLeft(
          when(lit(false), lit(0))) { case (acc, (cl, i)) =>
            acc.when(clauseCond(cl.cond), lit(i + 1))
        }.otherwise(lit(0))
        Some(
          unmatched.withColumn(IDXC, insertIdx)
            .filter(col(IDXC) > 0)
            .select(fields.map { f =>
              val values = insertClauses.zipWithIndex.map { case (cl, i) =>
                val e = if (cl.values == null) qualSrc(f.name)
                  else cl.values.get(f.name).map(expr).getOrElse(lit(null))
                (i + 1, e)
              }
              values.foldLeft(when(lit(false), lit(null))) {
                case (acc, (i, e)) => acc.when(col(IDXC) === i, e)
              }.otherwise(lit(null)).cast(f.dataType).as(f.name)
            }: _*))
      }

    // ---- staging: per touched chunk, then one commit ---------------------
    // A target row lives in exactly one chunk, so the per-chunk
    // duplicate-match check is exact. The inserts are global (one
    // anti-join against the whole table) and stage with the LAST
    // chunk — alone when no file is touched.
    val params = Map("condition" -> condition,
      "matchedClauses" -> matchedClauses.size.toString,
      "notMatchedClauses" -> insertClauses.size.toString,
      "notMatchedBySourceClauses" -> bySourceClauses.size.toString)
    StreamedRewrite.rewrite(table, plan, chunks, "MERGE", params, txn) { c =>
      // evaluated once: the target×source join runs a single time for
      // the duplicate check, the data, the CDC and the deletion vectors
      val rows =
        if (c.paths.isEmpty) None
        else Some(c.evaluated(
          changesFor(joinedFor(tgtTouchedFor(c.snap, c.paths)))))
      // an agg over the evaluated frame, on its own thread so it
      // OVERLAPS the data and CDC writes (both read the same cache
      // blocks under Spark's block locks); its verdict lands before
      // any deletion vector is staged — duplicate rows would write
      // duplicate DV indices — and before the commit
      val dupCheck = rows.filter(_ => ambiguous).map { r =>
        LakeWriter.inParallel("graft-merge-dup-check") {
          r.filter(col(MATCHED)).groupBy(col(FILE), col(IDX))
            .count().filter(col("count") > 1).limit(1).count()
        }
      }
      Changes(rows, updates = updateIdxs.nonEmpty,
        inserts = if (c.last) insertsFrame().map(c.evaluated) else None,
        verify = () => dupCheck.foreach { f =>
          if (LakeWriter.awaitTask(f) > 0)
            throw new IllegalStateException(
              "MERGE failed: a target row was matched by multiple source " +
              "rows with update/delete clauses present; merge results " +
              "would be nondeterministic. Deduplicate the source on the " +
              "merge key.")
        })
    }
  }

  /** Best-effort recovery of the source DataFrame's alias (set by
    * `df.as("s")`) so UPDATE/INSERT * can qualify source columns.
    */
  private def sourceAliasOf(df: DataFrame): Option[String] = {
    df.queryExecution.logical.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        s.alias
    }
  }
}
