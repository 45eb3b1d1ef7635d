package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL front-end for the lake verb set (SURVEY §7.4, phase 2): a
  * statement pre-processor that recognizes the Delta-verb shapes the
  * reference uses —
  *
  *   - `MERGE INTO t USING s|(SELECT ...) ON cond WHEN ...` (etl/05:100-138)
  *   - `SELECT ... FROM t VERSION|TIMESTAMP AS OF ...`   (etl/05:161-209)
  *   - `DESCRIBE HISTORY|DETAIL t`                       (etl/05:142-148)
  *   - `VACUUM t [RETAIN n HOURS]`                       (etl/05:300,334)
  *
  * plus the round-2 verbs (`UPDATE`,
  * `OPTIMIZE [WHERE partPred] [[ZORDER] BY (cols)] [INCREMENTAL]`,
  * `RESTORE`, `ALTER TABLE ADD/DROP CONSTRAINT`, `ALTER TABLE ADD
  * COLUMN`, `ALTER TABLE t ALTER COLUMN c TYPE <wider>` (type
  * widening), `CREATE TABLE n SHALLOW CLONE src LOCATION p`) and lake
  * DDL (`CREATE TABLE ... USING lake LOCATION`, CTAS, CONVERT, DROP,
  * `INSERT INTO t SELECT ...`, `DELETE FROM t|path`), and the TVFs
  * `table_changes('t', from[, to])` /
  * `table_with_row_ids('t'[, version])`. MERGE/UPDATE
  * keyword location uses a quote/paren-aware scanner ([[findTopLevel]])
  * so subquery sources and keyword-bearing string literals parse
  * correctly; everything else flows to `spark.sql` with the referenced
  * lake temp views refreshed first.
  */
object LakeSql {

  private val MERGE_PREFIX_RE =
    """(?is)\s*MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+.*""".r
  private val MERGE_EVOLVE_RE =
    """(?is)\s*MERGE\s+WITH\s+SCHEMA\s+EVOLUTION\s+INTO\s+.*""".r
  private val VERSION_AS_OF_RE =
    """(?is)(\b(?:FROM|JOIN)\s+|,\s*)([\w.`]+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r
  private val TIMESTAMP_AS_OF_RE =
    """(?is)(\b(?:FROM|JOIN)\s+|,\s*)([\w.`]+)\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'""".r
  private val DESCRIBE_HISTORY_RE =
    """(?is)\s*DESCRIBE\s+HISTORY\s+([\w.`/\-]+)\s*""".r
  private val DESCRIBE_DETAIL_RE =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([\w.`/\-]+)\s*""".r
  private val VACUUM_RE =
    ("""(?is)\s*VACUUM\s+([\w.`/\-]+)(?:\s+RETAIN\s+([\d.]+)\s+HOURS?)?""" +
      """(\s+DRY\s+RUN)?\s*""").r
  private val FSCK_RE =
    ("""(?is)\s*FSCK\s+REPAIR\s+TABLE\s+([\w.`/\-]+)""" +
      """(\s+DRY\s+RUN)?\s*""").r
  private val CLONE_RE =
    ("""(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+(SHALLOW|DEEP)\s+CLONE\s+""" +
      """([\w.`/\-]+)\s+LOCATION\s+'([^']+)'\s*""").r
  private val CREATE_LAKE_RE =
    ("""(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+""" +
      """USING\s+(?:lake|delta)\s+LOCATION\s+'([^']+)'""" +
      """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s*""").r
  private val CTAS_LAKE_RE =
    ("""(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s+([\w.`]+)\s+""" +
      """USING\s+(?:lake|delta)\s+LOCATION\s+'([^']+)'""" +
      """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s+AS\s+(SELECT.+)""").r
  private val CONVERT_RE =
    ("""(?is)\s*CONVERT\s+TO\s+(?:LAKE|DELTA)\s+(?:parquet\s*\.\s*)?""" +
      """[`']([^'`]+)[`']\s*(?:PARTITIONED\s+BY\s*\((.+?)\))?\s*""").r
  private val DROP_TABLE_RE =
    """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.`]+)\s*""".r
  private val INSERT_SELECT_RE =
    """(?is)\s*INSERT\s+INTO\s+([\w.`]+)\s+(SELECT\s+.+)""".r
  private val DELETE_FROM_RE =
    """(?is)\s*DELETE\s+FROM\s+([\w.`/\-]+)(?:\s+WHERE\s+(.+))?\s*""".r
  private val RESTORE_RE =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`/\-]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RESTORE_TS_RE =
    ("""(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`/\-]+)\s+TO\s+TIMESTAMP\s+""" +
      """AS\s+OF\s+'([^']+)'\s*""").r
  private val TABLE_CHANGES_RE =
    ("""(?is)(.*\bFROM\s+)table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)""" +
      """\s*(?:,\s*(\d+)\s*)?\)(.*)""").r
  private val TABLE_CHANGES_TS_RE =
    ("""(?is)(.*\bFROM\s+)table_changes\s*\(\s*'([^']+)'\s*,\s*'([^']+)'""" +
      """\s*(?:,\s*'([^']+)'\s*)?\)(.*)""").r
  private val TABLE_ROW_IDS_RE =
    ("""(?is)(.*\bFROM\s+)table_with_row_ids\s*\(\s*'([^']+)'""" +
      """\s*(?:,\s*(\d+)\s*)?\)(.*)""").r
  private val UPDATE_PREFIX_RE = """(?is)\s*UPDATE\s+[\w.`/].*""".r
  private val ADD_CONSTRAINT_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+ADD\s+CONSTRAINT\s+""" +
      """(\w+)\s+CHECK\s*\((.+)\)\s*""").r
  private val DROP_CONSTRAINT_RE =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*""".r
  private val ADD_COLUMN_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+ADD\s+COLUMNS?\s*""" +
      """\(?\s*(\w+)\s+([\w()<>,\s]+?)\s*\)?\s*""").r
  private val DROP_COLUMN_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+DROP\s+COLUMNS?\s*""" +
      """\(?\s*(\w+)\s*\)?\s*""").r
  private val RENAME_COLUMN_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+RENAME\s+COLUMN\s+""" +
      """(\w+)\s+TO\s+(\w+)\s*""").r
  private val ALTER_COLUMN_TYPE_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+ALTER\s+COLUMN\s+""" +
      """(\w+)\s+TYPE\s+([\w()<>,\s]+?)\s*""").r
  private val OPTIMIZE_RE =
    ("""(?is)\s*OPTIMIZE\s+([\w.`/\-]+)""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+(ZORDER\s+)?BY\s*\((.+?)\))?""" +
      """(?:\s+(INCREMENTAL))?\s*""").r
  private val REORG_PURGE_RE =
    ("""(?is)\s*REORG\s+TABLE\s+([\w.`/\-]+)""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*""").r
  private val SHOW_TABLES_RE = """(?is)\s*SHOW\s+(?:LAKE\s+)?TABLES\s*""".r
  private val SHOW_PARTITIONS_RE =
    """(?is)\s*SHOW\s+PARTITIONS\s+([\w.`/\-]+)\s*""".r
  // Databricks bloom-filter-index DDL shape; OPTIONS apply to the
  // whole index (fpp, numItems)
  private val CREATE_BLOOM_RE =
    ("""(?is)\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?""" +
      """([\w.`/\-]+)\s+FOR\s+COLUMNS\s*\(([^)]+)\)""" +
      """(?:\s+OPTIONS\s*\(([^)]*)\))?\s*""").r
  // DELTA is mandatory: plain ANALYZE ... COMPUTE STATISTICS keeps
  // passing through to Spark's own catalog-table handler
  private val ANALYZE_STATS_RE =
    ("""(?is)\s*ANALYZE\s+TABLE\s+([\w.`/\-]+)\s+COMPUTE\s+""" +
      """DELTA\s+STATISTICS\s*""").r
  private val DROP_BLOOM_RE =
    ("""(?is)\s*DROP\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?""" +
      """([\w.`/\-]+)\s*""").r
  private val BLOOM_OPT_RE = """(\w+)\s*=\s*([\w.\-]+)""".r
  private val COPY_INTO_RE =
    ("""(?is)\s*COPY\s+INTO\s+([\w.`/\-]+)\s+FROM\s+'([^']+)'\s+""" +
      """FILEFORMAT\s*=\s*(\w+)(?:\s+FORCE\s*=\s*(\w+))?\s*""").r
  private val SET_TBLPROPS_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+SET\s+TBLPROPERTIES\s*""" +
      """\((.+)\)\s*""").r
  private val UNSET_TBLPROPS_RE =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.`/\-]+)\s+UNSET\s+TBLPROPERTIES\s*""" +
      """(?:IF\s+EXISTS\s*)?\((.+)\)\s*""").r
  private val SHOW_TBLPROPS_RE =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+([\w.`/\-]+)\s*""".r
  private val PROP_PAIR_RE = """'([^']+)'\s*=\s*'([^']*)'""".r
  private val PROP_KEY_RE = """'([^']+)'""".r

  /** Execute a SQL statement, lake-aware. Returns a DataFrame (empty
    * for DML, matching `spark.sql` conventions).
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame = sqlText match {
    case MERGE_PREFIX_RE() =>
      runMergeText(spark, sqlText)
      emptyDF(spark)

    // every registered lake table (the persistent catalog), with its
    // location — the engine-side complement of Spark's SHOW TABLES
    case SHOW_TABLES_RE() =>
      import spark.implicits._
      LakeCatalog.registeredNames
        .map(n => (n, LakeCatalog.pathOf(n).getOrElse("")))
        .toDF("tableName", "location")

    case COPY_INTO_RE(t, src, fmt, force) =>
      // The target may not exist yet — the first COPY creates it, so
      // resolve registered names but fall back to treating the target
      // as a path rather than requiring an existing table.
      val path = LakeCatalog.pathOf(clean(t)).getOrElse(clean(t))
      LakeTable.forPath(spark, path)
        .copyInto(src, fmt.toLowerCase,
          force = Option(force).exists(_.equalsIgnoreCase("true")))

    case DESCRIBE_HISTORY_RE(t) =>
      resolve(spark, clean(t)).history()

    case DESCRIBE_DETAIL_RE(t) =>
      resolve(spark, clean(t)).detail()

    case VACUUM_RE(t, retain, dryRun) =>
      val table = resolve(spark, clean(t))
      val deleted = table.vacuum(
        Option(retain).map(_.toDouble).getOrElse(-1.0),
        dryRun = Option(dryRun).isDefined)
      import spark.implicits._
      deleted.toDF("path")

    case FSCK_RE(t, dryRun) =>
      val table = resolve(spark, clean(t))
      val missing = table.fsckRepair(dryRun = Option(dryRun).isDefined)
      LakeCatalog.refreshView(spark, clean(t))
      import spark.implicits._
      missing.toDF("path")

    case CLONE_RE(name, mode, src, location) =>
      val srcTable = resolve(spark, clean(src))
      if (mode.equalsIgnoreCase("deep")) srcTable.deepCloneTo(location)
      else srcTable.shallowCloneTo(location)
      LakeCatalog.register(spark, clean(name), location)
      emptyDF(spark)

    case CTAS_LAKE_RE(name, location, propPairs, select) =>
      val df = sql(spark, select)
      // create-time properties ride the v0 commit, so bucketing /
      // clustering declared in the CTAS govern the very first data
      // layout (and validate coherence before anything is written)
      LakeWriter.write(df, location, mode = "overwrite",
        operation = "CREATE TABLE AS SELECT",
        properties = parseProps(propPairs))
      LakeCatalog.register(spark, clean(name), location)
      emptyDF(spark)

    case CREATE_LAKE_RE(name, location, propPairs) =>
      // registration targets an EXISTING lake table (register
      // enforces that), so a TBLPROPERTIES clause routes through
      // setTblProperties — same validation and one-way doors
      // (bucketing on a populated table refused) as ALTER TABLE SET.
      // Properties apply BEFORE the name is registered: a rejected
      // clause (e.g. bucketing a populated table) must fail the whole
      // CREATE, not leave the name queryable without its properties.
      val props = parseProps(propPairs)
      if (props.nonEmpty)
        LakeTable.forPath(spark, location).setTblProperties(props)
      LakeCatalog.register(spark, clean(name), location)
      emptyDF(spark)

    case CONVERT_RE(path, partDDL) =>
      LakeTable.convertToLake(spark, path,
        Option(partDDL).map(_.trim).getOrElse(""))
      emptyDF(spark)

    case DROP_TABLE_RE(name) if LakeCatalog.pathOf(clean(name)).isDefined =>
      LakeCatalog.drop(spark, clean(name))
      emptyDF(spark)

    case INSERT_SELECT_RE(t, select) if isLake(t) =>
      val df = sql(spark, select) // recurse: SELECT may time-travel
      val path = LakeCatalog.pathOf(clean(t)).get
      LakeWriter.write(df, path, operation = "INSERT")
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case RESTORE_RE(t, version) =>
      resolve(spark, clean(t)).restoreTo(version.toLong)
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case RESTORE_TS_RE(t, ts) =>
      val table = resolve(spark, clean(t))
      table.restoreTo(table.versionAtTimestamp(
        java.sql.Timestamp.valueOf(ts).getTime))
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    // Delta's table_changes TVF: rewrite the call to a temp view over
    // changes(from[, to]) and let spark.sql run the surrounding query.
    case TABLE_CHANGES_RE(before, t, from, to, after) if isLake(t) =>
      val table = resolve(spark, clean(t))
      val viewName = (s"${clean(t)}__changes_${from}_" +
        Option(to).getOrElse("latest")).replace('.', '_').replace('/', '_')
        .replace('-', '_')
      table.changes(from.toLong,
        Option(to).map(_.toLong).getOrElse(-1L))
        .createOrReplaceTempView(viewName)
      sql(spark, before + viewName + after)

    // timestamp-bounded change feed: table_changes('t', 'ts'[, 'ts'])
    case TABLE_CHANGES_TS_RE(before, t, from, to, after) if isLake(t) =>
      val table = resolve(spark, clean(t))
      def ms(s: String): Long = java.sql.Timestamp.valueOf(s).getTime
      val viewName = (s"${clean(t)}__changes_ts_" +
        s"${ms(from)}_${Option(to).map(ms).getOrElse(-1L)}")
        .replace('.', '_').replace('/', '_').replace('-', '_')
      table.changesByTimestamp(ms(from),
        Option(to).map(ms).getOrElse(-1L))
        .createOrReplaceTempView(viewName)
      sql(spark, before + viewName + after)

    // row-tracking TVF: table_with_row_ids('t'[, version]) — table
    // columns + the stable row-id column ([[RowTracking]]), same
    // temp-view rewrite shape as table_changes
    case TABLE_ROW_IDS_RE(before, t, version, after) if isLake(t) =>
      val table = resolve(spark, clean(t))
      val viewName = (s"${clean(t)}__row_ids_" +
        Option(version).getOrElse("latest"))
        .replace('.', '_').replace('/', '_').replace('-', '_')
      Option(version).map(v => table.asOfWithRowIds(v.toLong))
        .getOrElse(table.toDFWithRowIds)
        .createOrReplaceTempView(viewName)
      sql(spark, before + viewName + after)

    case DELETE_FROM_RE(t, where) if isLake(t) =>
      val table = resolve(spark, clean(t))
      table.delete(Option(where).getOrElse("true"))
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case SET_TBLPROPS_RE(t, pairs) =>
      val props = parseProps(pairs)
      require(props.nonEmpty,
        s"no 'key'='value' pairs in TBLPROPERTIES($pairs)")
      resolve(spark, clean(t)).setTblProperties(props)
      emptyDF(spark)

    case CREATE_BLOOM_RE(t, cols, opts) =>
      // configure + BACKFILL in one statement: after this, existing
      // files skip too — an index that only covers future writes is
      // the trap rebuildBloomIndexes exists to avoid
      val colNames = cols.split(",").map(c => clean(c).trim)
        .filter(_.nonEmpty)
      require(colNames.nonEmpty, "FOR COLUMNS (...) names no columns")
      val optMap = Option(opts).toSeq
        .flatMap(BLOOM_OPT_RE.findAllMatchIn(_))
        .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
      val props =
        Map(BloomIndex.PROP_COLUMNS -> colNames.mkString(",")) ++
          optMap.get("fpp").map(BloomIndex.PROP_FPP -> _) ++
          optMap.get("numitems").map(BloomIndex.PROP_NUM_ITEMS -> _)
      resolve(spark, clean(t)).setTblProperties(props)
      resolve(spark, clean(t)).rebuildBloomIndexes()
      emptyDF(spark)

    case DROP_BLOOM_RE(t) =>
      resolve(spark, clean(t)).dropBloomIndexes()
      emptyDF(spark)

    case ANALYZE_STATS_RE(t) =>
      // footer-stats backfill for foreign/legacy entries (Databricks'
      // ANALYZE ... COMPUTE DELTA STATISTICS): restores min/max
      // skipping and the metadata-only COUNT(*) rewrite
      resolve(spark, clean(t)).rebuildStats()
      emptyDF(spark)

    case SHOW_PARTITIONS_RE(t) =>
      // answered from LOG METADATA only — no file listing, no data
      // read; on manifest-checkpointed tables the distinct runs on
      // the executors, so the driver sees one row per PARTITION
      val (cols, pvs, tblSchema) =
        resolve(spark, clean(t)).livePartitionValues()
      require(cols.nonEmpty,
        s"SHOW PARTITIONS: ${clean(t)} is not a partitioned table")
      val tuples = pvs.map(pv => cols.map(c =>
        pv.get(c) match {
          case None | Some(null) => null
          case Some(graft.sources.LakeFileIndex.HIVE_NULL) => null
          case Some(v) => v
        })).distinct
      val stringSchema = org.apache.spark.sql.types.StructType(
        cols.map(c => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType)))
      val byName = tblSchema.fields.map(f => f.name -> f.dataType).toMap
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
          tuples.map(v => org.apache.spark.sql.Row(v: _*)).asJava,
          stringSchema)
        .select(cols.map(c =>
          org.apache.spark.sql.functions.col(c)
            .cast(byName(c)).as(c)): _*)
        .orderBy(cols.map(org.apache.spark.sql.functions.col): _*)

    case UNSET_TBLPROPS_RE(t, keys) =>
      resolve(spark, clean(t)).unsetTblProperties(
        PROP_KEY_RE.findAllMatchIn(keys).map(_.group(1)).toSeq)
      emptyDF(spark)

    case SHOW_TBLPROPS_RE(t) if isLake(t) || LakeTable.isLakeTable(clean(t)) =>
      import spark.implicits._
      resolve(spark, clean(t)).tblProperties.toSeq.sorted
        .toDF("key", "value")

    case ADD_CONSTRAINT_RE(t, name, check) =>
      resolve(spark, clean(t)).addConstraint(name, check.trim)
      emptyDF(spark)

    case DROP_CONSTRAINT_RE(t, name) =>
      resolve(spark, clean(t)).dropConstraint(name)
      emptyDF(spark)

    case ADD_COLUMN_RE(t, name, ddlType) =>
      resolve(spark, clean(t)).addColumn(name, ddlType.trim)
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    // type widening: ALTER TABLE t ALTER COLUMN c TYPE BIGINT
    case ALTER_COLUMN_TYPE_RE(t, name, ddlType) =>
      resolve(spark, clean(t)).widenColumn(name, ddlType.trim)
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case DROP_COLUMN_RE(t, name) =>
      resolve(spark, clean(t)).dropColumn(name)
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case RENAME_COLUMN_RE(t, from, to) =>
      resolve(spark, clean(t)).renameColumn(from, to)
      LakeCatalog.refreshView(spark, clean(t))
      emptyDF(spark)

    case UPDATE_PREFIX_RE() if {
      val t = updateTarget(sqlText); t.exists(isLake)
    } =>
      runUpdateText(spark, sqlText)
      emptyDF(spark)

    // Delta parity: REORG TABLE t [WHERE ...] APPLY (PURGE) rewrites
    // deletion-vector-carrying files into clean physical copies.
    case REORG_PURGE_RE(t, where) =>
      resolve(spark, clean(t)).purgeDeletionVectors(
        Option(where).map(_.trim).filter(_.nonEmpty))
      emptyDF(spark)

    case OPTIMIZE_RE(t, where, zorder, byCols, incr) =>
      val table = resolve(spark, clean(t))
      // Delta parity: `OPTIMIZE t WHERE <partition predicate>` scopes
      // the rewrite to matching partitions' files (metadata-only
      // selection; non-partition predicates are rejected). The
      // trailing INCREMENTAL keyword selects the new-files-only mode
      // (liquid clustering's steady state): only never-clustered
      // files and sub-half-target debris are rewritten.
      val whereOpt = Option(where).map(_.trim).filter(_.nonEmpty)
      val incremental = Option(incr).isDefined
      Option(byCols) match {
        case Some(cols) =>
          table.compactClustered(
            cols.split(",").map(c => clean(c.trim)).toSeq,
            zOrder = Option(zorder).isDefined, where = whereOpt,
            incremental = incremental)
        case None =>
          // Liquid-clustering-style default: a table carrying
          // `graft.clusterBy` re-clusters on those columns whenever
          // it is OPTIMIZEd, no BY clause needed — the clustering
          // policy travels with the table, so every maintenance cron
          // in a 100k-table lakehouse runs the same plain OPTIMIZE.
          Some(LakeTable.clusterByCols(table.tblProperties))
              .filter(_.nonEmpty) match {
            case Some(cols) => table.compactClustered(
              cols, zOrder = cols.size > 1, where = whereOpt,
              incremental = incremental)
            case None =>
              require(!incremental,
                "OPTIMIZE ... INCREMENTAL needs cluster columns " +
                "(BY (...) or the graft.clusterBy table property): " +
                "plain compaction has no clustered generations to skip")
              table.compact(where = whereOpt)
          }
      }
      LakeCatalog.refreshView(spark, clean(t))
      resolve(spark, clean(t)).detail()

    case _ =>
      // Time-travel scans can appear inside larger SELECTs — possibly
      // several (a self-join of two versions), possibly interleaved
      // with occurrences that are NOT lake tables (another source's
      // AS OF, or the phrase inside a string literal). Rewrite EVERY
      // lake occurrence in one pass, registering one temp view per
      // (table, version); non-lake occurrences pass through untouched
      // for spark.sql to resolve or reject on their own merits —
      // they must not stop earlier lake clauses from rewriting.
      import scala.util.matching.Regex
      // a match that starts inside a '…' or `…` literal is DATA, not
      // syntax — quote-guard each rewrite with the same scanning rules
      // findTopLevel uses for statement keywords (VERDICT r11 #4)
      var text = VERSION_AS_OF_RE.replaceAllIn(sqlText, m =>
        if (inQuotes(sqlText, m.start)) {
          Regex.quoteReplacement(m.matched)
        } else if (isLake(m.group(2))) {
          val name = clean(m.group(2))
          val version = m.group(3).toLong
          val viewName = s"${name}__v$version"
          LakeCatalog.table(spark, name).asOf(version)
            .createOrReplaceTempView(viewName)
          Regex.quoteReplacement(m.group(1) + viewName)
        } else Regex.quoteReplacement(m.matched))
      text = TIMESTAMP_AS_OF_RE.replaceAllIn(text, m => {
        val src = text
        if (inQuotes(src, m.start)) {
          Regex.quoteReplacement(m.matched)
        } else if (isLake(m.group(2))) {
          val name = clean(m.group(2))
          val table = LakeCatalog.table(spark, name)
          val millis =
            java.sql.Timestamp.valueOf(m.group(3)).getTime
          val version = table.versionAtTimestamp(millis)
          val viewName = s"${name}__v$version"
          table.asOf(version).createOrReplaceTempView(viewName)
          Regex.quoteReplacement(m.group(1) + viewName)
        } else Regex.quoteReplacement(m.matched)
      })
      runSelect(spark, text)
  }

  /** Plain statement: refresh referenced lake views, let Spark run it. */
  private def runSelect(spark: SparkSession, text: String): DataFrame = {
    LakeCatalog.refreshReferenced(spark, text)
    spark.sql(text)
  }

  /** Find `word` (case-insensitive, at identifier boundaries) at
    * paren-depth 0 and outside '…'/`…` quoting. Returns -1 if absent.
    * This is what makes the front-end safe for string literals
    * containing keywords and for `USING (SELECT …)` subqueries — a
    * plain regex can't respect nesting or quoting.
    */
  private[lake] def findTopLevel(s: String, word: String, from: Int = 0): Int = {
    var i = math.max(from, 0)
    var depth = 0
    var inStr = false
    var inTick = false
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inTick) { if (c == '`') inTick = false }
      else c match {
        case '\'' => inStr = true
        case '`'  => inTick = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case _ =>
          if (depth == 0 &&
              s.regionMatches(true, i, word, 0, word.length) &&
              (i == 0 || !isWordChar(s.charAt(i - 1))) &&
              (i + word.length >= s.length || !isWordChar(s.charAt(i + word.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Is position `pos` inside a '…'/`…` literal or a SQL comment?
    * Tracks what the Spark parser tracks: backslash escapes inside
    * string literals (default non-ANSI escape mode — `'don\'t'` stays
    * one literal), `--` line comments, and bracketed comments; an
    * escaped `''` toggles out and back in, net state identical. Used
    * to stop the time-travel regex rewrites from firing on keyword
    * phrases that are string DATA (and from being suppressed by an
    * apostrophe inside a comment).
    */
  private[lake] def inQuotes(s: String, pos: Int): Boolean = {
    var i = 0
    var inStr = false
    var inTick = false
    var inLine = false
    var inBlock = false
    val end = math.min(pos, s.length)
    while (i < end) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1 // escaped char, including \'
        else if (c == '\'') inStr = false
      }
      else if (inTick) { if (c == '`') inTick = false }
      else if (inLine) { if (c == '\n') inLine = false }
      else if (inBlock) {
        if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          inBlock = false; i += 1
        }
      }
      else if (c == '\'') inStr = true
      else if (c == '`') inTick = true
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        inLine = true; i += 1
      }
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        inBlock = true; i += 1
      }
      i += 1
    }
    inStr || inTick || inLine || inBlock
  }

  /** All top-level occurrences of `word` in `s`. */
  private def findAllTopLevel(s: String, word: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var at = findTopLevel(s, word)
    while (at >= 0) {
      out += at
      at = findTopLevel(s, word, at + word.length)
    }
    out.result()
  }

  /** `name [AS alias | alias]` → (name, alias). Backticked names may
    * contain spaces; the alias itself may be backticked too.
    */
  private def parseNameAlias(s0: String): (String, Option[String]) = {
    val s = s0.trim
    def parseAlias(rest: String): Option[String] = {
      val r = rest.trim
      if (r.isEmpty) None
      else r.split("\\s+").toSeq match {
        case Seq(as, a) if as.equalsIgnoreCase("AS") => Some(clean(a))
        case Seq(a) => Some(clean(a))
        case _ => throw new IllegalArgumentException(
          s"cannot parse table alias: $rest")
      }
    }
    if (s.startsWith("`")) {
      val close = s.indexOf('`', 1)
      require(close > 0, s"unbalanced backtick in table reference: $s")
      (s.substring(1, close), parseAlias(s.substring(close + 1)))
    } else s.indexOf(' ') match {
      case -1 => (clean(s), None)
      case sp => (clean(s.substring(0, sp)), parseAlias(s.substring(sp)))
    }
  }

  /** Scanner-based MERGE: target and USING source (named table OR a
    * `(SELECT …)` subquery, which recurses through [[sql]] so it may
    * itself time-travel), ON condition, WHEN clause list — all located
    * at top level so literals containing WHEN/ON/THEN can't mis-parse.
    */
  private def runMergeText(spark: SparkSession, text: String): Unit = {
    val intoIdx = findTopLevel(text, "INTO")
    val usingIdx = findTopLevel(text, "USING", intoIdx)
    require(usingIdx > 0, s"MERGE without USING: $text")
    val onIdx = findTopLevel(text, "ON", usingIdx)
    require(onIdx > 0, s"MERGE without ON: $text")
    val whenIdx = findTopLevel(text, "WHEN", onIdx)
    require(whenIdx > 0, s"MERGE without WHEN clauses: $text")

    val (tgtName, tgtAlias) =
      parseNameAlias(text.substring(intoIdx + 4, usingIdx))
    val sourceText = text.substring(usingIdx + 5, onIdx).trim
    val cond = text.substring(onIdx + 2, whenIdx).trim
    val clausesText = text.substring(whenIdx)

    val (srcDF0, srcAlias) =
      if (sourceText.startsWith("(")) {
        val close = sourceText.lastIndexOf(')')
        require(close > 0, s"unbalanced subquery in USING: $sourceText")
        val inner = sourceText.substring(1, close)
        val aliasText = sourceText.substring(close + 1).trim
        val alias =
          if (aliasText.isEmpty) None
          else Some(aliasText.split("\\s+").toSeq match {
            case Seq(as, a) if as.equalsIgnoreCase("AS") => a
            case Seq(a) => a
            case other => throw new IllegalArgumentException(
              s"cannot parse USING subquery alias: $aliasText")
          })
        (sql(spark, inner), alias)
      } else {
        val (srcName, alias) = parseNameAlias(sourceText)
        LakeCatalog.refreshReferenced(spark, srcName)
        val df = LakeCatalog.pathOf(srcName) match {
          case Some(p) => LakeTable.forPath(spark, p).toDF
          case None => spark.table(srcName)
        }
        (df, alias.orElse(Some(srcName)))
      }
    val srcDF = srcAlias.map(srcDF0.as(_)).getOrElse(srcDF0)

    var builder = LakeCatalog.table(spark, tgtName)
      .as(tgtAlias.getOrElse(tgtName))
      .merge(srcDF, cond)
    if (MERGE_EVOLVE_RE.pattern.matcher(text).matches)
      builder = builder.withSchemaEvolution()

    // Split the clause text at top-level WHENs, parse each clause.
    val whenStarts = findAllTopLevel(clausesText, "WHEN")
    val segments = whenStarts.zip(
      whenStarts.drop(1) :+ clausesText.length).map {
      case (s, e) => clausesText.substring(s, e).trim
    }
    segments.foreach { seg =>
      val body = seg.substring(4).trim // after WHEN
      val (matchedKind, afterKind) =
        if (body.toUpperCase.startsWith("NOT")) {
          val m = body.substring(3).trim
          require(m.toUpperCase.startsWith("MATCHED"),
            s"cannot parse WHEN clause: $seg")
          val rest = m.substring(7).trim
          val restUpper = rest.toUpperCase
          // Delta grammar: NOT MATCHED [BY TARGET] → insert side;
          // NOT MATCHED BY SOURCE → unmatched-target side.
          if (restUpper.startsWith("BY SOURCE"))
            ("NOT MATCHED BY SOURCE", rest.substring(9))
          else if (restUpper.startsWith("BY TARGET"))
            ("NOT MATCHED", rest.substring(9))
          else ("NOT MATCHED", m.substring(7))
        } else {
          require(body.toUpperCase.startsWith("MATCHED"),
            s"cannot parse WHEN clause: $seg")
          ("MATCHED", body.substring(7))
        }
      val thenIdx = findTopLevel(afterKind, "THEN")
      require(thenIdx >= 0, s"WHEN clause without THEN: $seg")
      val condPart = afterKind.substring(0, thenIdx).trim
      val clauseCond =
        if (condPart.isEmpty) null
        else {
          require(condPart.toUpperCase.startsWith("AND"),
            s"cannot parse WHEN condition: $condPart")
          condPart.substring(3).trim
        }
      val action = afterKind.substring(thenIdx + 4).trim
      val actionUpper = action.toUpperCase
      if (matchedKind == "MATCHED") {
        if (actionUpper == "DELETE")
          builder = builder.whenMatchedDelete(clauseCond)
        else if (actionUpper.matches("(?is)UPDATE\\s+SET\\s*\\*"))
          builder = builder.whenMatchedUpdateAll(clauseCond)
        else if (actionUpper.startsWith("UPDATE"))
          builder = builder.whenMatchedUpdate(clauseCond,
            parseSetMap(action.replaceAll("(?is)^UPDATE\\s+SET\\s+", "")))
        else throw new IllegalArgumentException(
          s"unsupported WHEN MATCHED action: $action")
      } else if (matchedKind == "NOT MATCHED BY SOURCE") {
        if (actionUpper == "DELETE")
          builder = builder.whenNotMatchedBySourceDelete(clauseCond)
        else if (actionUpper.startsWith("UPDATE"))
          builder = builder.whenNotMatchedBySourceUpdate(clauseCond,
            parseSetMap(action.replaceAll("(?is)^UPDATE\\s+SET\\s+", "")))
        else throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $action")
      } else {
        if (actionUpper.startsWith("INSERT *") || actionUpper == "INSERT*")
          builder = builder.whenNotMatchedInsertAll()
        else {
          val ins = """(?is)INSERT\s*\((.+?)\)\s*VALUES\s*\((.+)\)""".r
          action match {
            case ins(cols, vals) =>
              val names = splitTop(cols).map(clean)
              val exprs = splitTop(vals)
              builder = builder.whenNotMatchedInsert(clauseCond,
                names.zip(exprs).toMap)
            case _ => throw new IllegalArgumentException(
              s"unsupported WHEN NOT MATCHED action: $action")
          }
        }
      }
    }
    builder.execute()
    LakeCatalog.refreshView(spark, tgtName)
  }

  /** Table name of an `UPDATE t SET ...` statement, if parseable. */
  private def updateTarget(text: String): Option[String] = {
    val upIdx = findTopLevel(text, "UPDATE")
    val setIdx = findTopLevel(text, "SET", upIdx)
    if (upIdx < 0 || setIdx < 0) None
    else Some(clean(text.substring(upIdx + 6, setIdx)))
  }

  /** `UPDATE t SET a = e1, b = e2 [WHERE cond]` → `LakeTable.update`
    * (touched-file rewrite). Scanner-located keywords, so string
    * literals containing SET/WHERE can't mis-parse.
    */
  private def runUpdateText(spark: SparkSession, text: String): Unit = {
    val upIdx = findTopLevel(text, "UPDATE")
    val setIdx = findTopLevel(text, "SET", upIdx)
    require(setIdx > 0, s"UPDATE without SET: $text")
    val whereIdx = findTopLevel(text, "WHERE", setIdx)
    val tgt = clean(text.substring(upIdx + 6, setIdx))
    val setText =
      if (whereIdx > 0) text.substring(setIdx + 3, whereIdx)
      else text.substring(setIdx + 3)
    val cond = if (whereIdx > 0) text.substring(whereIdx + 5).trim else "true"
    resolve(spark, tgt).update(cond, parseSetMap(setText.trim))
    LakeCatalog.refreshView(spark, tgt)
  }

  private def parseSetMap(setText: String): Map[String, String] =
    splitTop(setText).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      clean(k.trim) -> v.trim
    }.toMap

  /** Split on commas at paren/quote depth zero. */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inStr = false
    val cur = new StringBuilder
    s.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case '(' if !inStr => depth += 1; cur += '('
      case ')' if !inStr => depth -= 1; cur += ')'
      case ',' if depth == 0 && !inStr =>
        out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.result()
  }

  /** Resolve a registered name or a literal path to a LakeTable. */
  private def resolve(spark: SparkSession, nameOrPath: String): LakeTable =
    LakeCatalog.pathOf(nameOrPath) match {
      case Some(p) => LakeTable.forPath(spark, p)
      case None if LakeTable.isLakeTable(nameOrPath) =>
        LakeTable.forPath(spark, nameOrPath)
      case None => throw new IllegalArgumentException(
        s"not a registered lake table or lake path: $nameOrPath")
    }

  /** Registered lake name OR a literal lake-table path. */
  private def isLake(name: String): Boolean = {
    val n = clean(name)
    LakeCatalog.pathOf(n).isDefined ||
      (n.contains("/") && LakeTable.isLakeTable(n))
  }

  /** Strip backticks/whitespace but PRESERVE case: the operand may be a
    * literal filesystem path (DESCRIBE HISTORY / VACUUM / RESTORE all
    * accept paths), and lowercasing one breaks case-sensitive
    * filesystems. Catalog-name lookups are case-insensitive anyway —
    * `LakeCatalog.normalize` lowercases on both register and resolve.
    */
  /** `'k'='v', ...` pairs of a TBLPROPERTIES clause (empty for an
    * absent optional clause — regex group null).
    */
  private def parseProps(pairs: String): Map[String, String] =
    if (pairs == null) Map.empty
    else PROP_PAIR_RE.findAllMatchIn(pairs)
      .map(m => m.group(1) -> m.group(2)).toMap

  private def clean(name: String): String =
    name.trim.stripPrefix("`").stripSuffix("`")

  private def emptyDF(spark: SparkSession): DataFrame =
    spark.emptyDataFrame
}
