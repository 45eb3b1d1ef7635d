package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeLog, LakeWriter, Snapshot}

/** `spark.read.format("lake")` / `df.write.format("lake")` — the
  * DataSource integration for lake tables (SURVEY §2 S4/S6, §7.1
  * upgrade path).
  *
  * Reads build a [[HadoopFsRelation]] over a [[LakeFileIndex]], so the
  * planner resolves the file set lazily from the transaction log and
  * partition pruning + min/max data skipping happen inside
  * `listFiles` — the plan never materializes per-file paths on the
  * driver (reference read surface: `ops:57-58`; Delta-protocol design
  * per PAPERS.md, Armbrust et al. VLDB 2020). Spark's vectorized
  * parquet reader, predicate pushdown, and schema null-filling for
  * pre-evolution files all apply unchanged.
  *
  * Read options: `versionAsOf` / `timestampAsOf` (time travel, S6).
  * Writes honor `SaveMode.Append`/`Overwrite`, `mergeSchema`, the
  * partitioning columns passed by `DataFrameWriter.partitionBy`, and
  * `txnAppId`+`txnVersion` (idempotent-writer watermark: a replayed
  * pair skips the write).
  */
final class LakeDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "lake"

  // ---- streaming (SURVEY §2.10; Delta streaming source/sink analog) ----

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // fail at load() time, not first trigger (the Source itself is
    // constructed lazily when the stream starts)
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    // A user-specified readStream schema would be accepted here but
    // silently ignored by the Source (every batch is pinned to the
    // table schema), failing micro-batch planning at trigger 1 — or
    // worse, binding columns positionally if shapes coincide. Reject
    // up front, as Delta does.
    require(schema.isEmpty,
      "lake streaming source does not support a user-specified schema;" +
      " the table's own schema is used")
    // metadata-light: the declared stream schema needs the Metadata
    // action only — a full snapshot() here replayed a 10⁶-file table's
    // whole file list just to START a stream (masked pre-round-17 by
    // the cadence checkpoint having freshly cached the same replay)
    val log = new LakeLog(pathOf(parameters))
    if (!log.exists)
      throw new IllegalStateException(
        s"not a lake table: ${log.tablePath} (no ${LakeLog.LOG_DIR} " +
        "directory)")
    val base = StructType.fromDDL(
      graft.lake.Snapshot.replayMeta(log, log.latestVersion)._1.schemaDDL)
    // the change feed carries extra audit columns — one shared
    // definition (graft.lake.Cdf) keeps this relation schema and
    // LakeStreamSource.schema in lockstep, or micro-batch planning
    // would reject the batch
    val resolved =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        graft.lake.Cdf.schema(base)
      else if (parameters.get("withRowIds").exists(_.toBoolean))
        StructType(base.fields :+ org.apache.spark.sql.types.StructField(
          graft.lake.RowTracking.COL,
          org.apache.spark.sql.types.LongType))
      else base
    (shortName(), resolved)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new LakeStreamSource(
      sqlContext.sparkSession, pathOf(parameters), parameters)

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"lake streaming sink supports Append output mode only, " +
        s"got $outputMode")
    new LakeStreamSink(pathOf(parameters), partitionColumns, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { ts =>
        graft.lake.LakeTable.forPath(spark, path)
          .versionAtTimestamp(java.sql.Timestamp.valueOf(ts).getTime)
      })
      .getOrElse(-1L)
    // Columnar file index (DEFAULT ON since round 15 — opt out via
    // the reader option or the session conf): plan the read without
    // ever materializing the full file list on the driver — the
    // 10⁷-file posture. Falls back to the classic materialized
    // snapshot when the preconditions don't hold (no manifest
    // checkpoint, or a DV/bloom sidecar count past the
    // index's bound).
    val columnar = parameters.get("columnarIndex").map(_.toBoolean)
      .getOrElse(spark.conf.getOption("spark.graft.columnarFileIndex")
        .forall(_.toBoolean))
    if (columnar) {
      ColumnarLakeFileIndex.tryBuild(spark, new LakeLog(path), version)
        .foreach(idx => return columnarRelationFor(spark, idx, parameters))
    }
    val snap = new LakeLog(path).snapshot(version)
    relationFor(spark, snap, parameters, applyDvs = true)
  }

  /** Relation over a [[ColumnarLakeFileIndex]]. Column mapping,
    * bucketed planning, and the DV/bloom formats apply exactly as in
    * [[relationFor]] — the sidecar path maps come from the index's
    * summary pass (bounded by sidecar count, never table size).
    * `applyDvs = false` mirrors [[relationFor]]'s internal mode: raw
    * rows through the non-filtering format, for callers that attach
    * [[graft.lake.DvRowDeleted]] themselves and need `_metadata`.
    */
  private[sources] def columnarRelationFor(
      spark: SparkSession, idx: ColumnarLakeFileIndex,
      parameters: Map[String, String],
      applyDvs: Boolean = true,
      extraCols: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : BaseRelation = {
    val meta = idx.metadata
    val schema = StructType.fromDDL(meta.schemaDDL)
    val partCols = meta.partitionColumns.toSet
    // extraCols: physical-only columns outside the table schema (the
    // materialized row-id column) — parquet null-fills files that
    // lack them, same contract as relationFor
    val dataSchema =
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))
        ++ extraCols)
    val mapping = graft.lake.ColumnMapping.overrides(meta)
      .filter { case (l, p) => l != p }
    val tablePath = idx.log.tablePath
    def resolved(pairs: Seq[(String, String)]): Seq[(String, String)] =
      pairs.map { case (f, s) =>
        (LakeLog.resolveFile(tablePath, f).toString,
          LakeLog.resolveFile(tablePath, s).toString)
      }
    def bloomPayload: Array[Byte] = graft.lake.PathMapPayload
      .payload(spark, resolved(idx.bloomPairs))
    val format =
      if (applyDvs && idx.dvPairs.nonEmpty)
        new DvParquetFileFormat(mapping, bloomPayload,
          graft.lake.PathMapPayload.payload(spark, resolved(idx.dvPairs)))
      else if (idx.bloomPairs.nonEmpty)
        new BloomParquetFileFormat(mapping, bloomPayload)
      else if (mapping.isEmpty) new ParquetFileFormat
      else new MappedParquetFileFormat(mapping)
    val bucketSpec = graft.lake.LakeTable.bucketSpecOf(meta.properties)
      .filter(_ => idx.allBucketTagged)
      .map { case (cols, n) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil)
      }
    HadoopFsRelation(
      location = idx,
      partitionSchema = idx.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = format,
      options = parameters)(spark)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val writeMode = mode match {
      case SaveMode.Append => "append"
      case SaveMode.Overwrite => "overwrite"
      case SaveMode.ErrorIfExists =>
        if (new LakeLog(path).exists) throw new IllegalStateException(
          s"lake table already exists at $path (SaveMode.ErrorIfExists)")
        else "append"
      case SaveMode.Ignore =>
        if (new LakeLog(path).exists) {
          return createRelation(sqlContext, parameters)
        } else "append"
    }
    // idempotent-writer options (Delta txnAppId/txnVersion parity):
    // a replayed (appId, version) pair skips the write
    val txn = for {
      appId <- parameters.get("txnAppId")
      v <- parameters.get("txnVersion")
    } yield (appId, v.toLong)
    LakeWriter.write(
      data, path, mode = writeMode,
      partitionBy = partitionColumnsOf(parameters),
      mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean),
      replaceWhere = parameters.get("replaceWhere")
        .orElse(parameters.get("replacewhere")),
      transaction = txn,
      // create-time table properties ride writer options (Delta's
      // `.option("delta.enableChangeDataFeed", ...)` shape). The V1
      // writer lower-cases option keys, so known graft.* knobs are
      // mapped back to their canonical casing before validation.
      properties = parameters.collect {
        case (k, v) if k.startsWith("graft.") =>
          graft.lake.LakeTable.canonicalPropertyKey(k) -> v
      })
    createRelation(sqlContext, parameters)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "format(\"lake\") requires a path: .load(path) / .save(path)"))

  /** `DataFrameWriter.partitionBy` arrives JSON-encoded under the V1
    * `__partition_columns` key; also accept a plain comma-separated
    * `partitionBy` option.
    */
  private def partitionColumnsOf(
      parameters: Map[String, String]): Seq[String] = {
    parameters.get("__partition_columns").map { json =>
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(json).extract[Seq[String]]
    }.orElse {
      parameters.get("partitionBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }.getOrElse(Nil)
  }

  private[sources] def relationFor(
      spark: SparkSession, snap: Snapshot,
      parameters: Map[String, String],
      applyDvs: Boolean = false,
      extraCols: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : BaseRelation = {
    val index = new LakeFileIndex(spark, snap)
    val partCols = snap.partitionColumns.toSet
    // extraCols: physical-only columns outside the table schema (the
    // materialized row-id column) — parquet null-fills files that lack
    // them, exactly like pre-evolution files null-fill new columns
    val dataSchema =
      StructType(snap.schema.fields.filterNot(f => partCols.contains(f.name))
        ++ extraCols)
    // column-mapped tables read through the name-translating format;
    // the mapping is the SNAPSHOT's (time travel to a pre-rename
    // version uses that version's own logical→physical table)
    val mapping = graft.lake.ColumnMapping.overrides(snap.metadata)
      .filter { case (l, p) => l != p }
    // Bloom-indexed snapshots read through the skipping format: the
    // driver contributes only the (file → sidecar) path map; sidecar
    // CONTENTS are read and cached on executors
    // ([[BloomParquetFileFormat]]). Bloom-free snapshots (the common
    // case) keep the stock format and pay nothing.
    val tablePath = snap.log.tablePath
    val bloomFiles = snap.files.filter(_.bloomPath.isDefined)
    def bloomPayload: Array[Byte] = graft.lake.PathMapPayload.payload(
      spark, bloomFiles.map { f =>
        (LakeLog.resolveFile(tablePath, f.path).toString,
          LakeLog.resolveFile(tablePath, f.bloomPath.get).toString)
      })
    // DV-carrying snapshots on the EXTERNAL read path (applyDvs:
    // format("lake"), where no DataFrame-level filter can attach)
    // read through the row-filtering format — without it, deleted
    // rows RESURRECT on exactly this path. Internal callers (rawDF)
    // keep the bare relation: they attach [[graft.lake.DvRowDeleted]]
    // themselves and the DML paths need the raw rows + _metadata.
    val dvFiles =
      if (applyDvs) snap.files.filter(_.dvPath.isDefined) else Nil
    val format =
      if (dvFiles.nonEmpty) {
        val dvFor = dvFiles.map { f =>
          (LakeLog.resolveFile(tablePath, f.path).toString,
            LakeLog.resolveFile(tablePath, f.dvPath.get).toString)
        }
        new DvParquetFileFormat(mapping, bloomPayload,
          graft.lake.PathMapPayload.payload(spark, dvFor))
      }
      else if (bloomFiles.nonEmpty)
        new BloomParquetFileFormat(mapping, bloomPayload)
      else if (mapping.isEmpty) new ParquetFileFormat
      else new MappedParquetFileFormat(mapping)
    // bucketed table: declare the BucketSpec so the scan reports
    // HashPartitioning and co-bucketed joins/aggs skip their
    // shuffles — but ONLY when every live file carries a parsable
    // bucket id (Spark's `_%05d` name contract). Converted/legacy
    // files without the tag degrade the whole scan to unbucketed
    // rather than joining rows under a fabricated bucket id.
    val bucketSpec = graft.lake.LakeTable
      .bucketSpecOf(snap.metadata.properties)
      .filter(_ => LakeDataSource.allFilesBucketTagged(snap))
      .map { case (cols, n) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, Nil)
      }
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = format,
      options = parameters)(spark)
  }
}

object LakeDataSource {
  import org.apache.spark.sql.functions._

  /** [[ColumnarLakeFileIndex]] relation entry point for internal read
    * paths outside the DataSource dispatch (LakeTable.toDF / asOf
    * under the session conf).
    */
  private[graft] def columnarRelation(
      spark: SparkSession, idx: ColumnarLakeFileIndex,
      parameters: Map[String, String]): BaseRelation =
    new LakeDataSource().columnarRelationFor(spark, idx, parameters)

  /** Columnar twin of [[snapshotDFWithMeta]]: full-table frame with
    * `_metadata` materialized and deletion vectors applied via the
    * same codegen'd [[graft.lake.DvRowDeleted]] filter, planned
    * through the [[ColumnarLakeFileIndex]] so the driver never
    * materializes the file list. The DV path map comes from the
    * index's summary (bounded by sidecar count). `withRowIds` adds
    * [[graft.lake.RowTracking.COL]] with the same resolution order as
    * the classic path (materialized column wins, else baseRowId +
    * row_index via one broadcast join) — the base map is the index's
    * (path, baseRowId) PROJECTION, decoded on the executors, so
    * row-tracked DML plans columnar too (round 17; previously gated
    * classic).
    */
  private[graft] def columnarDFWithMeta(
      spark: SparkSession, idx: ColumnarLakeFileIndex,
      withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val tablePath = idx.log.tablePath
    val rtCol = graft.lake.RowTracking.COL
    val extra =
      if (withRowIds) Seq(StructField(rtCol, LongType, nullable = true))
      else Nil
    val df0 = spark.baseRelationToDataFrame(
        new LakeDataSource().columnarRelationFor(spark, idx, Map.empty,
          applyDvs = false, extraCols = extra))
      .withColumn(META, col(META))
    val df =
      if (idx.dvPairs.isEmpty) df0
      else {
        val dvFor = idx.dvPairs.map { case (f, s) =>
          (LakeLog.resolveFile(tablePath, f).toString,
            LakeLog.resolveFile(tablePath, s).toString)
        }
        df0.filter(!graft.lake.DvRowDeleted(df0.sparkSession,
          col(s"$META.file_path"), col(s"$META.row_index"), dvFor))
      }
    if (!withRowIds) return df
    val spark2 = df.sparkSession
    import spark2.implicits._
    val bases = idx.pathBases().map { case (p, b) =>
      (LakeLog.resolveFile(tablePath, p).toString, b)
    }
    df.join(broadcast(bases.toDF("__rt_file_path", "__rt_base")),
        col(s"$META.file_path") === col("__rt_file_path"), "left")
      .withColumn(rtCol,
        coalesce(col(s"`$rtCol`"),
          col("__rt_base") + col(s"$META.row_index")))
      .drop("__rt_file_path", "__rt_base")
  }

  /** Columnar twin of [[snapshotDFWithRowIds]]: table columns plus
    * the stable row id, planned through the [[ColumnarLakeFileIndex]].
    */
  private[graft] def columnarDFWithRowIds(
      spark: SparkSession, idx: ColumnarLakeFileIndex): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val rtCol = graft.lake.RowTracking.COL
    val schema = StructType.fromDDL(idx.metadata.schemaDDL)
    if (idx.numFiles == 0L) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields :+ StructField(rtCol, LongType)))
    }
    columnarDFWithMeta(spark, idx, withRowIds = true)
      .select(schema.fieldNames.map(n => col(s"`$n`"))
        :+ col(s"`$rtCol`"): _*)
  }

  /** Does every live file of the snapshot parse a bucket id?
    * Memoized ON the Snapshot instance (identity, not value,
    * keying): relationFor runs per QUERY, and a 10⁶-file table must
    * not pay a million regex parses on the driver every time it is
    * planned — nor a full AddFile-list hash per cache lookup, which
    * is what a case-class-keyed map would cost. Snapshot instances
    * are cached per version by the log layer, so the per-instance
    * lazy val is effective; the name check itself short-circuits on
    * the first untagged file (the common legacy case).
    */
  private[sources] def allFilesBucketTagged(snap: Snapshot): Boolean =
    snap.allFilesBucketTagged

  /** Planner-integrated DataFrame over a snapshot — the read path
    * shared by `LakeTable.toDF` / `asOf` / `format("lake")`. Applies
    * deletion vectors IN-SCAN: a codegen'd
    * [[graft.lake.DvRowDeleted]] filter on `_metadata.row_index`
    * drops deleted rows with no join at any DV cardinality; DV-free
    * snapshots (the common case) keep the bare single-relation plan.
    */
  def snapshotDF(spark: SparkSession, snap: Snapshot): DataFrame = {
    if (!snap.files.exists(_.dvPath.isDefined)) rawDF(spark, snap)
    else snapshotDFWithMeta(spark, snap).drop(META)
  }

  /** Name of the materialized file-metadata struct column on
    * [[snapshotDFWithMeta]] frames: `_metadata` pinned as a REGULAR
    * column, so `col("_metadata.file_path")` / `.row_index` keep
    * resolving after the DV anti-join and union (the virtual metadata
    * attribute itself does not survive non-scan operators).
    */
  val META = "_metadata"

  /** Snapshot frame with `_metadata` materialized and deletion vectors
    * applied — the scan every DML path that needs (file, row) identity
    * (MERGE rewrite ids, touched-file detection, DV DELETE) plans
    * through. Output schema: table columns + the `_metadata` struct.
    *
    * DV application is ONE relation + one codegen'd filter — no union,
    * no join, no exchange at any deleted-row cardinality. The driver
    * contributes only the file→DV-path map (O(files with DVs)); DV
    * CONTENTS are read and cached on executors (see
    * [[graft.lake.DvRowDeleted]]). Keyed by the PLAIN absolute path:
    * `_metadata.file_path` reflects the schemeless paths our
    * LakeFileIndex lists (probe-verified), so `toUri` ("file://...")
    * would never match.
    */
  def snapshotDFWithMeta(spark: SparkSession, snap: Snapshot,
      withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val tablePath = snap.log.tablePath
    val rtCol = graft.lake.RowTracking.COL
    val extra =
      if (withRowIds) Seq(StructField(rtCol, LongType, nullable = true))
      else Nil
    val df0 = spark.baseRelationToDataFrame(
        new LakeDataSource().relationFor(spark, snap, Map.empty,
          extraCols = extra))
      .withColumn(META, col(META))
    val dvFiles = snap.files.filter(_.dvPath.isDefined)
    val df =
      if (dvFiles.isEmpty) df0
      else {
        val dvFor = dvFiles.map { f =>
          (LakeLog.resolveFile(tablePath, f.path).toString,
            LakeLog.resolveFile(tablePath, f.dvPath.get).toString)
        }
        df0.filter(!graft.lake.DvRowDeleted(df0.sparkSession,
          col(s"$META.file_path"), col(s"$META.row_index"), dvFor))
      }
    if (!withRowIds) return df
    // id resolution (see [[graft.lake.RowTracking]]): materialized
    // column wins; else baseRowId + row_index via one broadcast join
    // against the metadata-sized (file → base) map
    val spark2 = df.sparkSession
    import spark2.implicits._
    val bases = snap.files.map(f =>
      (LakeLog.resolveFile(tablePath, f.path).toString, f.baseRowId))
    df.join(broadcast(bases.toDF("__rt_file_path", "__rt_base")),
        col(s"$META.file_path") === col("__rt_file_path"), "left")
      .withColumn(rtCol,
        coalesce(col(s"`$rtCol`"),
          col("__rt_base") + col(s"$META.row_index")))
      .drop("__rt_file_path", "__rt_base")
  }

  private def rawDF(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.baseRelationToDataFrame(
      new LakeDataSource().relationFor(spark, snap, Map.empty))

  /** Snapshot frame with STABLE ROW IDS ([[graft.lake.RowTracking]]):
    * table columns plus [[graft.lake.RowTracking.COL]], the id that
    * survives OPTIMIZE/Z-order/PURGE rewrites and deletion-vector
    * deletes. Resolution order per the protocol: a materialized
    * physical id column in the file (written by reorganizing
    * rewrites) wins; otherwise `AddFile.baseRowId + row_index`.
    *
    * Plan shape: ONE scan (the extra physical column null-fills where
    * absent) + the in-scan DV filter + one BROADCAST join against the
    * (file → baseRowId) map — metadata-sized, the same O(files)
    * driver contribution the DV and bloom path maps make. Files from
    * before the feature was enabled that were never backfilled read
    * a null id rather than a wrong one.
    */
  def snapshotDFWithRowIds(spark: SparkSession, snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val rtCol = graft.lake.RowTracking.COL
    if (snap.files.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema.fields :+ StructField(rtCol, LongType)))
    }
    snapshotDFWithMeta(spark, snap, withRowIds = true)
      .select(snap.schema.fieldNames.map(n => col(s"`$n`"))
        :+ col(s"`$rtCol`"): _*)
  }
}
