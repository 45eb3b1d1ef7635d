package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{LakeTable, LakeWriter}

/** Correctness-gate queries for the lake table format (SURVEY §2.9).
  * Each builds a scratch lake table from the driver parquet tables,
  * applies versioned-table DML, and returns a result whose final state
  * is also expressible as plain SQL over the ORIGINAL parquet — that
  * SQL is the DuckDB oracle. This puts MERGE/time-travel/evolution
  * under the same hash-match gate as the relational operators.
  */
object LakeQueries {
  import QueryDef.table

  /** Per-(query, sf) scratch dir, rebuilt on every invocation so the
    * gate is deterministic and idempotent.
    */
  private def scratch(name: String, sfDir: String): String =
    QueryDef.scratch(name, sfDir)

  /** Corpus-fingerprinted fixture for `lake_columnar_scan`: a lake
    * table built in 12 commits (2 files each) with the checkpoint
    * part max pinned low, so the v10 auto-checkpoint is MULTI-PART
    * parquet and v11 is a post-checkpoint tail add — the shape the
    * columnar index requires. Built once per corpus; the gate times
    * only the read.
    */
  private def ensureColumnarScanTable(s: SparkSession, dir: String)
      : String = {
    val path = QueryDef.fixture("lake_columnar_scan", dir)
    val fp = QueryDef.tableFp(dir, "lineitem") + ":12x2:partmax8:v1"
    if (!QueryDef.fixtureFresh(path, fp)) {
      LakeWriter.deleteRecursively(java.nio.file.Paths.get(path))
      val l = table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prevMax = graft.lake.LakeLog.CHECKPOINT_PART_MAX_ACTIONS
      graft.lake.LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 8
      try {
        (0 until 12).foreach { i =>
          LakeWriter.write(
            l.filter(col("l_orderkey") % 12 === i).coalesce(2), path)
        }
      } finally
        graft.lake.LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevMax
      l.unpersist()
      QueryDef.fixtureMark(path, fp)
    }
    path
  }

  /** Corpus-fingerprinted fixture for `streaming_apply_changes`: the
    * CDC SOURCE table with its full v0–v3 DML trajectory (two append
    * halves, an expression UPDATE, a predicate DELETE). Deterministic
    * from `customer`, consumed read-only by the gate — each run
    * replicates its change feed into a fresh dst/checkpoint.
    */
  private def ensureApplyChangesSource(s: SparkSession, dir: String)
      : String = {
    val src = QueryDef.fixture("apply_changes_src", dir)
    val fp = QueryDef.tableFp(dir, "customer") + ":v0-v3:v1"
    if (!QueryDef.fixtureFresh(src, fp)) {
      LakeWriter.deleteRecursively(java.nio.file.Paths.get(src))
      val c = table(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      LakeWriter.write(c.filter("c_custkey % 2 = 0"), src) // v0
      LakeWriter.write(c.filter("c_custkey % 2 = 1"), src) // v1
      LakeTable.forPath(s, src).update(
        "c_mktsegment = 'MACHINERY'",
        Map("c_acctbal" -> "c_acctbal + 1000"))            // v2
      LakeTable.forPath(s, src)
        .delete("c_mktsegment = 'BUILDING'")               // v3
      QueryDef.fixtureMark(src, fp)
    }
    src
  }

  /** Recursive tree copy (fixture → per-run mutable table). */
  private def copyTree(src: String, dst: String): Unit = {
    val s0 = java.nio.file.Paths.get(src)
    val d0 = java.nio.file.Paths.get(dst)
    val st = java.nio.file.Files.walk(s0)
    try st.forEach { p =>
      val t = d0.resolve(s0.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(t); ()
      } else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally st.close()
  }

  val all: Seq[QueryDef] = Seq(

    // K1/K2/S4/D11: create + append, snapshot read.
    QueryDef("lake_append_read",
      (s, dir) => {
        val path = scratch("lake_append_read", dir)
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        LakeWriter.write(o.filter("o_orderstatus = 'F'"), path)
        LakeWriter.write(o.filter("o_orderstatus <> 'F'"), path)
        LakeTable.forPath(s, path).toDF
      },
      Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders")),

    // Columnar file index (round 14, the 10⁷-file read posture): the
    // read plans WITHOUT materializing the table's file list on the
    // driver — checkpoint parts scan as a Spark job applying the same
    // FilePruner test the classic index uses; only the query's
    // candidate survivors + the post-checkpoint tail come back. This
    // gate builds a table whose v10 auto-checkpoint is a manifest
    // (part max pinned low for the run), reads it through
    // option("columnarIndex") with two tail commits in play, REQUIRES
    // the plan really carries the columnar index, and oracles the
    // aggregate — exact result parity with a plain engine scan.
    QueryDef("lake_columnar_scan",
      (s, dir) => {
        // the 12-commit manifest-checkpointed table is a pure
        // function of lineitem — corpus-fingerprinted FIXTURE, so the
        // timed leg is the COLUMNAR READ (the steady-state op), not
        // table construction (the r13 build/probe split rule)
        val path = ensureColumnarScanTable(s, dir)
        val df = s.read.format("lake")
          .option("columnarIndex", "true").load(path)
          .filter("l_returnflag = 'R'")
        val planned = df.queryExecution.analyzed.collectFirst {
          case org.apache.spark.sql.execution.datasources.LogicalRelation(
              fs: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation, _, _, _, _) => fs.location
        }
        require(planned.exists(
          _.isInstanceOf[graft.sources.ColumnarLakeFileIndex]),
          "read did not plan through the columnar file index")
        df.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("l_quantity") * 100).cast("long"))
              .as("qty_e2"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT))
             |    AS BIGINT) AS qty_e2
             |FROM lineitem WHERE l_returnflag = 'R'
             |GROUP BY 1""".stripMargin)),

    // Columnar DML (round 15, VERDICT r14 #2): MERGE + DELETE against
    // a manifest-checkpointed table plan their touched-file
    // discovery through the distributed checkpoint scan — the driver
    // NEVER materializes the live file list (pinned by the
    // fullReplays require: zero Snapshot.doReplay calls across both
    // statements). The table is a fresh copy of the columnar-scan
    // fixture (DML mutates, so each run gets its own; the copy is
    // setup and reported on the in-gate timing split), the DELETE is
    // a copy-on-write rewrite, the MERGE exercises update + insert
    // clauses, and the oracle recomputes the final state from the
    // original parquet.
    QueryDef("lake_columnar_dml",
      (s, dir) => {
        val src = ensureColumnarScanTable(s, dir)
        val root = scratch("lake_columnar_dml", dir)
        val path = s"$root/t"
        val tSetup = System.nanoTime()
        copyTree(src, path)
        val setupSec = (System.nanoTime() - tSetup) / 1e9
        val tDml = System.nanoTime()
        val prevConf = s.conf.getOption("spark.graft.columnarFileIndex")
        s.conf.set("spark.graft.columnarFileIndex", "true")
        try {
          val before = graft.lake.Snapshot.fullReplays.get()
          val t = LakeTable.forPath(s, path)
          t.delete("l_returnflag = 'R'")
          // the synthetic lineitem does NOT have a unique
          // (orderkey, linenumber) — dedupe the merge source on the
          // key (MERGE's multi-match rule demands it; the oracle
          // replays the same MAX dedup)
          val srcDf = table(s, dir, "lineitem")
            .filter("l_orderkey % 100 = 0")
            .groupBy("l_orderkey", "l_linenumber")
            .agg(max("l_quantity").as("l_quantity"),
              max("l_returnflag").as("l_returnflag"))
          t.as("t").merge(srcDf.as("s"),
              "t.l_orderkey = s.l_orderkey AND " +
              "t.l_linenumber = s.l_linenumber")
            .whenMatchedUpdate(Map("l_quantity" -> "s.l_quantity + 100"))
            .whenNotMatchedInsert(Map(
              "l_orderkey" -> "s.l_orderkey",
              "l_linenumber" -> "s.l_linenumber",
              "l_quantity" -> "s.l_quantity + 100",
              "l_returnflag" -> "s.l_returnflag"))
            .execute()
          require(graft.lake.Snapshot.fullReplays.get() == before,
            "columnar DML materialized the full file list " +
            "(Snapshot.doReplay ran during DELETE/MERGE)")
          System.err.println(f"[gate] lake_columnar_dml " +
            f"setup=$setupSec%.3fs " +
            f"dml=${(System.nanoTime() - tDml) / 1e9}%.3fs")
          t.toDF.groupBy("l_returnflag")
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("l_quantity") * 100).cast("long"))
                .as("qty_e2"),
              sum(col("l_orderkey") * col("l_linenumber"))
                .cast("long").as("key_sum"))
        } finally {
          prevConf match {
            case Some(v) => s.conf.set("spark.graft.columnarFileIndex", v)
            case None =>
              s.conf.unset("spark.graft.columnarFileIndex")
          }
        }
      },
      Some("""WITH kept AS (
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |  FROM lineitem WHERE l_returnflag <> 'R'
             |), src AS (
             |  SELECT l_orderkey, l_linenumber,
             |    MAX(l_quantity) AS q, MAX(l_returnflag) AS f
             |  FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY 1, 2
             |), updated AS (
             |  SELECT k.l_orderkey, k.l_linenumber,
             |    CASE WHEN s.l_orderkey IS NOT NULL THEN s.q + 100
             |         ELSE k.l_quantity END AS l_quantity,
             |    k.l_returnflag
             |  FROM kept k LEFT JOIN src s
             |    ON s.l_orderkey = k.l_orderkey
             |   AND s.l_linenumber = k.l_linenumber
             |), inserted AS (
             |  SELECT s.l_orderkey, s.l_linenumber,
             |    s.q + 100 AS l_quantity, s.f AS l_returnflag
             |  FROM src s ANTI JOIN kept k
             |    ON s.l_orderkey = k.l_orderkey
             |   AND s.l_linenumber = k.l_linenumber
             |), final AS (
             |  SELECT * FROM updated UNION ALL SELECT * FROM inserted)
             |SELECT l_returnflag, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT))
             |    AS BIGINT) AS qty_e2,
             |  CAST(SUM(l_orderkey * l_linenumber) AS BIGINT) AS key_sum
             |FROM final GROUP BY 1""".stripMargin)),

    // Steady-state small-file governance (VERDICT r13 ask #4): 8
    // micro-batch appends — each arriving 8-way splintered, the
    // continuous-ingest shape (reference util:45-75 run forever) —
    // into an optimizeWrite + autoCompact table. The rebalance bins
    // every append to ONE file and auto-compact folds the debris at
    // minNumFiles=4, so the live file count follows the deterministic
    // 1,2,3,4→1 trajectory and ends FLAT at 2 — never the 8 commits ×
    // 8 tasks = 64 files an ungoverned ingest leaves. The in-gate
    // require pins flatness; the oracle re-counts the ingested rows
    // (no row lost or doubled through the compactions) and the file
    // count.
    QueryDef("lake_optimized_ingest",
      (s, dir) => {
        val path = scratch("lake_optimized_ingest", dir)
        val o = table(s, dir, "orders").select("o_orderkey", "o_totalprice")
        (0 until 8).foreach { i =>
          LakeWriter.write(
            o.filter(pmod(col("o_orderkey"), lit(8)) === i).repartition(8),
            path,
            properties =
              if (i == 0) Map(
                LakeTable.PROP_OPTIMIZE_WRITE -> "true",
                LakeTable.PROP_AUTO_COMPACT -> "true",
                LakeTable.PROP_AUTO_COMPACT_MIN_FILES -> "4")
              else Map.empty)
        }
        val t = LakeTable.forPath(s, path)
        val nFiles = t.snapshot().files.size
        require(nFiles <= 2,
          s"steady-state ingest accumulated $nFiles live files — " +
            "optimizeWrite/autoCompact failed to hold the count flat")
        t.toDF.agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
          .withColumn("n_files", lit(nFiles.toLong))
      },
      Some("""SELECT count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |  CAST(2 AS BIGINT) AS n_files
             |FROM orders""".stripMargin)),

    // Hash-bucketed co-located join (round 12): orders and lineitem
    // written as co-bucketed lake tables on the order key
    // (graft.bucketBy/bucketCount — Spark's own bucket hash and file
    // contract), then joined and aggregated ON the bucket key. The
    // in-gate require pins the 100 TB point: NEITHER side shuffles —
    // the scan's declared HashPartitioning satisfies both the join
    // and the aggregation, so a fact-fact join that would move 100 TB
    // through two exchanges reads co-located bucket pairs instead.
    // Oracle: the same join over the raw parquet in DuckDB.
    QueryDef("lake_bucketed_join",
      (s, dir) => {
        val op = scratch("lake_bkt_orders", dir)
        val lp = scratch("lake_bkt_lineitem", dir)
        val props = Map(LakeTable.PROP_BUCKET_BY -> "k",
          LakeTable.PROP_BUCKET_COUNT -> "8")
        LakeWriter.write(table(s, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderpriority"),
            col("o_totalprice")), op, properties = props)
        LakeWriter.write(table(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_quantity")),
          lp, properties = props)
        // bucket placement is a TABLE invariant, not a write-path
        // property of the initial load: a MERGE rewrite and a
        // compaction must re-stage through the same bucket hash, or
        // the next co-located join silently misses rows (r12 ask #5)
        val src = table(s, dir, "lineitem")
          .select(col("l_orderkey").as("k")).distinct()
          .filter(col("k") % 50 === 0)
        LakeTable.forPath(s, lp).as("t")
          .merge(src.as("s"), "t.k = s.k")
          .whenMatchedUpdate(Map("l_quantity" -> "t.l_quantity + 1"))
          .execute()
        LakeTable.forPath(s, lp).compact()
        LakeTable.forPath(s, lp).snapshot().files.foreach { f =>
          require(org.apache.spark.sql.execution.datasources
            .BucketingUtils
            .getBucketId(new java.io.File(f.path).getName).isDefined,
            s"post-MERGE/compact file lost its bucket tag: ${f.path}")
        }
        val o = s.read.format("lake").load(op)
        val l = s.read.format("lake").load(lp)
        val joined = l.hint("merge").join(o.hint("merge"), "k")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
        joined.collect() // materialize so the FINAL plan is inspectable
        val p = joined.queryExecution.executedPlan.toString
        // the fact-fact JOIN edge must not shuffle (the aggregation
        // above it keys on o_orderpriority, a different column — its
        // small exchange is the query's, not the join's)
        require(!p.contains("Exchange hashpartitioning(k#"),
          s"co-bucketed join must not shuffle on the bucket key:\n$p")
        require(p.contains("SortMergeJoin"),
          s"expected a bucketed sort-merge join:\n$p")
        joined
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_lines,
             |  CAST(SUM(CAST(l_quantity +
             |    (CASE WHEN l_orderkey % 50 = 0 THEN 1 ELSE 0 END)
             |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin)),

    // Bucket pruning in the file index (round 13): an equality / IN
    // on the bucket key pins rows to known bucket ids, and the index
    // drops every other bucket's files BEFORE Spark builds splits —
    // the needle-in-haystack lever for UNSORTED bucketed tables where
    // min/max stats prune nothing. In-gate require pins the file
    // count; the oracle hash-checks the surviving rows.
    QueryDef("lake_bucket_prune",
      (s, dir) => {
        val p = scratch("lake_bucket_prune", dir)
        LakeWriter.write(table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal")),
          p, properties = Map(LakeTable.PROP_BUCKET_BY -> "c_custkey",
            LakeTable.PROP_BUCKET_COUNT -> "16"))
        val t = s.read.format("lake").load(p)
        val q = t.filter(col("c_custkey").isin(42L, 777L, 1105L))
        q.collect()
        val scanned = q.queryExecution.executedPlan.collectLeaves()
          .collectFirst {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
              sc.metrics("numFiles").value
          }.getOrElse(-1L)
        require(scanned >= 1 && scanned <= 3,
          s"bucket pruning should scan <=3 of 16 files, read $scanned")
        q
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
             |WHERE c_custkey IN (42, 777, 1105)""".stripMargin)),

    // Column mapping (round 8): enable, METADATA-ONLY rename, append
    // under the new logical name, read back rows from files written
    // on BOTH sides of the rename — hash-oracled against a plain
    // aliased SELECT, so the physical-name translation (read schema,
    // pushdown, null-fill) is verified byte-for-byte.
    QueryDef("lake_rename_mapped",
      (s, dir) => {
        val path = scratch("lake_rename_mapped", dir)
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        LakeWriter.write(o.filter("o_orderstatus = 'F'"), path)
        LakeTable.forPath(s, path).setTblProperties(
          Map(graft.lake.ColumnMapping.MODE_PROP -> "name"))
        LakeTable.forPath(s, path)
          .renameColumn("o_totalprice", "price")
        LakeWriter.write(
          o.filter("o_orderstatus <> 'F'")
            .withColumnRenamed("o_totalprice", "price"), path)
        LakeTable.forPath(s, path).toDF
      },
      Some("SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice AS price FROM orders")),

    // OPTIMIZE ZORDER (clustered compaction): three appends' worth of
    // debris re-clustered on (l_partkey, l_orderkey) — the rewrite
    // must be exactly row-preserving, which the oracle hash checks;
    // the clustering/skipping behavior itself is pinned by
    // LakeDataSourceSuite and LakeSqlParserSuite.
    QueryDef("lake_optimize_zorder",
      (s, dir) => {
        val path = scratch("lake_optimize_zorder", dir)
        val l = table(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_quantity",
            "l_extendedprice")
        LakeWriter.write(l.filter("l_orderkey % 3 = 0"), path)
        LakeWriter.write(l.filter("l_orderkey % 3 = 1"), path)
        LakeWriter.write(l.filter("l_orderkey % 3 = 2"), path)
        LakeTable.forPath(s, path).compactClustered(
          Seq("l_partkey", "l_orderkey"), zOrder = true)
        LakeTable.forPath(s, path).toDF
      },
      Some("SELECT l_orderkey, l_partkey, l_quantity, " +
        "l_extendedprice FROM lineitem")),

    // Row tracking ([[graft.lake.RowTracking]]): stable row ids
    // through OPTIMIZE and a copy-on-write DELETE. The writes are
    // deterministic single sorted files, so the engine's id
    // assignment is INDEPENDENTLY recomputable by the oracle as
    // window ranks over the source table — the hash match proves the
    // ids both assigned correctly and survived the reorganization.
    QueryDef("lake_row_tracking",
      (s, dir) => {
        val path = scratch("lake_row_tracking", dir)
        val d = table(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
        // v0: even doc_ids (sorted, one file) -> ids 0..nE-1;
        // v1: odd doc_ids -> ids nE..n-1
        LakeWriter.write(
          d.filter("doc_id % 2 = 0").orderBy("doc_id").coalesce(1), path,
          properties = Map(graft.lake.RowTracking.PROP -> "true"))
        LakeWriter.write(
          d.filter("doc_id % 2 = 1").orderBy("doc_id").coalesce(1), path,
          mode = "append")
        val t = LakeTable.forPath(s, path)
        t.compact()                 // ids must survive the merge
        t.delete("n_chars < 200")   // CoW rewrite: kept rows keep ids
        t.toDFWithRowIds.select(col("doc_id"),
          col(graft.lake.RowTracking.COL).as("row_id"))
      },
      Some("""WITH ranked AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 2 = 0
             |      THEN ROW_NUMBER() OVER (PARTITION BY doc_id % 2
             |             ORDER BY doc_id) - 1
             |      ELSE (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
             |           + ROW_NUMBER() OVER (PARTITION BY doc_id % 2
             |               ORDER BY doc_id) - 1
             |    END AS row_id
             |  FROM documents)
             |SELECT doc_id, CAST(row_id AS BIGINT) AS row_id
             |FROM ranked WHERE n_chars >= 200""".stripMargin)),

    // S6/D6: time travel reads the pre-append version.
    QueryDef("lake_time_travel",
      (s, dir) => {
        val path = scratch("lake_time_travel", dir)
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        LakeWriter.write(o.filter("o_orderstatus = 'F'"), path)   // v0
        LakeWriter.write(o.filter("o_orderstatus <> 'F'"), path)  // v1
        LakeTable.forPath(s, path).asOf(0)
      },
      Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderstatus = 'F'")),

    // D2: MERGE upsert — update matched, insert unmatched, one commit.
    QueryDef("lake_merge_upsert",
      (s, dir) => {
        val path = scratch("lake_merge_upsert", dir)
        val c = table(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        LakeWriter.write(c.filter("c_custkey <= 1000"), path)
        val src = c.filter("c_custkey > 500")
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        LakeTable.forPath(s, path).as("t")
          .merge(src.as("s"), "t.c_custkey = s.c_custkey")
          .whenMatchedUpdate(Map("c_acctbal" -> "s.c_acctbal"))
          .whenNotMatchedInsert(Map(
            "c_custkey" -> "s.c_custkey", "c_name" -> "s.c_name",
            "c_acctbal" -> "s.c_acctbal"))
          .execute()
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT c_custkey, c_name,
             |  c_acctbal + (CASE WHEN c_custkey > 500 THEN 100.0 ELSE 0.0 END) AS c_acctbal
             |FROM customer""".stripMargin)),

    // D2 + by-source: full table sync — matched update, unmatched
    // insert, by-source delete/update — one atomic commit.
    QueryDef("lake_merge_by_source",
      (s, dir) => {
        val path = scratch("lake_merge_by_source", dir)
        val c = table(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        LakeWriter.write(c.filter("c_custkey <= 1000"), path)
        val src = c.filter("c_custkey > 500 AND c_custkey <= 1500")
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        LakeTable.forPath(s, path).as("t")
          .merge(src.as("s"), "t.c_custkey = s.c_custkey")
          .whenMatchedUpdate(Map("c_acctbal" -> "s.c_acctbal"))
          .whenNotMatchedInsert(Map(
            "c_custkey" -> "s.c_custkey", "c_name" -> "s.c_name",
            "c_acctbal" -> "s.c_acctbal"))
          .whenNotMatchedBySourceDelete("t.c_acctbal < 0")
          .whenNotMatchedBySourceUpdate(Map("c_name" -> "'retired'"))
          .execute()
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey <= 500 THEN 'retired' ELSE c_name END AS c_name,
             |  c_acctbal + (CASE WHEN c_custkey > 500 THEN 100.0 ELSE 0.0 END) AS c_acctbal
             |FROM customer
             |WHERE c_custkey <= 1500
             |  AND NOT (c_custkey <= 500 AND c_acctbal < 0)""".stripMargin)),

    // D3/D4+J5: MERGE delete with a non-equi RLIKE condition.
    QueryDef("lake_merge_rlike_delete",
      (s, dir) => {
        val path = scratch("lake_merge_rlike_delete", dir)
        val d = table(s, dir, "documents")
          .select("doc_id", "text", "lang")
        LakeWriter.write(d, path)
        import s.implicits._
        val patterns = Seq("vector join", "slow hash").toDF("pat")
        LakeTable.forPath(s, path).as("t")
          .merge(patterns.as("p"), "t.text RLIKE p.pat")
          .whenMatchedDelete()
          .execute()
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT doc_id, text, lang FROM documents
             |WHERE NOT regexp_matches(text, 'vector join')
             |  AND NOT regexp_matches(text, 'slow hash')""".stripMargin)),

    // D5: predicate DELETE with file rewrite.
    QueryDef("lake_delete",
      (s, dir) => {
        val path = scratch("lake_delete", dir)
        val l = table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        LakeWriter.write(l, path)
        LakeTable.forPath(s, path).delete("l_returnflag = 'R'")
        LakeTable.forPath(s, path).toDF
      },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity " +
        "FROM lineitem WHERE l_returnflag <> 'R'")),

    // D5 merge-on-read: deletion-vector DELETE — two deletes (the
    // second merges vectors) soft-delete without rewriting files; the
    // read applies the DVs. Oracle: plain filtered parquet.
    QueryDef("lake_delete_dv",
      (s, dir) => {
        val path = scratch("lake_delete_dv", dir)
        val l = table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        LakeWriter.write(l, path,
          properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
        LakeTable.forPath(s, path).delete("l_returnflag = 'R'")
        LakeTable.forPath(s, path).delete("l_quantity > 45.0")
        val t = LakeTable.forPath(s, path)
        require(t.snapshot().files.exists(_.dvPath.isDefined),
          "gate integrity: DELETE should have produced deletion vectors")
        t.toDF
      },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity " +
        "FROM lineitem WHERE l_returnflag <> 'R' AND l_quantity <= 45.0")),

    // UPDATE: expression update over matching rows.
    QueryDef("lake_update",
      (s, dir) => {
        val path = scratch("lake_update", dir)
        val e = QueryDef.events(s, dir)
          .select("event_id", "event_type", "value")
        LakeWriter.write(e, path)
        LakeTable.forPath(s, path).update(
          "event_type = 'error'", Map("value" -> "0.0 - value"))
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT event_id, event_type,
             |  CASE WHEN event_type = 'error' THEN -value ELSE value END AS value
             |FROM events""".stripMargin)),

    // D9/D10: schema evolution — old rows null-fill the new column.
    QueryDef("lake_schema_evolution",
      (s, dir) => {
        val path = scratch("lake_schema_evolution", dir)
        val o = table(s, dir, "orders")
        LakeWriter.write(
          o.filter("o_orderstatus = 'F'").select("o_orderkey", "o_totalprice"),
          path)
        LakeWriter.write(
          o.filter("o_orderstatus <> 'F'")
            .select("o_orderkey", "o_totalprice", "o_orderpriority"),
          path, mergeSchema = true)
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  CASE WHEN o_orderstatus <> 'F' THEN o_orderpriority END AS o_orderpriority
             |FROM orders""".stripMargin)),

    // Partitioned table + partition-pruned scan through the log.
    QueryDef("lake_partition_scan",
      (s, dir) => {
        val path = scratch("lake_partition_scan", dir)
        val l = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag").as("p_flag"))
        LakeWriter.write(l, path, partitionBy = Seq("p_flag"))
        LakeTable.forPath(s, path).scan("p_flag = 'A'")
      },
      Some("SELECT l_orderkey, l_quantity, l_returnflag AS p_flag " +
        "FROM lineitem WHERE l_returnflag = 'A'"))
      ,

    // Bloom-index point lookup (round 10): orders hash-scattered over
    // 16 files so every file spans the full key range and min/max
    // stats prune NOTHING — the shape where only the per-file bloom
    // sidecars ([[graft.lake.BloomIndex]]) can skip. The gate asserts
    // the skip actually happened (files read < files total, via the
    // executor-side skip counter) and the oracle hash-checks the
    // surviving rows. Needle keys are the 137th/911th smallest
    // o_orderkey — INTERIOR values on purpose: the extremes would be
    // pruned by plain min/max stats before the bloom is ever
    // consulted (measured: min/max alone prunes 14/16 files for the
    // min key and the bloom sees nothing).
    QueryDef("lake_point_lookup",
      (s, dir) => {
        val path = scratch("lake_point_lookup", dir)
        val o = table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        LakeWriter.write(o.repartition(16, col("o_custkey")), path,
          properties = Map(
            graft.lake.BloomIndex.PROP_COLUMNS -> "o_orderkey",
            graft.lake.BloomIndex.PROP_NUM_ITEMS -> "20000"))
        val sorted = o.select("o_orderkey").orderBy("o_orderkey")
          .limit(912).collect()
        val needles = Seq(sorted(137), sorted(911)).map(_.getLong(0))
        val t = LakeTable.forPath(s, path)
        val before = graft.lake.BloomIndex.skippedFiles.get()
        val result = t.toDF
          .filter(col("o_orderkey").isin(needles: _*))
          .collect() // force the scan so the skip counter moves
        val skipped = graft.lake.BloomIndex.skippedFiles.get() - before
        // 2 needles over 16 full-range files: >= 8 must be excluded
        // by their sidecars even with false positives
        require(skipped >= 8,
          s"bloom index skipped only $skipped of 16 files — the " +
          "point-lookup read the table instead of pruning it")
        s.createDataFrame(
          java.util.Arrays.asList(result: _*),
          t.toDF.schema)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderkey IN (
             |  (SELECT o_orderkey FROM orders ORDER BY o_orderkey
             |   LIMIT 1 OFFSET 137),
             |  (SELECT o_orderkey FROM orders ORDER BY o_orderkey
             |   LIMIT 1 OFFSET 911))""".stripMargin)),

    // Generated-column partition pruning (round 10, Delta's rule):
    // p_day is GENERATED AS CAST(ts AS DATE) and partitions the
    // table; the query filters on ts — the column users actually
    // write predicates on — and the planner must prune the p_day
    // partitions the filter implies. The in-gate require reads the
    // scan's numFiles metric: most partition files must never be
    // opened. Rows are oracle-hashed against the same range on the
    // source parquet.
    QueryDef("lake_generated_prune",
      (s, dir) => {
        val path = scratch("lake_generated_prune", dir)
        val ev = QueryDef.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        LakeWriter.write(ev.coalesce(4), path,
          partitionBy = Seq("p_day"),
          properties =
            Map("graft.generated.p_day" -> "CAST(ts AS DATE)"))
        val t = s.read.format("lake").load(path)
        val totalFiles = graft.lake.LakeTable.forPath(s, path)
          .snapshot().files.size
        val filtered = t
          .filter(col("ts") >=
            java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        val rows = filtered.collect()
        val read = {
          import org.apache.spark.sql.execution.FileSourceScanExec
          import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          val plan = filtered.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          plan.collectLeaves().collect {
            case f: FileSourceScanExec => f.metrics("numFiles").value
          }.sum
        }
        // ~30 day-partitions, filter covers the trailing ~6 days
        require(read * 2 < totalFiles,
          s"generated-column pruning read $read of $totalFiles files — " +
          "the ts filter did not prune p_day partitions")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), filtered.schema)
      },
      Some("""SELECT event_id, ts, user_id, value FROM events
             |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'""".stripMargin)),

    // VARIANT columns (round 11, Delta variantType analog): the
    // semi-structured type every ingest pipeline wants — JSON parsed
    // ONCE at write into the binary variant encoding, typed path
    // extraction at read without re-parsing text. The gate round-trips
    // lineitem fields through parse_json -> lake write -> snapshot
    // read -> variant_get and the oracle checks the extracted values
    // against the source columns; a DELETE over the variant table
    // proves DML composes with the type.
    QueryDef("lake_variant",
      (s, dir) => {
        val path = scratch("lake_variant", dir)
        val l = table(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          expr("to_variant_object(struct(" +
            "l_quantity AS q, l_returnflag AS f))").as("v"))
        // The variant encode per row is the gate's heaviest leg and
        // runs in the WRITE tasks. r20 spread it with an explicit
        // repartition(defaultParallelism); with the r20 scan-
        // parallelism floor the SCAN itself already plans ~core-count
        // splits, so the exchange only re-shuffled the encoded variant
        // bytes (guide §2.4/§8: never move the heavy payload for
        // nothing) — dropped r21, the encode now runs in the scan
        // stage at the same parallelism. r21 also replaced
        // parse_json(to_json(struct)) with the direct
        // to_variant_object(struct) encode: the JSON round-trip
        // rendered every row to text and re-parsed it just to reach
        // the same variant value (VariantProbe: 1.12 s -> 0.27 s for
        // the encode leg; variant_get extraction byte-identical, 0
        // exceptAll diff rows at sf0.1, oracle hash unchanged).
        val tW = System.nanoTime()
        LakeWriter.write(l, path)
        val tD = System.nanoTime()
        LakeTable.forPath(s, path).delete("l_linenumber > 4")
        System.err.println(f"[gate] lake_variant " +
          f"write=${(tD - tW) / 1e9}%.3fs " +
          f"delete=${(System.nanoTime() - tD) / 1e9}%.3fs")
        LakeTable.forPath(s, path).toDF.select(
          col("l_orderkey"), col("l_linenumber"),
          expr("variant_get(v, '$.q', 'double')").as("q"),
          expr("variant_get(v, '$.f', 'string')").as("f"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS q,
             |  l_returnflag AS f
             |FROM lineitem WHERE l_linenumber <= 4""".stripMargin)),

    // Type widening (round 11, Delta typeWidening): ALTER COLUMN TYPE
    // int->bigint as a METADATA-ONLY commit — the original INT32
    // files are never rewritten, readers upcast at scan time, and a
    // genuinely 64-bit value then appends into the same column. The
    // oracle rebuilds the final table (cast + the appended row), so
    // the hash match proves the narrow files decode correctly through
    // the wide schema.
    QueryDef("lake_type_widening",
      (s, dir) => {
        val path = scratch("lake_type_widening", dir)
        val l = table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber")
        LakeWriter.write(l.repartition(4), path)
        val t = LakeTable.forPath(s, path)
        val filesBefore = t.snapshot().files.map(_.path).toSet
        t.widenColumn("l_linenumber", "BIGINT")
        val after = LakeTable.forPath(s, path).snapshot()
        require(after.files.map(_.path).toSet == filesBefore,
          "widening must be metadata-only — no file rewrites")
        require(after.protocol.readerFeatures
          .contains(graft.lake.LakeProtocol.FEATURE_TYPE_WIDENING),
          "widen commit must ratchet the typeWidening reader feature")
        import s.implicits._
        LakeWriter.write(
          Seq((0L, 5000000000L)).toDF("l_orderkey", "l_linenumber"),
          path)
        LakeTable.forPath(s, path).toDF
      },
      Some("""SELECT l_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS l_linenumber
             |FROM lineitem
             |UNION ALL SELECT 0, 5000000000""".stripMargin)),

    // Metadata-only aggregates (round 11, Delta's
    // OptimizeMetadataOnlyQuery widened): COUNT(*) / MIN / MAX /
    // COUNT(col) over an unfiltered lake table answer from the
    // transaction log's footer stats — at 100 TB the difference
    // between a full-table scan and a driver-side fold over file
    // metadata the snapshot already holds. The in-gate require proves
    // the rewrite actually fired (no FileScan anywhere in the final
    // plan); the oracle recomputes every aggregate from the source
    // parquet the honest way.
    QueryDef("lake_minmax_stats",
      (s, dir) => {
        val path = scratch("lake_minmax_stats", dir)
        val l = table(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_shipdate")
        LakeWriter.write(l.repartition(8), path)
        val q = s.read.format("lake").load(path).agg(
          count(lit(1)).as("n"),
          count(col("l_returnflag")).as("n_flag"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"),
          min(col("l_returnflag")).as("min_flag"),
          max(col("l_returnflag")).as("max_flag"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        q.collect() // materialize the (possibly adaptive) final plan
        val plan = q.queryExecution.executedPlan.toString
        require(!plan.contains("FileScan"),
          s"metadata-only aggregate still scanned the table:\n$plan")
        q
      },
      Some("""SELECT count(*) AS n, count(l_returnflag) AS n_flag,
             |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
             |  min(l_returnflag) AS min_flag, max(l_returnflag) AS max_flag,
             |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
             |FROM lineitem""".stripMargin)),

    // The grouped form: rows + key range PER PARTITION, answered from
    // the log's per-file stats bucketed by partition tuple — the
    // standing "rows per day" dashboard query that should never scan
    // a healthy table.
    QueryDef("lake_partition_stats",
      (s, dir) => {
        val path = scratch("lake_partition_stats", dir)
        val l = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag").as("p_flag"))
        LakeWriter.write(l, path, partitionBy = Seq("p_flag"))
        val q = s.read.format("lake").load(path)
          .groupBy("p_flag")
          .agg(count(lit(1)).as("n"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
        q.collect()
        val plan = q.queryExecution.executedPlan.toString
        require(!plan.contains("FileScan"),
          s"grouped metadata aggregate still scanned the table:\n$plan")
        q
      },
      Some("""SELECT l_returnflag AS p_flag, count(*) AS n,
             |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Change-data-feed read (round 2): v0 append, v1 append, v2 DELETE.
    // The change stream is fully derivable from `customer` in SQL:
    // every row inserts once (in its half's version), and the deleted
    // segment's rows appear again as v2 deletes — oracled, not
    // rows-only, so the exceptAll diff is hash-checked too.
    QueryDef("lake_changes",
      (s, dir) => {
        val path = scratch("lake_changes", dir)
        val c = table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        LakeWriter.write(c.filter("c_custkey % 2 = 0"), path) // v0
        LakeWriter.write(c.filter("c_custkey % 2 = 1"), path) // v1
        LakeTable.forPath(s, path)
          .delete("c_mktsegment = 'BUILDING'")                // v2
        LakeTable.forPath(s, path).changes(0)
          .groupBy("_commit_version", "_change_type", "c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("c_custkey")).cast("long").as("key_sum"))
      },
      Some("""WITH changes AS (
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(c_custkey % 2 = 1 AS BIGINT) AS _commit_version,
             |    'insert' AS _change_type
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(2 AS BIGINT) AS _commit_version,
             |    'delete' AS _change_type
             |  FROM customer WHERE c_mktsegment = 'BUILDING')
             |SELECT _commit_version, _change_type, c_mktsegment,
             |  COUNT(*) AS n_rows,
             |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
             |FROM changes
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Streaming CHANGE FEED (round 3): the same versioned DML as
    // lake_changes, but the change rows are DELIVERED through
    // readStream.format("lake").option("readChangeFeed") into a lake
    // sink with AvailableNow — gating the incremental-CDC path
    // (version offsets, per-batch change computation, exactly-once
    // sink) against the identical closed-form oracle.
    QueryDef("streaming_lake_cdf",
      (s, dir) => QueryDef.pinnedShufflePartitions(s) {
        val root = scratch("streaming_lake_cdf", dir)
        val (path, out, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
        val c = table(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        LakeWriter.write(c.filter("c_custkey % 2 = 0"), path) // v0
        LakeWriter.write(c.filter("c_custkey % 2 = 1"), path) // v1
        LakeTable.forPath(s, path)
          .delete("c_mktsegment = 'BUILDING'")                // v2
        val q = s.readStream.format("lake")
          .option("readChangeFeed", "true").load(path)
          .writeStream.format("lake")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        q.awaitTermination(120000)
        LakeTable.forPath(s, out).toDF
          .groupBy("_commit_version", "_change_type", "c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("c_custkey")).cast("long").as("key_sum"))
      },
      Some("""WITH changes AS (
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(c_custkey % 2 = 1 AS BIGINT) AS _commit_version,
             |    'insert' AS _change_type
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey, c_mktsegment,
             |    CAST(2 AS BIGINT) AS _commit_version,
             |    'delete' AS _change_type
             |  FROM customer WHERE c_mktsegment = 'BUILDING')
             |SELECT _commit_version, _change_type, c_mktsegment,
             |  COUNT(*) AS n_rows,
             |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
             |FROM changes
             |GROUP BY 1, 2, 3""".stripMargin)),

    // Stream-stream interval join (round 11): views joined to the
    // clicks that follow within 6 hours, both sides WATERMARKED lake
    // streams — the attribution-join shape (ad view -> purchase,
    // impression -> click) that needs symmetric buffered state with
    // event-time eviction, not a broadcast. Each source is a single
    // commit so AvailableNow delivers one complete micro-batch and
    // the watermark can't drop rows — results are deterministic and
    // the DuckDB oracle replays the join in plain SQL.
    // State-partition pin at 4 (was the family default 8): the
    // symmetric interval join keeps FOUR state stores per partition
    // per side, and each store pays a per-batch checkpoint commit —
    // measured r21 sweep (stream leg, warm min-of-3): 2→2.31 s,
    // 4→2.61 s, 8→3.30 s, 16→4.90 s, 32→8.77 s. The wall is store
    // count, not the join; 4 keeps real parallelism (and the same
    // result rows) at near the 2-partition floor.
    QueryDef("streaming_interval_join",
      (s, dir) => QueryDef.pinnedShufflePartitions(s, 4) {
        val root = scratch("streaming_interval_join", dir)
        val (vp, cp, out, ckpt) =
          (s"$root/views", s"$root/clicks", s"$root/out", s"$root/ckpt")
        val tSetup = System.nanoTime()
        val ev = QueryDef.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type")
        LakeWriter.write(ev.filter("event_type = 'view'")
          .drop("event_type"), vp)
        LakeWriter.write(ev.filter("event_type = 'click'")
          .drop("event_type"), cp)
        val setupSec = (System.nanoTime() - tSetup) / 1e9
        val tStream = System.nanoTime()
        val views = s.readStream.format("lake").load(vp)
          .withWatermark("ts", "10 minutes").as("l")
        val clicks = s.readStream.format("lake").load(cp)
          .withWatermark("ts", "10 minutes").as("r")
        val joined = views.join(clicks, expr(
          "l.user_id = r.user_id AND " +
          "r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOURS"))
          .select(col("l.event_id").as("view_id"),
            col("r.event_id").as("click_id"),
            col("l.user_id").as("user_id"))
        val q = joined.writeStream.format("lake")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        q.awaitTermination(180000)
        // setup (fixture writes) vs stream (checkpoint + symmetric
        // join state) split, mirroring the IVF build/probe split —
        // makes a wall-clock move attributable without re-profiling
        System.err.println(f"[gate] streaming_interval_join " +
          f"setup=$setupSec%.3fs " +
          f"stream=${(System.nanoTime() - tStream) / 1e9}%.3fs")
        LakeTable.forPath(s, out).toDF
      },
      Some("""SELECT l.event_id AS view_id, r.event_id AS click_id,
             |  l.user_id AS user_id
             |FROM (SELECT event_id, ts, user_id FROM events
             |      WHERE event_type = 'view') l
             |JOIN (SELECT event_id, ts, user_id FROM events
             |      WHERE event_type = 'click') r
             |  ON l.user_id = r.user_id
             | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR"""
        .stripMargin)),

    // CDC replication (round 11): APPLY CHANGES INTO — a second table
    // maintained purely from the source's change feed. The source
    // takes appends, an expression UPDATE, and a DELETE; the replica
    // consumes the CDF stream (per-batch latest-state-per-key
    // collapse + Txn-idempotent MERGE) and must converge to the
    // source's exact final state, which the oracle recomputes from
    // the original parquet. Proves insert/update/delete change
    // routing end to end — not just that changes are emitted
    // (streaming_lake_cdf) but that they RECONSTRUCT the table.
    // The v0–v3 SOURCE trajectory is setup, not the operator under
    // measurement: it is built once as a corpus-fingerprinted fixture
    // and consumed READ-ONLY (the stream's checkpoint/dst are fresh
    // per run), so the timed leg is the applyChanges replication
    // itself (r14 VERDICT #4 — the same split lake_columnar_scan and
    // the IVF probes use).
    QueryDef("streaming_apply_changes",
      (s, dir) => QueryDef.pinnedShufflePartitions(s) {
        val src = ensureApplyChangesSource(s, dir)
        val root = scratch("streaming_apply_changes", dir)
        val (dst, ckpt) = (s"$root/dst", s"$root/ckpt")
        graft.streaming.LakeStreaming
          .applyChanges(s, src, dst, ckpt, Seq("c_custkey"))
          .awaitTermination(180000)
        LakeTable.forPath(s, dst).toDF
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |  CASE WHEN c_mktsegment = 'MACHINERY'
             |       THEN c_acctbal + 1000 ELSE c_acctbal END AS c_acctbal
             |FROM customer WHERE c_mktsegment <> 'BUILDING'"""
        .stripMargin)),

    // COPY INTO: idempotent incremental ingest. Shard documents into
    // two source files; pass 1 sees only shard 0, pass 2 picks up
    // shard 1 without re-loading shard 0, pass 3 is a full no-op —
    // each pass's (loaded, skipped) ledger behavior is asserted
    // in-gate, and the final table must equal the whole parquet table.
    QueryDef("lake_copy_into",
      (s, dir) => {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val root = scratch("lake_copy_into", dir)
        val src = s"$root/src"
        val path = s"$root/table"
        def stage(cond: String, name: String): Unit = {
          val staging = s"$root/staging_$name"
          table(s, dir, "documents").filter(cond)
            .coalesce(1).write.mode("overwrite").parquet(staging)
          val part = Files.list(Paths.get(staging)).iterator()
          val f = Iterator.continually(part).takeWhile(_.hasNext)
            .map(_.next())
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.createDirectories(Paths.get(src))
          Files.move(f, Paths.get(src, name),
            StandardCopyOption.REPLACE_EXISTING)
        }
        def metrics(df: DataFrame): (Long, Long) = {
          val r = df.collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        val t = LakeTable.forPath(s, path)
        stage("doc_id % 2 = 0", "shard0.parquet")
        require(metrics(t.copyInto(src)) == ((1L, 0L)),
          "pass 1 must load shard0")
        stage("doc_id % 2 = 1", "shard1.parquet")
        require(metrics(t.copyInto(src)) == ((1L, 1L)),
          "pass 2 must load only shard1")
        require(metrics(t.copyInto(src)) == ((0L, 2L)),
          "pass 3 must be a no-op")
        t.toDF
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents"))
  )
}
