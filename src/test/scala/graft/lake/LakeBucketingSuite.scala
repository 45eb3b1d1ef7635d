package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Hash-bucketed lake tables (graft.bucketBy / graft.bucketCount):
  * placement correctness, the no-shuffle co-located join plan, DML
  * preserving bucket placement, and the legacy-file fallback.
  *
  * The deepest check here is implicit: under a declared BucketSpec,
  * Spark's bucketed SortMergeJoin only compares rows WITHIN a bucket
  * pair — if any row were placed in the wrong bucket file, the join
  * would silently MISS its matches. Every row-parity assertion against
  * the unbucketed plan is therefore also a placement proof.
  */
class LakeBucketingSuite extends SparkSuite {
  import spark.implicits._

  private val bucketProps = Map(
    LakeTable.PROP_BUCKET_BY -> "k",
    LakeTable.PROP_BUCKET_COUNT -> "8")

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("bucketed writes tag files; co-bucketed join runs shuffle-free") {
    val left = (0L until 2000L).map(i => (i % 97, i, s"l$i"))
      .toDF("k", "v", "tag")
    val right = (0L until 500L).map(i => (i % 97, i * 10))
      .toDF("k", "w")
    val lp = tablePath("bkt-left")
    val rp = tablePath("bkt-right")
    LakeWriter.write(left, lp, properties = bucketProps)
    LakeWriter.write(right, rp, properties = bucketProps)
    // every committed file parses a bucket id
    LakeTable.forPath(spark, lp).snapshot().files.foreach { f =>
      assert(org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new java.io.File(f.path).getName).isDefined,
        s"un-tagged bucket file ${f.path}")
    }
    val lt = spark.read.format("lake").load(lp)
    val rt = spark.read.format("lake").load(rp)
    val joined = lt.hint("merge").join(rt.hint("merge"), "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("w").as("sw"))
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-bucketed join must not shuffle:\n$p")
    // row parity vs the plain (unbucketed) computation = placement proof
    val expect = left.join(right, "k").groupBy("k")
      .agg(count(lit(1)).as("n"), sum("w").as("sw"))
      .as[(Long, Long, Long)].collect().toSet
    val got = joined.as[(Long, Long, Long)].collect().toSet
    assert(got === expect)
    // aggregation on the bucket column alone also skips its exchange
    val agg = lt.groupBy("k").agg(count(lit(1)).as("n"))
    val ap = plan(agg)
    assert(!ap.contains("Exchange hashpartitioning"),
      s"bucket-column aggregation must not shuffle:\n$ap")
  }

  test("DML rewrites preserve bucket placement") {
    val path = tablePath("bkt-dml")
    val df = (0L until 1000L).map(i => (i % 31, i)).toDF("k", "v")
    LakeWriter.write(df, path, properties = bucketProps)
    val t = LakeTable.forPath(spark, path)
    t.delete("v % 10 = 3")
    t.update("v % 10 = 4", Map("v" -> "v + 100000"))
    // rewritten files keep the tag ...
    LakeTable.forPath(spark, path).snapshot().files.foreach { f =>
      assert(org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new java.io.File(f.path).getName).isDefined,
        s"DML produced un-tagged file ${f.path}")
    }
    // ... and the bucketed self-join still finds every row (placement)
    val cur = spark.read.format("lake").load(path)
    val self = cur.as("a").hint("merge")
      .join(cur.as("b").hint("merge"), "k")
    val p = plan(self.groupBy("k").agg(count(lit(1)).as("n")))
    assert(!p.contains("Exchange hashpartitioning"), p)
    val expectRows = df.filter("v % 10 != 3")
      .withColumn("v", when($"v" % 10 === 4, $"v" + 100000)
        .otherwise($"v"))
    val perK = expectRows.groupBy("k").count()
      .as[(Long, Long)].collect().toMap
    val got = self.groupBy("k").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got === perK.map { case (k, n) => k -> n * n })
    // compaction is the dangerous rewrite: its identity read comes
    // back bucket-partitioned, Spark elides the staging repartition,
    // and (before the withBucketStablePlanning pin) a second planner
    // rule re-packed the scan into task-packed partitions — files
    // tagged with WRONG bucket ids that the self-join then trusted.
    // Placement is re-proved through the join, not just the tags.
    t.compact()
    val cur2 = spark.read.format("lake").load(path)
    val self2 = cur2.as("a").hint("merge")
      .join(cur2.as("b").hint("merge"), "k")
    val p2 = plan(self2.groupBy("k").agg(count(lit(1)).as("n")))
    assert(!p2.contains("Exchange hashpartitioning"), p2)
    val got2 = self2.groupBy("k").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got2 === perK.map { case (k, n) => k -> n * n },
      "post-compaction bucket placement broke the co-located join")
  }

  test("legacy un-tagged files degrade to a plain scan, never a wrong join") {
    val path = tablePath("bkt-legacy")
    LakeWriter.write((0L until 100L).map(i => (i % 7, i)).toDF("k", "v"),
      path, properties = bucketProps)
    // adopt a foreign file with NO bucket tag (simulates CONVERT /
    // an engine that ignored the property)
    val foreignDir = tmpDir("bkt-foreign")
    Seq((3L, 999L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(foreignDir)
    val src = LakeWriter.walkParquet(java.nio.file.Paths.get(foreignDir)).head
    val rel = "foreign-untagged.parquet"
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(path).resolve(rel))
    val log = new LakeLog(path)
    val v = log.latestVersion
    log.commit(v + 1, Seq(
      CommitInfo(System.currentTimeMillis(), "FOREIGN", Map.empty),
      AddFile(rel, Map.empty, java.nio.file.Files.size(
        java.nio.file.Paths.get(path).resolve(rel)), 1L)))
    val t = spark.read.format("lake").load(path)
    val p = plan(t.groupBy("k").agg(count(lit(1)).as("n")))
    assert(p.contains("Exchange hashpartitioning"),
      s"mixed-tag table must fall back to shuffling:\n$p")
    assert(t.count() === 101L)
  }

  test("bucket spec is a one-way door; rename/drop of bucket cols refused") {
    val path = tablePath("bkt-door")
    LakeWriter.write((0L until 50L).map(i => (i % 5, i)).toDF("k", "v"),
      path, properties = bucketProps)
    val t = LakeTable.forPath(spark, path)
    intercept[IllegalArgumentException] { // change count on populated table
      t.setTblProperties(Map(LakeTable.PROP_BUCKET_COUNT -> "4"))
    }
    intercept[IllegalArgumentException] { // unset half the spec
      t.unsetTblProperties(Seq(LakeTable.PROP_BUCKET_COUNT))
    }
    intercept[IllegalArgumentException] { // clusterBy on a bucketed table
      t.setTblProperties(Map(LakeTable.PROP_CLUSTER_BY -> "v"))
    }
    intercept[IllegalArgumentException] { // half-set spec on a plain table
      val p2 = tablePath("bkt-door2")
      LakeWriter.write(Seq((1L, 2L)).toDF("k", "v"), p2)
      LakeTable.forPath(spark, p2)
        .setTblProperties(Map(LakeTable.PROP_BUCKET_BY -> "k"))
    }
    intercept[IllegalArgumentException] { // rename the bucket column
      t.renameColumn("k", "key")
    }
    intercept[IllegalArgumentException] { // drop the bucket column
      t.dropColumn("k")
    }
    // the table still reads fine after every refused mutation
    assert(spark.read.format("lake").load(path).count() === 50L)
  }

  test("FSCK reports files whose deletion-vector sidecar is gone") {
    val path = tablePath("bkt-fsck-dv")
    LakeWriter.write(spark.range(0, 100).toDF("id").coalesce(1), path,
      properties = Map(LakeTable.PROP_ENABLE_DV -> "true"))
    val t = LakeTable.forPath(spark, path)
    t.delete("id = 5") // creates a DV sidecar
    val dv = t.snapshot().files.flatMap(_.dvPath)
    assert(dv.nonEmpty)
    java.nio.file.Files.delete(LakeLog.resolveFile(path, dv.head))
    val missing = LakeTable.forPath(spark, path).fsckRepair(dryRun = true)
    assert(missing.nonEmpty,
      "FSCK must flag a file whose DV sidecar is missing")
  }

  test("bucketing property validation and clustering exclusivity") {
    val df = (0L until 10L).map(i => (i, i)).toDF("k", "v")
    intercept[IllegalArgumentException] { // count without columns
      LakeWriter.write(df, tablePath("bkt-bad1"),
        properties = Map(LakeTable.PROP_BUCKET_COUNT -> "8"))
    }
    intercept[IllegalArgumentException] { // unknown column
      LakeWriter.write(df, tablePath("bkt-bad2"),
        properties = Map(LakeTable.PROP_BUCKET_BY -> "nope",
          LakeTable.PROP_BUCKET_COUNT -> "8"))
    }
    intercept[IllegalArgumentException] { // bucket on partition column
      LakeWriter.write(df, tablePath("bkt-bad3"),
        partitionBy = Seq("k"),
        properties = Map(LakeTable.PROP_BUCKET_BY -> "k",
          LakeTable.PROP_BUCKET_COUNT -> "8"))
    }
    val okPath = tablePath("bkt-ok")
    LakeWriter.write(df, okPath, properties = bucketProps)
    intercept[IllegalArgumentException] { // ZORDER on a bucketed table
      LakeTable.forPath(spark, okPath).compactClustered(Seq("v"))
    }
    // CREATE-time coherence (ADVICE r12): bucketBy + clusterBy in the
    // same create must be rejected at the property commit, not
    // discovered when the nightly OPTIMIZE routes to compactClustered
    val e = intercept[IllegalArgumentException] {
      LakeWriter.write(df, tablePath("bkt-bad4"),
        properties = bucketProps +
          (LakeTable.PROP_CLUSTER_BY -> "v"))
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("bucketing through the SQL surface: CTAS declares, the one-way " +
      "door holds for SET TBLPROPERTIES and CREATE ... TBLPROPERTIES") {
    val src = (0L until 500L).map(i => (i % 13, i)).toDF("k", "v")
    src.createOrReplaceTempView("bkt_sql_src")
    val p1 = tablePath("bkt-sql-ctas")
    // CTAS with create-time bucket properties: v0 is bucketed
    LakeSql.sql(spark, s"""CREATE TABLE bkt_sql_t USING lake
      LOCATION '$p1'
      TBLPROPERTIES('graft.bucketBy'='k', 'graft.bucketCount'='8')
      AS SELECT * FROM bkt_sql_src""")
    val snap = LakeTable.forPath(spark, p1).snapshot()
    assert(snap.metadata.properties(LakeTable.PROP_BUCKET_BY) === "k")
    snap.files.foreach { f =>
      assert(org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(new java.io.File(f.path).getName).isDefined,
        s"CTAS produced un-tagged file ${f.path}")
    }
    // CTAS coherence: bucketBy + clusterBy refused before any write
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""CREATE TABLE bkt_sql_bad USING lake
        LOCATION '${tablePath("bkt-sql-bad")}'
        TBLPROPERTIES('graft.bucketBy'='k', 'graft.bucketCount'='8',
          'graft.clusterBy'='v')
        AS SELECT * FROM bkt_sql_src""")
    }
    // SET TBLPROPERTIES on a populated unbucketed table: refused
    val p2 = tablePath("bkt-sql-populated")
    LakeWriter.write(src, p2)
    LakeSql.sql(spark,
      s"CREATE TABLE bkt_sql_pop USING lake LOCATION '$p2'")
    val e1 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, """ALTER TABLE bkt_sql_pop SET TBLPROPERTIES(
        'graft.bucketBy'='k', 'graft.bucketCount'='8')""")
    }
    assert(e1.getMessage.contains("populated"))
    // ... and the CREATE-registration route hits the same door
    val e2 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"""CREATE TABLE bkt_sql_pop2 USING lake
        LOCATION '$p2'
        TBLPROPERTIES('graft.bucketBy'='k', 'graft.bucketCount'='8')""")
    }
    assert(e2.getMessage.contains("populated"))
    // UNSET of a bucket key on a populated bucketed table: refused
    val e3 = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "ALTER TABLE bkt_sql_t UNSET TBLPROPERTIES('graft.bucketBy')")
    }
    assert(e3.getMessage.toLowerCase.contains("bucket"))
    LakeSql.sql(spark, "DROP TABLE bkt_sql_t")
    LakeSql.sql(spark, "DROP TABLE bkt_sql_pop")
  }

  test("index-level bucket pruning: equality/IN prune files, " +
      "everything else stays conservative") {
    val path = tablePath("bkt-prune")
    LakeWriter.write((0L until 5000L).map(i => (i % 61, i)).toDF("k", "v"),
      path, properties = bucketProps)
    val t = spark.read.format("lake").load(path)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.getOrElse(-1L)
    }
    assert(filesRead(t.filter($"k" === 42L)) === 1L)
    assert(filesRead(t.filter($"k".isin(1L, 2L, 3L))) <= 3L)
    // conservative: ranges, ORs on other cols, and full scans read all
    assert(filesRead(t) === 8L)
    assert(filesRead(t.filter($"v" === 17L)) >= 1L) // stats may prune
    // correctness under pruning: exact per-key row counts
    val expect = (0L until 5000L).groupBy(_ % 61)
      .map { case (k, v) => k -> v.size.toLong }
    for (k <- Seq(0L, 17L, 42L, 60L))
      assert(t.filter($"k" === k).count() === expect(k), s"k=$k")
    // a type-mismatched literal must not mis-prune (no pruning, all
    // rows still found)
    assert(t.filter($"k" === lit(42).cast("int")).count() === expect(42L))
    // null-equality matches nothing but must not throw
    assert(t.filter($"k" === lit(null)).count() === 0L)
  }
}
