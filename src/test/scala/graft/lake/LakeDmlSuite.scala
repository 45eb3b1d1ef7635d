package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** MERGE / UPDATE / DELETE / VACUUM / compaction semantics —
  * SURVEY §2 D1–D8, §7.3, §7.5.
  */
class LakeDmlSuite extends SparkSuite {
  import spark.implicits._

  private def seed = Seq(
    (1L, "a", "new", 10.0),
    (2L, "b", "new", 20.0),
    (3L, "c", "old", 30.0),
    (4L, "d", "old", 40.0)
  ).toDF("id", "k", "status", "v").coalesce(1)

  test("merge whenMatchedUpdate transitions rows (D1, etl status machine)") {
    val path = tablePath("m1")
    LakeWriter.write(seed, path)
    val updates = Seq((1L, "loaded"), (2L, "loaded"))
      .toDF("id", "new_status")
    LakeTable.forPath(spark, path).as("t")
      .merge(updates.as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("status" -> "s.new_status"))
      .execute()
    val got = LakeTable.forPath(spark, path).toDF
      .select("id", "status").as[(Long, String)].collect().sortBy(_._1)
    assert(got === Array((1L, "loaded"), (2L, "loaded"),
      (3L, "old"), (4L, "old")))
  }

  test("merge update + insert = full upsert in one commit (D2)") {
    val path = tablePath("m2")
    LakeWriter.write(seed, path)
    val src = Seq((3L, "c2", 300.0), (9L, "z", 900.0))
      .toDF("id", "k", "v")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("k" -> "s.k", "v" -> "s.v"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "k" -> "s.k", "status" -> "'inserted'", "v" -> "s.v"))
      .execute()
    val t = LakeTable.forPath(spark, path).toDF
    assert(t.count() === 5)
    assert(t.filter($"id" === 3 && $"k" === "c2" && $"v" === 300.0).count() === 1)
    assert(t.filter($"id" === 9 && $"status" === "inserted").count() === 1)
    // single atomic commit
    assert(LakeTable.forPath(spark, path).snapshot().version === 1L)
  }

  test("merge whenMatchedDelete removes consumed rows (D3)") {
    val path = tablePath("m3")
    LakeWriter.write(seed, path)
    val consumed = Seq(1L, 3L).toDF("id")
    LakeTable.forPath(spark, path).as("t")
      .merge(consumed.as("s"), "t.id = s.id")
      .whenMatchedDelete()
      .execute()
    assert(LakeTable.forPath(spark, path).toDF
      .select("id").as[Long].collect().sorted === Array(2L, 4L))
  }

  test("merge with RLIKE non-equi condition (J5/D4, GDPR delete)") {
    val path = tablePath("m4")
    val docs = Seq(
      (1L, """{"user":"u-123","x":1}"""),
      (2L, """{"user":"u-456","x":2}"""),
      (3L, """{"user":"u-789","x":3}""")
    ).toDF("id", "value").coalesce(1)
    LakeWriter.write(docs, path)
    val deletions = Seq("u-123", "u-789").toDF("user_id")
    LakeTable.forPath(spark, path).as("t")
      .merge(deletions.as("d"), "t.value RLIKE d.user_id")
      .whenMatchedDelete()
      .execute()
    assert(LakeTable.forPath(spark, path).toDF
      .select("id").as[Long].collect() === Array(2L))
  }

  test("by-source clauses: full table sync in one atomic commit") {
    val path = tablePath("mbs1")
    LakeWriter.write(seed, path)
    // Source carries ids 2,3,9: 2/3 update, 9 inserts, 1/4 (absent
    // from source) hit the by-source clauses.
    val src = Seq((2L, "b2", 200.0), (3L, "c2", 300.0), (9L, "z", 900.0))
      .toDF("id", "k", "v")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("k" -> "s.k", "v" -> "s.v"))
      .whenNotMatchedInsert(Map(
        "id" -> "s.id", "k" -> "s.k", "status" -> "'inserted'", "v" -> "s.v"))
      .whenNotMatchedBySourceUpdate("t.v < 15.0",
        Map("status" -> "'stale'"))
      .whenNotMatchedBySourceDelete("t.v >= 15.0")
      .execute()
    val t = LakeTable.forPath(spark, path)
    val got = t.toDF.select("id", "k", "status", "v")
      .as[(Long, String, String, Double)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "a", "stale", 10.0),       // not matched by source, v<15
      (2L, "b2", "new", 200.0),       // matched update
      (3L, "c2", "old", 300.0),       // matched update
      (9L, "z", "inserted", 900.0)))  // not matched insert; 4 deleted
    assert(t.snapshot().version === 1L) // one atomic commit
    // CDC: by-source update = delete+insert pair, by-source delete =
    // delete, same representation as the matched side.
    val ch = t.changes(1).filter($"id" === 1L || $"id" === 4L)
      .select("id", "_change_type").as[(Long, String)].collect().sorted
    assert(ch === Array((1L, "delete"), (1L, "insert"), (4L, "delete")))
  }

  test("by-source-only merge keeps one copy of a multiply-matched row") {
    val path = tablePath("mbs2")
    LakeWriter.write(seed, path)
    // id=1 matches TWO source rows; with no matched clause the row is
    // kept — exactly once, not once per source match.
    val src = Seq((1L, "x"), (1L, "y")).toDF("id", "tag")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenNotMatchedBySourceDelete()
      .execute()
    assert(LakeTable.forPath(spark, path).toDF
      .select("id").as[Long].collect().sorted === Array(1L))
  }

  test("by-source expressions must not reference source columns") {
    val path = tablePath("mbs3")
    LakeWriter.write(seed, path)
    val src = Seq((1L, "x")).toDF("id", "tag")
    val e = intercept[IllegalArgumentException] {
      LakeTable.forPath(spark, path).as("t")
        .merge(src.as("s"), "t.id = s.id")
        .whenNotMatchedBySourceUpdate(Map("k" -> "s.tag"))
        .execute()
    }
    assert(e.getMessage.contains("target columns only"))
  }

  test("merge errors when one target row matches multiple source rows") {
    val path = tablePath("m5")
    LakeWriter.write(seed, path)
    val dupSrc = Seq((1L, "x"), (1L, "y")).toDF("id", "new_k")
    val e = intercept[IllegalStateException] {
      LakeTable.forPath(spark, path).as("t")
        .merge(dupSrc.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("k" -> "s.new_k"))
        .execute()
    }
    assert(e.getMessage.contains("multiple source"))
    // the failed merge swept its staged data AND CDC files back out
    assertNoStagedDebris(path)
  }

  /** Every file under the table root (log aside) must be referenced by
    * the current snapshot — a failed DML may leave NOTHING staged.
    */
  private def assertNoStagedDebris(path: String): Unit = {
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    val logRoot = root.resolve(LakeLog.LOG_DIR)
    val s = java.nio.file.Files.walk(root)
    val onDisk = try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.startsWith(logRoot))
        .map(p => root.relativize(p).toString).toSet
    } finally s.close()
    val live = LakeTable.forPath(spark, path).snapshot().files
      .map(_.path).toSet
    assert(onDisk === live,
      s"staged debris left behind: ${(onDisk -- live).mkString(", ")}")
  }

  test("failed UPDATE sweeps its staged data and CDC files") {
    val path = tablePath("dml-sweep")
    LakeWriter.write(seed, path)
    // the SET expression detonates only when the staged projection is
    // materialized — i.e. AFTER the CDC stage thread has launched and
    // scratch dirs exist — exercising the failure-path sweep (DELETE
    // routes through the same sweepStaged helper)
    intercept[Exception] {
      LakeTable.forPath(spark, path)
        .update("id >= 1", Map("k" -> "raise_error('post-staging boom')"))
    }
    assertNoStagedDebris(path)
    // and the table still works after the failure
    assert(LakeTable.forPath(spark, path).toDF.count() === seed.count())
  }

  test("failed chunked UPDATE sweeps its staged data and CDC files") {
    // a manifest-checkpointed table (13 one-row commits, checkpoint at
    // v10 above the 5-action single-file limit) plans columnar; with
    // the chunking threshold at one file the UPDATE takes the
    // distributed touched source and stages chunk by chunk — the
    // failure must sweep the failing chunk's running CDC stage too
    val path = tablePath("dml-sweep-chunked")
    val prevPart = LakeLog.CHECKPOINT_PART_MAX_ACTIONS
    LakeLog.CHECKPOINT_PART_MAX_ACTIONS = 5
    try (0 until 13).foreach { i =>
      LakeWriter.write(
        Seq((i.toLong, s"k$i", "new", i.toDouble))
          .toDF("id", "k", "status", "v"), path)
    } finally LakeLog.CHECKPOINT_PART_MAX_ACTIONS = prevPart
    val pm = LakeTable.STREAMED_REWRITE_MIN_FILES
    val pc = LakeTable.REWRITE_CHUNK_FILES
    LakeTable.STREAMED_REWRITE_MIN_FILES = 1L
    LakeTable.REWRITE_CHUNK_FILES = 2L
    val n0 = StreamedRewrite.chunkedRewrites.get()
    try intercept[Exception] {
      LakeTable.forPath(spark, path)
        .update("id >= 1", Map("k" -> "raise_error('post-staging boom')"))
    } finally {
      LakeTable.STREAMED_REWRITE_MIN_FILES = pm
      LakeTable.REWRITE_CHUNK_FILES = pc
    }
    assert(StreamedRewrite.chunkedRewrites.get() === n0 + 1,
      "the UPDATE should have taken the distributed touched source")
    assertNoStagedDebris(path)
    assert(LakeTable.forPath(spark, path).toDF.count() === 13L)
  }

  test("merge insert map must supply every column after schema evolution") {
    // SURVEY §7.9: the reference redefines its insert map explicitly
    // after ALTER TABLE ADD COLUMN (rapid:610-629); an insert map that
    // silently null-fills unlisted columns is a bug factory, so the
    // builder rejects it (documented divergence from Delta's null-fill).
    val path = tablePath("m8")
    LakeWriter.write(seed, path)
    LakeTable.forPath(spark, path).addColumn("extra", "INT")
    val src = Seq((9L, "z")).toDF("id", "k")
    def mergeWith(values: Map[String, String]): Unit =
      LakeTable.forPath(spark, path).as("t")
        .merge(src.as("s"), "t.id = s.id")
        .whenNotMatchedInsert(values)
        .execute()
    // pre-evolution map: fails loudly, naming the missing column
    val e = intercept[IllegalArgumentException] {
      mergeWith(Map("id" -> "s.id", "k" -> "s.k",
        "status" -> "'inserted'", "v" -> "0.0"))
    }
    assert(e.getMessage.contains("extra"))
    assert(LakeTable.forPath(spark, path).toDF.count() === 4) // nothing ran
    // the redefined map (explicit NULL) goes through
    mergeWith(Map("id" -> "s.id", "k" -> "s.k", "status" -> "'inserted'",
      "v" -> "0.0", "extra" -> "CAST(NULL AS INT)"))
    val got = LakeTable.forPath(spark, path).toDF.filter($"id" === 9)
      .select("k", "extra").as[(String, Option[Int])].collect()
    assert(got === Array(("z", None)))
  }

  test("merge insert-only does not rewrite existing files") {
    val path = tablePath("m6")
    LakeWriter.write(seed, path)
    val before = LakeTable.forPath(spark, path).snapshot().files.map(_.path).toSet
    val src = Seq((1L, "dup"), (9L, "new")).toDF("id", "k")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenNotMatchedInsert(Map("id" -> "s.id", "k" -> "s.k",
        "status" -> "'inserted'", "v" -> "0.0"))
      .execute()
    val after = LakeTable.forPath(spark, path).snapshot().files.map(_.path).toSet
    assert(before.subsetOf(after)) // old files untouched
    val t = LakeTable.forPath(spark, path).toDF
    assert(t.count() === 5) // id=1 NOT duplicated
    assert(t.filter($"id" === 9).count() === 1)
  }

  test("merge updateAll/insertAll map every column by name") {
    val path = tablePath("m7")
    LakeWriter.write(seed, path)
    val src = Seq((2L, "b2", "sync", 222.0), (8L, "h", "sync", 888.0))
      .toDF("id", "k", "status", "v")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val got = LakeTable.forPath(spark, path).toDF
      .orderBy("id").as[(Long, String, String, Double)].collect()
    assert(got(1) === ((2L, "b2", "sync", 222.0)))
    assert(got(4) === ((8L, "h", "sync", 888.0)))
    assert(got.length === 5)
  }

  test("predicate delete rewrites only touched files (D5)") {
    val path = tablePath("d1")
    LakeWriter.write(seed, path)
    LakeTable.forPath(spark, path).delete("v >= 30.0")
    assert(LakeTable.forPath(spark, path).toDF
      .select("id").as[Long].collect().sorted === Array(1L, 2L))
    // a resident (one-chunk) rewrite records exactly the predicate
    val log = new LakeLog(path)
    assert(log.readVersion(log.latestVersion)
      .collectFirst { case c: CommitInfo => c.operationParameters }
      === Some(Map("predicate" -> "v >= 30.0")))
  }

  test("DROP COLUMN is metadata-only with a resurrection tombstone") {
    val path = tablePath("dml-dropcol")
    LakeWriter.write(
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "v").coalesce(1),
      path)
    val t = LakeTable.forPath(spark, path)
    t.dropColumn("v")
    // readers stop projecting it; rows intact; files untouched
    assert(t.toDF.columns.toSeq === Seq("id", "k"))
    assert(t.toDF.count() === 2L)
    // time travel to the pre-drop version still sees the column
    assert(t.asOf(0).columns.toSeq === Seq("id", "k", "v"))
    // writes omitting the dropped column just work
    LakeWriter.write(Seq((3L, "c")).toDF("id", "k"), path)
    assert(t.toDF.count() === 3L)
    // re-adding the name is rejected (old files still carry values)
    intercept[IllegalArgumentException] { t.addColumn("v", "INT") }
    intercept[IllegalArgumentException] {
      LakeWriter.write(Seq((4L, "d", 99)).toDF("id", "k", "v"), path,
        mergeSchema = true)
    }
    // a fresh name is fine
    t.addColumn("v2", "INT")
    assert(t.toDF.columns.toSeq === Seq("id", "k", "v2"))
  }

  test("RENAME COLUMN rewrites under the new name, keeps history") {
    val path = tablePath("ren1")
    LakeWriter.write(seed, path)
    LakeCatalog.register(spark, "ren1t", path)
    LakeSql.sql(spark, "ALTER TABLE ren1t RENAME COLUMN v TO amount")
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().schema.fieldNames.toSeq ===
      Seq("id", "k", "status", "amount"))
    assert(t.toDF.select("amount").as[Double].collect().sorted ===
      Array(10.0, 20.0, 30.0, 40.0))
    // time travel to the pre-rename version still reads the old name
    assert(t.asOf(0).select("v").as[Double].collect().sorted ===
      Array(10.0, 20.0, 30.0, 40.0))
    // guards
    assert(intercept[IllegalArgumentException](
      t.renameColumn("missing", "x")).getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException](
      t.renameColumn("id", "k")).getMessage.contains("already exists"))
    t.addConstraint("amt_pos", "amount >= 0")
    assert(intercept[IllegalArgumentException](
      LakeTable.forPath(spark, path).renameColumn("amount", "x"))
      .getMessage.contains("constraint"))
  }

  test("DROP COLUMN guards: partition / constraint / generated deps") {
    val path = tablePath("dml-dropcol-guard")
    LakeWriter.write(
      Seq((1L, "a", 10)).toDF("id", "k", "v"), path,
      partitionBy = Seq("k"))
    val t = LakeTable.forPath(spark, path)
    intercept[IllegalArgumentException] { t.dropColumn("k") }  // partition
    intercept[IllegalArgumentException] { t.dropColumn("nope") } // absent
    t.addConstraint("v_pos", "v >= 0")
    intercept[IllegalArgumentException] { t.dropColumn("v") }  // constraint
    t.dropConstraint("v_pos")
    t.dropColumn("v")
    assert(t.toDF.columns.toSeq === Seq("id", "k"))
    // SQL route
    val sqlPath = tablePath("dml-dropcol-sql")
    LakeWriter.write(Seq((1L, 2, 3)).toDF("a", "b", "c"), sqlPath)
    LakeSql.sql(spark, s"ALTER TABLE `$sqlPath` DROP COLUMN b")
    assert(LakeTable.forPath(spark, sqlPath).toDF.columns.toSeq ===
      Seq("a", "c"))
  }

  test("partition-predicate delete is metadata-only") {
    val path = tablePath("d2")
    LakeWriter.write(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
        .toDF("id", "p_date").coalesce(1),
      path, partitionBy = Seq("p_date"))
    val t = LakeTable.forPath(spark, path)
    val filesBefore = t.snapshot().files.map(_.path).toSet
    t.delete("p_date = '2024-01-02'")
    val snap = LakeTable.forPath(spark, path).snapshot()
    // no new files written — pure log change
    assert(snap.files.map(_.path).toSet.subsetOf(filesBefore))
    assert(t.toDF.select("id").as[Long].collect() === Array(1L))
  }

  test("partition-predicate delete matching no file writes no version") {
    // like a predicate DELETE that touches nothing (and Delta's
    // commitIfNeeded), an empty partition match commits nothing — on
    // a populated table and on an emptied one
    val path = tablePath("d2-nomatch")
    LakeWriter.write(Seq((1L, 1), (2L, 2)).toDF("id", "p"), path,
      partitionBy = Seq("p"))
    val log = new LakeLog(path)
    val t = LakeTable.forPath(spark, path)
    val v0 = log.latestVersion
    t.delete("p = 99")
    assert(log.latestVersion === v0)
    t.delete("p >= 1")
    val v1 = log.latestVersion
    assert(v1 === v0 + 1)
    t.delete("p = 1")
    assert(log.latestVersion === v1)
    assert(t.toDF.count() === 0L)
  }

  test("update rewrites matching rows in place") {
    val path = tablePath("u1")
    LakeWriter.write(seed, path)
    LakeTable.forPath(spark, path)
      .update("status = 'new'", Map("status" -> "'loaded'", "v" -> "v * 2"))
    val t = LakeTable.forPath(spark, path).toDF
    assert(t.filter($"status" === "new").count() === 0)
    assert(t.filter($"id" === 1 && $"v" === 20.0).count() === 1)
    assert(t.filter($"id" === 3 && $"v" === 30.0).count() === 1) // untouched
  }

  test("vacuum guard throws below 168h unless disabled; then time travel fails") {
    val path = tablePath("v1")
    LakeWriter.write(seed, path)                       // v0
    LakeTable.forPath(spark, path).delete("id <= 2")   // v1 tombstones v0 file
    val t = LakeTable.forPath(spark, path)

    val e = intercept[IllegalArgumentException](t.vacuum(0))
    assert(e.getMessage.contains("retention"))
    assert(t.asOf(0).count() === 4) // still intact

    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    try {
      val deleted = t.vacuum(0)
      assert(deleted.nonEmpty)
      // current version unaffected
      assert(LakeTable.forPath(spark, path).toDF.count() === 2)
      // time travel to the vacuumed version must fail loudly
      val e2 = intercept[IllegalStateException](
        LakeTable.forPath(spark, path).asOf(0).count())
      assert(e2.getMessage.toLowerCase.contains("vacuum"))
    } finally spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "true")
  }

  test("compact bin-packs small files without changing content") {
    val path = tablePath("c1")
    // 6 appends → 6 tiny files
    (1 to 6).foreach { i =>
      LakeWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1), path)
    }
    val t = LakeTable.forPath(spark, path)
    val before = t.snapshot()
    assert(before.numFiles === 6)
    val sumBefore = t.toDF.agg(sum("id")).as[Long].collect()(0)
    t.compact()
    val after = LakeTable.forPath(spark, path)
    assert(after.snapshot().numFiles < 6)
    assert(after.toDF.agg(sum("id")).as[Long].collect()(0) === sumBefore)
    assert(after.toDF.count() === 6)
  }

  test("RESTORE TO VERSION rewinds the live state, preserving history") {
    val path = tablePath("r2")
    LakeWriter.write(seed, path)                      // v0: 4 rows
    LakeWriter.write(seed.limit(1), path)             // v1: +1
    LakeTable.forPath(spark, path).delete("id <= 3")  // v2: delete
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 1) // only id=4 survives the delete
    t.restoreTo(0)
    val restored = LakeTable.forPath(spark, path)
    assert(restored.toDF.count() === 4)
    assert(restored.snapshot().version === 3L)
    assert(restored.history().select("operation")
      .as[String].collect().head === "RESTORE")
    // restore is itself time-travelable: v2 still shows the deleted state
    assert(restored.asOf(2).count() === 1)
  }

  test("rollback pattern: insert from old version (D12)") {
    val path = tablePath("r1")
    LakeWriter.write(seed, path)                      // v0
    LakeTable.forPath(spark, path).delete("id = 2")   // v1
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 3)
    // restore the deleted row from v0 (INSERT INTO t SELECT ... VERSION AS OF 0)
    val restored = t.asOf(0).filter($"id" === 2)
    LakeWriter.write(restored, path, operation = "INSERT")
    assert(LakeTable.forPath(spark, path).toDF.count() === 4)
    val ops = LakeTable.forPath(spark, path).history()
      .select("operation").as[String].collect()
    assert(ops === Array("INSERT", "DELETE", "CREATE TABLE AS"))
  }

  test("merge withSchemaEvolution: source-only columns widen the table") {
    val path = tablePath("m-evolve")
    LakeWriter.write(seed, path)
    val src = Seq((3L, "c2", "upd", 300.0, "eu"), (9L, "z", "new", 900.0, "us"))
      .toDF("id", "k", "status", "v", "region")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .withSchemaEvolution()
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().schema.fieldNames.contains("region"))
    val got = t.toDF.select("id", "k", "region")
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
    assert(got === Array(
      (1L, "a", None), (2L, "b", None),        // untouched: NULL region
      (3L, "c2", Some("eu")),                  // updated, carries region
      (4L, "d", None),
      (9L, "z", Some("us"))))                  // inserted, carries region
    // evolution is ONE metadata commit before the merge commit
    val ops = t.history().select("operation").as[String].collect()
    assert(ops === Array("MERGE", "ADD COLUMNS", "CREATE TABLE AS"))
  }

  test("merge without evolution silently ignores extra source columns") {
    val path = tablePath("m-noevolve")
    LakeWriter.write(seed, path)
    val src = Seq((9L, "z", "new", 900.0, "us"))
      .toDF("id", "k", "status", "v", "region")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenNotMatchedInsertAll()
      .execute()
    val t = LakeTable.forPath(spark, path)
    assert(!t.snapshot().schema.fieldNames.contains("region"))
    assert(t.toDF.count() === 5)
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION INTO") {
    val path = tablePath("m-evolve-sql")
    LakeWriter.write(seed, path)
    LakeSql.sql(spark,
      s"CREATE TABLE m_evolve_sql USING lake LOCATION '$path'")
    Seq((1L, "a1", "upd", 11.0, 7L))
      .toDF("id", "k", "status", "v", "score")
      .createOrReplaceTempView("m_evolve_src")
    LakeSql.sql(spark, """MERGE WITH SCHEMA EVOLUTION INTO m_evolve_sql t
      USING m_evolve_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val t = LakeTable.forPath(spark, path)
    val got = t.toDF.select("id", "score")
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(got === Array((1L, Some(7L)), (2L, None), (3L, None), (4L, None)))
  }
}
