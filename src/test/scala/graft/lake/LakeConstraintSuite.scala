package graft.lake

import graft.SparkSuite

/** CHECK constraints (Delta `delta.constraints.*` analog): declared in
  * table metadata, validated against existing data when added, then
  * enforced on append/overwrite, UPDATE, and MERGE writes. NULL
  * evaluations satisfy (SQL standard).
  */
class LakeConstraintSuite extends SparkSuite {
  import spark.implicits._

  private def seed = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
    .toDF("id", "v").coalesce(1)

  test("add validates existing data; violating add commits nothing") {
    val path = tablePath("c1")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    intercept[ConstraintViolationException] {
      t.addConstraint("v_big", "v > 15.0") // rows 10.0 violate
    }
    assert(t.snapshot().metadata.constraints.isEmpty)
    t.addConstraint("v_pos", "v > 0.0")
    assert(t.snapshot().metadata.constraints === Map("v_pos" -> "v > 0.0"))
  }

  test("append enforcement: good rows pass, violations abort, NULL passes") {
    val path = tablePath("c2")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    t.addConstraint("v_pos", "v > 0.0")

    LakeWriter.write(Seq((4L, 40.0)).toDF("id", "v"), path)
    assert(t.toDF.count() === 4L)

    intercept[ConstraintViolationException] {
      LakeWriter.write(Seq((5L, -1.0)).toDF("id", "v"), path)
    }
    assert(t.toDF.count() === 4L) // nothing committed

    // NULL evaluation satisfies the constraint (SQL CHECK semantics)
    LakeWriter.write(
      Seq((6L, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "v"), path)
    assert(t.toDF.count() === 5L)
  }

  test("UPDATE and MERGE enforce constraints on rewritten rows") {
    val path = tablePath("c3")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    t.addConstraint("v_pos", "v > 0.0")

    intercept[ConstraintViolationException] {
      t.update("id = 1", Map("v" -> "-5.0"))
    }
    t.update("id = 1", Map("v" -> "100.0")) // fine
    assert(t.toDF.filter("id = 1").select("v").as[Double].head() === 100.0)

    val badSrc = Seq((2L, -7.0)).toDF("id", "new_v")
    intercept[ConstraintViolationException] {
      LakeTable.forPath(spark, path).as("t")
        .merge(badSrc.as("s"), "t.id = s.id")
        .whenMatchedUpdate(Map("v" -> "s.new_v"))
        .execute()
    }
    assert(t.toDF.filter("id = 2").select("v").as[Double].head() === 20.0)
  }

  test("drop lifts enforcement; constraints survive evolution + checkpoints") {
    val path = tablePath("c4")
    LakeWriter.write(seed, path)
    val t = LakeTable.forPath(spark, path)
    t.addConstraint("v_pos", "v > 0.0")

    // schema evolution re-emits metadata — constraints must survive
    LakeWriter.write(Seq((7L, 70.0, "x")).toDF("id", "v", "tag"), path,
      mergeSchema = true)
    assert(t.snapshot().metadata.constraints.contains("v_pos"))

    // cross the checkpoint interval; constraint persists through replay
    (0 until 10).foreach { i =>
      LakeWriter.write(Seq((100L + i, 1.0, "y")).toDF("id", "v", "tag"), path)
    }
    assert(LakeTable.forPath(spark, path)
      .snapshot().metadata.constraints.contains("v_pos"))

    t.dropConstraint("v_pos")
    LakeWriter.write(
      Seq((8L, -8.0, "z")).toDF("id", "v", "tag"), path)
    assert(t.toDF.filter("v < 0").count() === 1L)
  }

  test("SQL routes: ALTER TABLE ADD/DROP CONSTRAINT; detail() shows them") {
    val path = tablePath("c5")
    LakeWriter.write(seed, path)
    LakeCatalog.register(spark, "ct5", path)
    LakeSql.sql(spark, "ALTER TABLE ct5 ADD CONSTRAINT v_pos CHECK (v > 0.0)")
    val detail = LakeTable.forPath(spark, path).detail()
    assert(detail.select("constraints").as[Seq[String]].head()
      === Seq("v_pos: v > 0.0"))
    intercept[ConstraintViolationException] {
      LakeSql.sql(spark, "INSERT INTO ct5 SELECT CAST(-1 AS BIGINT) AS id, " +
        "CAST(-1.0 AS DOUBLE) AS v")
    }
    LakeSql.sql(spark, "ALTER TABLE ct5 DROP CONSTRAINT v_pos")
    assert(LakeTable.forPath(spark, path)
      .snapshot().metadata.constraints.isEmpty)
  }

  test("changes(): appends are inserts, DML diffs to delete+insert") {
    val path = tablePath("cdc1")
    LakeWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .coalesce(1), path)                                  // v0
    LakeWriter.write(Seq((3L, "c")).toDF("id", "k")
      .coalesce(1), path)                                  // v1
    val t = LakeTable.forPath(spark, path)
    t.update("id = 2", Map("k" -> "'B'"))                  // v2
    t.delete("id = 1")                                     // v3
    t.compact(targetFileBytes = 1L)                        // maybe no-op

    val ch = t.changes(0)
      .select("_commit_version", "_change_type", "id", "k")
      .as[(Long, String, Long, String)].collect().toSet
    assert(ch === Set(
      (0L, "insert", 1L, "a"), (0L, "insert", 2L, "b"),
      (1L, "insert", 3L, "c"),
      (2L, "delete", 2L, "b"), (2L, "insert", 2L, "B"),
      (3L, "delete", 1L, "a")))
    // range read: only v2+
    assert(t.changes(2).count() === 3L)
    // final state reconstructable: inserts minus deletes
    val net = t.changes(0)
    val inserts = net.filter("_change_type = 'insert'")
      .select("id", "k")
    val deletes = net.filter("_change_type = 'delete'")
      .select("id", "k")
    val reconstructed = inserts.exceptAll(deletes)
      .as[(Long, String)].collect().toSet
    val actual = t.toDF.select("id", "k").as[(Long, String)].collect().toSet
    assert(reconstructed === actual)
  }

  test("every rewrite DML persists cdc so changes() never exceptAll-diffs") {
    // For any commit that rewrote files (removes AND adds), changes()
    // without persisted CDC would pay an exceptAll diff of the old and
    // new files. Assert every DML verb that rewrites also stages CDC;
    // only OPTIMIZE (row-preserving by construction) is exempt.
    def actionsOf(path: String, v: Long) = new LakeLog(path).readVersion(v)
    def assertCdcCommit(path: String, v: Long, verb: String): Unit = {
      val as = actionsOf(path, v)
      assert(as.exists(_.isInstanceOf[CdcFile]),
        s"$verb commit at v$v carries no CdcFile — changes() would " +
          "fall back to an exceptAll diff")
    }
    def fresh(tag: String): (String, LakeTable) = {
      val path = tablePath(s"cdc-verb-$tag")
      LakeWriter.write(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "k")
          .coalesce(1), path)
      (path, LakeTable.forPath(spark, path))
    }

    val (p1, t1) = fresh("upd")
    t1.update("id = 2", Map("k" -> "'B'"))
    assertCdcCommit(p1, 1, "UPDATE")

    val (p2, t2) = fresh("del")
    t2.delete("id <= 2")
    assertCdcCommit(p2, 1, "DELETE")

    val (p3, t3) = fresh("m-upd")
    t3.as("t").merge(Seq((1L, "A")).toDF("id", "nk").as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("k" -> "s.nk")).execute()
    assertCdcCommit(p3, 1, "MERGE update")

    val (p4, t4) = fresh("m-del")
    t4.as("t").merge(Seq(Tuple1(3L)).toDF("id").as("s"), "t.id = s.id")
      .whenMatchedDelete().execute()
    assertCdcCommit(p4, 1, "MERGE delete")

    val (p5, t5) = fresh("m-ins")
    t5.as("t").merge(Seq((9L, "z")).toDF("id", "nk").as("s"), "t.id = s.id")
      .whenNotMatchedInsert(Map("id" -> "s.id", "k" -> "s.nk")).execute()
    assertCdcCommit(p5, 1, "MERGE insert")

    // mixed MERGE: all three verbs in one commit; the persisted CDC
    // must reproduce the full change set
    val (p6, t6) = fresh("m-mix")
    t6.as("t").merge(
        Seq((1L, "A", false), (3L, "c", true), (9L, "z", false))
          .toDF("id", "nk", "del").as("s"), "t.id = s.id")
      .whenMatchedDelete("s.del")
      .whenMatchedUpdate(Map("k" -> "s.nk"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "k" -> "s.nk"))
      .execute()
    assertCdcCommit(p6, 1, "MERGE mixed")
    val got = t6.changes(1)
      .select("_change_type", "id", "k")
      .as[(String, Long, String)].collect().toSet
    assert(got === Set(
      ("delete", 1L, "a"), ("insert", 1L, "A"),
      ("delete", 3L, "c"),
      ("insert", 9L, "z")))
    // metadata-only partition DELETE is remove-only: no CDC needed and
    // no diff either — changes() reads the removed files as deletes
    val p7 = tablePath("cdc-verb-part")
    Seq((1L, "x"), (2L, "y")).toDF("id", "p")
      .write.format("lake").partitionBy("p").save(p7)
    val t7 = LakeTable.forPath(spark, p7)
    t7.delete("p = 'x'")
    val as7 = actionsOf(p7, 1)
    assert(as7.exists(_.isInstanceOf[RemoveFile]) &&
      !as7.exists(_.isInstanceOf[AddFile]))
    assert(t7.changes(1).select("_change_type").as[String]
      .collect().toSeq === Seq("delete"))
  }

  test("changes() carries _commit_timestamp matching the commit's history") {
    val path = tablePath("cdc-ts")
    LakeWriter.write(Seq((1L, "a")).toDF("id", "k").coalesce(1), path) // v0
    val t = LakeTable.forPath(spark, path)
    t.update("id = 1", Map("k" -> "'A'"))                              // v1
    val byVersion = t.changes(0)
      .select("_commit_version", "_commit_timestamp")
      .as[(Long, java.sql.Timestamp)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    // one non-null timestamp per version, shared by every change row
    assert(byVersion.keySet === Set(0L, 1L))
    assert(byVersion.values.forall(ts => ts.size == 1 && ts.head != null))
    val hist = t.history().select("version", "timestamp")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    byVersion.foreach { case (v, ts) => assert(ts.head === hist(v)) }
  }

  test("DML persists cdc files; changes() reads them; vacuum ages them out") {
    val path = tablePath("cdc2")
    LakeWriter.write(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "k").coalesce(1), path)
    val t = LakeTable.forPath(spark, path)
    t.delete("id = 1")                         // v1: cdc written
    t.update("id = 2", Map("k" -> "'B'"))      // v2: cdc written
    val log = new LakeLog(path)
    assert(log.readVersion(1).exists(_.isInstanceOf[CdcFile]))
    assert(log.readVersion(2).exists(_.isInstanceOf[CdcFile]))
    val cdcPaths = (1L to 2L).flatMap(v => log.readVersion(v).collect {
      case c: CdcFile => c.path
    })
    assert(cdcPaths.forall(p =>
      java.nio.file.Files.exists(LakeLog.resolveFile(path, p))))

    // change stream identical to the log-diff semantics
    val ch = t.changes(1)
      .select("_commit_version", "_change_type", "id", "k")
      .as[(Long, String, Long, String)].collect().toSet
    assert(ch === Set(
      (1L, "delete", 1L, "a"),
      (2L, "delete", 2L, "b"), (2L, "insert", 2L, "B")))

    // vacuum past retention deletes the aged cdc files too
    spark.conf.set(LakeTable.RETENTION_CHECK_KEY, "false")
    try t.vacuum(0.0)
    finally spark.conf.unset(LakeTable.RETENTION_CHECK_KEY)
    assert(cdcPaths.forall(p =>
      !java.nio.file.Files.exists(LakeLog.resolveFile(path, p))))
  }

  /** The two table kinds every non-deterministic DML case runs on. */
  private val tableKinds = Seq(
    "copy-on-write" -> Map.empty[String, String],
    "deletion vectors" -> Map(LakeTable.PROP_ENABLE_DV -> "true"))

  /** A one-file table of ids 1..n with v = 0.0, for each table kind. */
  private def forEachKind(name: String, n: Long)(
      body: (String, LakeTable) => Unit): Unit =
    tableKinds.foreach { case (kind, props) =>
      val path = tablePath(s"$name-${kind.replace(' ', '-')}")
      LakeWriter.write((1L to n).map(i => (i, 0.0)).toDF("id", "v")
        .coalesce(1), path, properties = props)
      withClue(s"[$kind] ")(body(path, LakeTable.forPath(spark, path)))
    }

  test("UPDATE cdc postimage matches table data for non-deterministic SET") {
    forEachKind("cdc-nd", 20L) { (path, t) =>
      // rand()-valued SET: a second evaluation would produce different
      // values than the ones committed to the table
      t.update("id <= 10", Map("v" -> "rand() + id"))       // v1
      val tableRows = t.toDF.filter("id <= 10")
        .select("id", "v").as[(Long, Double)].collect().toMap
      val postimages = t.changes(1)
        .filter("_change_type = 'insert'")
        .select("id", "v").as[(Long, Double)].collect().toMap
      assert(postimages.keySet === tableRows.keySet)
      // byte-identical, not merely statistically similar
      postimages.foreach { case (id, v) => assert(v === tableRows(id)) }
      // preimages are the original values
      val pre = t.changes(1).filter("_change_type = 'delete'")
        .select("id", "v").as[(Long, Double)].collect().toMap
      assert(pre.values.forall(_ == 0.0) && pre.size === 10)
      assertNoStagedDebris(path)
    }
  }

  test("MERGE cdc matches table data for non-deterministic SET and INSERT") {
    forEachKind("cdc-nd-merge", 20L) { (path, t) =>
      // rand()-valued update AND insert: a second evaluation would
      // produce different values than the ones written to the table
      t.as("t").merge(
          (1L to 30L).map(Tuple1(_)).toDF("sid").as("s"), "t.id = s.sid")
        .whenMatchedUpdate(Map("v" -> "rand() + t.id"))
        .whenNotMatchedInsert(
          Map("id" -> "s.sid", "v" -> "rand() + s.sid"))
        .execute()                                         // v1
      val tableRows = t.toDF.select("id", "v")
        .as[(Long, Double)].collect().toMap
      assert(tableRows.size === 30)
      val postimages = t.changes(1).filter("_change_type = 'insert'")
        .select("id", "v").as[(Long, Double)].collect().toMap
      assert(postimages.keySet === (1L to 30L).toSet)
      // byte-identical to the committed data, for updates AND inserts
      postimages.foreach { case (id, v) => assert(v === tableRows(id)) }
      // preimages: the 20 original rows
      val pre = t.changes(1).filter("_change_type = 'delete'")
        .select("id", "v").as[(Long, Double)].collect().toMap
      assert(pre.size === 20 && pre.values.forall(_ == 0.0))
      // scratch staging cleaned up after commit
      assertNoStagedDebris(path)
    }
  }

  test("DELETE cdc records exactly the rows a non-deterministic predicate removed") {
    forEachKind("cdc-nd-delete", 200L) { (path, t) =>
      t.delete("rand() < 0.5")                             // v1
      val left = (1L to 200L).toSet --
        t.toDF.select("id").as[Long].collect().toSet
      assert(left.nonEmpty && left.size < 200)
      val deletes = t.changes(1).filter("_change_type = 'delete'")
        .select("id").as[Long].collect().toSeq
      // exactly once each: no delete record for a surviving row, none
      // missing for a removed one
      assert(deletes.sorted === left.toSeq.sorted)
      assert(t.changes(1).filter("_change_type <> 'delete'").count() === 0)
      assertNoStagedDebris(path)
    }
  }

  test("MERGE persists cdc: upsert emits preimage delete + postimage insert") {
    val path = tablePath("cdc3")
    LakeWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .coalesce(1), path)
    val src = Seq((2L, "B2"), (9L, "z")).toDF("id", "new_k")
    LakeTable.forPath(spark, path).as("t")
      .merge(src.as("s"), "t.id = s.id")
      .whenMatchedUpdate(Map("k" -> "s.new_k"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "k" -> "s.new_k"))
      .execute()                                // v1
    val log = new LakeLog(path)
    assert(log.readVersion(1).exists(_.isInstanceOf[CdcFile]))
    val ch = LakeTable.forPath(spark, path).changes(1)
      .select("_change_type", "id", "k")
      .as[(String, Long, String)].collect().toSet
    assert(ch === Set(
      ("delete", 2L, "b"), ("insert", 2L, "B2"), ("insert", 9L, "z")))
    // untouched row 1 appears in no change
    assert(!ch.exists(_._2 == 1L))
  }

  test("pre-constraint log lines (no constraints field) still parse") {
    val line = """{"metaData":{"schemaDDL":"id BIGINT","partitionColumns":[],"createdTime":5}}"""
    val m = Action.fromJson(line).asInstanceOf[Metadata]
    assert(m.constraints === Map.empty)
    assert(m.schemaDDL === "id BIGINT")
  }
}
