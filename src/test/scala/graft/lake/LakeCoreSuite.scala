package graft.lake

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Log format, snapshot reads, time travel, schema enforcement and
  * evolution — SURVEY §2 K1/K2/S4/S6/D6/D7/D9/D10/D11.
  */
class LakeCoreSuite extends SparkSuite {
  import spark.implicits._

  private def users = Seq(
    (1L, "ana", "2024-01-01", 10.0),
    (2L, "bo", "2024-01-01", 20.0),
    (3L, "cy", "2024-01-02", 30.0)
  ).toDF("id", "name", "p_date", "score").coalesce(1)

  test("fast action serializer matches the reflective one") {
    // the hand-built AddFile/RemoveFile writers must parse back to
    // the same action the json4s reference produces, including hostile
    // strings (quotes, backslashes, control chars, unicode)
    val nasty = Seq("plain.parquet", "with \"quotes\".parquet",
      "back\\slash", "new\nline\tand\rcr", "uniécode",
      "p=a b/part-0.parquet")
    val rnd = new scala.util.Random(7)
    val cases: Seq[Action] = nasty.flatMap { s =>
      Seq[Action](
        AddFile(s, Map("p" -> s, "q" -> "", "n" -> null), rnd.nextLong(),
          rnd.nextInt(1000).toLong,
          Map("c" -> s), Map("c" -> (s + "z")), Map("c" -> 3L),
          dvPath = if (rnd.nextBoolean()) Some(s) else None,
          dvCardinality = rnd.nextInt(100).toLong,
          bloomPath = if (rnd.nextBoolean()) Some(s) else None,
          baseRowId = if (rnd.nextBoolean()) Some(rnd.nextLong().abs)
                      else None),
        AddFile(s), // all defaults: empty maps, no options
        RemoveFile(s, rnd.nextLong().abs))
    }
    cases.foreach { a =>
      val fast = Action.toJson(a)
      assert(Action.fromJson(fast) === a, s"fast round-trip: $fast")
      assert(Action.fromJson(Action.toJsonReflect(a)) ===
        Action.fromJson(fast), s"reflect/fast divergence: $fast")
      // both PARSERS agree on both writers' output (the r17 fast
      // reader vs the json4s reference)
      assert(Action.fromJsonReflect(fast) === Action.fromJson(fast),
        s"parser divergence on fast writer: $fast")
      val refl = Action.toJsonReflect(a)
      assert(Action.fromJsonReflect(refl) === Action.fromJson(refl),
        s"parser divergence on reflective writer: $refl")
    }
  }

  test("fast parser rejects non-canonical JSON the reference rejects") {
    // \u with a sign: Integer.parseInt(_, 16) accepts "+1AB"/"-1AB";
    // strict hex digits must route such input away from the fast path
    // so it fails like json4s instead of silently decoding a bogus char
    // ("\\" + "u"): Scala pre-processes \u even in triple quotes
    val signedEscape =
      """{"add":{"path":"a""" + "\\" + """u+041b","size":1,"numRecords":1,""" +
      """"dvCardinality":0}}"""
    intercept[Exception](Action.fromJson(signedEscape))
    // a leading '+' on an integer is not JSON — must not fast-parse
    val plusInt =
      """{"add":{"path":"a","size":+5,"numRecords":1,""" +
      """"dvCardinality":0}}"""
    intercept[Exception](Action.fromJson(plusInt))
    // the canonical forms still parse on the fast path
    val ok =
      """{"add":{"path":"aAb","partitionValues":{},"size":-5,""" +
      """"numRecords":1,"minValues":{},"maxValues":{},""" +
      """"nullCounts":{},"dvCardinality":0}}"""
    assert(Action.fromJson(ok) ===
      AddFile("aAb", Map.empty, -5L, 1L))
  }

  test("byte-prefix scan tolerates leading whitespace on log lines") {
    // a hand-edited / foreign-writer line with leading spaces must
    // still surface from the prefix scan (the String readers' .trim
    // tolerance, preserved at the byte level)
    val dir = tmpDir("ws-prefix")
    val p = java.nio.file.Paths.get(dir, "v.json")
    java.nio.file.Files.write(p, java.util.Arrays.asList(
      """  {"commitInfo":{"timestamp":1,"operation":"CREATE","parameters":{}}}""",
      "\t" + Action.toJson(Metadata("id BIGINT", Nil, 1L)),
      Action.toJson(AddFile("f1.parquet", Map.empty, 1L, 1L))))
    val metaLines = LogStore.current
      .readLinesWithPrefix(p, Action.MetaLinePrefixes)
    assert(metaLines.exists(_.contains("\"metaData\"")),
      s"indented metaData line dropped: $metaLines")
    assert(Action.fromJson(metaLines.find(_.contains("metaData")).get)
      .isInstanceOf[Metadata])
  }

  test("streaming prefix scan equals the slurp scan (giant-commit path)") {
    // a RESTORE of a 10⁷-file table writes a version file past the
    // 2 GB array bound; the prefix scan must stream above the slurp
    // threshold and return byte-identical results
    val dir = tmpDir("stream-prefix")
    val p = java.nio.file.Paths.get(dir, "big.json")
    val rnd = new scala.util.Random(5)
    val lines = new java.util.ArrayList[String]()
    lines.add("""  {"commitInfo":{"timestamp":1,"operation":"RESTORE","parameters":{}}}""")
    lines.add("\t" + Action.toJson(Metadata("id BIGINT", Nil, 1L)))
    (0 until 20000).foreach { i =>
      lines.add(Action.toJson(AddFile(s"p=1/f$i.parquet",
        Map("p" -> "1"), rnd.nextLong().abs, 100L,
        Map("id" -> s"$i"), Map("id" -> s"${i + 1}"), Map("id" -> 0L))))
    }
    lines.add(Action.toJson(Txn("app", 7L)))
    java.nio.file.Files.write(p, lines)
    val slurped = LogStore.current
      .readLinesWithPrefix(p, Action.MetaLinePrefixes)
    val prev = LocalLogStore.SLURP_MAX_BYTES
    LocalLogStore.SLURP_MAX_BYTES = 1024L // force the streaming scan
    val streamed =
      try LogStore.current.readLinesWithPrefix(p, Action.MetaLinePrefixes)
      finally LocalLogStore.SLURP_MAX_BYTES = prev
    assert(streamed === slurped, "streaming/slurp prefix-scan divergence")
    assert(streamed.exists(_.contains("\"metaData\"")))
    assert(streamed.exists(_.contains("\"txn\"")))
    // and the line-streaming reader sees every line
    val n = LogStore.current.readLinesStream(p)(_.size)
    assert(n === lines.size)
  }

  test("commit-seeded meta tuple equals a cold metadata replay") {
    // the commit path seeds the metadata-light cache at its new
    // version (parent tuple + own actions); the seeded answer must be
    // indistinguishable from a cold file walk at every version,
    // including metadata changes, domain tombstones, and txn max-folds
    val dir = tmpDir("meta-seed")
    val log = new LakeLog(dir)
    log.commit(0L, Seq(
      CommitInfo(1L, "CREATE", Map.empty),
      Metadata("id BIGINT, p STRING", Seq("p"), 1L,
        properties = Map("k" -> "v0")),
      Protocol()))
    log.commit(1L, Seq(
      CommitInfo(2L, "APPEND", Map.empty),
      Txn("app-a", 5L),
      DomainMetadata("d1", Map("x" -> "1"), removed = false),
      AddFile("p=1/a.parquet", Map("p" -> "1"), 10L, 1L)))
    log.commit(2L, Seq(
      CommitInfo(3L, "SET", Map.empty),
      Metadata("id BIGINT, p STRING", Seq("p"), 1L,
        properties = Map("k" -> "v1")),
      Txn("app-a", 3L), // below the watermark: max-fold keeps 5
      DomainMetadata("d1", Map.empty, removed = true)))
    // a commit with a bulk stream seeds too: its meta actions arrive
    // from the head AND from the bulk stream (the row-id high-water
    // domain the stamping appends after the carved AddFile)
    log.commit(3L, Seq(
      CommitInfo(4L, "UPDATE", Map.empty),
      Metadata("id BIGINT, p STRING", Seq("p"), 1L,
        properties = Map("k" -> "v1", RowTracking.PROP -> "true")),
      Txn("app-b", 7L)),
      () => Iterator(RemoveFile("p=1/a.parquet", 4L),
        AddFile("p=1/b.parquet", Map("p" -> "1"), 10L, 3L)))
    // read every version through the commit-seeded cache first, THEN
    // clear once and re-read cold — clearing inside the loop would
    // make every read a cold walk and test nothing
    val seeded = (0L to 3L).map(v => Snapshot.replayMetaTxns(log, v))
    Snapshot.clearCacheForTest()
    val cold = (0L to 3L).map(v => Snapshot.replayMetaTxns(log, v))
    assert(seeded === cold, "seed/cold divergence")
    val (m, _, d, t) = Snapshot.replayMetaTxns(log, 2L)
    assert(m.properties("k") === "v1")
    assert(d.get("d1") === None)
    assert(t("app-a") === 5L)
    val (_, _, d3, t3) = Snapshot.replayMetaTxns(log, 3L)
    assert(d3(RowTracking.DOMAIN)(RowTracking.HWM_KEY) === "3")
    assert(t3 === Map("app-a" -> 5L, "app-b" -> 7L))

    // head and bulk are one stamping fold: the same row-tracked
    // AddFiles committed resident (in `head`) or streamed (in `bulk`)
    // carve identical id blocks and the same high-water domain
    val adds = Seq(AddFile("p=1/c.parquet", Map("p" -> "1"), 10L, 4L),
      AddFile("p=1/d.parquet", Map("p" -> "1"), 10L, 6L))
    def committed(name: String, viaBulk: Boolean): Seq[Action] = {
      val l = new LakeLog(tmpDir(name))
      l.commit(0L, Seq(CommitInfo(1L, "CREATE", Map.empty),
        Metadata("id BIGINT, p STRING", Seq("p"), 1L,
          properties = Map(RowTracking.PROP -> "true")),
        Protocol()))
      l.commit(1L, Seq(CommitInfo(2L, "APPEND", Map.empty),
        AddFile("p=1/b.parquet", Map("p" -> "1"), 10L, 3L)))
      val head = Seq(CommitInfo(3L, "APPEND", Map.empty))
      if (viaBulk) l.commit(2L, head, () => adds.iterator)
      else l.commit(2L, head ++ adds)
      l.readVersion(2L).filterNot(_.isInstanceOf[CommitInfo])
    }
    val resident = committed("stamp-head", viaBulk = false)
    val streamed = committed("stamp-bulk", viaBulk = true)
    assert(resident === streamed, "head/bulk stamping divergence")
    assert(resident.collect { case a: AddFile => a.path -> a.baseRowId } ===
      Seq("p=1/c.parquet" -> Some(3L), "p=1/d.parquet" -> Some(7L)))
    assert(resident.collect { case d: DomainMetadata => d } === Seq(
      DomainMetadata(RowTracking.DOMAIN,
        Map(RowTracking.HWM_KEY -> "13"))))
  }

  test("interned AddFile maps behave as plain immutable Maps") {
    val a = AddFile("p=1/f.parquet",
      Map("p" -> "1", "q" -> null),
      123L, 10L,
      Map("id" -> "0", "name" -> "aa"),
      Map("id" -> "99", "name" -> "zz"),
      Map("id" -> 0L, "name" -> 3L))
    val i = Interned.addFile(a)
    // structural equality BOTH directions, and hashCode agreement
    assert(i === a); assert(a === i)
    assert(i.minValues === a.minValues)
    assert(i.minValues.hashCode === a.minValues.hashCode)
    assert(i.partitionValues("q") === null)
    assert(i.nullCounts("name") === 3L)
    assert(i.minValues.get("absent") === None)
    // cold mutation paths fall back to standard maps, preserving value
    assert((i.minValues + ("x" -> "1")).size === 3)
    assert((i.nullCounts - "id") === Map("name" -> 3L))
    assert(i.maxValues.iterator.toMap === a.maxValues)
    // key arrays are shared across files with the same key set
    val j = Interned.addFile(a.copy(path = "p=2/g.parquet"))
    assert(j.minValues.keys.toSeq === i.minValues.keys.toSeq)
    // serialization round-trips through both writers
    assert(Action.fromJson(Action.toJson(i)) === a)
    assert(Action.fromJson(Action.toJsonReflect(i)) === a)
  }

  test("interned maps: randomized equivalence with plain maps") {
    // seeded sweep over sizes, unicode/multibyte values, null
    // partition values, and long-value ranges: every interned
    // representation (Map1 shortcut, byte-packed blob, array-backed
    // null-carrying, primitive-long) must be INDISTINGUISHABLE from
    // the standard map it replaced — equality both ways, lookups,
    // iteration order count, serialization, and JSON round-trips
    val rnd = new scala.util.Random(42)
    val alphabets =
      Seq("abcdefgh", "αβγδε", "日本語中文", "aé☃😀")
    def randStr(): String = {
      val a = alphabets(rnd.nextInt(alphabets.size))
      (0 until 1 + rnd.nextInt(12))
        .map(_ => a.charAt(rnd.nextInt(a.length))).mkString
    }
    (1 to 200).foreach { i =>
      val n = rnd.nextInt(20)
      val sm = (0 until n).map(j => s"c$j" -> randStr()).toMap
      val pm = (0 until n).map(j =>
        s"p$j" -> (if (rnd.nextInt(5) == 0) null else randStr())).toMap
      val lm = (0 until n).map(j => s"c$j" ->
        (rnd.nextLong() >> rnd.nextInt(48))).toMap
      val a = AddFile(s"f$i.parquet", pm, i.toLong, n.toLong,
        sm, sm.map { case (k, v) => k -> (v + "z") }, lm)
      val in = Interned.addFile(a)
      assert(in === a && a === in, s"case $i: structural equality")
      assert(in.minValues.hashCode === a.minValues.hashCode)
      sm.keys.foreach { k =>
        assert(in.minValues(k) === sm(k), s"case $i: lookup $k")
        assert(in.nullCounts(k) === lm(k))
      }
      pm.keys.foreach(k => assert(in.partitionValues(k) === pm(k)))
      assert(in.minValues.get("__absent") === None)
      assert(in.maxValues.iterator.size === n)
      // java serialization (the executor boundary)
      val bos = new java.io.ByteArrayOutputStream()
      new java.io.ObjectOutputStream(bos).writeObject(in)
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[AddFile]
      assert(back === a, s"case $i: java-serialization round trip")
      // both JSON writers
      assert(Action.fromJson(Action.toJson(in)) === a, s"case $i: fast")
      assert(Action.fromJson(Action.toJsonReflect(in)) === a,
        s"case $i: reflective")
    }
  }

  test("append creates version 0 with metadata and reads back") {
    val path = tablePath("t0")
    val res = LakeWriter.write(users, path, partitionBy = Seq("p_date"))
    assert(res.version === 0L)
    val t = LakeTable.forPath(spark, path)
    val df = t.toDF
    assert(df.count() === 3)
    assert(df.schema.fieldNames.sorted === Array("id", "name", "p_date", "score"))
    // partition layout on disk
    assert(new java.io.File(s"$path/p_date=2024-01-01").isDirectory)
  }

  test("append adds a version; overwrite replaces content atomically") {
    val path = tablePath("t1")
    LakeWriter.write(users, path)
    LakeWriter.write(users.filter($"id" === 1L), path, mode = "append")
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 4)
    LakeWriter.write(users.limit(2), path, mode = "overwrite")
    assert(t.toDF.count() === 2)
    assert(t.snapshot().version === 2L)
  }

  test("time travel reads exact old versions; beyond-latest errors") {
    val path = tablePath("t2")
    LakeWriter.write(users.filter($"id" <= 1), path) // v0: 1 row
    LakeWriter.write(users.filter($"id" === 2), path) // v1: +1
    LakeWriter.write(users.filter($"id" === 3), path) // v2: +1
    val t = LakeTable.forPath(spark, path)
    assert(t.asOf(0).count() === 1)
    assert(t.asOf(1).count() === 2)
    assert(t.toDF.count() === 3)
    val e = intercept[IllegalArgumentException](t.asOf(9))
    assert(e.getMessage.contains("time travel"))
  }

  test("history lists one commit per version, newest first") {
    val path = tablePath("t3")
    LakeWriter.write(users, path)
    LakeWriter.write(users, path, mode = "append")
    val h = LakeTable.forPath(spark, path).history().collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 0L))
    assert(h.map(_.getString(2)).toSeq === Seq("APPEND", "CREATE TABLE AS"))
  }

  test("schema enforcement rejects new columns (D9)") {
    val path = tablePath("t4")
    LakeWriter.write(users, path)
    val widened = users.withColumn("extra", lit("x"))
    val e = intercept[SchemaMismatchException](
      LakeWriter.write(widened, path))
    assert(e.getMessage.contains("mergeSchema"))
    // type change also rejected
    val retyped = users.withColumn("score", $"score".cast("string"))
    intercept[SchemaMismatchException](LakeWriter.write(retyped, path))
  }

  test("mergeSchema evolves; old rows read NULL for new column (D10)") {
    val path = tablePath("t5")
    LakeWriter.write(users, path)
    val widened = Seq((4L, "di", "2024-01-03", 40.0, "gold"))
      .toDF("id", "name", "p_date", "score", "tier")
    LakeWriter.write(widened, path, mergeSchema = true)
    val t = LakeTable.forPath(spark, path)
    val df = t.toDF
    assert(df.schema.fieldNames.contains("tier"))
    assert(df.filter($"tier".isNull).count() === 3)
    assert(df.filter($"tier" === "gold").count() === 1)
    // missing-column append still works post-evolution (null-filled)
    LakeWriter.write(users.filter($"id" === 1), path)
    assert(t.toDF.count() === 5)
  }

  test("writes are atomic: no partial state visible mid-failure") {
    val path = tablePath("t6")
    LakeWriter.write(users, path)
    val before = LakeTable.forPath(spark, path).snapshot().version
    // a failing write (schema mismatch) must not advance the version
    intercept[SchemaMismatchException](
      LakeWriter.write(users.withColumn("boom", lit(1)), path))
    assert(LakeTable.forPath(spark, path).snapshot().version === before)
    assert(LakeTable.forPath(spark, path).toDF.count() === 3)
  }

  test("AddFile stats carry numRecords and min/max for skipping") {
    val path = tablePath("t7")
    LakeWriter.write(users, path, partitionBy = Seq("p_date"))
    val snap = LakeTable.forPath(spark, path).snapshot()
    assert(snap.files.map(_.numRecords).sum === 3)
    val f = snap.files.find(_.partitionValues("p_date") == "2024-01-01").get
    assert(f.minValues.get("id").contains("1"))
    assert(f.maxValues.get("id").contains("2"))
    assert(f.minValues.get("name").contains("ana"))
  }

  test("scan prunes files by partition value and stats") {
    val path = tablePath("t8")
    LakeWriter.write(users, path, partitionBy = Seq("p_date"))
    val t = LakeTable.forPath(spark, path)
    val snap = t.snapshot()
    assert(FilePruner.prune(snap, "p_date = '2024-01-02'").size === 1)
    assert(FilePruner.prune(snap, "id >= 3").size === 1)
    assert(FilePruner.prune(snap, "score < 5.0").isEmpty)
    assert(t.scan("p_date = '2024-01-02'").count() === 1)
    assert(t.scan("score < 5.0").count() === 0)
  }

  test("pruning handles IN, IS [NOT] NULL and prefix predicates") {
    val path = tablePath("t8b")
    // two files with disjoint id ranges; one all-null nick column
    LakeWriter.write(
      Seq((1L, "ana", Some("annie")), (2L, "bob", None))
        .toDF("id", "name", "nick").coalesce(1), path)
    LakeWriter.write(
      Seq((10L, "zoe", None: Option[String]),
        (11L, "zed", None)).toDF("id", "name", "nick").coalesce(1), path)
    val snap = LakeTable.forPath(spark, path).snapshot()
    assert(snap.files.size === 2)
    // IN: only the file whose [min,max] can contain a listed value
    assert(FilePruner.prune(snap, "id IN (10, 11)").size === 1)
    assert(FilePruner.prune(snap, "id IN (5, 6)").isEmpty)
    // big list → optimizer InSet route, same result
    val bigList = ((100 to 120).map(_.toString) :+ "10").mkString(", ")
    assert(FilePruner.prune(snap, s"id IN ($bigList)").size === 1)
    // IS NULL skips the file whose footer counted zero nulls... both
    // files have nulls in nick except the test below on name:
    assert(FilePruner.prune(snap, "name IS NULL").isEmpty)
    assert(FilePruner.prune(snap, "nick IS NULL").size === 2)
    // IS NOT NULL skips the ALL-null file
    assert(FilePruner.prune(snap, "nick IS NOT NULL").size === 1)
    // prefix: only the z-file can hold names starting with 'z'
    assert(FilePruner.prune(snap, "name LIKE 'z%'").size === 1)
    assert(FilePruner.prune(snap, "name LIKE 'm%'").isEmpty)
    // a NULL in the list can never match — and must not crash the
    // numeric range test
    assert(FilePruner.prune(snap, "id IN (10, NULL)").size === 1)
    assert(FilePruner.prune(snap, "id IN (NULL)").isEmpty)
    // results still correct through the planner path
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.filter("id IN (10, 11)").count() === 2)
    assert(t.toDF.filter("nick IS NOT NULL").count() === 1)
    assert(t.toDF.filter("name LIKE 'z%'").count() === 2)
  }

  test("convertToLake adopts existing parquet in place (K5)") {
    val dir = tablePath("t9")
    users.write.partitionBy("p_date").parquet(dir)
    val t = LakeTable.convertToLake(spark, dir, "p_date string")
    assert(t.toDF.count() === 3)
    assert(t.snapshot().partitionColumns === Seq("p_date"))
    // now behaves as a lake table
    LakeWriter.write(users.filter($"id" === 1), dir)
    assert(t.toDF.count() === 4)
  }

  test("checkpoints keep snapshots O(delta) and agree with full replay") {
    val path = tablePath("t11")
    (1 to 25).foreach { i =>
      LakeWriter.write(Seq((i.toLong, s"row$i")).toDF("id", "s").coalesce(1), path)
    }
    val log = new LakeLog(path)
    // checkpoints exist at versions 10 and 20
    assert(log.latestCheckpointAtOrBefore(24).map(_._1).contains(20L))
    assert(log.latestCheckpointAtOrBefore(15).map(_._1).contains(10L))
    assert(log.latestCheckpointAtOrBefore(9).isEmpty)
    // snapshot through checkpoint == ground truth
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 25)
    assert(t.asOf(12).count() === 13)
    assert(t.snapshot().files.size === 25)
    // deletes recorded after a checkpoint are honored
    t.delete("id <= 5")
    assert(LakeTable.forPath(spark, path).toDF.count() === 20)
    // history still sees every commit despite checkpointed replay
    assert(LakeTable.forPath(spark, path).history().count() === 26)
  }

  test("snapshot replays are memoized; recreation at the path invalidates") {
    val path = tablePath("snap-cache")
    LakeWriter.write(Seq(1L, 2L).toDF("id").coalesce(1), path)
    Snapshot.clearCacheForTest()
    assert(LakeTable.forPath(spark, path).toDF.count() === 2L) // populates
    val h0 = Snapshot.cacheHits.get()
    LakeLog.readVersionCalls.set(0L)
    assert(LakeTable.forPath(spark, path).toDF.count() === 2L)
    assert(LakeTable.forPath(spark, path).toDF.count() === 2L)
    assert(Snapshot.cacheHits.get() >= h0 + 2)
    // cached replays re-read NO version files — the metadata path of a
    // hot table costs a dir listing + one stat, not a checkpoint parse
    assert(LakeLog.readVersionCalls.get() === 0L,
      s"cached snapshot re-read the log: ${LakeLog.readVersionCalls.get()}")
    // destroy and recreate the table at the SAME path and version ids:
    // the version-file fingerprint must invalidate the stale entry
    LakeWriter.deleteRecursively(java.nio.file.Paths.get(path))
    LakeWriter.write(Seq(10L, 20L, 30L).toDF("id").coalesce(1), path)
    assert(LakeTable.forPath(spark, path).toDF.count() === 3L)
  }

  test("detail reports format, files, size, schema (K12)") {
    val path = tablePath("t10")
    LakeWriter.write(users, path, partitionBy = Seq("p_date"))
    val d = LakeTable.forPath(spark, path).detail().collect()(0)
    assert(d.getAs[String]("format") === "lake")
    assert(d.getAs[Long]("numFiles") === 2L)
    assert(d.getAs[Long]("sizeInBytes") > 0)
  }

  test("replaceWhere: partition-scoped selective overwrite is metadata-only") {
    val path = tablePath("rw1")
    val base = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0), (4L, "2024-01-02", 40.0)
    ).toDF("id", "day", "v")
    LakeWriter.write(base, path, partitionBy = Seq("day"))
    val untouched = LakeTable.forPath(spark, path).snapshot().files
      .filter(_.partitionValues("day") == "2024-01-01").map(_.path).toSet
    // idempotent reload of day 2024-01-02
    val reload = Seq((30L, "2024-01-02", 300.0), (40L, "2024-01-02", 400.0))
      .toDF("id", "day", "v")
    LakeWriter.write(reload, path, mode = "overwrite",
      replaceWhere = Some("day = '2024-01-02'"))
    val t = LakeTable.forPath(spark, path)
    val got = t.toDF.select("id").as[Long].collect().sorted
    assert(got === Array(1L, 2L, 30L, 40L))
    // day-01 files untouched (metadata-only file selection)
    assert(untouched.subsetOf(t.snapshot().files.map(_.path).toSet))
  }

  test("replaceWhere: arbitrary predicate rewrites boundary files") {
    val path = tablePath("rw2")
    LakeWriter.write(
      Seq.tabulate(20)(i => (i.toLong, i % 2)).toDF("id", "par").coalesce(1),
      path)
    LakeWriter.write(
      Seq((100L, 0), (101L, 0)).toDF("id", "par"), path,
      mode = "overwrite", replaceWhere = Some("id >= 10"))
    val got = LakeTable.forPath(spark, path).toDF
      .select("id").as[Long].collect().sorted
    assert(got === ((0L until 10L) ++ Seq(100L, 101L)).toArray)
  }

  test("replaceWhere rejects rows outside the replaced region") {
    val path = tablePath("rw3")
    LakeWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "g"), path)
    val e = intercept[IllegalArgumentException] {
      LakeWriter.write(Seq((5L, "a"), (6L, "c")).toDF("id", "g"), path,
        mode = "overwrite", replaceWhere = Some("g = 'a'"))
    }
    assert(e.getMessage.toLowerCase.contains("replacewhere"))
    // nothing committed; table unchanged
    assert(LakeTable.forPath(spark, path).toDF.count() === 2L)
  }

  test("replaceWhere via the DataFrame writer option") {
    val path = tablePath("rw4")
    Seq((1L, "x"), (2L, "y")).toDF("id", "g")
      .write.format("lake").save(path)
    Seq((20L, "y")).toDF("id", "g")
      .write.format("lake").mode("overwrite")
      .option("replaceWhere", "g = 'y'").save(path)
    assert(spark.read.format("lake").load(path)
      .select("id").as[Long].collect().sorted === Array(1L, 20L))
  }

  test("in-commit timestamps: strictly monotonic even for same-ms bursts") {
    val path = tablePath("ict")
    LakeWriter.write(users, path)
    val log = new LakeLog(path)
    val v0 = log.latestVersion
    // adversarial: every caller stamps the SAME wall-clock value (a
    // same-millisecond burst), and one is outright backdated
    val frozen = System.currentTimeMillis()
    (1 to 20).foreach { i =>
      log.commit(v0 + i,
        Seq(CommitInfo(frozen, "TEST", Map("i" -> i.toString))))
    }
    log.commit(v0 + 21, Seq(CommitInfo(0L, "TEST", Map()))) // backdated
    val ts = (0L to v0 + 21).flatMap(v =>
      log.readVersion(v).collectFirst { case c: CommitInfo => c.timestamp })
    assert(ts.size === v0 + 22)
    ts.sliding(2).foreach { case Seq(a, b) =>
      assert(a < b, s"timestamps not strictly increasing: $ts")
    }
    // every version is now addressable by its own timestamp
    val t = LakeTable.forPath(spark, path)
    Seq(v0, v0 + 7, v0 + 21).foreach { v =>
      assert(t.versionAtTimestamp(ts(v.toInt)) === v)
    }
  }

  test("FSCK REPAIR drops log entries for physically missing files") {
    import spark.implicits._
    val path = tablePath("fsck")
    LakeWriter.write(spark.range(0, 100).toDF("id").repartition(4), path)
    val victim = LakeTable.forPath(spark, path).snapshot().files.head.path
    java.nio.file.Files.delete(LakeLog.resolveFile(path, victim))
    // DRY RUN lists the wound without touching the log
    val dry = LakeSql.sql(spark, s"FSCK REPAIR TABLE `$path` DRY RUN")
      .as[String].collect()
    assert(dry === Array(victim))
    assert(LakeTable.forPath(spark, path).snapshot()
      .files.map(_.path).contains(victim))
    // repair: tombstone committed, reads recover the surviving rows
    val fixed = LakeSql.sql(spark, s"FSCK REPAIR TABLE `$path`")
      .as[String].collect()
    assert(fixed === Array(victim))
    val snap2 = LakeTable.forPath(spark, path).snapshot()
    assert(!snap2.files.map(_.path).contains(victim))
    val n = spark.read.format("lake").load(path).count()
    assert(n > 0 && n < 100, s"expected partial rows, got $n")
    // idempotent
    assert(LakeTable.forPath(spark, path).fsckRepair().isEmpty)
  }

  test("dataSkippingNumIndexedCols caps per-file stats to the window") {
    import spark.implicits._
    // 40 data columns: default window (32) stats the first 32 only
    val wide = spark.range(0, 100).toDF("c00")
    val df = (1 until 40).foldLeft(wide) { (d, i) =>
      d.withColumn(f"c$i%02d", col("c00") + i)
    }
    val p1 = tablePath("statscap-default")
    LakeWriter.write(df.coalesce(2), p1)
    val adds1 = LakeTable.forPath(spark, p1).snapshot().files
    assert(adds1.nonEmpty)
    adds1.foreach { a =>
      assert(a.minValues.keySet === (0 until 32).map(i => f"c$i%02d").toSet)
      assert(!a.maxValues.contains("c39"))
      assert(a.numRecords > 0) // row counts always kept
    }
    // explicit narrow window: 4 columns; skipping works inside the
    // window, queries OUTSIDE it stay correct via plain scans
    val p2 = tablePath("statscap-four")
    LakeWriter.write(df.coalesce(2), p2,
      properties = Map(LakeTable.PROP_STATS_COLS -> "4"))
    val t2 = LakeTable.forPath(spark, p2)
    t2.snapshot().files.foreach { a =>
      assert(a.minValues.keySet === Set("c00", "c01", "c02", "c03"))
      assert(a.nullCounts.keySet === Set("c00", "c01", "c02", "c03"))
    }
    assert(t2.toDF.where("c39 = 138").count() === 1L)
    assert(t2.toDF.agg(max("c00")).head().getLong(0) === 99L)
    // -1 disables the cap
    val p3 = tablePath("statscap-all")
    LakeWriter.write(df.coalesce(1), p3,
      properties = Map(LakeTable.PROP_STATS_COLS -> "-1"))
    LakeTable.forPath(spark, p3).snapshot().files.foreach { a =>
      assert(a.minValues.size === 40)
    }
    // declared cluster-by columns keep stats even outside the window
    val p4 = tablePath("statscap-cluster")
    LakeWriter.write(df.coalesce(2), p4,
      properties = Map(LakeTable.PROP_STATS_COLS -> "4",
        LakeTable.PROP_CLUSTER_BY -> "c39"))
    LakeTable.forPath(spark, p4).snapshot().files.foreach { a =>
      assert(a.minValues.keySet ===
        Set("c00", "c01", "c02", "c03", "c39"),
        "clusterBy column must stay statted outside the window")
    }
    // under column mapping the clusterBy exemption must resolve the
    // LOGICAL property name to the PHYSICAL stats key
    val mapped = LakeWriter.capStats(
      Seq(AddFile("f.parquet", Map.empty, 1L, 10L,
        Map("pa" -> "1", "pb" -> "2", "pq" -> "3"),
        Map("pa" -> "1", "pb" -> "2", "pq" -> "3"),
        Map("pa" -> 0L, "pb" -> 0L, "pq" -> 0L))),
      Seq("pa", "pb", "pq"),
      Map(LakeTable.PROP_STATS_COLS -> "1",
        LakeTable.PROP_CLUSTER_BY -> "q"),
      Map("q" -> "pq"))
    assert(mapped.head.minValues.keySet === Set("pa", "pq"),
      "mapped clusterBy column must survive the window")
    // garbage value rejected up front
    intercept[IllegalArgumentException] {
      LakeWriter.write(df.limit(1), tablePath("statscap-bad"),
        properties = Map(LakeTable.PROP_STATS_COLS -> "lots"))
    }
  }

  test("size-adaptive staging fold: cheap frames fold, shaped and " +
      "compute-opaque frames keep their partitioning") {
    // cheap unshaped append (range leaf + column projection, tiny
    // estimate): folds to one file instead of one per input slice
    val folded = tablePath("stagefold-cheap")
    LakeWriter.write(
      spark.range(0L, 1000L, 1L, 8).select(col("id"), (col("id") * 2).as("v")),
      folded)
    assert(new LakeLog(folded).snapshot().files.size === 1,
      "cheap tiny append should fold to one staged file")

    // an explicit repartition is a layout instruction and is honored
    val shaped = tablePath("stagefold-shaped")
    LakeWriter.write(spark.range(1000L).select(col("id")).repartition(8),
      shaped)
    assert(new LakeLog(shaped).snapshot().files.size === 8,
      "explicit repartition(8) must keep 8 files")

    // a compute-opaque projection (JSON encode) fails the cheap-plan
    // test and keeps its natural parallelism: the estimate cannot see
    // per-row compute, so the plan shape must prove its absence
    val opaque = tablePath("stagefold-opaque")
    LakeWriter.write(
      spark.range(0L, 1000L, 1L, 8)
        .select(col("id"), to_json(struct(col("id"))).as("j")),
      opaque)
    assert(new LakeLog(opaque).snapshot().files.size === 8,
      "opaque projection must not be folded")

    // machinery rewrite (computeLight): a DELETE over the 8-file
    // shaped table folds its tiny kept frame
    LakeTable.forPath(spark, shaped).delete("id < 100")
    assert(new LakeLog(shaped).snapshot().files.size === 1,
      "tiny CoW rewrite should fold its kept rows")
    assert(LakeTable.forPath(spark, shaped).toDF.count() === 900L)

    // the conf pins the fold off (one task per byte => task count
    // capped at parallelism => no reduction)
    val pinned = tablePath("stagefold-pinned")
    spark.conf.set(LakeWriter.EST_BYTES_PER_TASK_CONF, "1")
    try LakeWriter.write(
      spark.range(0L, 1000L, 1L, 8).select(col("id")), pinned)
    finally spark.conf.unset(LakeWriter.EST_BYTES_PER_TASK_CONF)
    assert(new LakeLog(pinned).snapshot().files.size === 8,
      "estBytesPerTask=1 must disable the fold")
  }
}
