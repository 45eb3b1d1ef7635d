package graft.lake

import graft.SparkSuite
import org.scalatest.prop.TableDrivenPropertyChecks
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Property-style invariants from SURVEY §5: upsert idempotence,
  * delete-restore round trip, prefix-replay consistency, and
  * concurrent-writer safety of the optimistic commit protocol.
  */
class LakePropertySuite extends SparkSuite with TableDrivenPropertyChecks {
  import spark.implicits._

  private def freshTable(n: Int): String = {
    val path = tablePath(s"prop-$n-${System.nanoTime()}")
    val df = (1 to n).map(i => (i.toLong, s"k$i", i * 1.5))
      .toDF("id", "k", "v").coalesce(2)
    LakeWriter.write(df, path)
    path
  }

  test("row-id stability invariant under random op sequences") {
    // For ANY sequence of append / delete / update / optimize /
    // zorder / purge / merge on a tracked table: (a) row ids stay
    // DISTINCT, and (b) a surviving row keeps the exact id it was
    // born with. Business key `id` is unique per row by construction,
    // so the (row_id -> id) map must be a stable injection over time.
    val seeds = Table("seed", 11, 42, 77)
    forAll(seeds) { seed =>
      val rnd = new scala.util.Random(seed)
      val dv = rnd.nextBoolean()
      val path = tablePath(s"prop-rt-$seed")
      val props = Map(RowTracking.PROP -> "true") ++
        (if (dv) Map(LakeTable.PROP_ENABLE_DV -> "true") else Map.empty)
      var nextKey = 0L
      def fresh(n: Int) = {
        val df = (nextKey until nextKey + n)
          .map(i => (i, s"v$i")).toDF("id", "k").coalesce(1)
        nextKey += n
        df
      }
      LakeWriter.write(fresh(8), path, properties = props)
      val t = LakeTable.forPath(spark, path)
      def ids(): Map[Long, Long] =
        t.toDFWithRowIds.select(col(RowTracking.COL), col("id"))
          .as[(Long, Long)].collect().toMap
      var born = ids() // row_id -> business id, accumulated
      (1 to 6).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => LakeWriter.write(fresh(4), path, mode = "append")
          case 1 => t.delete(s"id % 5 = ${rnd.nextInt(5)}")
          case 2 => t.update(s"id % 4 = ${rnd.nextInt(4)}",
            Map("k" -> "concat(k, '!')"))
          case 3 => t.compact()
          case 4 => t.compactClustered(Seq("id"))
          case 5 =>
            val src = fresh(3).union(
              t.toDF.select(col("id"), concat(col("k"), lit("m")).as("k"))
                .limit(2))
            t.as("t").merge(src.as("s"), "t.id = s.id")
              .whenMatchedUpdate(Map("k" -> "s.k"))
              .whenNotMatchedInsert(Map("id" -> "s.id", "k" -> "s.k"))
              .execute()
        }
        if (dv) t.purgeDeletionVectors()
        val now = ids()
        assert(now.size === t.toDF.count(), s"seed=$seed: ids distinct")
        now.foreach { case (rid, bid) =>
          born.get(rid).foreach(orig =>
            assert(orig === bid,
              s"seed=$seed: row id $rid moved from key $orig to $bid"))
        }
        born ++= now.filter { case (rid, _) => !born.contains(rid) }
      }
    }
  }

  test("copy-on-write and deletion-vector tables agree under random DML") {
    // The apply strategy must not change what a DML does: one seeded
    // sequence of DELETE, UPDATE and MERGE (update, conditional
    // delete, insert, by-source delete) on a copy-on-write copy and a
    // deletion-vector copy leaves both with the same rows, and records
    // the same change multiset, after every op.
    forAll(Table(("seed", "tracked"), (5, false), (23, false), (61, true))) {
      (seed, tracked) =>
        val rnd = new scala.util.Random(seed)
        val props = if (tracked) Map(RowTracking.PROP -> "true")
          else Map.empty[String, String]
        val paths = Seq("cow", "dv").map(m => tablePath(s"prop-xm-$seed-$m"))
        val data = (1L to 60L).map(i => (i, s"k${i % 7}", (i % 11) * 1.5))
          .toDF("id", "k", "v").coalesce(3)
        LakeWriter.write(data, paths(0), properties = props)
        LakeWriter.write(data, paths(1),
          properties = props + (LakeTable.PROP_ENABLE_DV -> "true"))
        val tables = paths.map(LakeTable.forPath(spark, _))
        var nextId = 61L
        def rows(t: LakeTable): Seq[String] =
          t.toDF.select("id", "k", "v").collect().map(_.toString).sorted.toSeq
        def changed(t: LakeTable, v: Long): Seq[String] =
          t.changes(v, v).select("_change_type", "id", "k", "v")
            .collect().map(_.toString).sorted.toSeq
        (1 to 6).foreach { step =>
          val m = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(m)
          val (what, op): (String, LakeTable => Unit) = rnd.nextInt(3) match {
            case 0 => (s"DELETE id % $m = $r", _.delete(s"id % $m = $r"))
            case 1 =>
              val d = rnd.nextInt(9)
              (s"UPDATE id % $m = $r",
                _.update(s"id % $m = $r",
                  Map("v" -> s"v * 2 + $d", "k" -> "concat(k, 'u')")))
            case _ =>
              val hits = rnd.shuffle((1L until nextId).toList).take(8)
              val fresh = (nextId until nextId + 3).toList
              nextId += 3
              val src = (hits ++ fresh).map { id =>
                (id, s"s$step", (rnd.nextInt(20) - 5).toDouble)
              }.toDF("id", "k", "v")
              (s"MERGE by-source id % $m = $r", t => t.as("t")
                .merge(src.as("s"), "t.id = s.id")
                .whenMatchedDelete("s.v < 0")
                .whenMatchedUpdate(Map("k" -> "s.k", "v" -> "t.v + s.v"))
                .whenNotMatchedInsert(
                  Map("id" -> "s.id", "k" -> "s.k", "v" -> "s.v"))
                .whenNotMatchedBySourceDelete(s"t.id % $m = $r")
                .execute())
          }
          tables.foreach(op)
          val clue = s"seed=$seed step=$step $what"
          val Seq(vc, vd) = paths.map(new LakeLog(_).latestVersion)
          assert(vc === vd, clue)
          assert(rows(tables(0)) === rows(tables(1)), clue)
          assert(changed(tables(0), vc) === changed(tables(1), vd), clue)
        }
    }
  }

  test("merging the same source twice is a no-op (upsert idempotence)") {
    forAll(Table("n", 10, 57, 200)) { n =>
      val path = freshTable(n)
      val src = (n / 2 to n + 5).map(i => (i.toLong, s"u$i", i * 2.0))
        .toDF("id", "k", "v")
      def mergeOnce(): Unit =
        LakeTable.forPath(spark, path).as("t")
          .merge(src.as("s"), "t.id = s.id")
          .whenMatchedUpdate(Map("k" -> "s.k", "v" -> "s.v"))
          .whenNotMatchedInsert(Map(
            "id" -> "s.id", "k" -> "s.k", "v" -> "s.v"))
          .execute()
      mergeOnce()
      val after1 = LakeTable.forPath(spark, path).toDF
        .orderBy("id").collect().toSeq
      mergeOnce()
      val after2 = LakeTable.forPath(spark, path).toDF
        .orderBy("id").collect().toSeq
      assert(after1 === after2)
    }
  }

  test("delete then restore-from-previous-version round-trips exactly") {
    forAll(Table("n", 20, 111)) { n =>
      val path = freshTable(n)
      val t = LakeTable.forPath(spark, path)
      val v0 = t.snapshot().version
      val before = t.toDF.orderBy("id").collect().toSeq
      t.delete(s"id % 3 = 0")
      val restored = LakeTable.forPath(spark, path)
        .asOf(v0).filter("id % 3 = 0")
      LakeWriter.write(restored, path, operation = "INSERT")
      val after = LakeTable.forPath(spark, path).toDF
        .orderBy("id").collect().toSeq
      assert(after === before)
    }
  }

  test("every log prefix yields a consistent snapshot (counts monotone per op)") {
    val path = tablePath("prop-prefix")
    val expected = scala.collection.mutable.ArrayBuffer[Long]()
    var running = 0L
    (1 to 12).foreach { i =>
      LakeWriter.write(
        Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1), path)
      running += 1
      expected += running
    }
    val t = LakeTable.forPath(spark, path)
    expected.zipWithIndex.foreach { case (cnt, v) =>
      assert(t.asOf(v).count() === cnt, s"at version $v")
    }
  }

  test("concurrent appends all land under optimistic retry (D11)") {
    val path = freshTable(5)
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(writers)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to writers).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            start.await()
            LakeWriter.write(
              Seq((100L + w, s"w$w", 0.0)).toDF("id", "k", "v").coalesce(1),
              path)
          } catch { case t: Throwable => errors.add(t) }
          finally done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(errors.isEmpty, s"writer failures: ${errors}")
    val t = LakeTable.forPath(spark, path)
    assert(t.toDF.count() === 5 + writers)
    assert(t.snapshot().version === writers.toLong) // v0 + one per writer
  }

  test("RowIndexSet agrees with a reference Set across density regimes") {
    // generative sweep over sparsity shapes: per seed, draw indices
    // from a window whose width sets container density (dense windows
    // exercise the bitmap path, wide ones the sorted-shorts path, and
    // sizes straddle the 4096 conversion cutoff)
    forAll(Table(("seed", "n", "window"),
      (1, 100, 1L << 14),          // single sparse container
      (2, 6000, 1L << 15),         // dense: forces bitmap conversion
      (3, 5000, 1L << 34),         // spread: many sparse containers
      (4, 4096, 1L << 16),         // exactly at the cutoff, one key
      (5, 20000, 1L << 20))) { (seed, n, window) =>
      val rnd = new scala.util.Random(seed)
      val reference = Iterator.continually(rnd.nextLong(window))
        .take(n).toSet
      val sorted = reference.toArray.sorted
      val set = RowIndexSet.fromSorted(sorted)
      assert(set.cardinality === sorted.length.toLong)
      sorted.foreach(i => assert(set.contains(i)))
      (0 until 2 * n).foreach { _ =>
        val probe = rnd.nextLong(window * 2)
        assert(set.contains(probe) === reference(probe), s"probe $probe")
      }
      // round-trip through the sidecar codec preserves membership
      val dir = tmpDir(s"rixs-$seed")
      val rel = DeletionVector.write(dir, sorted)
      val decoded = DeletionVector.readSet(
        java.nio.file.Paths.get(dir, rel))
      assert(decoded.cardinality === sorted.length.toLong)
      sorted.foreach(i => assert(decoded.contains(i)))
    }
  }

  test("applyChanges replica converges under random DML sequences") {
    // CDC replication must converge for ANY interleaving of appends,
    // expression updates, and deletes — including updates that touch
    // the same key several times between syncs (the latest-per-key
    // collapse) and deletes of never-synced rows. Runs with deletion
    // vectors ON for one seed so the CDC emission path differs.
    import org.apache.spark.sql.functions._
    val seeds = Table("seed", 7, 20) // one odd (DV on), one even (CoW)
    forAll(seeds) { seed =>
      val rnd = new scala.util.Random(seed)
      val dv = seed % 2 == 1
      val src = tablePath(s"prop-ac-src-$seed")
      val dst = tablePath(s"prop-ac-dst-$seed")
      val ckpt = tmpDir(s"prop-ac-ckpt-$seed")
      val props = if (dv) Map("graft.enableDeletionVectors" -> "true")
        else Map.empty[String, String]
      var nextId = 0L
      def freshRows(n: Int) = {
        val rows = (0 until n).map { _ =>
          nextId += 1; (nextId, rnd.nextInt(100).toLong)
        }
        rows.toDF("id", "v")
      }
      LakeWriter.write(freshRows(30), src, properties = props)
      def sync(): Unit = {
        graft.streaming.LakeStreaming
          .applyChanges(spark, src, dst, ckpt, Seq("id"))
          .awaitTermination(120000)
        val sRows = LakeTable.forPath(spark, src).toDF
          .orderBy("id").collect().toSeq
        val dRows = LakeTable.forPath(spark, dst).toDF
          .orderBy("id").collect().toSeq
        assert(dRows === sRows, s"replica diverged (seed=$seed, dv=$dv)")
      }
      sync()
      (1 to 4).foreach { _ =>
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          rnd.nextInt(3) match {
            case 0 => LakeWriter.write(freshRows(1 + rnd.nextInt(10)), src)
            case 1 =>
              val m = 1 + rnd.nextInt(7)
              LakeTable.forPath(spark, src)
                .update(s"id % $m = 0", Map("v" -> s"v + ${rnd.nextInt(9)}"))
            case 2 =>
              val m = 2 + rnd.nextInt(9)
              LakeTable.forPath(spark, src).delete(s"id % $m = 1")
          }
        }
        sync()
      }
    }
  }

  test("metadata-only aggregates equal scan answers on random shapes") {
    // The MetadataOnlyAggregate rewrite answers from log stats; a bug
    // there is a silently wrong number, not an exception. Sweep random
    // combinations of (aggregates × partition filter × grouping) over
    // a table with nulls, a null partition, and skew, and require the
    // lake answer (rewrite eligible) to equal the same aggregate
    // computed on the in-memory source frame (rewrite structurally
    // inapplicable — LocalRelation, not a lake scan).
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(4242)
    val rows = (1L to 400L).map { i =>
      val s = if (i % 17 == 0) null else s"s${i % 50}"
      val d = java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays((i % 37).toInt))
      val p = if (i % 11 == 0) null else s"p${i % 5}"
      (i, s, d, p)
    }
    val src = rows.toDF("id", "s", "d", "p")
    val path = tablePath("prop-metaagg")
    src.write.format("lake").partitionBy("p").save(path)
    val lake = spark.read.format("lake").load(path)

    // (alias, kind, target column) — columns are built at use time so
    // the mapped-twin leg below can retarget "s" to its renamed name
    val aggPool: Seq[(String, String, String)] = Seq(
      ("n", "count1", ""), ("cs", "count", "s"),
      ("mi", "min", "id"), ("ma", "max", "id"),
      ("ms", "min", "s"), ("xs", "max", "s"),
      ("md", "min", "d"), ("xd", "max", "d"),
      ("mp", "min", "p"), ("xp", "max", "p"))
    def mkAgg(kind: String, c: String): org.apache.spark.sql.Column =
      kind match {
        case "count1" => count(lit(1))
        case "count"  => count(col(c))
        case "min"    => min(col(c))
        case "max"    => max(col(c))
      }
    val filterPool: Seq[Option[String]] = Seq(None,
      Some("p = 'p1'"), Some("p IS NULL"), Some("p IS NOT NULL"),
      Some("p <> 'p2'"), Some("p IN ('p0', 'p3')"),
      Some("p > 'p1'"), Some("p = 'absent'"))
    // a column-mapped twin of the same data, with a mid-life rename:
    // stats live under PHYSICAL names there, so the same sweep also
    // exercises the physFor translation in every aggregate path
    val mpath = tablePath("prop-metaagg-mapped")
    LakeWriter.write(src, mpath, partitionBy = Seq("p"),
      properties = Map(ColumnMapping.MODE_PROP -> "name"))
    LakeTable.forPath(spark, mpath).renameColumn("s", "s2")
    val mlake = spark.read.format("lake").load(mpath)
    val msrc = src.withColumnRenamed("s", "s2")

    (1 to 40).foreach { _ =>
      val picked = rnd.shuffle(aggPool).take(1 + rnd.nextInt(4))
      val filt = filterPool(rnd.nextInt(filterPool.size))
      val grouped = rnd.nextBoolean()
      def run(df: org.apache.spark.sql.DataFrame,
          renamed: Boolean) = {
        val aggs = picked.map { case (alias, kind, c) =>
          mkAgg(kind, if (renamed && c == "s") "s2" else c).as(alias)
        }
        val f = filt.fold(df)(df.where)
        val a = if (grouped)
          f.groupBy("p").agg(aggs.head, aggs.tail: _*)
        else f.agg(aggs.head, aggs.tail: _*)
        a.collect().map(_.toSeq.map {
          case null => "null"
          case v => v.toString
        }.mkString("|")).sorted.toSeq
      }
      assert(run(lake, renamed = false) === run(src, renamed = false),
        s"metadata aggregate diverged for aggs=${picked.mkString(",")} " +
        s"filter=$filt grouped=$grouped")
      assert(run(mlake, renamed = true) === run(msrc, renamed = true),
        s"MAPPED metadata aggregate diverged for " +
        s"aggs=${picked.mkString(",")} filter=$filt grouped=$grouped")
    }
  }
}
