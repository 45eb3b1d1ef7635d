package graft.lake

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Direct-write commits ([[DirectWriteProtocol]]): every data file is
  * written once, in its final place in the table, and a write that
  * fails at any point leaves the table's directory as it was. No write
  * leaves committer crumbs behind.
  */
class LakeDirectWriteSuite extends SparkSuite {
  import spark.implicits._

  private def seed = (1L to 100L).toDF("id").coalesce(1)

  /** No `.crc`, `_SUCCESS` or `_temporary` anywhere under `path`, log
    * included.
    */
  private def assertNoCrumbs(path: String): Unit = {
    val s = Files.walk(Paths.get(path))
    val crumbs = try s.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".crc") || n == "_SUCCESS" ||
        n == "_temporary").toList
    finally s.close()
    assert(crumbs.isEmpty, s"committer crumbs under $path: $crumbs")
  }

  test("a write whose job fails after some tasks committed leaves no file") {
    val path = tablePath("dw-job-fail")
    LakeWriter.write(seed, path) // v0
    // partition 3 of 4 throws only after the other three committed
    val boom = udf { (part: Int, id: Long) =>
      if (part == 3) {
        Thread.sleep(1500)
        throw new IllegalStateException("boom in partition 3")
      }
      id
    }
    val succeeded = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.successful) succeeded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[Exception] {
        LakeWriter.write(spark.range(0L, 400L, 1L, 4)
          .select(boom(spark_partition_id(), $"id").as("id")), path)
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (succeeded.get() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(succeeded.get() >= 3, "the other partitions never committed")
    } finally spark.sparkContext.removeSparkListener(listener)
    assertNoStagedDebris(path)
    assertNoCrumbs(path)
    val t = LakeTable.forPath(spark, path)
    assert(t.snapshot().version === 0L)
    assert(t.toDF.count() === 100L)
  }

  test("a bloom-indexed write rejected after its files landed leaves no file") {
    val path = tablePath("dw-bloom-float")
    val frame = spark.range(10L)
      .select($"id", $"id".cast("double").as("x")).coalesce(2)
    LakeWriter.write(frame, path) // v0
    LakeTable.forPath(spark, path)
      .setTblProperties(Map(BloomIndex.PROP_COLUMNS -> "x")) // v1
    // the column type is only checked when the sidecars are built,
    // after the data files are written
    val e = intercept[IllegalArgumentException] {
      LakeWriter.write(frame, path)
    }
    assert(e.getMessage.contains("unsupported type"))
    assertNoStagedDebris(path)
    assertNoCrumbs(path)
    assert(LakeTable.forPath(spark, path).snapshot().version === 1L)
  }

  test("successful writes leave only files the log names, and no crumbs") {
    def check(path: String): Unit = {
      assertNoStagedDebris(path)
      assertNoCrumbs(path)
    }
    val rows = Seq((1L, "a", "x"), (2L, "b", ""), (3L, "a", "y"),
      (4L, "c", "z")).toDF("id", "k", "p")

    val plain = tablePath("dw-plain")
    LakeWriter.write(rows.repartition(3), plain)
    LakeWriter.write(rows, plain)
    check(plain)

    val parted = tablePath("dw-parted")
    LakeWriter.write(rows.repartition(3), parted, partitionBy = Seq("p"))
    check(parted)
    // an empty partition value lands in Hive's default partition
    assert(LakeTable.forPath(spark, parted).toDF
      .filter($"p".isNull).count() === 1L)

    val bucketed = tablePath("dw-bucketed")
    LakeWriter.write(rows, bucketed, properties = Map(
      LakeTable.PROP_BUCKET_BY -> "k", LakeTable.PROP_BUCKET_COUNT -> "4"))
    LakeWriter.write(rows, bucketed)
    check(bucketed)

    val bloom = tablePath("dw-bloom")
    LakeWriter.write(rows.repartition(2), bloom,
      properties = Map(BloomIndex.PROP_COLUMNS -> "k"))
    assert(LakeTable.forPath(spark, bloom).snapshot().files
      .forall(_.bloomPath.isDefined))
    check(bloom)

    val mapped = tablePath("dw-mapped")
    LakeWriter.write(rows, mapped)
    val mt = LakeTable.forPath(spark, mapped)
    mt.setTblProperties(Map(ColumnMapping.MODE_PROP -> "name"))
    mt.renameColumn("k", "label")
    LakeWriter.write(rows.withColumnRenamed("k", "label"), mapped)
    check(mapped)

    // copy-on-write UPDATE with the change feed on: data and cdc files
    val cdc = tablePath("dw-cdc")
    LakeWriter.write(rows.repartition(2), cdc)
    LakeTable.forPath(spark, cdc).update("id <= 2", Map("k" -> "'u'"))
    assert(new LakeLog(cdc).readVersion(1).exists(_.isInstanceOf[CdcFile]))
    check(cdc)
    assert(LakeTable.forPath(spark, cdc).toDF
      .filter($"k" === "u").count() === 2L)
  }
}
