package graft.plans

import java.sql.Date

import graft.SparkSuite
import graft.lake.{ConstraintViolationException, LakeTable, LakeWriter}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each query shape compiles once: after one warm run, a point read, a
  * month-range read, an UPDATE, a DELETE and an upsert MERGE with new
  * keys and values compile no new classes, on a copy-on-write and on a
  * deletion-vector table. The internal checks that used `limit(1)`
  * (MERGE's duplicate match, CHECK constraints) still reject what they
  * rejected, with the same messages.
  */
class CodegenReuseSuite extends SparkSuite {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def yearOf(k: Long): Int = 1992 + (k % 4).toInt
  private def dateOf(k: Long): Date =
    Date.valueOf(f"${yearOf(k)}-${1 + (k % 12).toInt}%02d-${1 + (k % 28).toInt}%02d")

  private def orders(keys: Seq[Long], cents: Long => Long): DataFrame =
    keys.map(k => (k, yearOf(k), dateOf(k), BigDecimal(cents(k), 2)))
      .toDF("o_orderkey", "o_year", "o_orderdate", "o_totalprice")
      .select(col("o_orderkey"), col("o_year"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))

  /** The five lake_oltp-shaped ops, keyed by `round`: each round uses
    * other keys, months and prices, never the same literal twice.
    */
  private def shapes(path: String, round: Int): Seq[(String, () => Unit)] = {
    def table = LakeTable.forPath(spark, path)
    val k = 10L + 40 * round
    Seq(
      "point read" -> { () =>
        table.toDF.where(s"o_orderkey = ${k + 1}")
          .select("o_totalprice").collect(); ()
      },
      "month-range read" -> { () =>
        val y = 1992 + round % 4
        val from = java.time.LocalDate.of(y, 1 + round % 12, 1)
        table.toDF.where(s"o_year = $y AND o_orderdate >= DATE '$from' " +
          s"AND o_orderdate < DATE '${from.plusMonths(1)}'")
          .agg(count(lit(1)), sum(col("o_totalprice"))).collect(); ()
      },
      "UPDATE" -> { () =>
        table.update(s"o_orderkey = ${k + 2}", Map("o_totalprice" ->
          s"CAST(${BigDecimal(1000 + round, 2)} AS DECIMAL(12,2))"))
      },
      "DELETE" -> { () => table.delete(s"o_orderkey = ${k + 3}") },
      "MERGE" -> { () =>
        table.as("t")
          .merge(orders(Seq(k + 4, 1000L + round), _ => 500L + round).as("s"),
            "t.o_orderkey = s.o_orderkey")
          .whenMatchedUpdate(Map("o_totalprice" -> "s.o_totalprice"))
          .whenNotMatchedInsertAll()
          .execute()
      })
  }

  private def assertShapesReuseCode(props: Map[String, String]): Unit = {
    val path = tablePath("reuse")
    LakeWriter.write(orders(1L to 400L, k => 100 * k).repartition(4), path,
      partitionBy = Seq("o_year"), properties = props)
    // one DELETE before the warm round, so a deletion-vector table
    // already reads through its DV filter when the shapes first run
    LakeTable.forPath(spark, path).delete("o_orderkey = 400")
    shapes(path, 0).foreach(_._2())
    val grown = shapes(path, 1).flatMap { case (name, run) =>
      val before = compiles
      run()
      Some(compiles - before).filter(_ > 0).map(n => s"$name: $n")
    }
    assert(grown.isEmpty,
      s"classes compiled again for a warm shape: ${grown.mkString(", ")}")
  }

  test("copy-on-write table: warm shapes with new keys compile nothing") {
    assertShapesReuseCode(Map.empty)
  }

  test("deletion-vector table: warm shapes with new keys compile nothing") {
    assertShapesReuseCode(Map("graft.enableDeletionVectors" -> "true"))
  }

  test("limit-free MERGE duplicate check still rejects a duplicate match") {
    Seq(Map.empty[String, String],
        Map("graft.enableDeletionVectors" -> "true")).foreach { props =>
      val path = tablePath("dup")
      LakeWriter.write(orders(1L to 20L, k => k), path, properties = props)
      val e = intercept[IllegalStateException] {
        LakeTable.forPath(spark, path).as("t")
          .merge(orders(Seq(5L, 5L), _ => 7L).as("s"),
            "t.o_orderkey = s.o_orderkey")
          .whenMatchedUpdate(Map("o_totalprice" -> "s.o_totalprice"))
          .execute()
      }
      assert(e.getMessage === "MERGE failed: a target row was matched by " +
        "multiple source rows with update/delete clauses present; merge " +
        "results would be nondeterministic. Deduplicate the source on the " +
        "merge key.")
      assert(LakeTable.forPath(spark, path).snapshot().version === 0L)
    }
  }

  test("limit-free CHECK enforcement reports the first violated constraint") {
    val path = tablePath("check")
    LakeWriter.write(orders(1L to 20L, k => 100 * k), path)
    val t = LakeTable.forPath(spark, path)
    t.addConstraint("b_price_pos", "o_totalprice > 0")
    t.addConstraint("a_key_small", "o_orderkey < 1000")
    val v = t.snapshot().version
    // violates both: the first by name is reported
    val both = intercept[ConstraintViolationException] {
      LakeWriter.write(orders(Seq(2000L), _ => -1L), path)
    }
    assert(both.getMessage === s"write to $path violates CHECK constraint " +
      "a_key_small (o_orderkey < 1000)")
    val second = intercept[ConstraintViolationException] {
      LakeWriter.write(orders(Seq(21L), _ => -1L), path)
    }
    assert(second.getMessage === s"write to $path violates CHECK " +
      "constraint b_price_pos (o_totalprice > 0)")
    // NULL satisfies; a clean write commits
    LakeWriter.write(orders(Seq(22L), _ => 5L)
      .withColumn("o_totalprice", lit(null).cast("decimal(12,2)")), path)
    assert(t.snapshot().version === v + 1)
    val upd = intercept[ConstraintViolationException] {
      t.update("o_orderkey = 3", Map("o_totalprice" -> "-o_totalprice"))
    }
    assert(upd.getMessage.endsWith("b_price_pos (o_totalprice > 0)"))
    assert(t.snapshot().version === v + 1)
  }
}
