package graft.plans

import java.sql.{Date, Timestamp}

import graft.SparkSuite
import graft.lake.{LakeTable, LakeWriter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** [[StableLiterals]] changes how constants reach generated code, never
  * what a query returns: filters and projections over every literal
  * type it rewrites, at their edge values, return the same rows with
  * whole-stage codegen on as under interpreted evaluation, and a lake
  * scan keeps its pushed filters and its pruned file set.
  */
class StableLiteralsSuite extends SparkSuite {

  private def typedTable(): String = {
    val path = tmpDir("stable-literals") + "/t.parquet"
    import spark.implicits._
    Seq[(Option[Int], Option[Long], Option[Short], Option[Byte], Option[Date],
        Option[Timestamp], Option[Float], Option[Double])](
      (Some(Int.MinValue), Some(Long.MinValue), Some(Short.MinValue),
        Some(Byte.MinValue), Some(Date.valueOf("1969-12-31")),
        Some(Timestamp.valueOf("1901-06-01 00:00:00")), Some(Float.NaN),
        Some(Double.NaN)),
      (Some(Int.MaxValue), Some(Long.MaxValue), Some(Short.MaxValue),
        Some(Byte.MaxValue), Some(Date.valueOf("1970-01-01")),
        Some(Timestamp.valueOf("1970-01-01 00:00:00")), Some(-0.0f),
        Some(-0.0)),
      (Some(0), Some(0L), Some(0.toShort), Some(0.toByte),
        Some(Date.valueOf("1600-02-29")),
        Some(Timestamp.valueOf("2024-02-29 12:34:56.789")), Some(0.0f),
        Some(0.0)),
      (Some(-7), Some(-7L), Some((-7).toShort), Some((-7).toByte),
        Some(Date.valueOf("2038-01-19")),
        Some(Timestamp.valueOf("1969-12-31 23:59:59.999999")),
        Some(Float.PositiveInfinity), Some(Double.NegativeInfinity)),
      (None, None, None, None, None, None, None, None))
      .toDF("i", "l", "s", "b", "d", "ts", "f", "db")
      .coalesce(1).write.parquet(path)
    path
  }

  private lazy val table = typedTable()

  private val filters: Seq[Column] = Seq(
    col("i") === Int.MinValue, col("i") > -8, col("i") =!= Int.MaxValue,
    col("l") === Long.MaxValue, col("l") <= -7L,
    col("l").isin(Long.MinValue, 0L, Long.MaxValue),
    col("s") === Short.MinValue, col("s").isin(Short.MaxValue, (-7).toShort),
    col("b") === Byte.MaxValue, col("b").isin(Byte.MinValue, 0.toByte),
    col("d") < lit(Date.valueOf("1970-01-01")),
    col("d").isin(Date.valueOf("1600-02-29"), Date.valueOf("2038-01-19")),
    col("ts") <= lit(Timestamp.valueOf("1969-12-31 23:59:59.999999")),
    col("ts") === lit(Timestamp.valueOf("1901-06-01 00:00:00")),
    col("f") === Float.NaN, col("f") === -0.0f, col("f") > 0.0f,
    col("f").isin(Float.NaN, Float.PositiveInfinity),
    col("db") === Double.NaN, col("db") === 0.0, col("db") < -1e308,
    col("db").isin(-0.0, Double.NegativeInfinity))

  private val projections: Seq[Column] = Seq(
    // no arithmetic that can overflow at the edge values: ANSI mode
    // would fail both arms alike and compare nothing
    col("i") % 7, col("l") % lit(Long.MaxValue),
    greatest(col("s"), lit((-7).toShort)), least(col("b"), lit(1.toByte)),
    date_add(col("d"), 40000),
    col("d") === lit(Date.valueOf("1969-12-31")),
    col("ts") + expr("INTERVAL '1' DAY"), col("ts") + expr("INTERVAL '1' MONTH"),
    col("f") * lit(Float.NaN), col("f") + lit(-0.0f), col("db") * lit(-0.0),
    when(col("i") === Int.MinValue, lit(Double.NaN)).otherwise(lit(-0.0)),
    coalesce(col("l"), lit(Long.MaxValue)), lit(Byte.MinValue),
    lit(Float.MaxValue), lit(Double.MinPositiveValue))

  private def queries: Seq[(String, () => DataFrame)] = {
    def base = spark.read.parquet(table)
    filters.map(f => s"filter $f" -> (() => base.where(f))) ++
      projections.map(p => s"select $p" -> (() => base.select(p))) ++
      Seq("filter and select" -> (() => base
        .where(col("i") =!= 0 && col("db").isNotNull)
        .select(col("l") % lit(1000L), col("f") === lit(-0.0f), col("d"))))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("codegen with the rule returns what interpreted evaluation returns") {
    val compiled = queries.map { case (name, q) =>
      val df = q()
      val got = rows(df)
      val stable = finalPlan(df).collect {
        case p => p.expressions.flatMap(_.collect { case s: StableLiteral => s })
      }.flatten
      assert(stable.nonEmpty, s"$name: the rule left no StableLiteral")
      name -> got
    }
    val interpreted = withConfs(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      queries.map { case (name, q) => name -> rows(q()) }
    }
    compiled.zip(interpreted).foreach { case ((name, c), (_, i)) =>
      assert(c === i, name)
    }
    // the edge rows are really selected, not all filtered away
    def count(f: Column) = rows(spark.read.parquet(table).where(f)).size
    assert(count(col("f") === Float.NaN) === 1)
    assert(count(col("db") === 0.0) === 2)
    assert(count(col("d") < lit(Date.valueOf("1970-01-01"))) === 2)
  }

  test("a lake scan keeps its pushed filters and pruned file set") {
    import spark.implicits._
    val path = tablePath("orders")
    LakeWriter.write((1L to 400L).map(k => (k, k * 1.5))
      .toDF("o_orderkey", "o_totalprice").repartitionByRange(4, $"o_orderkey")
      .sortWithinPartitions("o_orderkey"), path)
    val df = LakeTable.forPath(spark, path).toDF.where("o_orderkey = 123")
      .select("o_totalprice")
    assert(df.collect().map(_.getDouble(0)) === Array(184.5))
    def scanOf(p: SparkPlan) = p.collectFirst { case s: FileSourceScanExec => s }.get
    val before = scanOf(df.queryExecution.sparkPlan)
    val plan = finalPlan(df)
    val after = scanOf(plan)
    assert(after.dataFilters === before.dataFilters)
    assert(after.partitionFilters === before.partitionFilters)
    assert(after.metadata("PushedFilters") === before.metadata("PushedFilters"))
    assert(after.metadata("PushedFilters").contains("EqualTo(o_orderkey,123)"))
    assert(!after.dataFilters.exists(_.exists(_.isInstanceOf[StableLiteral])))
    // min/max pruning keeps the one file that can hold the key
    assert(after.metrics("numFiles").value === 1L)
    // ... while the filter above the scan reads its key by reference
    assert(plan.collectFirst { case f: FilterExec => f.condition }.get
      .exists(_ == StableLiteral(123L, org.apache.spark.sql.types.LongType)))
  }
}
