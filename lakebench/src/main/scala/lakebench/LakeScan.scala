package lakebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{LakeLog, LakeTable, LakeWriter}

/** Read-only queries over `lineitem` and `orders` lake tables that
  * set-up writes from `replicas` copies of sf0.1, each copy under its
  * own keys. `lineitem` takes two commits: the orders up to seven
  * eighths of the keys, then the rest, so the previous version is a
  * real time-travel target.
  *
  * Plan ops: `partition_filter year`, `minmax_filter lo hi`,
  * `shuffle_agg day`, `join year month`, `count_star`,
  * `asof_prev year`.
  */
final class LakeScan(spark: SparkSession, seed: Long, replicas: Int, src: String)
    extends Workload {

  private val n = Data.OrdersPerSf01
  private val cut = replicas * n * 7 / 8

  def prepare(): Unit = {
    def replicated(f: Long => DataFrame) =
      (0 until replicas).map(r => f(r * n)).reduce(_ union _)
    replicated(Data.lineitem(spark, seed, n, _))
      .write.mode("overwrite").parquet(s"$src/lineitem")
    replicated(Data.orders(spark, seed, n, _))
      .write.mode("overwrite").parquet(s"$src/orders")
  }

  def setup(dir: String): Unit = {
    val lineitem = spark.read.parquet(s"$src/lineitem")
    LakeWriter.write(lineitem.where(col("l_orderkey") <= cut),
      s"$dir/lineitem", partitionBy = Seq("l_shipyear"))
    LakeWriter.write(lineitem.where(col("l_orderkey") > cut), s"$dir/lineitem")
    LakeWriter.write(spark.read.parquet(s"$src/orders"), s"$dir/orders",
      partitionBy = Seq("o_year"))
  }

  def open(dir: String): Copy = new ScanCopy(dir)

  /** The lineitem filter a query applies, for the pruning count. */
  private def filterOf(op: Op): String = op.kind match {
    case "partition_filter" | "asof_prev" => s"l_shipyear = ${op.int(0)}"
    case "minmax_filter" =>
      s"l_orderkey BETWEEN ${op.long(0)} AND ${op.long(1)}"
    case "shuffle_agg" =>
      s"l_shipdate <= DATE '${java.time.LocalDate.parse(Data.FirstDate)
        .plusDays(op.long(0))}'"
    case _ => "true"
  }

  /** A query of the plan over `lineitem` and `orders`, wherever they
    * come from: the lake tables or the source parquet.
    */
  private def query(op: Op, lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val f = expr(filterOf(op))
    op.kind match {
      case "partition_filter" | "asof_prev" =>
        lineitem.where(f).agg(count(lit(1)), sum("l_extendedprice"),
          sum("l_quantity"))
      case "minmax_filter" =>
        lineitem.where(f).agg(count(lit(1)), sum("l_extendedprice"))
      case "shuffle_agg" =>
        lineitem.where(f).groupBy("l_suppkey")
          .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
          .orderBy(col("q").desc, col("l_suppkey")).limit(5)
      case "join" =>
        val from = java.time.LocalDate.of(op.int(0), op.int(1), 1)
        lineitem.join(orders.where(col("o_orderdate") >= lit(from.toString)
          .cast("date") && col("o_orderdate") < lit(from.plusMonths(1).toString)
          .cast("date")), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("l_extendedprice"), count(lit(1)))
      case "count_star" => lineitem.groupBy().agg(count(lit(1)))
      case k => sys.error(s"unknown lake_scan op $k")
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private final class ScanCopy(dir: String) extends Copy {
    private val lineitemPath = s"$dir/lineitem"
    private val previous = new LakeLog(lineitemPath).latestVersion - 1
    private val results = mutable.LinkedHashMap.empty[Op, Seq[String]]
    private val mismatches = mutable.ArrayBuffer.empty[String]

    def tables: Seq[String] = Seq(lineitemPath, s"$dir/orders")

    def run(op: Op, t: Trace): Seq[Double] = {
      val (rows, ms) = Calls.timed {
        val snap =
          if (op.kind == "asof_prev") Calls.snapshotAsOf(t, lineitemPath, previous)
          else Calls.snapshot(t, lineitemPath)
        Calls.prune(t, snap, filterOf(op))
        t.span(s"scan.${op.kind}") {
          val lineitem = LakeTable.forPath(spark, lineitemPath)
          rowsOf(query(op,
            if (op.kind == "asof_prev") lineitem.asOf(previous) else lineitem.toDF,
            LakeTable.forPath(spark, s"$dir/orders").toDF))
        }
      }
      results.get(op) match {
        case Some(first) if first != rows =>
          mismatches += s"$op gave $rows after $first"
        case Some(_) =>
        case None => results(op) = rows
      }
      Seq(ms)
    }

    /** Every distinct query equals the same query over the source parquet. */
    def check(): Seq[String] = {
      val lineitem = spark.read.parquet(s"$src/lineitem")
      val orders = spark.read.parquet(s"$src/orders")
      results.foreach { case (op, got) =>
        val want = rowsOf(query(op,
          if (op.kind == "asof_prev") lineitem.where(col("l_orderkey") <= cut)
          else lineitem, orders))
        if (got != want) mismatches += s"$op: got $got, want $want"
      }
      mismatches.toSeq
    }
  }
}
