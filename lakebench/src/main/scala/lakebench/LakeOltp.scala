package lakebench

import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.{LakeLog, LakeTable, LakeWriter}

/** Small reads and writes against two copies of `orders`: one rewrites
  * files on DML (copy-on-write), the other marks deleted rows in
  * deletion vectors. Ops alternate between the copies.
  *
  * Plan ops, each led by its copy (0 copy-on-write, 1 deletion vectors):
  * `point c key`, `range c year month`, `asof c back`,
  * `append c key:cents,...`, `update c key:cents`, `delete c key`,
  * `merge c key:cents,...`.
  */
final class LakeOltp(spark: SparkSession, seed: Long, orders: Int)
    extends Workload {

  def prepare(): Unit = ()

  private def tables(dir: String) = Seq(s"$dir/cow", s"$dir/dv")

  /** Set-up loads each table in this many appends of consecutive keys,
    * so a run's writes cross a checkpoint version.
    */
  private val LoadCommits = 3

  private def loaded(v: Long): Long = orders.toLong * (v + 1) / LoadCommits

  def setup(dir: String): Unit =
    tables(dir).zip(Seq(false, true)).foreach { case (path, dv) =>
      (0 until LoadCommits).foreach { v =>
        val first = loaded(v - 1)
        LakeWriter.write(
          Data.ordersFrom(spark.range(first + 1, loaded(v) + 1, 1, 4).toDF(),
            seed, orders),
          path, partitionBy = Seq("o_year"),
          properties = if (dv) Map(LakeTable.PROP_ENABLE_DV -> "true") else Map.empty)
      }
    }

  def open(dir: String): Copy = new OltpCopy(tables(dir))

  private val firstDate = LocalDate.parse(Data.FirstDate)

  /** (year, month) of an order's date, as [[Data.dayOf]] assigns it. */
  private def monthOf(key: Long): (Int, Int) = {
    val d = firstDate.plusDays((key - 1) * 2400L / orders)
    (d.getYear, d.getMonthValue)
  }

  /** The client's model of one table: every live order's price, the
    * row count and price sum overall and per month, and the count and
    * sum at every version.
    */
  private final class Model {
    private val price = mutable.LongMap.empty[Long]
    private val months = mutable.HashMap.empty[(Int, Int), (Long, Long)]
    var count = 0L
    var sum = 0L
    var version = -1L
    val history = mutable.LongMap.empty[(Long, Long)]

    (0 until LoadCommits).foreach { v =>
      (loaded(v - 1) + 1 to loaded(v)).foreach(k => put(k, Data.priceCents(seed, k)))
      published()
    }

    private def bump(k: Long, dc: Long, ds: Long): Unit = {
      count += dc; sum += ds
      val m = monthOf(k)
      val (c, s) = months.getOrElse(m, (0L, 0L))
      months(m) = (c + dc, s + ds)
    }

    def priceOf(k: Long): Option[Long] = price.get(k)
    def month(y: Int, m: Int): (Long, Long) = months.getOrElse((y, m), (0L, 0L))

    def put(k: Long, cents: Long): Unit = {
      price.get(k).foreach(old => bump(k, -1, -old))
      price(k) = cents
      bump(k, 1, cents)
    }

    def remove(k: Long): Unit =
      price.remove(k).foreach(old => bump(k, -1, -old))

    def published(): Unit = { version += 1; history(version) = (count, sum) }
  }

  private def cents(r: Row, i: Int): Long =
    r.getDecimal(i).movePointRight(2).longValueExact

  private def countSum(rows: Array[Row]): (Long, Long) =
    (rows(0).getLong(0), Option(rows(0).getDecimal(1))
      .map(_.movePointRight(2).longValueExact).getOrElse(0L))

  private final class OltpCopy(val tables: Seq[String]) extends Copy {
    private val models = tables.map(_ => new Model)
    private val mismatches = mutable.ArrayBuffer.empty[String]

    private def expect[T](what: String, got: T, want: T): Unit =
      if (got != want) mismatches += s"$what: got $got, want $want"

    def run(op: Op, t: Trace): Seq[Double] = {
      val c = op.int(0)
      val path = tables(c)
      val model = models(c)
      val flavor = if (c == 0) "cow" else "dv"
      def table = LakeTable.forPath(spark, path)
      def read[T](filter: String, span: String)(q: => T): (T, Double) =
        Calls.timed {
          val snap = Calls.snapshot(t, path)
          Calls.prune(t, snap, filter)
          t.span(span)(q)
        }
      op.kind match {
        case "point" =>
          val k = op.long(1)
          val f = s"o_orderkey = $k"
          val (rows, ms) = read(f, "sources.read_point") {
            table.toDF.where(f).select("o_totalprice").collect()
          }
          expect(s"$path point $k", rows.map(cents(_, 0)).toSeq,
            model.priceOf(k).toSeq)
          Seq(ms)
        case "range" =>
          val (y, m) = (op.int(1), op.int(2))
          val from = LocalDate.of(y, m, 1)
          val f = s"o_year = $y AND o_orderdate >= DATE '$from' AND " +
            s"o_orderdate < DATE '${from.plusMonths(1)}'"
          val (rows, ms) = read(f, "sources.read_range") {
            table.toDF.where(f)
              .agg(count(lit(1)), sum(col("o_totalprice"))).collect()
          }
          expect(s"$path range $y-$m", countSum(rows), model.month(y, m))
          Seq(ms)
        case "asof" =>
          val v = math.max(0L, model.version - op.long(1))
          val (rows, ms) = Calls.timed {
            Calls.snapshotAsOf(t, path, v)
            t.span("sources.read_asof") {
              table.asOf(v).agg(count(lit(1)), sum(col("o_totalprice"))).collect()
            }
          }
          expect(s"$path as of $v", countSum(rows), model.history(v))
          Seq(ms)
        case "append" =>
          val rows = op.pairs(1)
          Calls.commit(t, path, "lake.append") {
            LakeWriter.write(Data.ordersWithPrices(spark, seed, orders, rows), path)
          }
          rows.foreach { case (k, p) => model.put(k, p) }
          model.published()
          Nil
        case "update" =>
          val Seq((k, p)) = op.pairs(1)
          Calls.commit(t, path, s"lake.update_$flavor") {
            table.update(s"o_orderkey = $k", Map("o_totalprice" ->
              s"CAST(${BigDecimal(p, 2)} AS DECIMAL(12,2))"))
          }
          model.put(k, p)
          model.published()
          Nil
        case "delete" =>
          val k = op.long(1)
          Calls.commit(t, path, s"lake.delete_$flavor") {
            table.delete(s"o_orderkey = $k")
          }
          model.remove(k)
          model.published()
          Nil
        case "merge" =>
          val rows = op.pairs(1)
          Calls.commit(t, path, "lake.merge") {
            table.as("t")
              .merge(Data.ordersWithPrices(spark, seed, orders, rows).as("s"),
                "t.o_orderkey = s.o_orderkey")
              .whenMatchedUpdate(Map("o_totalprice" -> "s.o_totalprice"))
              .whenNotMatchedInsertAll()
              .execute()
          }
          rows.foreach { case (k, p) => model.put(k, p) }
          model.published()
          Nil
        case k => sys.error(s"unknown lake_oltp op $k")
      }
    }

    /** Each table's row count, price sum and version equal the model's. */
    def check(): Seq[String] = {
      tables.zip(models).foreach { case (path, model) =>
        val rows = LakeTable.forPath(spark, path).toDF
          .agg(count(lit(1)), sum(col("o_totalprice"))).collect()
        expect(s"$path count and price sum", countSum(rows),
          (model.count, model.sum))
        expect(s"$path version", new LakeLog(path).latestVersion, model.version)
      }
      mismatches.toSeq
    }
  }
}
