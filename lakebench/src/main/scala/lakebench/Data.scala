package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seeded TPC-H-shaped inputs. Every column is a pure function of the
  * row key and the seed, so the same seed always yields the same rows,
  * and the client-side model can recompute any order's price without
  * reading the table.
  *
  * Orders arrive over time: `o_orderdate` grows with `o_orderkey`, the
  * way an order table fills, so files written in key order carry tight
  * min/max ranges for both the key and the date.
  */
object Data {

  /** Orders at scale factor 0.1. */
  val OrdersPerSf01 = 150000L
  /** Lineitem rows per order (TPC-H averages four). */
  val LinesPerOrder = 4L
  /** Days spanned by the first `OrdersPerSf01` keys (1992-01-01 on). */
  private val DateSpanDays = 2400L
  val FirstDate = "1992-01-01"

  private val Price = DecimalType(12, 2)

  private def mix(seed: Long): Long = (seed % 1000003L) * 40503L

  /** Price of an order in cents; the model uses the same function. */
  def priceCents(seed: Long, key: Long): Long =
    Math.floorMod(key * 2654435761L + mix(seed), 45000000L) + 90000L

  private def priceCentsCol(seed: Long, key: Column): Column =
    pmod(key * 2654435761L + lit(mix(seed)), lit(45000000L)) + 90000L

  /** Cents to DECIMAL(12,2), exactly. */
  def centsToPrice(cents: Column): Column =
    (cents.cast(DecimalType(14, 0)) / lit(100)).cast(Price)

  def dayOf(key: Column, n: Long): Column =
    ((key - 1) * DateSpanDays / n).cast("int")

  /** Orders rows for keys in `keys` (a DataFrame with a long `id`).
    * Key `k` is dated as key `k - offset` of a table of `n` orders, so a
    * replica shifted by `offset` keeps the same dates.
    */
  def ordersFrom(keys: DataFrame, seed: Long, n: Long,
      offset: Long = 0L, cents: Option[Column] = None): DataFrame = {
    val k = col("id")
    val date = date_add(lit(FirstDate).cast("date"), dayOf(k - offset, n))
    keys.select(
      k.as("o_orderkey"),
      (pmod(k * 7919L + lit(seed), lit(15000L)) + 1L).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(k + lit(seed), lit(3L)) + 1L).cast("int")).as("o_orderstatus"),
      centsToPrice(cents.getOrElse(priceCentsCol(seed, k))).as("o_totalprice"),
      date.as("o_orderdate"),
      concat(pmod(k * 31L + lit(seed), lit(5L)) + 1L, lit("-PRIORITY"))
        .as("o_orderpriority"),
      format_string("Clerk#%09d", pmod(k * 13L + lit(seed), lit(1000L)) + 1L)
        .as("o_clerk"),
      lit(0).as("o_shippriority"),
      concat(lit("order "), pmod(k * 104729L + lit(seed), lit(1000003L)))
        .as("o_comment"),
      year(date).as("o_year"))
  }

  /** `n` orders, keys `offset + 1 to offset + n`. */
  def orders(spark: SparkSession, seed: Long, n: Long,
      offset: Long = 0L, parts: Int = 4): DataFrame =
    ordersFrom(spark.range(offset + 1, offset + n + 1, 1, parts).toDF(),
      seed, n, offset)

  /** `orders` rows for explicit keys with explicit prices (cents), for
    * appends and MERGE sources. `n` is the table's base size, which fixes
    * the key-to-date mapping.
    */
  def ordersWithPrices(spark: SparkSession, seed: Long, n: Long,
      rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    ordersFrom(rows.toDF("id", "cents"), seed, n, cents = Some(col("cents")))
  }

  /** Lineitem rows of `orders(spark, seed, n, offset)`: four lines per
    * order, shipped 1 to 121 days after the order date.
    */
  def lineitem(spark: SparkSession, seed: Long, n: Long, offset: Long = 0L,
      parts: Int = 4): DataFrame = {
    val r = col("id")
    val base = (r / LinesPerOrder).cast("long") + 1L
    val k = base + offset
    val orderDay = dayOf(base, n)
    val ship = date_add(lit(FirstDate).cast("date"),
      orderDay + (pmod(r * 17L + lit(seed), lit(121L)) + 1L).cast("int"))
    val qty = pmod(r * 29L + lit(seed), lit(50L)) + 1L
    val part = pmod(r * 7L + k * 11L + lit(seed), lit(20000L)) + 1L
    spark.range(0, n * LinesPerOrder, 1, parts).select(
      k.as("l_orderkey"),
      part.as("l_partkey"),
      (pmod(part * 3L + r, lit(1000L)) + 1L).as("l_suppkey"),
      (pmod(r, lit(LinesPerOrder)) + 1L).cast("int").as("l_linenumber"),
      qty.cast(DecimalType(12, 2)).as("l_quantity"),
      centsToPrice(qty * (pmod(part * 97L, lit(100000L)) + 90000L))
        .as("l_extendedprice"),
      (pmod(r * 5L + lit(seed), lit(11L)).cast(DecimalType(12, 2)) / 100)
        .cast(DecimalType(12, 2)).as("l_discount"),
      (pmod(r * 3L + lit(seed), lit(9L)).cast(DecimalType(12, 2)) / 100)
        .cast(DecimalType(12, 2)).as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")),
        (pmod(r + k, lit(3L)) + 1L).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(k, lit(2L)) + 1L).cast("int")).as("l_linestatus"),
      ship.as("l_shipdate"),
      element_at(array(lit("TRUCK"), lit("MAIL"), lit("SHIP"), lit("AIR"),
        lit("RAIL")), (pmod(r * 13L + lit(seed), lit(5L)) + 1L).cast("int"))
        .as("l_shipmode"),
      concat(lit("line "), pmod(r * 104729L + lit(seed), lit(1000003L)))
        .as("l_comment"),
      year(ship).as("l_shipyear"))
  }
}
