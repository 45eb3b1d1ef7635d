package lakebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.pipeline.{HealthFixtures, Ingest, Operations, Pipeline}

/** The paper's medallion ETL, one simulated hour per op: ingest the
  * hour's landing rows into the hour's own raw directory, run the
  * raw-to-bronze-to-silver batch over it, then read five gold
  * aggregates off silver: per device for two sets of devices, per day,
  * the hour just landed, and per user through the user dimension.
  *
  * Plan op: `batch <devices> <devices>`, the comma-separated devices of
  * the two per-device reads. The landing table holds `hours` hours, one
  * per op.
  */
final class Medallion(spark: SparkSession, hours: Int) extends Workload {

  def prepare(): Unit = ()

  def setup(dir: String): Unit = {
    new Ingest(s"$dir/landing", s"$dir/raw").prepareActivityData(spark, hours)
    pipeline(dir, 0).writeUserDimension(spark)
  }

  def open(dir: String): Copy = new MedallionCopy(dir)

  private val ops = new Operations(Operations.fixedClock("2020-03-01 00:00:00"))

  private def pipeline(dir: String, hour: Int) =
    new Pipeline(s"$dir/raw/h$hour", s"$dir/bronze", s"$dir/silver",
      s"$dir/user", ops)

  /** The closed form of `HealthFixtures.landingEvents`: device `d`'s
    * steps in hour `h`.
    */
  private def steps(h: Int, d: Int): Long = 1000L + (37L * (h * 10 + d)) % 4000L

  /** The date of hour `h`. */
  private def day(h: Int): String = f"2020-01-${h / 24 + 1}%02d"

  private final class MedallionCopy(dir: String) extends Copy {
    private val silver = s"$dir/silver"
    private val mismatches = mutable.ArrayBuffer.empty[String]
    private var hoursDone = 0

    def tables: Seq[String] =
      Seq("landing", "bronze", "silver", "user").map(t => s"$dir/$t")

    def run(op: Op, t: Trace): Seq[Double] = {
      val h = hoursDone
      require(h < hours, s"landing holds $hours hours; op asks for hour $h")
      Calls.commit(t, s"$dir/landing", "pipeline.ingest") {
        new Ingest(s"$dir/landing", s"$dir/raw/h$h")
          .ingestClassicData(spark, hours = 1, batchTag = s"b$h")
      }
      t.span("pipeline.run_batch")(pipeline(dir, h).runBatch(spark))
      hoursDone += 1

      def devices(i: Int) = op.args(i).split(',').map(_.toInt).toSeq
      val hourTs = f"2020-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00"
      val all = 1 to HealthFixtures.userNames.size
      def sums(ks: Seq[(String, Long)]) =
        ks.groupBy(_._1).map { case (k, v) => k -> (v.size.toLong, v.map(_._2).sum) }
      def byDevice(ds: Seq[Int]) =
        gold(t, s"after hour $h by device", s"device_id IN (${ds.mkString(", ")})",
          "device_id", sums(for (hh <- 0 to h; d <- ds) yield (d.toString, steps(hh, d))))
      Seq(
        byDevice(devices(0)),
        byDevice(devices(1)),
        gold(t, s"after hour $h by day", "true", "p_eventdate",
          sums(for (hh <- 0 to h; d <- all)
            yield (day(hh), steps(hh, d)))),
        gold(t, s"hour $h", s"eventtime = TIMESTAMP '$hourTs'", "eventtime",
          sums(all.map(d => (hourTs, steps(h, d))))),
        gold(t, s"after hour $h by user", "true", "user_name",
          sums(for (hh <- 0 to h; d <- all)
            yield (HealthFixtures.userNames(d - 1), steps(hh, d))),
          byUser = true))
    }

    /** One gold aggregate on silver: rows and steps per `key` (as a
      * string) under `filter`, checked against `want`; `byUser` first
      * joins the user dimension for `user_name`. Returns its milliseconds.
      */
    private def gold(t: Trace, what: String, filter: String, key: String,
        want: Map[String, (Long, Long)], byUser: Boolean = false): Double = {
      val (rows, ms) = Calls.timed {
        val snap = Calls.snapshot(t, silver)
        Calls.prune(t, snap, filter)
        t.span("pipeline.gold_read") {
          val facts = LakeTable.forPath(spark, silver).toDF.where(filter)
          val users = LakeTable.forPath(spark, s"$dir/user").toDF
            .select(col("device_id").as("user_device"), col("name").as("user_name"))
          (if (byUser) facts.join(users, col("device_id") === col("user_device"))
           else facts)
            .groupBy(col(key).cast("string"))
            .agg(count(lit(1)), sum(col("steps")).cast("long"))
            .collect()
        }
      }
      val got = rows.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      if (got != want) mismatches += s"gold read $what: got $got, want $want"
      ms
    }

    /** Silver's rows and steps per device and day equal the closed form,
      * as the `pipeline_medallion` gate asserts.
      */
    def check(): Seq[String] = {
      val got = LakeTable.forPath(spark, silver).toDF
        .groupBy(col("device_id"), col("p_eventdate").cast("string"))
        .agg(count(lit(1)), sum(col("steps")).cast("long"))
        .collect()
        .map(r => ((r.getInt(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
        .toMap
      val want = (for {
        h <- 0 until hoursDone
        d <- 1 to HealthFixtures.userNames.size
      } yield ((d, day(h)), steps(h, d)))
        .groupBy(_._1).map { case (k, v) => k -> (v.size.toLong, v.map(_._2).sum) }
      val silverCheck =
        if (got == want) Nil
        else Seq(s"silver per device and day: got $got, want $want")
      mismatches.toSeq ++ silverCheck
    }
  }
}
