package graft.lake

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession

/** Reads parquet footers to derive per-file row counts and column
  * min/max/null-count stats for AddFile data skipping (SURVEY §4
  * "data skipping / file stats" — a table-format property Spark does
  * not supply; Delta stores the same stats in its AddFiles).
  *
  * Stats are recorded only for types whose ordering is unambiguous as
  * a string round-trip (ints, longs, floats, doubles, booleans, UTF8
  * strings); other types get row counts only.
  */
object ParquetFooters {

  /** @return (numRecords, minValues, maxValues, nullCounts) */
  def stats(spark: SparkSession, path: String)
      : (Long, Map[String, String], Map[String, String], Map[String, Long]) =
    statsWithConf(spark.sparkContext.hadoopConfiguration, path)

  /** Executor-side variant: takes a plain Hadoop configuration so the
    * footer read can run inside a Spark task (see
    * [[DirectWriteProtocol]] — each write task reads the footers of the
    * files it just wrote).
    */
  def statsWithConf(conf: org.apache.hadoop.conf.Configuration, path: String)
      : (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    val in = HadoopInputFile.fromPath(new HadoopPath(path), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = collection.mutable.Map.empty[String, Any]
      val maxs = collection.mutable.Map.empty[String, Any]
      val nulls = collection.mutable.Map.empty[String, Long]
      val unusable = collection.mutable.Set.empty[String]
      // parquet reports -1 when num_nulls is unset (legal for
      // legacy/foreign files adopted via CONVERT); a negative count
      // poisons the whole-file sum, so the column's null count is
      // dropped while its min/max stay usable
      val nullsUnusable = collection.mutable.Set.empty[String]
      // int-backed DECIMAL stats arrive as UNSCALED ints; the ordering
      // is scale-invariant per column (one fixed scale), but the
      // recorded string must be the scaled value or the pruner would
      // compare unscaled 12345 against literal 123.45
      val decScale = collection.mutable.Map.empty[String, Int]
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val pathParts = cc.getPath.toArray
        if (pathParts.length == 1) {
          val name = pathParts(0)
          val st = cc.getStatistics
          if (st == null || st.isEmpty || unusable(name)) {
            unusable += name
            mins.remove(name); maxs.remove(name); nulls.remove(name)
          } else {
            val nn = st.getNumNulls
            if (nn < 0 || nullsUnusable(name)) {
              nullsUnusable += name
              nulls.remove(name)
            } else nulls(name) = nulls.getOrElse(name, 0L) + nn
            if (st.hasNonNullValue && comparable(cc.getPrimitiveType)) {
              cc.getPrimitiveType.getLogicalTypeAnnotation match {
                case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  decScale(name) = d.getScale
                case _ => ()
              }
              val (lo, hi) = (st.genericGetMin, st.genericGetMax)
              mins(name) = minOf(mins.get(name), lo)
              maxs(name) = maxOf(maxs.get(name), hi)
            } else if (st.hasNonNullValue) {
              unusable += name
              mins.remove(name); maxs.remove(name)
            }
          }
        }
      }
      def render(k: String, v: Any): String = decScale.get(k) match {
        case Some(scale) => new java.math.BigDecimal(
          java.math.BigInteger.valueOf(v.asInstanceOf[Number].longValue),
          scale).toPlainString
        case None => stringify(v)
      }
      (rows,
        mins.map { case (k, v) => k -> render(k, v) }.toMap,
        maxs.map { case (k, v) => k -> render(k, v) }.toMap,
        nulls.toMap)
    } finally reader.close()
  }

  private def comparable(t: org.apache.parquet.schema.PrimitiveType): Boolean = {
    val ann = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case INT32 =>
        // DATE is INT32 days-since-epoch — exactly Catalyst's internal
        // DateType value, so the raw int stat compares against pushed
        // date literals with no conversion; int-backed DECIMAL is
        // recorded scaled (see render) (round 11)
        ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      case INT64 =>
        // TIMESTAMP(MICROS) is INT64 epoch-micros — Catalyst's internal
        // Timestamp(NTZ)Type value. Other units (MILLIS, NANOS — only
        // foreign files; Spark writes micros) stay excluded rather
        // than recording stats a micros-literal compare would misread.
        ann == null ||
          ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
          ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] ||
          (ann match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          })
      case FLOAT | DOUBLE | BOOLEAN => ann == null
      case BINARY =>
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case _ => false
    }
  }

  private def stringify(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  @SuppressWarnings(Array("unchecked"))
  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(normalize(a, b))

  /** Parquet returns Binary for strings; both sides are same-typed. */
  private def normalize(a: Any, b: Any): Any = b

  private def minOf(cur: Option[Any], v: Any): Any = cur match {
    case Some(c) => if (cmp(c, v) <= 0) c else v
    case None => v
  }

  private def maxOf(cur: Option[Any], v: Any): Any = cur match {
    case Some(c) => if (cmp(c, v) >= 0) c else v
    case None => v
  }
}
