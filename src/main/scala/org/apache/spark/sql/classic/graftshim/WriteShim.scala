package org.apache.spark.sql.classic.graftshim

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** The write-side bridge into `private[sql]` Spark: run a frame's
  * parquet write through Spark's own task-side writer
  * (`FileFormatWriter.write`: Hive partition dirs, `''` partition
  * values to `__HIVE_DEFAULT_PARTITION__`, one output writer per task)
  * under a commit protocol the caller owns, which decides where each
  * file lands and what a task commit ships back.
  *
  * `DataFrameWriter` cannot do this per write: it takes its committer
  * from the session-wide `spark.sql.sources.commitProtocolClass`, which
  * every concurrent write of the session would pick up, and its
  * `InsertIntoHadoopFsRelationCommand` re-caches every persisted frame
  * read from the output path once the write finishes.
  */
object WriteShim {

  /** Write `df` as parquet under `outputPath`, Hive-partitioned by
    * `partitionColumns`, committing through `committer`. `options`
    * reach the parquet writer's Hadoop configuration (e.g. per-column
    * bloom filters).
    */
  def writeParquet(
      df: DataFrame, outputPath: String, partitionColumns: Seq[String],
      options: Map[String, String], committer: FileCommitProtocol): Unit = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    // a fresh physical plan, so planning sees the confs the caller
    // scoped around this write
    val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
    SQLExecution.withNewExecutionId(qe, Some("lake write")) {
      val plan = qe.executedPlan
      val partAttrs = partitionColumns.map(c =>
        plan.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"partition column $c not " +
            s"in ${plan.output.map(_.name).mkString(", ")}")))
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, plan.output),
        spark.sessionState.newHadoopConfWithOptions(options),
        partAttrs, bucketSpec = None, statsTrackers = Nil, options = options)
      ()
    }
  }
}
