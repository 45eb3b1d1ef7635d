package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** Commit protocol of every lake data write (the paper's §3.2 write
  * path, in the pattern of Delta's `DelayedCommitProtocol`): each task
  * writes each of its files once, under a fresh unique name, directly
  * in its final place under `root` — no temporary directory, no
  * rename. The files stay invisible until a log commit names them.
  *
  *  - task commit reads each closed file's footer on the executor
  *    ([[ParquetFooters]]), deletes empty splits and Hadoop's `.crc`
  *    siblings, and ships the AddFiles back;
  *  - job commit hands them to the caller as [[added]], sorted by path;
  *  - a failed attempt deletes its own files (abortTask), and a failed
  *    job deletes those of every task that already committed
  *    (abortJob). Files of a killed JVM are left to VACUUM.
  *
  * `bucketed`: every name carries Spark's `_%05d` bucket suffix, taken
  * from the task's partition id — the writer repartitioned the frame
  * by the bucket hash, so task index == bucket id.
  */
final class DirectWriteProtocol(root: String, bucketed: Boolean)
    extends FileCommitProtocol with Serializable {

  /** This task attempt's files, relative to `root` (executor side). */
  @transient private var attemptFiles: ArrayBuffer[String] = _
  /** AddFiles of the tasks committed so far (driver side). */
  @transient private val committed = ArrayBuffer.empty[AddFile]
  @transient private var result: Seq[AddFile] = Nil

  /** The job's AddFiles, once [[commitJob]] ran. */
  def added: Seq[AddFile] = result

  override def setupJob(job: JobContext): Unit = ()

  override def setupTask(task: TaskAttemptContext): Unit =
    attemptFiles = ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}" +
      spec.suffix
    // the bucket id goes right before the extensions, where Spark's
    // bucketed scan parses it
    val tagged =
      if (!bucketed) name
      else name.patch(name.indexOf('.', spec.prefix.length),
        f"_$split%05d", 0)
    val rel = dir.fold(tagged)(d => s"$d/$tagged")
    attemptFiles += rel
    Paths.get(root, rel).toString
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val conf = task.getConfiguration
    val adds = attemptFiles.toSeq.flatMap { rel =>
      val f = Paths.get(root, rel)
      val (rows, mins, maxs, nulls) =
        ParquetFooters.statsWithConf(conf, f.toString)
      DirectWriteProtocol.deleteCrc(f)
      if (rows == 0L) { DirectWriteProtocol.delete(f); None }
      else Some(AddFile(
        path = rel,
        partitionValues = LakeWriter.partitionValuesOf(rel),
        size = Files.size(f),
        numRecords = rows,
        minValues = mins,
        maxValues = maxs,
        nullCounts = nulls))
    }
    new TaskCommitMessage(adds)
  }

  override def abortTask(task: TaskAttemptContext): Unit =
    if (attemptFiles != null)
      attemptFiles.foreach(rel =>
        DirectWriteProtocol.delete(Paths.get(root, rel)))

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed.synchronized { committed ++= addsOf(msg); () }

  override def commitJob(job: JobContext,
      msgs: Seq[TaskCommitMessage]): Unit =
    result = msgs.flatMap(addsOf).sortBy(_.path)

  override def abortJob(job: JobContext): Unit =
    committed.synchronized {
      committed.foreach(a =>
        DirectWriteProtocol.delete(Paths.get(root, a.path)))
    }

  private def addsOf(msg: TaskCommitMessage): Seq[AddFile] =
    msg.obj.asInstanceOf[Seq[AddFile]]
}

private[lake] object DirectWriteProtocol {

  /** Hadoop's default `file:` scheme is the checksummed LocalFileSystem,
    * which drops a `.<name>.crc` sibling next to every file it writes.
    */
  private def deleteCrc(f: Path): Unit = {
    DataStore.current.deleteIfExists(
      f.resolveSibling("." + f.getFileName.toString + ".crc"))
    ()
  }

  private def delete(f: Path): Unit = {
    DataStore.current.deleteIfExists(f)
    deleteCrc(f)
  }
}
