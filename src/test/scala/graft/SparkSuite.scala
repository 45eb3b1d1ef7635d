package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Shared local SparkSession + temp-dir helpers for all suites. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.enable(
    GraftSession.configure(
      SparkSession.builder()
        .master("local[4]")
        .appName(getClass.getSimpleName)
        .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate())

  /** Every directory [[tmpDir]] created, removed with its contents in
    * [[afterAll]].
    */
  private val createdDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    createdDirs.add(d)
    d.toString
  }

  /** A fresh subdirectory path (not yet created) for a lake table. */
  def tablePath(name: String): String =
    tmpDir("graft-test") + "/" + name

  /** Every file under the lake table at `path` (its log aside) must be
    * named by the log — a data file some version's AddFile names
    * (tombstoned files stay until VACUUM), its deletion vector or bloom
    * sidecar, or a change-data file a CdcFile names — and every live
    * file must be on disk. A failed write leaves nothing behind, and no
    * write leaves committer crumbs (`.crc`, `_SUCCESS`, `_temporary`).
    */
  def assertNoStagedDebris(path: String): Unit = {
    import graft.lake.{AddFile, CdcFile, LakeLog, LakeTable}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    val logRoot = root.resolve(LakeLog.LOG_DIR)
    val s = Files.walk(root)
    val onDisk = try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.startsWith(logRoot))
      .map(p => root.relativize(p).toString).toSet
    finally s.close()
    val log = new LakeLog(path)
    val named = log.listVersionFiles.map(LakeLog.versionOf)
      .flatMap(log.readVersion).flatMap {
        case a: AddFile => a.path +: (a.dvPath.toSeq ++ a.bloomPath)
        case c: CdcFile => Seq(c.path)
        case _ => Nil
      }.toSet
    val live = LakeTable.forPath(spark, path).snapshot().files
      .map(_.path).toSet
    assert(onDisk -- named === Set.empty[String],
      s"staged debris left behind: ${(onDisk -- named).mkString(", ")}")
    assert(live -- onDisk === Set.empty[String],
      s"live files missing: ${(live -- onDisk).mkString(", ")}")
  }

  override def afterAll(): Unit = {
    // One session is shared across suites in a forked test JVM; don't
    // stop it. Only this suite's directories go.
    try createdDirs.forEach(d => deleteTree(d))
    finally super.afterAll()
  }

  /** Best-effort recursive delete: a file that cannot be removed is
    * left in place rather than failing the suite.
    */
  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path,
            a: BasicFileAttributes): FileVisitResult = {
          try { Files.deleteIfExists(f); () }
          catch { case _: java.io.IOException => () }
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path,
            e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path,
            e: java.io.IOException): FileVisitResult = {
          try { Files.deleteIfExists(d); () }
          catch { case _: java.io.IOException => () }
          FileVisitResult.CONTINUE
        }
      })
      ()
    }
}
