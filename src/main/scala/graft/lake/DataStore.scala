package graft.lake

import java.io.IOException
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

/** Storage seam for DATA-file I/O — the non-log twin of [[LogStore]],
  * completing the cloud-port story the LogStore began: DV/bloom
  * sidecar bodies, vacuum physical deletes, failed-write sweeps and
  * existence probes all route through here instead of raw `java.nio`.
  * Data files themselves are written once, in place, by the parquet
  * writer ([[DirectWriteProtocol]]), so placement needs no call here.
  *
  * The contract is deliberately WEAKER than the log's: data files are
  * correctness-safe by construction — a written body is unreferenced
  * until the LOG publishes a version naming it, and vacuum deletes
  * only what no retained version references — so no put-if-absent and
  * no cross-object atomicity are needed. A port needs exactly:
  *
  *  - [[writeBytes]]: single-object upload of a finished sidecar body
  *    (PUT is atomic per object on S3/GCS/ABFS — readers never see a
  *    torn sidecar);
  *  - [[readBytes]]: single-object GET;
  *  - [[deleteIfExists]] / [[exists]]: vacuum's physical deletes,
  *    FSCK's damage probes, crash-debris sweeps. Both must TOLERATE
  *    concurrent deletion (a parallel vacuum or crash sweep removing
  *    the same debris) — delete of a missing object returns false,
  *    never throws.
  *
  * Calls run on EXECUTORS as well as the driver (DV/bloom sidecars
  * are written and decoded task-side); the process-global
  * [[DataStore.current]] must therefore be set in every JVM — one JVM
  * under local[*]; a cluster port wires it via its executor plugin,
  * exactly like [[LogStore.current]].
  */
trait DataStore {

  /** Upload `body` as `target`, replacing any previous object. Must be
    * all-or-nothing per object: readers never observe a torn body.
    */
  def writeBytes(target: Path, body: Array[Byte]): Unit

  /** The entire object body — one GET. */
  def readBytes(p: Path): Array[Byte]

  /** Delete `p` if present; false when it was already gone (a
    * concurrent sweep won the race — never an error).
    */
  def deleteIfExists(p: Path): Boolean

  def exists(p: Path): Boolean
}

/** POSIX/HDFS default: direct `java.nio` delegation — byte-identical
  * to the pre-seam behavior.
  */
object LocalDataStore extends DataStore {
  override def writeBytes(target: Path, body: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    Files.write(target, body)
    ()
  }
  override def readBytes(p: Path): Array[Byte] = Files.readAllBytes(p)
  override def deleteIfExists(p: Path): Boolean =
    try Files.deleteIfExists(p)
    catch {
      // a concurrently-emptied directory or vanished parent is the
      // tolerated race, same as Files.deleteIfExists' own contract
      case _: java.nio.file.NoSuchFileException => false
    }
  override def exists(p: Path): Boolean = Files.exists(p)
}

/** Emulated object-store data plane — the data-leg twin of
  * [[ObjectStoreLogStore]]: single-object PUT/GET semantics over a
  * local directory with injectable faults, so the DML/vacuum/sidecar
  * machinery is exercised against object-store failure modes without
  * a cloud dependency.
  *
  *  - [[lostWritesRemaining]]: the connection dies before a sidecar
  *    PUT reaches the store — nothing lands. The invariant under test:
  *    the owning DML fails loudly and sweeps its written output; the
  *    table is byte-identical to before.
  *  - [[failReadsRemaining]]: a transient GET failure on a sidecar
  *    body — surfaces as a task failure Spark retries.
  */
final class ObjectStoreDataStore extends DataStore {

  private val serverLock = new Object

  /** Path prefix the fault counters apply to; empty = everywhere. */
  @volatile var faultScope: String = ""

  val lostWritesRemaining = new AtomicInteger(0)
  val failReadsRemaining = new AtomicInteger(0)

  /** Transient NEGATIVE existence probes — the store claims an object
    * is absent (list/HEAD inconsistency). Under test: probes routed
    * through the seam (restore's vacuum-loss check, FSCK damage scan)
    * observe the miss and surface it; a raw `java.nio` probe would
    * bypass the injection and silently pass.
    */
  val missExistsRemaining = new AtomicInteger(0)

  private def inScope(p: Path): Boolean =
    faultScope.isEmpty || p.toAbsolutePath.toString.startsWith(faultScope)

  private def consume(c: AtomicInteger): Boolean = {
    while (true) {
      val v = c.get()
      if (v <= 0) return false
      if (c.compareAndSet(v, v - 1)) return true
    }
    false
  }

  override def writeBytes(target: Path, body: Array[Byte]): Unit = {
    if (inScope(target) && consume(lostWritesRemaining))
      throw new IOException(
        s"injected fault: connection lost before PUT of $target")
    serverLock.synchronized {
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(
        target.getParent, ".datastore-put-", ".tmp")
      try {
        Files.write(tmp, body)
        Files.move(tmp, target,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
    }
  }

  override def readBytes(p: Path): Array[Byte] = {
    if (inScope(p) && consume(failReadsRemaining))
      throw new IOException(s"injected fault: GET of $p failed")
    Files.readAllBytes(p)
  }

  override def deleteIfExists(p: Path): Boolean =
    try Files.deleteIfExists(p)
    catch { case _: java.nio.file.NoSuchFileException => false }

  override def exists(p: Path): Boolean = {
    if (inScope(p) && consume(missExistsRemaining)) return false
    Files.exists(p)
  }
}

object DataStore {
  /** Process-wide data store. Replace before any table I/O to port the
    * data plane; the default is correct for local disks, NFS, and HDFS
    * mounts. Referenced from task closures, so executors resolve it in
    * THEIR JVM (one JVM under local[*]).
    */
  @volatile var current: DataStore = LocalDataStore
}
