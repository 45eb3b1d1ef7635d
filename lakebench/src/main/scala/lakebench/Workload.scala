package lakebench

import graft.lake.{FilePruner, LakeLog, Snapshot}

/** One op of a plan: its kind and arguments, as the plan file gives them. */
final case class Op(kind: String, args: IndexedSeq[String]) {
  def long(i: Int): Long = args(i).toLong
  def int(i: Int): Int = args(i).toInt
  /** `key:cents` pairs of a comma-separated argument. */
  def pairs(i: Int): Seq[(Long, Long)] = args(i).split(',').toSeq.map { p =>
    val Array(k, c) = p.split(':'); (k.toLong, c.toLong)
  }
}

/** A fresh copy of a workload's tables and the client state that goes
  * with it. A pass runs every op of the plan against one copy.
  */
trait Copy {
  /** Runs one op; returns the milliseconds of each read it made.
    * Throws if the op fails.
    */
  def run(op: Op, t: Trace): Seq[Double]

  /** Output checks after the pass, one message per mismatch. */
  def check(): Seq[String]

  /** Root directories of the copy's lake tables. */
  def tables: Seq[String]
}

/** A workload: untimed input generation, then any number of timed
  * set-ups, each into a fresh directory, which [[open]] then wraps in
  * the client state of a copy.
  */
trait Workload {
  def prepare(): Unit
  def setup(dir: String): Unit
  def open(dir: String): Copy
}

/** Calls into the engine that every workload makes the same way. */
object Calls {

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `body`, returning its value and its milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** The latest snapshot, as a reader opens it before planning. */
  def snapshot(t: Trace, path: String): Snapshot =
    t.span("lake.snapshot")(new LakeLog(path).snapshot())

  /** A time-travel snapshot at `version`. */
  def snapshotAsOf(t: Trace, path: String, version: Long): Snapshot =
    t.span("lake.snapshot_asof")(new LakeLog(path).snapshot(version))

  /** The files `filter` keeps, counted against the live files. */
  def prune(t: Trace, snap: Snapshot, filter: String): Unit = {
    val kept = t.span("lake.prune")(FilePruner.prune(snap, filter))
    t.count("lake.prune_files_total", snap.numFiles.toDouble)
    t.count("lake.prune_files_kept", kept.size.toDouble)
  }

  /** A call that publishes one version of the table at `path`. Traced,
    * it is recorded under `name` and, by the version it published, as a
    * plain commit or one that wrote a checkpoint.
    */
  def commit[T](t: Trace, path: String, name: String)(body: => T): T = {
    if (!t.enabled) return body
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    val v = new LakeLog(path).latestVersion
    t.record(name, t0, t1)
    t.record(if (v % LakeLog.CHECKPOINT_INTERVAL == 0) "lake.commit_ckpt"
      else "lake.commit_plain", t0, t1)
    r
  }
}
