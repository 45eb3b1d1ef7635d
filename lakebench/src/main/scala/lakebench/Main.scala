package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.LakebenchBus
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.lake.LakeLog

/** Runs one workload in one JVM and writes its raw measurements as JSON.
  *
  * {{{
  * Main --workload <name> --plans <timed>,<warm-up>[,<before>,<after>]
  *      --work <dir> --out <file> --trace <0|1> --setups <n>
  *      --warmup <ops> --size <n> --seed <n>
  * }}}
  *
  * It sets the workload up `setups` times, each into a fresh copy, and
  * times each set-up. The first copy takes the untimed warm-up: the
  * first `warmup` ops of the warm-up plan. The second runs the timed
  * plan. With `--trace 1`, the second runs the `before` plan untraced,
  * the third the timed plan traced, and the fourth the `after` plan
  * untraced, so that neither the JVM's warming nor Spark's caches favour
  * the traced pass when it is compared with the other two (`setups` 4).
  * `--size` is the
  * workload's scale: medallion hours, lake_oltp orders, or lake_scan
  * replicas of sf0.1. The seed fixes the generated inputs; the plan
  * fixes the ops.
  */
object Main {

  final case class OpRecord(kind: String, ms: Double, ok: Boolean,
      readMs: Seq[Double], startMs: Long, endMs: Long)
  final case class Pass(ops: Seq[OpRecord], wallMs: Double, cpuMs: Double,
      jitMs: Double, gcMs: Double, errors: Seq[String])

  private val started = System.nanoTime()

  /** A progress line on standard error. */
  def log(msg: String): Unit =
    System.err.println(f"[lakebench ${Calls.ms(started) / 1000}%7.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val plans = opt("plans").split(',').toSeq.map { file =>
      Files.readAllLines(Paths.get(file)).asScala.toSeq
        .filter(_.nonEmpty).map { l =>
          val f = l.split('\t'); Op(f.head, f.tail.toIndexedSeq)
        }
    }
    val ops = plans.head
    val work = opt("work")
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val size = opt("size").toInt

    val spark = GraftSession.local("lakebench")
    val workload: Workload = opt("workload") match {
      case "medallion" => new Medallion(spark, size)
      case "lake_oltp" => new LakeOltp(spark, seed, size)
      case "lake_scan" => new LakeScan(spark, seed, size, s"$work/src")
      case w => sys.error(s"unknown workload $w")
    }
    workload.prepare()
    log("inputs ready")
    val setups = opt("setups").toInt
    val setupSeconds = (1 to setups).map { i =>
      val (_, ms) = Calls.timed(workload.setup(s"$work/copy$i"))
      log(f"set-up $i took ${ms / 1000}%.2f s")
      ms / 1000
    }
    val copies = (1 to setups).map(i => workload.open(s"$work/copy$i"))

    val warm = pass(copies(0), plans(1).take(opt("warmup").toInt), new Trace(false))
    warm.errors.foreach(e => log(s"warm-up op failed: $e"))
    log("warm-up done")
    def logged(name: String, p: Pass): Pass = {
      log(f"$name pass: ${p.ops.size} ops in ${p.wallMs / 1000}%.2f s; op ms " +
        p.ops.map(r => f"${r.kind}:${r.ms}%.0f" +
          r.readMs.map(m => f"$m%.0f").mkString("(", ",", ")")).mkString(" "))
      p
    }
    val (passes, layers) =
      if (!traced)
        (Seq("pass" -> logged("timed", pass(copies(1), ops, new Trace(false)))), Nil)
      else {
        val before = logged("untraced", pass(copies(1), plans(2), new Trace(false)))
        val (p, layers) = tracedPass(spark, copies(2), ops)
        logged("traced", p)
        val after = logged("untraced", pass(copies(3), plans(3), new Trace(false)))
        (Seq("untraced_before" -> before, "pass" -> p, "untraced_after" -> after),
          layers)
      }

    val checks = passes.indices.flatMap { i =>
      copies(i + 1).check().map(m => s"${passes(i)._1}: $m")
    }
    val heapMb = liveHeapMb()
    val timedCopy = copies(passes.indexWhere(_._1 == "pass") + 1)
    val tableMb = timedCopy.tables.map(t => sizeOf(Paths.get(t))._1).sum / 1e6

    val out = Seq[(String, Any)](
      "setup_s" -> setupSeconds,
      "warmup_failed" -> warm.errors.size,
      "checks" -> checks,
      "live_heap_mb" -> heapMb,
      "table_mb" -> tableMb,
      "layers" -> layers) ++
      passes.map { case (name, p) => name -> passJson(p) }
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }

  private def cpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6

  /** Milliseconds the JIT compiler and the collector have spent so far. */
  private def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def pass(copy: Copy, ops: Seq[Op], t: Trace): Pass = {
    val errors = mutable.ArrayBuffer.empty[String]
    val (jit0, gc0) = (jitMs(), gcMs())
    val cpu0 = cpuMs()
    val t0 = System.nanoTime()
    val recs = ops.zipWithIndex.map { case (op, i) =>
      t.op = i
      val startMs = System.currentTimeMillis()
      val s = System.nanoTime()
      val read =
        try Right(copy.run(op, t))
        catch {
          case NonFatal(e) =>
            errors += s"op $i ${op.kind}: $e"
            Left(e)
        }
      OpRecord(op.kind, Calls.ms(s), read.isRight, read.getOrElse(Nil),
        startMs, System.currentTimeMillis())
    }
    Pass(recs, Calls.ms(t0), cpuMs() - cpu0, jitMs() - jit0, gcMs() - gc0,
      errors.toSeq)
  }

  /** Table state at one instant, for the commit and size accounting. */
  private final case class TableState(version: Long, logBytes: Long,
      dataBytes: Long)

  private def tableState(path: String): TableState = {
    val (all, log) = sizeOf(Paths.get(path))
    TableState(new LakeLog(path).latestVersion, log, all - log)
  }

  /** Bytes under `root`, and the part of them under the log directory. */
  private def sizeOf(root: Path): (Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((all, log), p) =>
        val n = Files.size(p)
        val inLog = root.relativize(p).iterator.asScala
          .exists(_.toString == LakeLog.LOG_DIR)
        (all + n, if (inLog) log + n else log)
      }
    finally s.close()
  }

  /** The timed plan on a fresh copy, with spans, counters and a Spark
    * listener; returns the pass and its per-layer metrics, each
    * averaged over the ops of the plan.
    */
  private def tracedPass(spark: SparkSession, copy: Copy, ops: Seq[Op])
      : (Pass, Seq[(String, Any)]) = {
    val sc = spark.sparkContext
    val t = new Trace(true)
    val stats = new SparkStats
    val before = copy.tables.map(tableState)
    LakebenchBus.drain(sc)
    sc.addSparkListener(stats)
    val p = try pass(copy, ops, t) finally {
      LakebenchBus.drain(sc)
      sc.removeSparkListener(stats)
    }
    val after = copy.tables.map(tableState)
    val n = ops.size.toDouble

    def inOp(ms: Long, r: OpRecord) = ms >= r.startMs && ms <= r.endMs
    val jobs = stats.jobs.filter(j => p.ops.exists(inOp(j.startMs, _)))
    val tasks = stats.tasks.filter(k => p.ops.exists(inOp(k.finishMs, _)))
    // Driver time: each op's wall time not covered by any of its jobs.
    val driverMs = p.ops.map { r =>
      val covered = jobs
        .map(j => (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      math.max(0.0, r.ms - covered)
    }.sum

    val commits = before.zip(after).map { case (b, a) => a.version - b.version }.sum
    val ckpts = before.zip(after).map { case (b, a) =>
      (b.version + 1 to a.version).count(_ % LakeLog.CHECKPOINT_INTERVAL == 0)
    }.sum
    val logBytes = before.zip(after).map { case (b, a) => a.logBytes - b.logBytes }.sum
    val dataBytes = before.zip(after).map { case (b, a) => a.dataBytes - b.dataBytes }.sum
    val filesLive = copy.tables.map(new LakeLog(_).snapshot().numFiles).sum
    val pruneTotal = t.counters.getOrElse("lake.prune_files_total", 0.0)
    val pruneKept = t.counters.getOrElse("lake.prune_files_kept", 0.0)

    val layers = Seq(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.tasks_per_op" -> tasks.size / n,
      "spark.job_ms_per_op" -> jobs.map(j => j.endMs - j.startMs).sum / n,
      "spark.sched_delay_ms_per_op" -> tasks.map(_.schedDelayMs).sum / n,
      "spark.task_run_ms_per_op" -> tasks.map(_.runMs).sum / n,
      "spark.shuffle_mb_per_op" -> tasks.map(_.shuffleBytes).sum / 1e6 / n,
      "spark.spill_mb_per_op" -> tasks.map(_.spillBytes).sum / 1e6 / n,
      "driver.ms_per_op" -> driverMs / n,
      "lake.prune_kept_ratio" -> (if (pruneTotal > 0) pruneKept / pruneTotal else 1.0),
      "lake.files_live" -> filesLive.toDouble,
      "lake.commits_per_op" -> commits / n,
      "lake.checkpoints_per_op" -> ckpts / n,
      "lake.log_kb_per_commit" -> (if (commits > 0) logBytes / 1e3 / commits else 0.0),
      "lake.data_mb_written_per_op" -> dataBytes / 1e6 / n) ++
      t.spans.map(_.name).distinct.map(s => s"${s}_ms_per_op" -> t.spanMs(s) / n)
    (p, layers)
  }

  private def passJson(p: Pass): Seq[(String, Any)] = Seq(
    "wall_ms" -> p.wallMs,
    "cpu_ms" -> p.cpuMs,
    "jit_ms" -> p.jitMs,
    "gc_ms" -> p.gcMs,
    "ops" -> p.ops.map(r =>
      Seq(r.kind, r.ms, if (r.ok) 1 else 0, r.readMs)),
    "errors" -> p.errors)

  /** Heap in use after full collections, in MB. The pauses let Spark's
    * cleaner release what the first collections made unreachable.
    */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

}

/** Just enough JSON for the measurement file. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => s"${quote(k)}: ${render(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
