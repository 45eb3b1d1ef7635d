#!/usr/bin/env python3
"""Lake benchmark: one closed-loop client drives the engine's public API.

Usage, from the root of a checkout of the repository:

    python3 lakebench/run.py --workload <medallion|lake_oltp|lake_scan> \\
        --seed <n> --seconds <n> --trace <0|1>

The first run builds the engine and the harness with sbt (offline);
later runs reuse the build while the sources are unchanged. Each run
starts one JVM on a `local[<cpus>]` Spark session. It sets the workload
up three times (four when traced) into fresh copies and reports the
median set-up time. It warms up on the first copy with a plan of the
same shape as the seed's, then times the seed's plan on the second.
With `--trace 1` it runs the seed's plan traced instead, between two
untraced passes of same-shape plans, and reports per-layer metrics and
the tracing overhead. See README.md.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it
gives workload-specific latency percentiles with their sample counts.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import plans

HERE = Path(__file__).resolve().parent
BUILD_TIMEOUT_S = 880
RUN_TIMEOUT_S = 170
# Copies set up per run: warm-up and measured pass, plus one so that
# set-up time is a median of three; a traced run needs a fourth.
SETUPS = {0: 3, 1: 4}
JVM_HEAP = "3g"

# Plan length: `ops_per_s` ops per second of --seconds, about what a
# 4-core host completes, but at least `min_ops`, which keeps ten read
# samples beyond every reported median (lake_oltp takes 36 reads, to
# average its read median over more of the host's fast and slow
# spells); rounded up to whole decks or rounds (`unit`) so that every
# run issues each kind equally often.
WORKLOADS = {
    "medallion": {"ops_per_s": 0.25, "min_ops": 4, "unit": 1, "warmup": 2},
    "lake_oltp": {"ops_per_s": 2.4, "min_ops": 60,
                  "unit": 2 * len(plans.OLTP_DECK), "warmup": 20,
                  "orders": plans.SCAN_ORDERS_PER_REPLICA},
    "lake_scan": {"ops_per_s": 2.4, "min_ops": 24,
                  "unit": len(plans.SCAN_QUERIES), "warmup": 6,
                  "replicas": 1},
}

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms",
    "cpu_ms_per_op": "ms", "table_mb": "MB", "live_heap_mb": "MB",
}

# Per-layer metrics of a traced run, every one averaged over the ops of
# the plan ("per op") unless its name says otherwise. Busy times are the
# benchmark's own spans around its calls into each layer; a layer a
# workload does not call reads 0. lake_scan adds scan.<query>_ms_per_op.
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.job_ms_per_op": "ms", "spark.sched_delay_ms_per_op": "ms",
    "spark.task_run_ms_per_op": "ms", "spark.shuffle_mb_per_op": "MB",
    "spark.spill_mb_per_op": "MB", "driver.ms_per_op": "ms",
    "lake.snapshot_ms_per_op": "ms", "lake.snapshot_asof_ms_per_op": "ms",
    "lake.prune_ms_per_op": "ms", "lake.prune_kept_ratio": "ratio",
    "lake.files_live": "count",
    "lake.commit_plain_ms_per_op": "ms", "lake.commit_ckpt_ms_per_op": "ms",
    "lake.commits_per_op": "count", "lake.checkpoints_per_op": "count",
    "lake.log_kb_per_commit": "kB", "lake.data_mb_written_per_op": "MB",
    "lake.append_ms_per_op": "ms", "lake.update_cow_ms_per_op": "ms",
    "lake.update_dv_ms_per_op": "ms", "lake.delete_cow_ms_per_op": "ms",
    "lake.delete_dv_ms_per_op": "ms", "lake.merge_ms_per_op": "ms",
    "pipeline.ingest_ms_per_op": "ms", "pipeline.run_batch_ms_per_op": "ms",
    "pipeline.gold_read_ms_per_op": "ms",
    "sources.read_point_ms_per_op": "ms", "sources.read_range_ms_per_op": "ms",
    "sources.read_asof_ms_per_op": "ms",
    "trace.overhead_pct": "%",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every file the build compiles or reads."""
    h = hashlib.sha256()
    trees = [root / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Compile engine and harness; return the runtime classpath."""
    stamp = HERE / "target" / "lakebench-classpath.txt"
    digest = source_digest(root)
    if stamp.exists():
        lines = stamp.read_text().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    stamp.parent.mkdir(parents=True, exist_ok=True)
    log = HERE / "target" / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {r.returncode}); see {log}")
    classpath = lines[-1].strip()
    stamp.write_text(f"{digest}\n{classpath}\n")
    return classpath


def make_plan(workload, seed, seconds, tag=""):
    """The plan of `--seed`, or with a tag another of the same shape;
    and the workload's size argument."""
    cfg = WORKLOADS[workload]
    ops = max(cfg["min_ops"], round(seconds * cfg["ops_per_s"]))
    ops = -(-ops // cfg["unit"]) * cfg["unit"]
    if workload == "medallion":
        return plans.medallion(seed, ops, tag), ops
    if workload == "lake_oltp":
        return plans.lake_oltp(seed, ops, cfg["orders"], tag), cfg["orders"]
    return (plans.lake_scan(seed, ops, cfg["replicas"], tag),
            cfg["replicas"])


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, work, args):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # A fixed heap and the parallel collector keep the heap reading
    # steady from run to run.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "lakebench.Main"] + args)
    try:
        r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM ran past {RUN_TIMEOUT_S} s and was killed")
    if r.returncode != 0:
        fail(f"benchmark JVM exited with {r.returncode}")


def read_samples(workload, pass_):
    """Read latencies of a pass. A failed op's reads count as missing
    every latency limit: each takes the whole pass's time."""
    out = []
    for kind, _, ok, reads in pass_["ops"]:
        if ok:
            out += reads
        else:
            out += [pass_["wall_ms"]] * plans.reads_per_op(workload, kind)
    return out


def latencies(pass_, kinds):
    cap = pass_["wall_ms"]
    return [ms if ok else cap for kind, ms, ok, _ in pass_["ops"]
            if kinds is None or kind in kinds]


def report(workload, raw, trace):
    p = raw["pass"]
    attempted = len(p["ops"])
    failed = sum(1 for op in p["ops"] if not op[2])
    reads = read_samples(workload, p)
    read_p50 = plans.percentile(reads, 0.5)
    if read_p50 is None:
        fail(f"{len(reads)} reads are too few for a median")
    setups = sorted(raw["setup_s"])
    metrics = {
        "setup_s": setups[len(setups) // 2],
        "ops_per_s": (attempted - failed) / (p["wall_ms"] / 1000.0),
        "read_p50_ms": read_p50,
        "cpu_ms_per_op": p["cpu_ms"] / attempted,
        "table_mb": raw["table_mb"],
        "live_heap_mb": raw["live_heap_mb"],
    }

    # Workload-specific percentiles, each only with ten samples beyond it.
    detail = {"reads": len(reads), "read_p90_ms": plans.percentile(reads, 0.9),
              "jit_ms": p["jit_ms"], "gc_ms": p["gc_ms"],
              "warmup_failed": raw["warmup_failed"]}
    if workload == "medallion":
        batches = latencies(p, None)
        detail.update(batches=len(batches),
                      batch_p50_ms=plans.percentile(batches, 0.5),
                      batch_p90_ms=plans.percentile(batches, 0.9))
    if workload == "lake_oltp":
        commits = latencies(p, set(plans.OLTP_DECK) - set(plans.OLTP_READS))
        detail.update(commits=len(commits),
                      commit_p50_ms=plans.percentile(commits, 0.5),
                      commit_p90_ms=plans.percentile(commits, 0.9))
    if p["errors"]:
        detail["errors"] = p["errors"][:5]
    if raw["checks"]:
        detail["check_failures"] = raw["checks"][:5]

    if trace:
        t, before, after = p, raw["untraced_before"], raw["untraced_after"]
        # A layer the workload never called has no span: it reads 0.
        layers = dict(raw["layers"])
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        if workload == "lake_scan":
            metrics.update(layers)
        untraced_ms = (before["wall_ms"] + after["wall_ms"]) / 2
        metrics["trace.overhead_pct"] = (
            100.0 * (t["wall_ms"] - untraced_ms) / untraced_ms)
        for q in (before, after):
            attempted += len(q["ops"])
            failed += sum(1 for op in q["ops"] if not op[2])
        units = PER_LAYER
    else:
        units = END_TO_END
    print(json.dumps({"workload": workload, "detail": detail}))
    print(json.dumps({
        "correct": not raw["checks"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "ms")}
                    for k, v in metrics.items()},
    }))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {root}/src/main/scala; "
             "run from the root of a checkout")
    classpath = build(root)

    # The warm-up replays a plan of the same shape as the seed's, so it
    # warms every code path without caching the timed plan's queries. A
    # traced run brackets the traced pass with two untraced passes of
    # such plans.
    work = HERE / ".work" / f"{a.workload}-{os.getpid()}"
    tags = ["", "warmup"] + (["before", "after"] if a.trace else [])
    plan_files = [work / f"plan{t}.tsv" for t in tags]
    shutil.rmtree(work, ignore_errors=True)
    try:
        (work / "tmp").mkdir(parents=True)
        for tag, f in zip(tags, plan_files):
            plan, size = make_plan(a.workload, a.seed, a.seconds, tag)
            f.write_text("\n".join(plan) + "\n")
        run_jvm(classpath, work, [
            "--workload", a.workload,
            "--plans", ",".join(str(f) for f in plan_files),
            "--work", str(work), "--out", str(work / "result.json"),
            "--trace", str(a.trace), "--setups", str(SETUPS[a.trace]),
            "--warmup", str(WORKLOADS[a.workload]["warmup"]),
            "--size", str(size), "--seed", str(a.seed)])
        raw = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a.workload, raw, a.trace == 1)


if __name__ == "__main__":
    main()
