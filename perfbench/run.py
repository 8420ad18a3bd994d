"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and writes only under it
(`.perfbench_work/` while running, `.perfbench_out/` for trace files). The
last line of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. The line before it holds provenance, host noise and the
raw per-round samples.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3

# End-to-end metrics are CPU seconds of the benchmark's process tree (driver,
# JVM, Python workers; past set-up, without the JVM's JIT compiler threads),
# not wall seconds: on a shared host, neighbours and
# hypervisor steal stretch wall time by 30-100 % from one minute to the next
# while CPU time moves a few percent. Wall-clock values of the same
# operations are in the detail line of every run.
END_TO_END = {
    "setup_s": "s",
    "apply_events_per_cpu_s": "1/s",
    "commit_cpu_p50_s": "s",
    "read_cpu_s": "s",
    "lookup_cpu_p50_s": "s",
    "compact_cpu_s": "s",
}
PER_LAYER = {
    "planner.plan_s": "s",
    "engine.batch_s": "s",
    "engine.self_s": "s",
    "streaming.trigger_overhead_s": "s",
    "lake.merge_s": "s",
    "lake.merge.driver_s": "s",
    "lake.fold_commit_s": "s",
    "state.put_s": "s",
    "exchange.map_s": "s",
    "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_records": "count",
    "fold.reduce_s": "s",
    "fold.task_skew": "ratio",
    "fold.spill_bytes": "bytes",
    "extract.python_s": "s",
    "extract.python_start_s": "s",
    "extract.python_share": "ratio",
    "extract.us_per_row": "us",
    "extract.series_us_per_row": "us",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "lake.compact.exchanges": "count",
    "lake.compact.shuffle_bytes": "bytes",
    "read.scan_s": "s",
    "read.changes_s": "s",
    "lake.read.scan_shuffle_bytes": "bytes",
    "lake.read.lookup_input_bytes": "bytes",
    "lake.changes.shuffle_bytes": "bytes",
    "dedup.rows_in": "count",
    "dedup.keys_out": "count",
    "dedup.keep_ratio": "ratio",
    "tracing.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at `work`,
    run on every core this process may use, and make the engine's modules
    importable by the Python workers. Must run before pyspark starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def provenance(spark, spec, seed: int) -> dict:
    import pyarrow
    import pyspark

    try:
        # the ceiling keeps git from reporting an enclosing repository
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "gobblin_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    conf = spark.conf
    return {
        "git_sha": sha,
        "source_sha256": src.hexdigest(),
        "seed": seed,
        "workload": spec.name,
        "generator": spec.generator(seed),
        "spec": spec.__dict__,
        "master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def summarize(setups: list[tuple[float, float]], rounds: list[dict], which: int) -> dict:
    """The end-to-end figures from wall (`which`=0) or CPU (`which`=1) seconds:
    medians over set-ups and rounds; lookup percentiles over every lookup."""
    from perfbench.stats import percentile

    lookups = [x[which] for r in rounds for x in r["lookups"]]
    return {
        "setup": statistics.median(x[which] for x in setups),
        "apply_events_per": statistics.median(r["events"] / r["apply"][which] for r in rounds),
        "commit_p50": statistics.median(x[which] for r in rounds for x in r["commits"]),
        "scan": statistics.median(r["scan"][which] for r in rounds),
        "reads": statistics.median(
            r["scan"][which] + r["changes"][which] + sum(x[which] for x in r["lookups"])
            for r in rounds
        ),
        "lookup_p50": percentile(lookups, 50),
        "changes": statistics.median(r["changes"][which] for r in rounds),
        "compact": statistics.median(r["compact"][which] for r in rounds),
    }


def end_to_end(setups, rounds) -> dict:
    cpu = summarize(setups, rounds, 1)
    values = {
        "setup_s": cpu["setup"],
        "apply_events_per_cpu_s": cpu["apply_events_per"],
        "commit_cpu_p50_s": cpu["commit_p50"],
        "read_cpu_s": cpu["reads"],
        "lookup_cpu_p50_s": cpu["lookup_p50"],
        "compact_cpu_s": cpu["compact"],
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def measure(workload, tracer, seconds: float) -> list[dict]:
    """Rounds until `seconds` have passed (at least one). A round that raises
    is dropped; its error counts as one failed operation."""
    from perfbench.workloads import OpFailed

    rounds, start = [], time.perf_counter()
    while not rounds or time.perf_counter() - start < seconds:
        try:
            rounds.append(workload.round(tracer))
        except Exception as exc:
            log("round failed:\n" + traceback.format_exc())
            if not isinstance(exc, OpFailed):  # `Checks.op` counted those
                workload.checks.failed += 1
                workload.checks.attempted += 1
            if time.perf_counter() - start >= seconds:
                break
    return rounds


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, ROOT)
    from perfbench import procs

    procs.adopt_orphans()
    # a SIGTERM unwinds through `finally`, which stops every process started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, work)
    finally:
        procs.stop_spark()
        killed = procs.end_all()
        if killed:
            log(f"killed processes that did not end: {killed}")
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _run(args, work: str) -> int:
    begin = time.perf_counter()
    from gobblin_spark.session import get_spark

    from perfbench import stats
    from perfbench.eventlog import SPAN_TAG
    from perfbench.tracing import Tracer
    from perfbench.workloads import SPECS, Checks, Workload

    if args.workload not in SPECS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(SPECS)}")
        return 2
    spec = SPECS[args.workload]
    checks = Checks(log)

    # Set-up = session start + warm-up. The session starts once (a second
    # SparkContext in one process breaks PySpark's accumulator channel); the
    # warm-up — a small round: an apply to a fresh table, then each read and
    # the compaction the round makes — runs SETUPS times, and setup_s is the
    # session's CPU seconds plus the median warm-up's. The traced run turns
    # the event log on here, at session start.
    log_dir = os.path.join(work, "eventlog")
    extra = None
    if args.trace:
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    # set-up time includes the JIT compiles: warming up is what set-up is for
    cpu = stats.TreeCpu()
    start = cpu.read()[0], time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    session = (time.perf_counter() - start[1], cpu.read()[0] - start[0])
    workload = Workload(spark, spec, args.seed, work, checks, cpu)
    t = time.perf_counter()
    workload.prepare()
    prepare_s = time.perf_counter() - t
    warm = []
    for _ in range(SETUPS):
        w, c = time.perf_counter(), cpu.read()[0]
        workload.warm()
        warm.append((time.perf_counter() - w, cpu.read()[0] - c))
    setups = [(session[0] + w, session[1] + c) for w, c in warm]
    prov = provenance(spark, spec, args.seed)

    # The traced run measures traced rounds only: the tracer's own time is
    # what it adds (`tracing.overhead_frac`), so it needs no untraced round.
    if args.trace:
        sc = spark.sparkContext
        tracer = Tracer(tag=lambda i: sc.setLocalProperty(SPAN_TAG, None if i is None else str(i)))
    else:
        tracer = Tracer(enabled=False)
    jiffies = stats.cpu_jiffies()
    t, jit = time.perf_counter(), cpu.read()[1]
    rounds = measure(workload, tracer, args.seconds)
    rounds_s, rounds_jit_cpu_s = time.perf_counter() - t, cpu.read()[1] - jit
    noise = {
        "steal_frac": stats.steal_fraction(jiffies, stats.cpu_jiffies()),
        "loadavg_1m": stats.load_average_1m(),
    }
    spark.stop()  # flushes the event log
    if not rounds:
        log("no round completed")
        return 1

    if args.trace:
        metrics, trace_file = _per_layer(args, workload, tracer, rounds, rounds_jit_cpu_s, log_dir)
    else:
        metrics = end_to_end(setups, rounds)
        trace_file = None

    detail = {
        "provenance": prov,
        "noise": noise,
        "prepare_s": prepare_s,
        "oracle_visible_rows": len(workload.expected),
        "session_wall_cpu_s": session,
        "warmups_wall_cpu_s": warm,
        "rounds_s": rounds_s,
        "rounds_jit_cpu_s": rounds_jit_cpu_s,
        "elapsed_s": time.perf_counter() - begin,
        "wall": summarize(setups, rounds, 0),
        "rounds": [
            {k: v for k, v in r.items() if k not in ("results", "span")} for r in rounds
        ],
        "trace_file": trace_file,
    }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _per_layer(args, workload, tracer, traced: list[dict], jit_cpu_s: float, log_dir: str):
    """The per-layer metrics of the traced rounds, from their spans, the
    stopped session's event log, the engine results and the CPU the JIT
    compiler threads used over the rounds (`jit_cpu_s`)."""
    from perfbench.eventlog import attribute, read_event_log
    from perfbench.layers import round_layers, span_report
    from perfbench.workloads import series_us_per_row

    stages, jobs = read_event_log(log_dir)

    per_round, diags = [], []
    for rnd in traced:
        m, d = round_layers(tracer.spans, stages, jobs, rnd)
        per_round.append(m)
        diags.append(d)
    for cov in (c for d in diags for c in d["batch_coverage"]):
        workload.checks.check(
            cov["residual"] <= 0.10 and not cov["stray_stages"],
            f"batch layer times miss the span by {cov['residual']:.1%}; "
            f"stages {cov['stray_stages']} ran in it but are tagged elsewhere",
        )

    metrics = {name: statistics.median(m[name] for m in per_round) for name in per_round[0]}
    metrics["extract.series_us_per_row"] = series_us_per_row(workload.html_sample())
    metrics["jvm.jit_cpu_s"] = jit_cpu_s / len(traced)
    # The tracer's own time over the traced rounds' wall time. Comparing a
    # traced with an untraced round instead measured which round ran first:
    # the later round took 15-35 % less CPU, the tracer well under 1 %.
    round_s = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "round")
    metrics["tracing.overhead_frac"] = tracer.own_s / round_s

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    trace_file = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(trace_file, "w") as f:
        json.dump(
            {
                "spans": span_report(tracer.spans, attribute(stages, tracer.spans)),
                "stages": stages,
                "rounds": per_round,
                "diagnostics": diags,
            },
            f,
            default=str,
        )
    return {k: {"value": metrics[k], "unit": PER_LAYER[k]} for k in PER_LAYER}, trace_file


if __name__ == "__main__":
    sys.exit(main())
