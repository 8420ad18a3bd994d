"""Per-layer metrics of one traced round, from its spans, the stages the
event log attributes to them, and the engine's result counters."""

from __future__ import annotations

from .eventlog import attribute, task_skew
from .tracing import clip, descendants, self_times, union_length


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _wall(stage: dict) -> float:
    return stage["complete"] - stage["submit"]


def round_layers(spans, stages, jobs, rnd: dict) -> tuple[dict, dict]:
    """(metric name → value, diagnostics) for the round whose root span is
    `rnd["span"]`, from every span, stage (id → record) and job of the run."""
    by_span = attribute(stages, spans)
    sub = descendants(spans, rnd["span"])
    selfs = self_times(spans)

    def named(name):
        return [s for s in sub if s["name"] == name]

    def stages_under(roots):
        ids = {d["id"] for r in roots for d in descendants(spans, r["id"])}
        return [st for i in sorted(ids) for st in by_span.get(i, [])]

    batches, merges, puts = named("engine.batch"), named("lake.merge"), named("state.put")
    batch_stages = stages_under(batches)
    maps = [st for st in batch_stages if st["shuffle_write_bytes"] > 0]
    reduces = [
        st
        for st in stages_under(merges)
        if st["shuffle_read_bytes"] > 0 and st["shuffle_write_bytes"] == 0
    ]
    python = [st for st in batch_stages if st["python_run_s"] > 0]
    round_stages = [st for s in sub if s["id"] != rnd["span"] for st in by_span.get(s["id"], [])]
    job_iv = [(j["start"], j["end"]) for j in jobs]

    python_s = sum(st["python_run_s"] for st in python)
    python_run = sum(st["run_s"] for st in python)
    rows_in = rnd["rows_in"]
    keys_out = rnd.get("keys_out") or sum(st["output_records"] for st in python)
    compactions = named("lake.compact")
    compact = stages_under(compactions)

    def shuffle_bytes_per_read(name):
        reads = named(name)
        return sum(st["shuffle_write_bytes"] for st in stages_under(reads)) / max(1, len(reads))

    metrics = {
        "planner.plan_s": sum(_dur(s) for s in named("planner.plan")),
        "engine.batch_s": sum(_dur(s) for s in batches),
        "engine.self_s": sum(selfs[s["id"]] for s in batches),
        "streaming.trigger_overhead_s": sum(t - a for t, a in rnd["progress"]) / 1000,
        "lake.merge_s": sum(_dur(s) for s in merges),
        "lake.merge.driver_s": sum(
            _dur(s) - union_length(clip(job_iv, s["start"], s["end"])) for s in merges
        ),
        "lake.fold_commit_s": sum(_dur(s) for s in merges if s["attrs"].get("folded")),
        "state.put_s": sum(_dur(s) for s in puts),
        "exchange.map_s": sum(_wall(st) for st in maps),
        "exchange.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in maps),
        "exchange.shuffle_records": sum(st["shuffle_write_records"] for st in maps),
        "fold.reduce_s": sum(_wall(st) for st in reduces),
        "fold.task_skew": task_skew(reduces),
        "fold.spill_bytes": sum(st["spill_bytes"] for st in batch_stages),
        "extract.python_s": python_s,
        "extract.python_start_s": sum(st["python_start_s"] for st in python),
        "extract.python_share": python_s / python_run if python_run else 0.0,
        "extract.us_per_row": python_s * 1e6 / keys_out if keys_out else 0.0,
        "jvm.cpu_s": sum(st["cpu_s"] for st in round_stages),
        "jvm.gc_s": sum(st["gc_s"] for st in round_stages),
        "lake.compact.exchanges": sum(1 for st in compact if st["shuffle_write_bytes"] > 0)
        / max(1, len(compactions)),
        "lake.compact.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in compact)
        / max(1, len(compactions)),
        "read.scan_s": sum(_dur(s) for s in named("read.scan")),
        "read.changes_s": sum(_dur(s) for s in named("read.changes")),
        "lake.read.scan_shuffle_bytes": shuffle_bytes_per_read("read.scan"),
        "lake.read.lookup_input_bytes": sum(
            st["input_bytes"] for st in stages_under(named("read.lookup"))
        ),
        "lake.changes.shuffle_bytes": shuffle_bytes_per_read("read.changes"),
        "dedup.rows_in": rows_in,
        "dedup.keys_out": keys_out,
        "dedup.keep_ratio": keys_out / rows_in if rows_in else 0.0,
    }
    return metrics, {"batch_coverage": [batch_coverage(spans, stages, jobs, b) for b in batches]}


def batch_coverage(spans, stages: dict[int, dict], jobs, batch: dict) -> dict:
    """Checks one batch's layer times against its span from two sources that
    do not depend on each other: the Spark layers' time is the union of the
    jobs tagged with the batch or a span below it (attribution by thread
    tag, JVM clock); the driver layers' time (engine, merge and state-store
    code between jobs) is the part of the span that no job in the event log
    overlaps (attribution by time). Their sum misses the span when a job is
    tagged to the wrong span, carries no tag, or runs outside the span it is
    tagged with. `stray_stages` lists the stages submitted inside the span but
    not tagged to it or below it."""
    under = {d["id"] for d in descendants(spans, batch["id"])}
    start, end = batch["start"], batch["end"]
    spark_s = union_length((j["start"], j["end"]) for j in jobs if j["span"] in under)
    driver_s = _dur(batch) - union_length(clip([(j["start"], j["end"]) for j in jobs], start, end))
    stray = [
        st["id"]
        for st in stages.values()
        if start <= st["submit"] <= end and st["span"] not in under
    ]
    return {
        "batch_s": _dur(batch),
        "spark_s": spark_s,
        "driver_s": driver_s,
        "residual": abs(spark_s + driver_s - _dur(batch)) / _dur(batch) if _dur(batch) else 0.0,
        "stray_stages": stray,
    }


def span_report(spans, by_span) -> list[dict]:
    """Every span with its self time and the stages attributed to it."""
    selfs = self_times(spans)
    return [
        {
            **s,
            "self_s": selfs[s["id"]],
            "stages": [st["id"] for st in by_span.get(s["id"], [])],
            "jvm_cpu_s": sum(st["cpu_s"] for st in by_span.get(s["id"], [])),
            "jvm_gc_s": sum(st["gc_s"] for st in by_span.get(s["id"], [])),
        }
        for s in spans
    ]
