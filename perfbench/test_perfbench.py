"""Self-tests of the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import oracle
from perfbench.eventlog import attribute, parse_events, read_event_log, task_skew
from perfbench.layers import batch_coverage, round_layers
from perfbench.procs import adopt_orphans, descendants, end_all
from perfbench.stats import percentile
from perfbench.tracing import Tracer, TracedTable, clip, self_times, union_length
from perfbench.workloads import Checks, OpFailed

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


# ----------------------------------------------------------------- percentile
def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)
    assert percentile([7.0], 75) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_p75_of_forty_samples_leaves_ten_above():
    xs = list(range(40))
    p75 = percentile(xs, 75)
    assert sum(1 for x in xs if x > p75) == 10


# -------------------------------------------------------------------- spans
def _span(i, name, parent, start, end, **attrs):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end, "attrs": attrs}


def test_union_and_clip():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert clip([(0, 2), (3, 9)], 1, 4) == [(1, 2), (3, 4)]


def test_self_time_subtracts_covered_children_once():
    spans = [
        _span(0, "engine.batch", None, 0.0, 10.0),
        _span(1, "lake.merge", 0, 1.0, 6.0),
        _span(2, "state.put", 0, 5.0, 7.0),  # overlaps merge by 1s
        _span(3, "inner", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 6)  # children cover [1, 7]
    assert st[1] == pytest.approx(4.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_nests_and_proxy_records_fold():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))

    class Table:
        n_buckets = 32

        def merge(self, updates, **kw):
            return {"version": 1, "folded_buckets": [3] if updates else []}

    t = TracedTable(Table(), tr)
    with tr.span("engine.batch"):
        assert t.n_buckets == 32
        t.merge(True)
    t.merge(False)
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("engine.batch", None), ("lake.merge", 0), ("lake.merge", None)]
    assert [s["attrs"].get("folded") for s in tr.spans[1:]] == [True, False]
    assert all(s["end"] > s["start"] for s in tr.spans)


def test_tracer_tags_the_open_span_and_restores_the_parent():
    tags = []
    tr = Tracer(tag=tags.append)
    with tr.span("apply"):
        with tr.span("engine.batch"):
            pass
    assert tags == [0, 1, 0, None]
    assert 0 < tr.own_s < tr.spans[0]["end"] - tr.spans[0]["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.wrap("y", lambda: 5)() == 5
    assert tr.spans == [] and tr.own_s == 0


# --------------------------------------------------------------- event log
def test_parse_recorded_event_log():
    stages, jobs = read_event_log(os.path.dirname(FIXTURE))
    assert stages and jobs
    for st in stages.values():
        assert st["complete"] >= st["submit"]
        assert len(st["tasks"]) >= 1
        assert st["run_s"] >= 0 and st["cpu_s"] >= 0
    # the recorded log holds one bucket exchange and the Arrow UDF stage
    assert any(st["shuffle_write_bytes"] > 0 for st in stages.values())
    py = [st for st in stages.values() if st["python_run_s"] > 0]
    assert py and all(st["shuffle_read_bytes"] > 0 for st in py)
    assert all(j["end"] >= j["start"] for j in jobs)
    # every stage and job carries the span tag of the thread that ran it
    assert all(st["span"] is not None for st in stages.values())
    assert all(j["span"] is not None for j in jobs)


def _task_end(stage, launch, finish, run_ms=10, py_ms=None, write=0, start_ms=None, init_ms=None):
    acc = [
        {"Name": f"time to {what} Python workers", "Update": str(ms)}
        for what, ms in (("run", py_ms), ("start", start_ms), ("initialize", init_ms))
        if ms is not None
    ]
    return (
        '{"Event":"SparkListenerTaskEnd","Stage ID":%d,"Task Info":{"Launch Time":%d,'
        '"Finish Time":%d,"Failed":false,"Killed":false,"Accumulables":%s},'
        '"Task Metrics":{"Executor Run Time":%d,"Executor CPU Time":1000000,"JVM GC Time":0,'
        '"Shuffle Write Metrics":{"Shuffle Bytes Written":%d,"Shuffle Records Written":1}}}'
        % (stage, launch, finish, str(acc).replace("'", '"'), run_ms, write)
    )


def _stage_done(stage, submit, complete):
    return (
        '{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":%d,'
        '"Submission Time":%d,"Completion Time":%d}}' % (stage, submit, complete)
    )


def test_parse_sums_tasks_and_drops_unfinished_stages():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Submission Time":1000,'
        '"Properties":{"perfbench.span":"7"}}',
        '{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":0},'
        '"Properties":{"perfbench.span":"7","spark.job.description":"x"}}',
        _task_end(0, 1000, 1100, run_ms=100, write=50, py_ms=60, start_ms=20, init_ms=10),
        _task_end(0, 1000, 1400, run_ms=400, write=70, py_ms=90, init_ms=300),  # reused worker
        _stage_done(0, 1000, 1500),
        _task_end(1, 1500, 1600, py_ms=80),  # stage 1 never completes
        '{"Event":"SparkListenerJobEnd","Job ID":0,"Completion Time":1700}',
    ]
    stages, jobs = parse_events(lines)
    assert list(stages) == [0]
    st = stages[0]
    assert st["span"] == 7
    assert st["run_s"] == pytest.approx(0.5)
    assert st["shuffle_write_bytes"] == 120
    assert st["python_run_s"] == pytest.approx(0.15)
    assert st["python_start_s"] == pytest.approx(0.03)
    assert st["tasks"] == [pytest.approx(0.1), pytest.approx(0.4)]
    assert jobs == [{"id": 0, "span": 7, "start": 1.0, "end": 1.7}]
    assert task_skew([st]) == pytest.approx(0.4 / 0.25)


def test_stage_goes_to_the_span_it_is_tagged_with():
    spans = [
        _span(0, "round", None, 0.0, 100.0),
        _span(1, "engine.batch", 0, 10.0, 50.0),
        _span(2, "lake.merge", 1, 20.0, 40.0),
    ]
    # the tag wins over the time: stage 1 ran inside the merge span's
    # interval but was tagged with the batch
    stages = {
        i: {"id": i, "span": tag, "submit": t, "complete": t + 1}
        for i, (tag, t) in enumerate([(0, 5.0), (1, 25.0), (2, 25.0), (None, 30.0), (9, 31.0)])
    }
    by = attribute(stages, spans)
    assert [s["id"] for s in by[0]] == [0]
    assert [s["id"] for s in by[1]] == [1]
    assert [s["id"] for s in by[2]] == [2]  # 3 is untagged, 9 is no span here


def test_round_layers_split_batch_time_and_cover_it():
    spans = [
        _span(0, "round", None, 0.0, 100.0),
        _span(1, "engine.batch", 0, 10.0, 50.0),
        _span(2, "lake.merge", 1, 20.0, 40.0, folded=True),
        _span(3, "state.put", 1, 41.0, 42.0),
        _span(4, "lake.compact", 0, 60.0, 70.0),
    ]
    mk = lambda i, sub, **kw: {  # noqa: E731
        "id": i, "submit": sub, "complete": sub + 2, "tasks": [1.0, 1.0, 3.0], "run_s": 5.0,
        "cpu_s": 1.0, "gc_s": 0.1, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
        "shuffle_read_bytes": 0, "input_bytes": 0, "output_records": 0, "spill_bytes": 0,
        "python_run_s": 0.0, "python_start_s": 0.0, **kw,
    }
    stages = {
        0: mk(0, 21.0, span=2, shuffle_write_bytes=100, shuffle_write_records=10),
        1: mk(1, 30.0, span=2, shuffle_read_bytes=100, python_run_s=4.0, output_records=8),
        2: mk(2, 61.0, span=4, shuffle_write_bytes=30),
    }
    jobs = [{"id": 0, "span": 2, "start": 21.0, "end": 35.0}]
    rnd = {"span": 0, "rows_in": 10, "progress": [(1500, 1000)]}
    m, diag = round_layers(spans, stages, jobs, rnd)
    assert m["engine.batch_s"] == 40.0
    assert m["engine.self_s"] == pytest.approx(40 - 20 - 1)
    assert m["lake.merge_s"] == 20.0 and m["lake.fold_commit_s"] == 20.0
    assert m["lake.merge.driver_s"] == pytest.approx(20 - 14)
    assert m["state.put_s"] == 1.0
    assert m["exchange.shuffle_bytes"] == 100 and m["exchange.map_s"] == 2.0
    assert m["fold.reduce_s"] == 2.0 and m["fold.task_skew"] == 3.0
    assert m["extract.python_s"] == 4.0 and m["extract.python_share"] == 0.8
    assert m["dedup.keys_out"] == 8 and m["dedup.keep_ratio"] == 0.8
    assert m["extract.us_per_row"] == pytest.approx(4.0 * 1e6 / 8)
    assert m["lake.compact.exchanges"] == 1 and m["lake.compact.shuffle_bytes"] == 30
    assert m["streaming.trigger_overhead_s"] == 0.5
    assert m["jvm.cpu_s"] == 3.0
    (cov,) = diag["batch_coverage"]
    assert cov["spark_s"] == 14.0 and cov["driver_s"] == 26.0
    assert cov["residual"] == 0.0 and cov["stray_stages"] == []


def test_batch_coverage_catches_jobs_on_the_wrong_span():
    spans = [
        _span(0, "engine.batch", None, 10.0, 50.0),
        _span(1, "lake.merge", 0, 20.0, 40.0),
        _span(2, "lake.compact", None, 60.0, 70.0),
    ]
    stage = lambda i, span, sub: {"id": i, "span": span, "submit": sub}  # noqa: E731
    job = lambda i, span, a, b: {"id": i, "span": span, "start": a, "end": b}  # noqa: E731
    good = [job(0, 1, 21.0, 35.0), job(1, 0, 12.0, 16.0), job(2, 2, 61.0, 65.0)]
    ok = batch_coverage(spans, {0: stage(0, 1, 21.0)}, good, spans[0])
    assert ok["residual"] == 0.0 and ok["stray_stages"] == []
    # a job that ran inside the batch but is tagged with a later span, or
    # with none, is missing from the Spark layers
    for tag in (2, None):
        jobs = good[:1] + [job(1, tag, 12.0, 16.0)]
        cov = batch_coverage(spans, {5: stage(5, tag, 12.0)}, jobs, spans[0])
        assert cov["residual"] == pytest.approx(4 / 40)
        assert cov["stray_stages"] == [5]
    # a job tagged with the batch that ran outside it is counted twice over
    late = good + [job(3, 1, 55.0, 59.0)]
    assert batch_coverage(spans, {}, late, spans[0])["residual"] == pytest.approx(4 / 40)


# ------------------------------------------------------------ failure counts
def test_a_failed_operation_counts_once():
    from perfbench.run import measure

    class Failing:
        def __init__(self, raise_from_op):
            self.checks = Checks(lambda msg: None)
            self.raise_from_op = raise_from_op

        def round(self, tracer):
            self.checks.check(True, "a check before the failure")
            if self.raise_from_op:
                return self.checks.op(lambda: 1 / 0)
            raise RuntimeError("outside any operation")

    for raise_from_op in (True, False):
        w = Failing(raise_from_op)
        assert measure(w, Tracer(enabled=False), 0) == []
        assert (w.checks.attempted, w.checks.failed) == (2, 1)
    with pytest.raises(OpFailed):
        Checks(lambda msg: None).op(lambda: 1 / 0)


# ------------------------------------------------------------------- oracle
def _changelog_table(rows, with_partition=True):
    cols = list(zip(*rows))
    ts = [dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s) for s in cols[3]]
    data = {
        "log_offset": pa.array(cols[1], pa.int64()),
        "op": pa.array(cols[2]),
        "url": pa.array(cols[4]),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array([None if o == "D" else b"<p>%s</p>" % u.encode() for o, u in zip(cols[2], cols[4])], pa.binary()),
    }
    if with_partition:
        data = {"log_partition": pa.array(cols[0], pa.int32()), **data}
    return pa.table(data)


def test_oracle_lww_over_hive_and_flat_files(tmp_path):
    # (partition, offset, op, ts seconds, url)
    prefix = [(0, 0, "I", 10, "a"), (0, 1, "U", 5, "a"), (1, 0, "I", 1, "b"), (1, 1, "D", 2, "b")]
    tail = [(0, 2, "U", 20, "a"), (1, 2, "I", 1, "b"), (1, 3, "I", 3, "c"), (1, 4, "U", 3, "c")]
    pdir = tmp_path / "prefix"
    for p in (0, 1):
        d = pdir / f"log_partition={p}"
        d.mkdir(parents=True)
        pq.write_table(
            _changelog_table([r for r in prefix if r[0] == p], with_partition=False),
            d / "part.parquet",
        )
    (tmp_path / "tail").mkdir()
    pq.write_table(_changelog_table(tail), tmp_path / "tail" / "part-0000.parquet")

    before = oracle.visible(oracle.lww_winners([str(pdir)]))
    assert set(before) == {"a"}  # b's delete (ts 2) beats its insert (ts 1)
    after = oracle.visible(oracle.lww_winners([str(pdir), str(tmp_path / "tail")]))
    # a: ts 20 wins; b: the late insert (ts 1) loses to the delete; c: same
    # ts, higher offset wins
    assert set(after) == {"a", "c"}
    assert after["c"][1] == 4
    assert oracle.expected_changes(before, after) == {"insert": 1, "update": 1, "delete": 0}


def test_digest_ignores_order_and_sees_every_field():
    rows = [("a", 1, 2), ("b", 3, 4), ("c", 5, 6)]
    n, d = oracle.digest(rows)
    assert n == 3
    assert oracle.digest(reversed(rows)) == (n, d)
    assert oracle.digest([("a", 1, 2), ("b", 3, 4), ("c", 5, 7)]) != (n, d)
    assert oracle.digest([("a", 1, 2), ("b", 3, 4)])[0] == 2


# ---------------------------------------------------------------- CPU clock
def test_tree_cpu_counts_this_process_and_a_child():
    import subprocess
    import sys

    from perfbench.stats import TreeCpu

    cpu = TreeCpu()
    total0, jit0 = cpu.read()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(5)"]
    )
    try:
        time.sleep(1.0)
        total1, jit1 = cpu.read()
    finally:
        child.kill()
        child.wait()
    assert total1 - total0 >= 0.25  # the child's busy loop, read while it lives
    assert jit0 == jit1 == 0  # no JVM in this tree


# ------------------------------------------------------------------ processes
def test_end_all_waits_for_orphans_and_kills_stragglers():
    import subprocess

    assert adopt_orphans()
    # each shell exits at once and orphans its sleep, which is re-parented here
    subprocess.run(["sh", "-c", "sleep 0.3 &"], check=True)
    assert descendants()
    assert end_all(grace=10) == []  # ended on its own, and was waited for
    assert not descendants()
    subprocess.run(["sh", "-c", "sleep 30 &"], check=True)
    t = time.monotonic()
    assert len(end_all(grace=0.2)) == 1
    assert not descendants() and time.monotonic() - t < 5
