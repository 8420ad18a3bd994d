"""The benchmark's workloads: input generation, the measured round and the
correctness checks, driven only through the engine's public API.

`bulk_replay` applies a whole changelog in two delta commits to a fresh
table. `trickle_ingest` preloads a table and feeds the changelog's tail
through the streaming tail, one small file per micro-batch. Both rounds then
scan the table, read the net changes of the round's commits, make point
lookups and compact (bulk looks up after the compaction), so every
end-to-end metric exists on both workloads.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gobblin_spark.datagen import synth_changelog, write_changelog
from gobblin_spark.engine import CdcEngine
from gobblin_spark.extract import extract_text, extract_text_series
from gobblin_spark.lake import SnapshotTable
from gobblin_spark.state import StateStore
from gobblin_spark.streaming import tail_changelog

from . import oracle
from .stats import TreeCpu
from .tracing import TracedStateStore, TracedTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content_length", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)
LOG_PARTITIONS = 32
N_BUCKETS = 16
APPLY_BATCHES = 2  # bulk: delta commits per round
LOOKUPS = 20  # the median has ten samples beyond it
TEXT_SAMPLE = 1000
WARM_EVENTS = 2000  # one small apply per set-up
WARM_BUCKETS = 4  # one reduce task per core: spawns every Python worker
WARM_LOOKUPS = 2  # per warm-up
# one compaction's CPU spread 0.39 over ten trickle runs, three's median 0.06-0.15
COMPACTIONS = 3
SERIES_SAMPLE = 10_000
SERIES_REPEATS = 3


@dataclass(frozen=True)
class Spec:
    name: str
    n_events: int
    preload_frac: float = 0.0  # trickle: share of each log partition preloaded
    tail_files: int = 0  # trickle: micro-batches per round
    max_generations: int | None = None  # trickle: the preloaded table's
    # the point lookups read the compacted table (per-file key ranges)
    # rather than the generations the commits left (merge-on-read)
    lookups_compacted: bool = False

    def generator(self, seed: int) -> dict:
        """Every `synth_changelog` argument but the session, its defaults
        included: the call `prepare` makes and provenance records."""
        args = inspect.signature(synth_changelog).bind(
            None, n_events=self.n_events, n_partitions=LOG_PARTITIONS, seed=seed
        )
        args.apply_defaults()
        return {k: v for k, v in args.arguments.items() if k != "spark"}


SPECS = {
    s.name: s
    for s in (
        Spec("bulk_replay", n_events=48_000, lookups_compacted=True),
        Spec(
            "trickle_ingest",
            n_events=16_000,
            preload_frac=0.8,
            tail_files=3,
            max_generations=2,
        ),
    )
}


class OpFailed(Exception):
    """An engine operation raised; `Checks.op` has counted it already."""


class Checks:
    """Counts attempted and failed operations; a failure is reported, never raised."""

    def __init__(self, log):
        self.attempted = 0
        self.failed = 0
        self.log = log

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"check failed: {what}")

    def op(self, fn, *args, **kwargs):
        """Run one engine operation and count it; its error is counted and
        re-raised as `OpFailed`, so the round is abandoned."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            raise OpFailed(repr(exc)) from exc


def _ts_us(dt) -> int:
    return int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    def __init__(self, spark, spec: Spec, seed: int, work: str, checks: Checks, cpu: TreeCpu):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work = work
        self.checks = checks
        self.cpu = cpu
        self._tables = 0

    # ------------------------------------------------------------- inputs
    def prepare(self) -> None:
        """Generate the changelog and compute the oracle; trickle also splits
        off its tail and preloads the table."""
        spec, spark = self.spec, self.spark
        t0 = time.perf_counter()
        self.changelog_path = os.path.join(self.work, "changelog")
        write_changelog(
            synth_changelog(spark, **spec.generator(self.seed)),
            self.changelog_path,
        )
        if spec.tail_files:
            self._split()
            sources = [self.prefix_path, self.tail_path]
            before = oracle.visible(oracle.lww_winners([self.prefix_path]))
        else:
            sources = [self.changelog_path]
            before = {}
        self.checks.log(f"inputs written {time.perf_counter() - t0:.1f}s")
        winners = oracle.lww_winners(sources)
        self.expected = oracle.visible(winners)
        self.expected_changes = oracle.expected_changes(before, self.expected)
        self.expected_digest = oracle.digest(
            (u, ts, off) for u, (ts, off, _) in self.expected.items()
        )
        # Lookups probe surviving urls only — an absent key prunes every file
        # and returns early, so a varying share of them would make the
        # latency depend on the seed. Trickle probes urls its tail touched.
        rng = random.Random(self.seed)
        visible = sorted(self.expected)
        if spec.tail_files:
            con = oracle.duckdb.connect()
            touched = {
                r[0]
                for r in con.execute(
                    f"SELECT DISTINCT url FROM read_parquet('{self.tail_path}/*.parquet')"
                ).fetchall()
            }
            candidates = [u for u in visible if u in touched]
        else:
            candidates = visible
        self.lookup_keys = rng.sample(candidates, min(LOOKUPS, len(candidates)))
        self.text_sample = rng.sample(visible, min(TEXT_SAMPLE, len(visible)))
        if spec.tail_files:
            self._preload()

    def _split(self) -> None:
        """Split each log partition at `preload_frac` of its offsets: the head
        becomes a hive-partitioned changelog, the tail `tail_files` flat
        parquet files (one offset slice of every partition each), with
        increasing modification times so the file stream reads them in order.
        The warm-up streams one more flat file: the first `WARM_EVENTS`
        offsets of the log."""
        spec = self.spec
        self.prefix_path = os.path.join(self.work, "prefix")
        self.tail_path = os.path.join(self.work, "tail")
        self.warm_tail_path = os.path.join(self.work, "warm_tail")
        os.makedirs(self.tail_path)
        os.makedirs(self.warm_tail_path)
        con = oracle.duckdb.connect()
        con.execute(
            f"""
            CREATE TABLE cl AS
            SELECT CAST(log_partition AS INTEGER) AS log_partition, log_offset, op, url,
                   warc_ts, html, lang, content_length
            FROM read_parquet('{self.changelog_path}/**/*.parquet', hive_partitioning = true);
            CREATE TABLE cut AS
            SELECT log_partition, count(*) AS n,
                   CAST(floor(count(*) * {spec.preload_frac}) AS BIGINT) AS head
            FROM cl GROUP BY log_partition;
            CREATE TABLE part AS
            SELECT cl.*, CASE WHEN log_offset < head THEN -1 ELSE
                   CAST(floor((log_offset - head) * {spec.tail_files} / (n - head)) AS INTEGER)
                   END AS slice
            FROM cl JOIN cut USING (log_partition);
            COPY (SELECT * EXCLUDE (slice) FROM part WHERE slice < 0)
            TO '{self.prefix_path}' (FORMAT parquet, PARTITION_BY (log_partition));
            COPY (SELECT * EXCLUDE (slice) FROM part
                  WHERE log_offset < {WARM_EVENTS // LOG_PARTITIONS}
                  ORDER BY log_partition, log_offset)
            TO '{self.warm_tail_path}/part-0000.parquet' (FORMAT parquet);
            """
        )
        mtime = time.time() - 3600
        for k in range(spec.tail_files):
            dst = os.path.join(self.tail_path, f"part-{k:04d}.parquet")
            con.execute(
                f"COPY (SELECT * EXCLUDE (slice) FROM part WHERE slice = {k} "
                f"ORDER BY log_partition, log_offset) TO '{dst}' (FORMAT parquet)"
            )
            os.utime(dst, (mtime + k, mtime + k))
        (self.tail_events,) = con.execute("SELECT count(*) FROM part WHERE slice >= 0").fetchone()

    def _preload(self) -> None:
        """Apply the prefix in one commit, then compact: trickle's full-size
        warm-up and the table every round starts from."""
        self.preload_root = os.path.join(self.work, "preloaded")
        table = SnapshotTable.create(
            self.spark,
            self.preload_root,
            SCHEMA,
            key="url",
            n_buckets=N_BUCKETS,
            max_generations=self.spec.max_generations,
        )
        CdcEngine(self.spark, table, job_id="preload", merge_mode="delta").run(self.prefix_path)
        # Keep tombstones: the tail still holds late events older than some
        # prefix deletes, and a dropped tombstone would let them resurrect
        # the row (full-history LWW, which the oracle computes, keeps it dead).
        table.compact(drop_tombstones=False)

    def _fresh_dir(self, tag: str) -> str:
        self._tables += 1
        return os.path.join(self.work, f"{tag}{self._tables:03d}")

    def _mark(self) -> tuple[float, float]:
        """(wall seconds, CPU seconds of the process tree but its JIT compiler
        threads). Compiles land in whichever operation runs while they do:
        they were half of a read's CPU and most of its spread from run to
        run, so an operation's CPU leaves them out."""
        total, jit = self.cpu.read()
        return time.perf_counter(), total - jit

    def _since(self, mark) -> tuple[float, float]:
        """(wall seconds, CPU seconds) since `mark`."""
        wall, cpu = self._mark()
        return wall - mark[0], cpu - mark[1]

    # ------------------------------------------------------------ warm-up
    def warm(self) -> None:
        """The set-up warm-up: a small round. Apply about the first
        `WARM_EVENTS` offsets of the changelog to a fresh table the way the
        round applies (bulk: plan and `apply_batch`; trickle: one streaming
        micro-batch), then make every read and the compaction the round
        makes, in its order, once each, so that the round runs compiled code
        from its first operation on."""
        root = self._fresh_dir("warm")
        table = SnapshotTable.create(self.spark, root, SCHEMA, key="url", n_buckets=WARM_BUCKETS)
        v0 = table.version
        engine = self._engine(table, root, None, "warm")
        if self.spec.tail_files:
            tail_changelog(
                engine, self.warm_tail_path, root + "_checkpoint", available_now=True
            ).awaitTermination()
        else:
            changelog = self.spark.read.parquet(self.changelog_path)
            first = engine.plan(changelog, WARM_EVENTS, source_path=self.changelog_path)[0]
            engine.apply_batch(changelog, first)
        keys = [r[0] for r in table.read().select("url").limit(WARM_LOOKUPS).collect()]
        _noop_scan(table.read())
        table.changes_between(v0, table.version).groupBy("_change_type").count().collect()
        if not self.spec.lookups_compacted:
            for key in keys:
                table.read(key_equals=key).collect()
        table.compact()
        if self.spec.lookups_compacted:
            for key in keys:
                table.read(key_equals=key).collect()

    def html_sample(self) -> list:
        """The first `SERIES_SAMPLE` non-null html payloads in log order."""
        con = oracle.duckdb.connect()
        return [
            r[0]
            for r in con.execute(
                f"SELECT html FROM {oracle.source([self.changelog_path])} WHERE html IS NOT NULL "
                f"ORDER BY log_partition, log_offset LIMIT {SERIES_SAMPLE}"
            ).fetchall()
        ]

    # --------------------------------------------------------------- round
    def round(self, tracer) -> dict:
        """One measured round. Every operation is timed in wall seconds and in
        CPU seconds of this process tree (driver, JVM, Python workers);
        returns those and, for the traced run, what the per-layer metrics
        need."""
        out: dict = {}
        with tracer.span("round") as round_span:
            out["span"] = round_span.get("id")
            if self.spec.tail_files:
                table = self._trickle_apply(tracer, out)
            else:
                table = self._bulk_apply(tracer, out)
            v0, v1 = out["v0"], table.version

            def changes_by_type():
                return table.changes_between(v0, v1).groupBy("_change_type").count().collect()

            # the scan, the net changes and trickle's lookups read the table
            # as the commits left it (merge-on-read over several generations)
            out["scan"], _ = self._timed("read.scan", lambda: _noop_scan(table.read()), tracer)
            out["changes"], changes = self._timed("read.changes", changes_by_type, tracer)
            if not self.spec.lookups_compacted:
                out["lookups"] = self._lookups(table, tracer)
            out["compact"], table = self._compactions(table, tracer)
            if self.spec.lookups_compacted:
                out["lookups"] = self._lookups(table, tracer)
        self._check_changes(changes)
        self._check_final(table)
        return out

    def _timed(self, name: str, fn, tracer) -> tuple[tuple[float, float], object]:
        """Run the operation `fn` once in a span `name`: ((wall seconds, CPU
        seconds), its result)."""
        with tracer.span(name):
            m = self._mark()
            result = self.checks.op(fn)
            return self._since(m), result

    def _compactions(self, table, tracer) -> tuple[tuple[float, float], SnapshotTable]:
        """Compact `COMPACTIONS` copies of the table, each copied outside the
        timing: (median wall seconds, median CPU seconds), and the last
        compacted copy."""
        times = []
        for _ in range(COMPACTIONS):
            root = self._fresh_dir("compact")
            shutil.copytree(table.root, root)
            copy = SnapshotTable(self.spark, root)
            t, _ = self._timed("lake.compact", copy.compact, tracer)
            times.append(t)
        return tuple(statistics.median(x) for x in zip(*times)), copy

    def _lookups(self, table, tracer) -> list[tuple[float, float]]:
        times = []
        for key in self.lookup_keys:
            t, rows = self._timed(
                "read.lookup", lambda k=key: table.read(key_equals=k).collect(), tracer
            )
            times.append(t)
            self._check_lookup(key, rows)
        return times

    def _engine(self, table, root: str, tracer, job_id: str) -> CdcEngine:
        store = StateStore(root + "_state")
        if tracer and tracer.enabled:
            table, store = TracedTable(table, tracer), TracedStateStore(store, tracer)
        return CdcEngine(self.spark, table, store, job_id=job_id, merge_mode="delta")

    def _bulk_apply(self, tracer, out: dict) -> SnapshotTable:
        root = self._fresh_dir("bulk")
        table = SnapshotTable.create(
            self.spark, root, SCHEMA, key="url", n_buckets=N_BUCKETS
        )
        out["v0"] = table.version
        engine = self._engine(table, root, tracer, "bulk")
        path, n = self.changelog_path, self.spec.n_events
        per_batch = -(-n // APPLY_BATCHES)
        commits, results = [], []
        with tracer.span("apply"):
            start = self._mark()
            changelog = self.spark.read.parquet(path)
            with tracer.span("planner.plan"):
                plans = engine.plan(changelog, per_batch, source_path=path)
            for ranges in plans:
                m = self._mark()
                with tracer.span("engine.batch"):
                    results.append(self.checks.op(engine.apply_batch, changelog, ranges))
                commits.append(self._since(m))
            out["apply"] = self._since(start)
        applied = sum(r.get("rows_read", 0) for r in results)
        self.checks.check(
            applied == n and not any(r.get("skipped") for r in results),
            f"bulk applied {applied} of {n} events",
        )
        out.update(commits=commits, results=results, events=n, progress=[])
        out["rows_in"] = applied
        out["keys_out"] = sum(r.get("keys_written", 0) for r in results)
        return table

    def _trickle_apply(self, tracer, out: dict) -> SnapshotTable:
        root = self._fresh_dir("trickle")
        shutil.copytree(self.preload_root, root)
        table = SnapshotTable(self.spark, root)
        out["v0"] = table.version
        engine = self._engine(table, root, tracer, "trickle")
        if tracer.enabled:
            engine.apply_stream_batch = tracer.wrap("engine.batch", engine.apply_stream_batch)
        ends, results = [], []

        def on_batch(result):
            ends.append(self._mark())
            results.append(result)

        with tracer.span("apply"):
            start = self._mark()
            query = tail_changelog(
                engine,
                self.tail_path,
                root + "_checkpoint",
                available_now=True,
                max_files_per_trigger=1,
                on_batch=on_batch,
            )
            self.checks.op(query.awaitTermination)
            out["apply"] = self._since(start)
        self.checks.attempted += len(results)  # one commit per micro-batch
        applied = sum(r.get("offsets_applied", 0) for r in results)
        self.checks.check(
            len(results) == self.spec.tail_files
            and applied == self.tail_events
            and not any(r.get("skipped") for r in results),
            f"trickle committed {len(results)} batches, {applied} of {self.tail_events} events",
        )
        # a micro-batch's latency runs from the previous one's commit (the
        # first from the query start) to its own
        out["commits"] = [
            (b[0] - a[0], b[1] - a[1]) for a, b in zip([start] + ends[:-1], ends)
        ]
        out.update(results=results, events=self.tail_events, rows_in=applied)
        out["progress"] = [
            (p["durationMs"].get("triggerExecution", 0), p["durationMs"].get("addBatch", 0))
            for p in query.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        return table

    # ------------------------------------------------------------- checks
    def _check_lookup(self, key: str, rows) -> None:
        exp = self.expected.get(key)
        if exp is None:
            self.checks.check(not rows, f"lookup {key}: deleted key returned {len(rows)} rows")
            return
        ok = (
            len(rows) == 1
            and rows[0]["url"] == key
            and _ts_us(rows[0]["warc_ts"]) == exp[0]
            and rows[0]["text"] == extract_text(exp[2])
        )
        self.checks.check(ok, f"lookup {key}: row differs from the oracle")

    def _check_changes(self, rows) -> None:
        got = {r[0]: r[1] for r in rows}
        exp = {k: v for k, v in self.expected_changes.items() if v}
        self.checks.check(got == exp, f"changes_between {got} != oracle {exp}")

    def _check_final(self, table) -> None:
        """One scan: (url, ts, offset) of every visible row for the digest, and
        the text of the sampled urls."""
        sampled = F.col("url").isin(self.text_sample)
        arrow = (
            table.read(include_hidden=True)
            .filter(~F.col("_deleted"))
            .select("url", F.unix_micros("warc_ts"), "_version_off", F.when(sampled, F.col("text")))
            .toArrow()
        )
        urls, ts, off, text = (c.to_pylist() for c in arrow.columns)
        got = oracle.digest(zip(urls, ts, off))
        self.checks.check(
            got == self.expected_digest,
            f"final table (rows, digest) {got} != oracle {self.expected_digest}",
        )
        texts = {u: t for u, t in zip(urls, text) if t is not None}
        bad = [u for u in self.text_sample if texts.get(u) != extract_text(self.expected[u][2])]
        self.checks.check(not bad, f"{len(bad)} of {len(self.text_sample)} sampled texts differ")


def series_us_per_row(html: list) -> float:
    """Median µs per row of `extract_text_series` over the html sample."""
    import pandas as pd

    series = pd.Series(html, dtype=object)
    times = []
    for _ in range(SERIES_REPEATS):
        t = time.perf_counter()
        extract_text_series(series)
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e6 / max(1, len(html))
