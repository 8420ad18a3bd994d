"""Independent correctness oracle: last-writer-wins over the changelog parquet
in DuckDB, plus an order-insensitive digest of the visible table.

The winner per url is the event with the greatest (warc_ts, log_offset); a
url whose winner is a delete is not visible. The engine must end with exactly
the oracle's visible rows, versions and extracted text.
"""

from __future__ import annotations

import hashlib

import duckdb

_MASK = (1 << 64) - 1


def source(paths: list[str]) -> str:
    """A DuckDB relation over the changelog parquet under `paths`, each
    either hive-partitioned by log_partition or flat."""
    cols = "log_partition, log_offset, op, url, warc_ts, html"
    parts = " UNION ALL ".join(
        f"SELECT {cols} FROM read_parquet('{p}/**/*.parquet', hive_partitioning = true)"
        for p in paths
    )
    return f"({parts})"


def lww_winners(paths: list[str], con=None) -> dict[str, tuple[int, int, bool, bytes | None]]:
    """url → (warc_ts epoch µs, log_offset, is_delete, html) of its winning
    event over every changelog file under `paths`."""
    con = con or duckdb.connect()
    rows = con.execute(
        f"""
        SELECT url, epoch_us(warc_ts), log_offset, op = 'D', html
        FROM {source(paths)}
        QUALIFY row_number() OVER (
            PARTITION BY url ORDER BY warc_ts DESC, log_offset DESC) = 1
        """
    ).fetchall()
    return {u: (ts, off, dele, html) for u, ts, off, dele, html in rows}


def visible(winners: dict) -> dict[str, tuple[int, int, bytes]]:
    """url → (warc_ts µs, log_offset, html) for urls whose winner is not a delete."""
    return {u: (ts, off, html) for u, (ts, off, dele, html) in winners.items() if not dele}


def row_hash(url: str, ts_us: int, off: int) -> int:
    h = hashlib.blake2b(f"{url}\x1f{ts_us}\x1f{off}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def digest(rows) -> tuple[int, int]:
    """(row count, sum of per-row hashes mod 2^64) over (url, ts µs, offset)
    rows — equal for equal multisets, whatever the order."""
    n, acc = 0, 0
    for url, ts, off in rows:
        n += 1
        acc = (acc + row_hash(url, int(ts), int(off))) & _MASK
    return n, acc


def expected_changes(before: dict, after: dict) -> dict[str, int]:
    """Net change counts between two visible states (url → (ts, off, ...)),
    classified the way `SnapshotTable.changes_between` does."""
    ins = sum(1 for u in after if u not in before)
    dele = sum(1 for u in before if u not in after)
    upd = sum(1 for u, v in after.items() if u in before and before[u][:2] != v[:2])
    return {"insert": ins, "update": upd, "delete": dele}
