"""The state gate: final lake state against a DuckDB oracle.

Run after the timed window. Each check is one operation; a mismatch or
an exception counts as a failed operation.

- ``check_snapshot``: the final snapshot's ``(repo, path, lsn, content
  sha)`` equals last-writer-wins-by-LSN over the snapshot and every
  delivered event, computed by DuckDB from the same parquet files.
- ``check_mv``: the incrementally refreshed MV equals a full build.
- ``check_changes``: each ``changes(from)`` count equals the delta rows
  the data commits in that range recorded in their manifests.
"""

from __future__ import annotations

import os

import duckdb

ORACLE_SQL = """
WITH ev AS (
    SELECT repo, path, lsn, op, content FROM read_parquet($events)
    UNION ALL
    SELECT repo, path, lsn, 'update' AS op, content FROM read_parquet($snap)
), last AS (
    SELECT repo, path, max(lsn) AS lsn,
           arg_max(op, lsn) AS op, arg_max(content, lsn) AS content
    FROM ev GROUP BY repo, path
)
SELECT repo, path, lsn, sha256(content) AS sha FROM last WHERE op <> 'delete'
"""


def oracle_state(snapshot_files: list[str], event_files: list[str]):
    """Expected live rows as a pandas DataFrame (repo, path, lsn, sha)."""
    con = duckdb.connect()
    try:
        return con.execute(
            ORACLE_SQL, {"events": event_files, "snap": snapshot_files}
        ).df()
    finally:
        con.close()


def diff_counts(expected, actual) -> tuple[int, int]:
    """Rows only in ``expected``, rows only in ``actual`` (multisets)."""
    con = duckdb.connect()
    try:
        con.register("e", expected)
        con.register("a", actual)
        q = "SELECT count(*) FROM (SELECT * FROM {} EXCEPT ALL SELECT * FROM {})"
        return (con.execute(q.format("e", "a")).fetchone()[0],
                con.execute(q.format("a", "e")).fetchone()[0])
    finally:
        con.close()


def engine_state(spark, lake):
    """Live rows of the lake's current snapshot, in the oracle's shape."""
    from pyspark.sql import functions as F

    return lake.snapshot(spark).select(
        "repo", "path", F.col("_lsn").alias("lsn"), F.col("_content_sha").alias("sha")
    ).toPandas()


def check_snapshot(spark, lake, snapshot_dir: str, event_files: list[str]) -> dict:
    snap_files = sorted(
        os.path.join(snapshot_dir, f) for f in os.listdir(snapshot_dir)
        if f.endswith(".parquet")
    )
    expected = oracle_state(snap_files, event_files)
    actual = engine_state(spark, lake)
    missing, extra = diff_counts(expected, actual)
    return {"ok": missing == 0 and extra == 0, "live_rows": len(actual),
            "expected_rows": len(expected), "missing": missing, "extra": extra}


def check_mv(spark, lake, mv_path: str, scratch_path: str) -> dict:
    from tartare_spark.operators.mv import build_mv, read_mv

    full = build_mv(spark, lake, scratch_path).toPandas()
    inc = read_mv(spark, mv_path).toPandas()
    missing, extra = diff_counts(full, inc[full.columns.tolist()])
    return {"ok": missing == 0 and extra == 0, "groups": len(full),
            "missing": missing, "extra": extra}


def committed_delta_rows(lake, from_v: int, to_v: int) -> int:
    """Delta rows recorded by the data commits in ``(from_v, to_v]``;
    maintenance commits keep their parent's batch id and add none."""
    total, prev = 0, lake.manifest(from_v)["batch_id"]
    for v in range(from_v + 1, to_v + 1):
        m = lake.manifest(v)
        if m["batch_id"] != prev:
            total += int(m["stats"].get("keys", 0))
        prev = m["batch_id"]
    return total


def check_changes(lake, reads: list[tuple[int, int, int]]) -> dict:
    """``reads`` holds ``(from_v, to_v, rows counted)`` per changes() read."""
    bad = [(f, t, n) for f, t, n in reads if committed_delta_rows(lake, f, t) != n]
    return {"ok": not bad, "reads": len(reads), "mismatched": len(bad)}
