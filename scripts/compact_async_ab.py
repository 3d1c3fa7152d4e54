"""A/B the async maintenance thread: identical replay with frequent
compaction thresholds, folds on the foreachBatch thread (sync) vs on
the lake's maintenance thread (async). Reports end-to-end replay wall
(the async win = folds overlapping the next trigger's work) and the
final-state equality check. Usage:

    python scripts/compact_async_ab.py [n_events] [num_chunks] [compact_every]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    num_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from tartare_spark import LakeTable, get_spark
    from tartare_spark.fixtures import FixtureSpec, write_events_parquet_fast
    from tartare_spark.operators.apply import replay_batches

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="compact_ab_")
    try:
        spec = FixtureSpec(
            n_repos=500, paths_per_repo=200, n_events=n_events
        )
        write_events_parquet_fast(
            os.path.join(work, "events"), spec,
            events_per_file=max(n_events // 16, 1),
        )
        ev = spark.read.parquet(os.path.join(work, "events", "*.parquet"))

        results = {}
        lakes = {}
        for label in ("warmup", "sync", "async", "sync2", "async2"):
            mode_async = label.startswith("async")
            lake = LakeTable.create(
                os.path.join(work, f"lake_{label}"), num_buckets=16,
                compact_every=compact_every,
            )
            t0 = time.time()
            replay_batches(
                spark, lake, ev, num_chunks=num_chunks,
                compact_async=mode_async,
            )
            lake.wait_maintenance()
            wall = time.time() - t0
            folds = [
                m for m in lake.metrics() if m.get("maintenance")
            ]
            rows = lake.snapshot(spark).count()
            lakes[label] = lake
            results[label] = {
                "wall_seconds": round(wall, 3),
                "events_per_sec": round(n_events / wall, 1),
                "n_folds": len(folds),
                "fold_seconds_total": round(
                    sum(m["seconds"] for m in folds), 3
                ),
                "final_rows": rows,
            }
            print(f"{label}: {json.dumps(results[label])}", flush=True)

        rowcounts = {results[k]["final_rows"] for k in results}
        assert len(rowcounts) == 1, f"final_rows diverged: {results}"
        # full-state equality (not just counts) between the modes: every
        # column of every row, both directions
        a = lakes["sync"].snapshot(spark).drop("_ts")
        b = lakes["async"].snapshot(spark).drop("_ts")
        diffs = a.exceptAll(b).count() + b.exceptAll(a).count()
        assert diffs == 0, f"sync vs async snapshots differ in {diffs} rows"
        best_sync = min(results[k]["wall_seconds"] for k in ("sync", "sync2"))
        best_async = min(
            results[k]["wall_seconds"] for k in ("async", "async2")
        )
        print(
            json.dumps(
                {
                    "n_events": n_events,
                    "num_chunks": num_chunks,
                    "compact_every": compact_every,
                    "best_sync_wall": best_sync,
                    "best_async_wall": best_async,
                    "async_speedup": round(best_sync / best_async, 3),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
