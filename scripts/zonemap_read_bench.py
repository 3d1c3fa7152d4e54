"""Measure the READ-side value of manifest zone maps at a file layout
with several key-sorted files per bucket — the 100 TB shape that
`compact(max_records_per_file=...)` now produces on demand.

Replay a fixture, compact with a small file-size target (tight
per-file (repo, _lsn) ranges), analyze(), then compare a selective
repo-range query through `scan_where` (manifest-pruned driver-side)
vs the same predicate over the plain snapshot (every file opened).
Reports files pruned / total and wall per path, plus row-equality.

Usage: python scripts/zonemap_read_bench.py [n_events] [rows_per_file]
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
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rows_per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000

    from pyspark.sql import functions as F

    from tartare_spark import LakeTable, get_spark
    from tartare_spark.fixtures import FixtureSpec, write_events_parquet_fast
    from tartare_spark.lake.table import _stats_admit
    from tartare_spark.operators.apply import replay_batches

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="zonemap_read_")
    try:
        spec = FixtureSpec(n_repos=2000, paths_per_repo=200, n_events=n_events)
        write_events_parquet_fast(
            os.path.join(work, "events"), spec,
            events_per_file=max(n_events // 8, 1),
        )
        ev = spark.read.parquet(os.path.join(work, "events", "*.parquet"))
        lake = LakeTable.create(
            os.path.join(work, "lake"), num_buckets=16
        )
        replay_batches(spark, lake, ev, num_chunks=4)
        lake.compact(spark, max_records_per_file=rows_per_file)
        lake.analyze(["repo", "_lsn"])

        m = lake.manifest()
        n_files = sum(len(fl) for fl in m["files"].values())
        fstats = m["file_stats"]
        # a selective predicate: one narrow repo range (~1% of repos)
        bounds = {"repo": ("repo_0100", "repo_0119")}
        pruned = sum(
            1 for s in fstats.values() if not _stats_admit(s, bounds)
        )

        def timed(fn):
            t0 = time.time()
            n = fn().count()
            return n, round(time.time() - t0, 3)

        # warmup both paths once (JIT), then measure twice each
        runs = {"scan_where": [], "full_filter": []}
        pred = (F.col("repo") >= "repo_0100") & (F.col("repo") <= "repo_0119")
        for i in range(3):
            n_a, dt_a = timed(lambda: lake.scan_where(spark, bounds))
            n_b, dt_b = timed(lambda: lake.snapshot(spark).filter(pred))
            assert n_a == n_b, f"zone-mapped scan diverged: {n_a} vs {n_b}"
            if i > 0:
                runs["scan_where"].append(dt_a)
                runs["full_filter"].append(dt_b)

        print(
            json.dumps(
                {
                    "n_events": n_events,
                    "rows_per_file": rows_per_file,
                    "base_files": n_files,
                    "files_pruned": pruned,
                    "pruned_fraction": round(pruned / n_files, 4),
                    "rows_returned": n_a,
                    "scan_where_sec": runs["scan_where"],
                    "full_filter_sec": runs["full_filter"],
                    "speedup_best": round(
                        min(runs["full_filter"]) / min(runs["scan_where"]), 3
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
