"""Measure what z-order compaction buys over the lexicographic default:
the same lake compacted both ways, then a SECOND-dimension (path-range)
zone-mapped query on each layout.

Under lexicographic (repo, path) clustering every file spans ~the full
path domain, so a path-only predicate admits every file; under
z-order both per-file ranges stay bounded and the same predicate
prunes most files. Reports files pruned, wall per layout, row
equality, and the repo-dimension cost z-order pays (its repo pruning
is coarser than a pure repo sort).

Usage: python scripts/zorder_bench.py [n_events] [rows_per_file]
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

    work = tempfile.mkdtemp(prefix="zorder_bench_")
    try:
        spec = FixtureSpec(n_repos=2000, paths_per_repo=200, n_events=n_events)
        write_events_parquet_fast(
            os.path.join(work, "events"), spec,
            events_per_file=max(n_events // 8, 1),
        )
        ev = spark.read.parquet(os.path.join(work, "events", "*.parquet"))

        lakes = {}
        for layout, zcols in (("lex", None), ("zorder", ["repo", "path"])):
            lake = LakeTable.create(
                os.path.join(work, f"lake_{layout}"), num_buckets=16
            )
            replay_batches(spark, lake, ev, num_chunks=4)
            t0 = time.time()
            lake.compact(
                spark, max_records_per_file=rows_per_file, zorder=zcols
            )
            compact_sec = round(time.time() - t0, 3)
            lake.analyze(["repo", "path"])
            lakes[layout] = (lake, compact_sec)

        # the second-dimension query z-order exists for: a narrow path
        # range (~1% of paths), no repo constraint
        # fixture paths look like src/{j//10}/f{j:05d}.{ext}; this range
        # covers two of the 200 paths (any extension) = ~1% selectivity
        bounds = {"path": ("src/10/f00100", "src/10/f00101z")}
        pred = (F.col("path") >= "src/10/f00100") & (
            F.col("path") <= "src/10/f00101z"
        )
        # and the first-dimension query lex is tuned for, to show the trade
        rbounds = {"repo": ("repo_0100", "repo_0119")}
        rpred = (F.col("repo") >= "repo_0100") & (F.col("repo") <= "repo_0119")

        out = {
            "n_events": n_events,
            "rows_per_file": rows_per_file,
        }
        for layout, (lake, compact_sec) in lakes.items():
            fstats = lake.manifest()["file_stats"]
            n_files = len(fstats)
            res = {"base_files": n_files, "compact_sec": compact_sec}
            for tag, b, p in (("path", bounds, pred), ("repo", rbounds, rpred)):
                pruned = sum(
                    1 for s in fstats.values() if not _stats_admit(s, b)
                )
                runs = []
                for i in range(3):
                    t0 = time.time()
                    n_a = lake.scan_where(spark, b).count()
                    dt = round(time.time() - t0, 3)
                    if i > 0:
                        runs.append(dt)
                n_b = lake.snapshot(spark).filter(p).count()
                assert n_a == n_b, f"{layout}/{tag} diverged: {n_a} vs {n_b}"
                res[f"{tag}_pruned_fraction"] = round(pruned / n_files, 4)
                res[f"{tag}_rows"] = n_a
                res[f"{tag}_scan_sec"] = runs
            out[layout] = res
        out["path_query_speedup_best"] = round(
            min(out["lex"]["path_scan_sec"])
            / min(out["zorder"]["path_scan_sec"]),
            3,
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
