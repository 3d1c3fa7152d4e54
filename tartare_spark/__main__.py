"""Operational CLI — the engine's user-facing entry point.

The reference exposes its pipeline operationally (HTTP + scheduled
jobs); the Spark-native analog is a spark-submit-able CLI over the same
library API the tests drive:

    python -m tartare_spark replay       --events DIR --lake DIR --checkpoint DIR
    python -m tartare_spark replay-multi --events DIR --lakes-root DIR --tables a,b --checkpoint DIR
    python -m tartare_spark snapshot     --lake DIR [--version N] [--limit N] [--out DIR]
    python -m tartare_spark lookup       --lake DIR --repo R --path P
    python -m tartare_spark verify       --lake DIR --replica DIR
    python -m tartare_spark compact      --lake DIR [--buckets 0,3,7]
    python -m tartare_spark vacuum       --lake DIR
    python -m tartare_spark meta         files|snapshots|partitions|refs --lake DIR
    python -m tartare_spark metrics      --lake DIR [--tail N]

On a cluster: ``spark-submit --py-files engine.zip -m`` equivalent —
every subcommand builds its session via :func:`tartare_spark.session.
get_spark`, which inherits spark-submit configuration when present.
Exit code 0 on success; errors print one line to stderr and exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from tartare_spark.session import get_spark

    return get_spark(master=args.master, app_name=f"tartare-{args.cmd}")


def _lake(args):
    from tartare_spark.lake.table import LakeTable

    return LakeTable(args.lake)


def cmd_replay(args) -> int:
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.registry import SchemaRegistry
    from tartare_spark.streaming.runner import run_stream

    spark = _spark(args)
    if args.create and not LakeTable.exists(args.lake):
        lake = LakeTable.create(args.lake, num_buckets=args.buckets)
    else:
        lake = LakeTable(args.lake)
    n_before = len(lake.metrics())
    registry = None
    if args.registry:
        with open(args.registry) as f:
            registry = SchemaRegistry(json.load(f))
    run_stream(
        spark,
        args.events,
        lake,
        args.checkpoint,
        registry=registry,
        max_files_per_trigger=args.max_files_per_trigger,
        stateful_fence=args.fence,
        manifest_fence=args.manifest_fence,
        fence_lateness=args.fence_lateness,
        drop_dup_within_watermark=args.watermark_dedup,
        envelope=args.envelope,
        compact_async=args.compact_async,
    )
    # report only THIS run's batches (metrics.jsonl is cumulative
    # across replays into the same lake)
    m = [x for x in lake.metrics()[n_before:]
         if not x.get("skipped") and not x.get("maintenance")]
    applied = sum(x.get("rows") or 0 for x in m)
    print(
        json.dumps(
            {
                "lake_version": lake.current_version(),
                "batches_applied": len(m),
                "rows_applied": applied,
            }
        )
    )
    return 0


def cmd_replay_multi(args) -> int:
    """S18: one change-event tail fanned into N lake tables under
    --lakes-root/<table>, routed by the --route column."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.registry import SchemaRegistry
    from tartare_spark.streaming.runner import run_stream_multi

    spark = _spark(args)
    tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    if not tables:
        print("replay-multi requires --tables t1,t2,...", file=sys.stderr)
        return 2
    lakes = {}
    for t in tables:
        root = os.path.join(args.lakes_root, t)
        if LakeTable.exists(root):
            lakes[t] = LakeTable(root)
        elif args.create:
            lakes[t] = LakeTable.create(root, num_buckets=args.buckets)
        else:
            print(f"no lake at {root}; pass --create", file=sys.stderr)
            return 2
    registry = None
    if args.registry:
        with open(args.registry) as f:
            registry = SchemaRegistry(json.load(f))
    run_stream_multi(
        spark,
        args.events,
        lakes,
        args.checkpoint,
        route=args.route,
        registry=registry,
        max_files_per_trigger=args.max_files_per_trigger,
        manifest_fence=args.manifest_fence,
        fence_lateness=args.fence_lateness,
        strict=not args.dead_letter,
    )
    print(
        json.dumps(
            {t: {"lake_version": lk.current_version()} for t, lk in lakes.items()}
        )
    )
    return 0


def cmd_verify_replica(args) -> int:
    """S16 operationally: checksum two lakes' snapshots and print the
    dirty-bucket worklist. Exit 0 = replicas equal, 4 = mismatch
    (grep-style, like lookup's 3 = absent)."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.checksum import checksum_diff, table_checksum

    spark = _spark(args)
    val_cols = [c for c in args.val_cols.split(",") if c]

    def summary(root):
        snap = LakeTable(root).snapshot(spark)
        return table_checksum(
            snap, key_cols=["repo", "path"], val_cols=val_cols,
            num_buckets=args.buckets,
        )

    dirty = checksum_diff(summary(args.lake), summary(args.replica)).collect()
    for r in sorted(dirty, key=lambda x: x["bucket"]):
        print(json.dumps(r.asDict(), default=str))
    print(
        json.dumps(
            {"equal": not dirty, "dirty_buckets": len(dirty),
             "num_buckets": args.buckets}
        )
    )
    return 0 if not dirty else 4


def cmd_snapshot(args) -> int:
    spark = _spark(args)
    lake = _lake(args)
    df = lake.snapshot(spark, version=args.version, tag=args.tag)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        # count the just-written parquet (footer metadata only) instead
        # of recomputing the whole snapshot a second time
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "out": args.out}))
    else:
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_lookup(args) -> int:
    spark = _spark(args)
    lake = _lake(args)
    rows = lake.lookup(spark, args.repo, args.path).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0 if rows else 3  # grep-style: 3 = key absent


def cmd_compact(args) -> int:
    spark = _spark(args)
    lake = _lake(args)
    buckets = (
        [int(b) for b in args.buckets.split(",")] if args.buckets else None
    )
    n = lake.compact(
        spark, buckets=buckets,
        max_records_per_file=args.max_records_per_file,
        zorder=args.zorder.split(",") if args.zorder else None,
    )
    print(json.dumps({"compacted_buckets": n, "lake_version": lake.current_version()}))
    return 0


def cmd_vacuum(args) -> int:
    lake = _lake(args)
    n = lake.vacuum()
    print(json.dumps({"orphan_files_removed": n}))
    return 0


def cmd_analyze(args) -> int:
    lake = _lake(args)
    cols = [c for c in args.cols.split(",") if c]
    n = lake.analyze(cols)
    print(
        json.dumps(
            {
                "analyzed_files": n,
                "stats_cols": cols,
                "lake_version": lake.current_version(),
            }
        )
    )
    return 0


def cmd_expire(args) -> int:
    lake = _lake(args)
    n = lake.expire_snapshots(keep_last=args.keep_last)
    print(json.dumps({"expired": n, "oldest_retained": lake.oldest_version()}))
    return 0


def cmd_changes(args) -> int:
    spark = _spark(args)
    lake = _lake(args)
    df = lake.changes(spark, args.from_version, args.to_version)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "out": args.out}))
    else:
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_rebucket(args) -> int:
    spark = _spark(args)
    lake = _lake(args)
    n = lake.rebucket(spark, args.buckets)
    print(json.dumps({"num_buckets": n, "lake_version": lake.current_version()}))
    return 0


def cmd_stats(args) -> int:
    """Driver-side table stats from the manifest + parquet footers: no
    Spark job, O(files) metadata reads."""
    import os

    import pyarrow.parquet as pq

    lake = _lake(args)
    m = lake.manifest()
    buckets = {}
    tot_rows = tot_bytes = tot_files = 0
    for kind in ("files", "deltas"):
        for b, fl in m.get(kind, {}).items():
            st = buckets.setdefault(b, {"base_files": 0, "delta_files": 0, "rows": 0})
            for p in fl:
                md = pq.read_metadata(p)
                st["base_files" if kind == "files" else "delta_files"] += 1
                st["rows"] += md.num_rows
                tot_rows += md.num_rows
                tot_bytes += os.path.getsize(p)
                tot_files += 1
    chains = [s["delta_files"] for s in buckets.values()]
    print(
        json.dumps(
            {
                "version": lake.current_version(),
                "oldest_version": lake.oldest_version(),
                "batch_id": m["batch_id"],
                "num_buckets": lake.num_buckets,
                "files": tot_files,
                "raw_rows": tot_rows,
                "bytes": tot_bytes,
                "max_delta_chain": max(chains, default=0),
                "buckets_with_deltas": sum(1 for c in chains if c),
            }
        )
    )
    return 0


def cmd_mv(args) -> int:
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.mv import build_mv, read_mv, refresh_mv

    spark = _spark(args)
    lake = LakeTable(args.lake)
    if args.action == "build":
        out = build_mv(spark, lake, args.mv, group_col=args.group_col)
    elif args.action == "refresh":
        out = refresh_mv(spark, lake, args.mv, group_col=args.group_col)
    else:
        out = read_mv(spark, args.mv)
    for row in out.orderBy(args.group_col).limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_history(args) -> int:
    lake = _lake(args)
    for rec in lake.history():
        print(json.dumps(rec))
    return 0


def cmd_meta(args) -> int:
    """Queryable metadata tables (Iceberg ``db.table.files`` /
    ``.snapshots`` / ``.partitions`` parity) — lake/metadata.py."""
    from tartare_spark.lake.metadata import (
        files_df,
        partitions_df,
        refs_df,
        snapshots_df,
    )
    from tartare_spark.lake.table import LakeTable

    if args.table in ("snapshots", "refs") and args.version is not None:
        print(
            f"error: meta {args.table} lists ALL entries; "
            "--version applies to files/partitions only",
            file=sys.stderr,
        )
        return 2
    spark = _spark(args)
    lake = LakeTable(args.lake)
    if args.table == "snapshots":
        df = snapshots_df(spark, lake)
    elif args.table == "refs":
        df = refs_df(spark, lake)
    elif args.table == "files":
        df = files_df(spark, lake, version=args.version)
    else:
        df = partitions_df(spark, lake, version=args.version)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_tag(args) -> int:
    # usage validation before any I/O (mirrors cmd_branch): tag --drop
    # without --name would otherwise surface as a confusing
    # "no such tag: None" from drop_tag
    if args.drop and not args.name:
        print("error: tag --drop requires --name", file=sys.stderr)
        return 2
    lake = _lake(args)
    if args.drop:
        v = lake.drop_tag(args.name)
        print(json.dumps({"dropped": args.name, "was_version": v}))
    elif args.name:
        v = lake.create_tag(args.name, version=args.version)
        print(json.dumps({"tag": args.name, "version": v}))
    else:
        print(json.dumps(lake.tags()))
    return 0


def cmd_bootstrap(args) -> int:
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import bootstrap_load

    spark = _spark(args)
    if args.create and not LakeTable.exists(args.lake):
        lake = LakeTable.create(args.lake, num_buckets=args.buckets)
    else:
        lake = LakeTable(args.lake)
    snap = spark.read.parquet(args.snapshot)
    rec = bootstrap_load(
        spark, lake, snap, batch_id=args.batch_id,
        snapshot_lsn=args.snapshot_lsn,
    )
    print(json.dumps(rec))
    return 0


def cmd_branch(args) -> int:
    # usage validation before any I/O: a missing --name must not be
    # masked by an unrelated lake-open failure
    if args.action != "list" and not args.name:
        print(f"error: branch {args.action} requires --name", file=sys.stderr)
        return 2
    lake = _lake(args)
    if args.action == "create":
        lake.create_branch(args.name, version=args.version)
        print(json.dumps({"branch": args.name, **lake.branches()[args.name]}))
    elif args.action == "drop":
        lake.drop_branch(args.name)
        print(json.dumps({"dropped": args.name}))
    elif args.action == "fast-forward":
        v = lake.fast_forward(args.name)
        print(json.dumps({"fast_forwarded": args.name, "main_version": v}))
    elif args.action == "rebase":
        # merge path for a DIVERGED main (fast-forward refuses): re-apply
        # the branch's staged commits onto main through the normal apply
        # path, LWW-by-LSN conflict resolution (operators/apply.py)
        from tartare_spark.operators.apply import rebase_branch

        spark = _spark(args)
        recs = rebase_branch(spark, lake, args.name)
        print(json.dumps({
            "rebased": args.name,
            "batches_applied": len(recs),
            "rows": sum(r.get("rows") or 0 for r in recs),
            "main_version": lake.current_version(),
        }))
    else:
        print(json.dumps(lake.branches()))
    return 0


def cmd_metrics(args) -> int:
    lake = _lake(args)
    # [-0:] would mean "everything"; tail<=0 means "nothing"
    for rec in (lake.metrics()[-args.tail:] if args.tail > 0 else []):
        print(json.dumps(rec))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tartare_spark", description=__doc__)
    p.add_argument("--master", default=None, help="Spark master (default: local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("replay", help="tail a change-event dir into a lake table")
    r.add_argument("--events", required=True)
    r.add_argument("--lake", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--registry", help="JSON file of schema-registry rows")
    r.add_argument("--create", action="store_true", help="create the lake if absent")
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--max-files-per-trigger", type=int, default=16)
    r.add_argument("--fence", action="store_true", help="stateful applied-LSN fence (T5)")
    r.add_argument("--manifest-fence", action="store_true",
                   help="JVM-side per-bucket watermark redelivery fence (see README)")
    r.add_argument("--fence-lateness", type=int, default=0,
                   help="LSN reordering slack for --manifest-fence")
    r.add_argument("--watermark-dedup", action="store_true", help="dropDuplicatesWithinWatermark on lsn (T2)")
    r.add_argument("--envelope", action="store_true",
                   help="events dir holds Debezium-style JSON envelopes (S11), not parquet changelogs")
    r.add_argument("--compact-async", action="store_true",
                   help="run tripped compactions on the maintenance thread instead of between triggers")
    r.set_defaults(fn=cmd_replay)

    rm = sub.add_parser(
        "replay-multi",
        help="tail ONE change-event dir into MULTIPLE lake tables "
        "(Debezium topic-per-table; per-table exactly-once)",
    )
    rm.add_argument("--events", required=True)
    rm.add_argument("--lakes-root", required=True,
                    help="parent dir; each table lives at <lakes-root>/<table>")
    rm.add_argument("--tables", required=True,
                    help="comma-separated table names (= route column values)")
    rm.add_argument("--route", default="repo",
                    help="event column whose value names the target table")
    rm.add_argument("--checkpoint", required=True)
    rm.add_argument("--registry", help="JSON file of schema-registry rows")
    rm.add_argument("--create", action="store_true", help="create absent lakes")
    rm.add_argument("--buckets", type=int, default=64)
    rm.add_argument("--max-files-per-trigger", type=int, default=16)
    rm.add_argument("--manifest-fence", action="store_true")
    rm.add_argument("--fence-lateness", type=int, default=0)
    rm.add_argument("--dead-letter", action="store_true",
                    help="dead-letter unrouted events instead of failing the query")
    rm.set_defaults(fn=cmd_replay_multi)

    vr = sub.add_parser(
        "verify",
        help="pt-table-checksum-style replica validation: compare two "
        "lakes' snapshots by per-bucket checksum (exit 4 on mismatch)",
    )
    vr.add_argument("--lake", required=True)
    vr.add_argument("--replica", required=True)
    vr.add_argument("--val-cols", default="commit,content,_lsn")
    vr.add_argument("--buckets", type=int, default=32)
    vr.set_defaults(fn=cmd_verify_replica)

    s = sub.add_parser("snapshot", help="read the live snapshot (or a past version)")
    s.add_argument("--lake", required=True)
    s.add_argument("--version", type=int, default=None)
    s.add_argument("--tag", default=None, help="read the snapshot a named tag pins")
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--out", help="write full snapshot as parquet instead of printing")
    s.set_defaults(fn=cmd_snapshot)

    lk = sub.add_parser("lookup", help="point lookup by (repo, path), bucket-pruned")
    lk.add_argument("--lake", required=True)
    lk.add_argument("--repo", required=True)
    lk.add_argument("--path", required=True)
    lk.set_defaults(fn=cmd_lookup)

    c = sub.add_parser("compact", help="fold delta files back into bucket bases")
    c.add_argument("--lake", required=True)
    c.add_argument("--buckets", help="comma-separated bucket ids (default: all delta'd)")
    c.add_argument("--max-records-per-file", type=int, default=None,
                   help="file-size target for the rewrite (smaller = tighter zone-map ranges)")
    c.add_argument("--zorder",
                   help="comma-separated columns: cluster the rewrite by an "
                        "interleaved-bit Morton code over range bins of these "
                        "columns instead of the lexicographic key sort "
                        "(multi-dimensional zone-map pruning)")
    c.set_defaults(fn=cmd_compact)

    v = sub.add_parser("vacuum", help="delete unreferenced orphan data files")
    v.add_argument("--lake", required=True)
    v.set_defaults(fn=cmd_vacuum)

    an = sub.add_parser(
        "analyze",
        help="build manifest zone maps (per-file min/max) for columns",
    )
    an.add_argument("--lake", required=True)
    an.add_argument(
        "--cols", required=True, help="comma-separated column names"
    )
    an.set_defaults(fn=cmd_analyze)

    e = sub.add_parser("expire", help="expire snapshots beyond a retention window")
    e.add_argument("--lake", required=True)
    e.add_argument("--keep-last", type=int, default=10)
    e.set_defaults(fn=cmd_expire)

    ch = sub.add_parser("changes", help="incremental change feed between versions")
    ch.add_argument("--lake", required=True)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, default=None)
    ch.add_argument("--limit", type=int, default=20)
    ch.add_argument("--out", help="write the feed as parquet instead of printing")
    ch.set_defaults(fn=cmd_changes)

    rb = sub.add_parser("rebucket", help="rewrite the table into a new bucket count (partition evolution)")
    rb.add_argument("--lake", required=True)
    rb.add_argument("--buckets", type=int, required=True)
    rb.set_defaults(fn=cmd_rebucket)

    st = sub.add_parser("stats", help="table stats (manifest + parquet footers, no Spark job)")
    st.add_argument("--lake", required=True)
    st.set_defaults(fn=cmd_stats)

    m = sub.add_parser("metrics", help="print per-batch metrics JSONL")
    m.add_argument("--lake", required=True)
    m.add_argument("--tail", type=int, default=20)
    m.set_defaults(fn=cmd_metrics)

    tg = sub.add_parser("tag", help="named snapshot refs: create (--name [--version]), list (no args), drop (--name --drop)")
    tg.add_argument("--lake", required=True)
    tg.add_argument("--name", default=None)
    tg.add_argument("--version", type=int, default=None)
    tg.add_argument("--drop", action="store_true")
    tg.set_defaults(fn=cmd_tag)

    h = sub.add_parser("history", help="commit history (version, batch, wall-clock stamp, stats)")
    h.add_argument("--lake", required=True)
    h.set_defaults(fn=cmd_history)

    mt = sub.add_parser(
        "meta",
        help="queryable metadata tables: files / snapshots / partitions "
        "/ refs (Iceberg db.table.files parity)",
    )
    mt.add_argument("table", choices=["files", "snapshots", "partitions", "refs"])
    mt.add_argument("--lake", required=True)
    mt.add_argument("--version", type=int, default=None)
    mt.add_argument("--limit", type=int, default=1000)
    mt.set_defaults(fn=cmd_meta)

    bs = sub.add_parser(
        "bootstrap",
        help="bulk-load an initial source-table snapshot into an EMPTY "
        "lake (base segments, no merge); then tail with `replay`",
    )
    bs.add_argument("--snapshot", required=True,
                    help="parquet dir: repo,path,commit,lang,content[,lsn,ts]")
    bs.add_argument("--lake", required=True)
    bs.add_argument("--create", action="store_true")
    bs.add_argument("--buckets", type=int, default=64)
    bs.add_argument("--batch-id", type=int, default=0)
    bs.add_argument("--snapshot-lsn", type=int, default=None,
                    help="log position of the snapshot (required when "
                    "the snapshot has no per-row lsn column)")
    bs.set_defaults(fn=cmd_bootstrap)

    bp = sub.add_parser(
        "branch",
        help="writable refs (write-audit-publish): create / list / "
        "fast-forward / rebase (merge onto a diverged main) / drop",
    )
    bp.add_argument(
        "action", choices=["create", "list", "fast-forward", "rebase", "drop"]
    )
    bp.add_argument("--lake", required=True)
    bp.add_argument("--name", default=None)
    bp.add_argument("--version", type=int, default=None)
    bp.set_defaults(fn=cmd_branch)

    mv = sub.add_parser(
        "mv", help="materialized view: build / incremental refresh / read (S10)"
    )
    mv.add_argument("action", choices=["build", "refresh", "read"])
    mv.add_argument("--lake", required=True)
    mv.add_argument("--mv", required=True, help="MV state directory")
    mv.add_argument("--group-col", default="repo")
    mv.add_argument("--limit", type=int, default=20)
    mv.set_defaults(fn=cmd_mv)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except Exception as e:  # operational tool: one-line error, code 1
        print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
