#!/usr/bin/env python3
"""CDC ingest benchmark: closed-loop workloads with one client.

    python3 cdcbench/run.py --workload {tail,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Each run starts one local Spark
session, writes its seeded inputs under ``.cdcbench/`` in the checkout,
drives only the engine's public calls, checks the final state against a
DuckDB oracle, and prints one JSON line last. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine boundaries in spans,
turns on Spark's event log, and reports the per-layer metrics. See
``cdcbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
from spans import Tracer, install_engine_wrappers, read_event_log  # noqa: E402

# Pinned engine and session settings (never read from the environment).
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
NUM_BUCKETS = 16
COMPACT_EVERY = 3
DRIVER_MEMORY = "4g"
UNIT_SECONDS = 20


@dataclass(frozen=True)
class Shape:
    """One workload: bootstraps of N_REPOS * PATHS_PER_REPO rows, then
    ``commits`` upstream flushes of ``events_per_flush`` events, one flush
    per data commit. Each ingest call (the one ``run_stream``, or each
    ``apply_batch``) is followed by one ``refresh_mv`` and ``read_rounds``
    read rounds. A fold cycle is COMPACT_EVERY data commits; every commit
    touches all buckets, so each cycle ends in one fold."""

    events_per_flush: int
    commits: int                 # data commits (triggers or apply_batch calls)
    redeliver: int               # of those, flushes re-shipped after an outage
    stream: bool                 # ingest through run_stream, else apply_batch
    read_rounds: int             # read rounds after each ingest call


SHAPES = {
    # bootstrap, then one small upstream flush per trigger with one
    # re-shipped flush: per-trigger fixed cost, delta writes and sync
    # folds; the redelivery makes a future fence show here
    "tail": Shape(events_per_flush=1000, commits=7, redeliver=1, stream=True,
                  read_rounds=5),
    # apply_batch + refresh_mv + read rounds, repeated over one fold
    # cycle: the lake read path and MV refresh beside writes
    "serve": Shape(events_per_flush=500, commits=3, redeliver=0, stream=False,
                   read_rounds=2),
}
N_REPOS = 100
PATHS_PER_REPO = 200
LOOKUPS_PER_ROUND = 2
BOOTSTRAPS = 3  # a single 1.5 s load varied by ±20% between runs

END_TO_END = [
    ("events_per_s", "1/s"), ("bootstrap_rows_per_s", "1/s"),
    ("commit_p50_s", "s"), ("commit_p90_s", "s"),
    ("lookup_p50_s", "s"), ("lookup_p90_s", "s"),
    ("scan_s", "s"), ("changes_s", "s"), ("mv_refresh_s", "s"),
    ("write_amp", "ratio"), ("stored_bytes_per_row", "B"),
    ("peak_rss_mb", "MB"), ("setup_s", "s"),
]


def p90(xs: list[float]) -> float:
    """Linear interpolation between order statistics (numpy's default)."""
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# ----------------------------------------------------------------------
# set-up
# ----------------------------------------------------------------------
def start_spark(work: str, trace: bool):
    from tartare_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(master=MASTER, app_name="cdcbench",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_up(spark, work: str, seed: int, stream: bool, snapshot_dir: str) -> None:
    """Untimed calls of every call type the workload times, on a tiny
    lake that folds on every commit. Last, one load of the workload's own
    snapshot into a throwaway lake: after the tiny load alone, the first
    timed load still ran 20-30% slower than the next."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch, bootstrap_load
    from tartare_spark.operators.mv import build_mv, refresh_mv
    from tartare_spark.streaming.runner import run_stream

    d = os.path.join(work, "warm")
    inp = gen.write_inputs(gen.InputSpec(n_repos=10, paths_per_repo=100,
                                         n_events=1000, n_files=2), seed, d)
    lake = LakeTable.create(os.path.join(d, "lake"), num_buckets=NUM_BUCKETS,
                            compact_every=1)
    bootstrap_load(spark, lake, spark.read.parquet(inp.snapshot_dir))
    build_mv(spark, lake, os.path.join(d, "mv"))
    v = lake.current_version()
    if stream:
        src = os.path.join(d, "src")
        os.makedirs(src)
        for p in inp.files:
            shutil.copy2(p, src)
        run_stream(spark, src, lake, os.path.join(d, "ckpt"), max_files_per_trigger=2)
    else:
        apply_batch(spark, lake, spark.read.parquet(inp.files[0]), batch_id=1)
    refresh_mv(spark, lake, os.path.join(d, "mv"))
    lake.lookup(spark, "repo_0000", "src/0/f00000.py").collect()
    read_changes(spark, lake, v)
    scan(spark, lake)
    full = LakeTable.create(os.path.join(d, "full"), num_buckets=NUM_BUCKETS)
    bootstrap_load(spark, full, spark.read.parquet(snapshot_dir))


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after full collections: the JVM's live set. Python's
    collector runs first, because a dead Python wrapper in a reference
    cycle still pins its JVM object; later passes free what Spark's
    context cleaner let go after the earlier ones."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for i in range(3):
        if i:
            time.sleep(0.5)
        jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def jvm_non_heap_peak_mb(spark) -> float:
    """Peak use of the JVM's non-heap pools (metaspace, code cache)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "NON_HEAP") / 2**20


# ----------------------------------------------------------------------
# timed operations (each returns what the gate needs)
# ----------------------------------------------------------------------
def scan(spark, lake) -> int:
    from pyspark.sql import functions as F

    # the signature makes the aggregate read every key and content hash
    row = lake.snapshot(spark).agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("repo", "path", "_content_sha")).alias("sig"),
    ).collect()[0]
    return int(row["n"])


def read_changes(spark, lake, from_v: int) -> int:
    from pyspark.sql import functions as F

    return int(lake.changes(spark, from_v).agg(F.count("*").alias("n")).collect()[0]["n"])


class Run:
    """One workload run: state shared by its timed phases."""

    def __init__(self, spark, tracer: Tracer, work: str, shape: Shape,
                 inputs: gen.Inputs, lookup_keys: list[tuple[str, str]]):
        self.spark, self.t, self.work, self.shape = spark, tracer, work, shape
        self.inputs = inputs
        self.lookup_keys = lookup_keys
        self.lake = None
        self.mv_path = os.path.join(work, "mv")
        self.changes_reads: list[tuple[int, int, int]] = []
        self.scan_reads: list[tuple[int, int]] = []      # (version, live rows)
        self.lookup_reads: list[tuple[int, int]] = []    # (version, key index)
        self.refreshes: list[tuple[int, int]] = []       # (from_v, to_v)
        self.attempted = 0
        self._next_key = 0

    def op(self, name: str):
        self.attempted += 1
        return self.t.span(name)

    def bootstrap(self) -> None:
        """BOOTSTRAPS loads of the snapshot into fresh lakes; the workload
        continues on the last one."""
        from tartare_spark.lake.table import LakeTable
        from tartare_spark.operators.apply import bootstrap_load

        for i in range(BOOTSTRAPS):
            self.lake = LakeTable.create(os.path.join(self.work, f"lake{i}"),
                                         num_buckets=NUM_BUCKETS,
                                         compact_every=COMPACT_EVERY)
            snap = self.spark.read.parquet(self.inputs.snapshot_dir)
            with self.op("bench.bootstrap_load"):
                bootstrap_load(self.spark, self.lake, snap)

    def refresh_mv(self) -> None:
        from tartare_spark.operators.mv import _read_meta, refresh_mv

        from_v = int(_read_meta(self.mv_path)["lake_version"])
        with self.op("bench.refresh_mv"):
            refresh_mv(self.spark, self.lake, self.mv_path)
        self.refreshes.append((from_v, self.lake.current_version()))

    def lookups(self) -> None:
        for _ in range(LOOKUPS_PER_ROUND):
            k = self._next_key % len(self.lookup_keys)
            self._next_key += 1
            repo, path = self.lookup_keys[k]
            v = self.lake.current_version()
            with self.op("bench.lookup"):
                self.lake.lookup(self.spark, repo, path).collect()
            self.lookup_reads.append((v, k))

    def changes(self, from_v: int) -> None:
        to_v = self.lake.current_version()
        with self.op("bench.changes"):
            n = read_changes(self.spark, self.lake, from_v)
        self.changes_reads.append((from_v, to_v, n))

    def scan(self) -> None:
        v = self.lake.current_version()
        with self.op("bench.scan"):
            n = scan(self.spark, self.lake)
        self.scan_reads.append((v, n))

    def stream(self) -> None:
        from tartare_spark.streaming.runner import run_stream

        src = os.path.join(self.work, "source")
        os.makedirs(src)
        for p in self.inputs.files:
            shutil.copy2(p, src)
        with self.op("bench.run_stream"):
            run_stream(self.spark, src, self.lake, os.path.join(self.work, "ckpt"),
                       max_files_per_trigger=1)

    def apply(self, path: str) -> None:
        from tartare_spark.operators.apply import apply_batch

        df = self.spark.read.parquet(path)
        with self.op("bench.apply_batch"):
            apply_batch(self.spark, self.lake, df, batch_id=self.lake.last_batch_id() + 1)

    def window(self) -> None:
        """The timed window. After each ingest call (the stream, or one
        apply_batch per flush) the MV catches up once, then read rounds
        of lookups, changes(since the last data commit) and a scan."""
        from tartare_spark.operators.mv import build_mv

        self.bootstrap()
        with self.t.span("bench.build_mv"):  # untimed, not an operation
            build_mv(self.spark, self.lake, self.mv_path)
        if self.shape.stream:
            ingests = [self.stream]
        else:
            ingests = [lambda p=p: self.apply(p) for p in self.inputs.files]
        for i, ingest in enumerate(ingests):
            self.t.tag = f"cycle-{i}"
            ingest()
            self.refresh_mv()
            from_v = data_commits(self.lake)[-1] - 1
            for _ in range(self.shape.read_rounds):
                self.lookups()
                self.changes(from_v)
                self.scan()
        self.t.tag = None


def data_commits(lake) -> list[int]:
    """Versions of the data commits after the bootstrap commit."""
    out, prev = [], None
    for h in lake.history():
        if h["version"] > 0 and h["batch_id"] != prev and not h["stats"].get("bootstrap"):
            out.append(h["version"])
        prev = h["batch_id"]
    return out


def commit_stamps(lake) -> list[float]:
    at = {h["version"]: h["committed_at"] for h in lake.history()}
    return [at[v] for v in data_commits(lake)]


def commit_intervals(lake) -> list[float]:
    stamps = commit_stamps(lake)
    return [b - a for a, b in zip(stamps, stamps[1:])]


def lake_data_files(lake) -> list[str]:
    """Every data file the lake wrote after its bootstrap commit."""
    out = []
    data = os.path.join(lake.root, "data")
    for d in os.listdir(data):
        if d.startswith("bootstrap-"):
            continue
        for dirpath, _, names in os.walk(os.path.join(data, d)):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def referenced_bytes(lake) -> int:
    m = lake.manifest()
    files = [p for fl in list(m["files"].values()) + list(m.get("deltas", {}).values())
             for p in fl]
    return sum(os.path.getsize(p) for p in files)


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------
def end_to_end(run: Run, setup_s: float, peak_rss_mb: float, live_rows: int) -> dict:
    t = run.t
    d = lambda name: [s.dur for s in t.named(name)]  # noqa: E731
    if run.shape.stream:
        ingest_s = sum(d("bench.run_stream"))
        iv = commit_intervals(run.lake)
    else:
        # a serve cycle also holds the refresh and the reads, so its
        # commit time is the apply_batch call (with its fold, if any)
        ingest_s = sum(d("bench.apply_batch"))
        iv = d("bench.apply_batch")
    lk = d("bench.lookup")
    vals = {
        "events_per_s": run.inputs.events_delivered / ingest_s,
        "bootstrap_rows_per_s": run.inputs.snapshot_rows / statistics.median(d("bench.bootstrap_load")),
        "commit_p50_s": statistics.median(iv),
        "commit_p90_s": p90(iv),
        "lookup_p50_s": statistics.median(lk),
        "lookup_p90_s": p90(lk),
        "scan_s": statistics.median(d("bench.scan")),
        "changes_s": statistics.median(d("bench.changes")),
        "mv_refresh_s": statistics.median(d("bench.refresh_mv")),
        "write_amp": sum(os.path.getsize(p) for p in lake_data_files(run.lake))
        / run.inputs.input_bytes,
        "stored_bytes_per_row": referenced_bytes(run.lake) / live_rows,
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
    }
    units = dict(END_TO_END)
    return {k: {"value": float(v), "unit": units[k]} for k, v in vals.items()}


def read_facts(run: Run) -> dict:
    """What the per-layer read metrics need from Spark, taken untimed
    after the window: each lookup key's bucket, and per MV refresh the
    share of groups its change feed dirtied."""
    from tartare_spark.lake.table import bucket_expr

    spark, lake = run.spark, run.lake
    keys = spark.createDataFrame(run.lookup_keys, "repo string, path string")
    buckets = [r["b"] for r in keys.select(bucket_expr(NUM_BUCKETS).alias("b")).collect()]
    dirty_share = []
    for from_v, to_v in run.refreshes:
        dirty = lake.changes(spark, from_v, to_v).select("repo").distinct().count()
        total = lake.snapshot(spark, version=to_v).select("repo").distinct().count()
        dirty_share.append(dirty / total)
    return {"buckets": buckets, "dirty_group_share": dirty_share}


def per_layer(run: Run, window, jobs: dict, host_info: dict, facts: dict) -> dict:
    """Per-layer metrics from the spans, the manifests and the event log."""
    import pyarrow.parquet as pq

    t, lake = run.t, run.lake
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    inside = lambda name: t.named(name, within=window)  # noqa: E731

    applies = inside("apply_batch") + inside("bench.apply_batch")
    applies.sort(key=lambda s: s.start)
    runner_applies = inside("apply_batch")
    streams = inside("bench.run_stream")

    def child_time(sp, name):
        return sum(t.spans[c].dur for c in sp.children if t.spans[c].name == name)

    # runner: commit intervals minus the apply_batch time inside them
    # and the share of the run_stream span that the apply spans, those
    # overheads and the start account for (the rest is query teardown)
    overhead, start_s, accounted = [], 0.0, 0.0
    if streams and runner_applies:
        rs = streams[0]
        stamps = commit_stamps(lake)
        for a, b in zip(stamps, stamps[1:]):
            busy = sum(max(0.0, min(b, s.end) - max(a, s.start)) for s in runner_applies)
            overhead.append((b - a) - busy)
        start_s = runner_applies[0].start - rs.start
        accounted = (sum(s.dur for s in runner_applies) + sum(overhead) + start_s) / rs.dur

    boots = inside("bench.bootstrap_load")
    compacts = [s for s in inside("compact") if s.result]
    keys_out = sum(int(s.result or 0) for s in runner_applies)
    if not runner_applies:
        keys_out = sum(int(lake.manifest(v)["stats"].get("keys", 0))
                       for v in data_commits(lake))

    # read-side shape from the manifests each read saw
    def files_in(m, bucket=None):
        kinds = [m["files"], m.get("deltas", {})]
        return [p for kind in kinds for b, fl in kind.items()
                if bucket is None or int(b) == bucket for p in fl]

    rows_cache: dict[str, int] = {}

    def rows(p):
        if p not in rows_cache:
            rows_cache[p] = pq.read_metadata(p).num_rows
        return rows_cache[p]

    depth, dirty_share, scan_files, read_amp = [], [], [], []
    for v, live in run.scan_reads:
        m = lake.manifest(v)
        deltas = m.get("deltas", {})
        depth.append(sum(len(fl) for fl in deltas.values()) / NUM_BUCKETS)
        dirty_share.append(sum(1 for fl in deltas.values() if fl) / NUM_BUCKETS)
        fl = files_in(m)
        scan_files.append(len(fl))
        read_amp.append(sum(rows(p) for p in fl) / live)
    lookup_files = [len(files_in(lake.manifest(v), facts["buckets"][k]))
                    for v, k in run.lookup_reads]

    # Spark jobs, each attributed to the innermost span open at submission
    mine = {}
    for jid, j in jobs.items():
        sp = t.innermost_at(j["submitted"], window)
        if sp is not None:
            mine[jid] = (j, sp)

    def under(sp, names):
        while sp is not None:
            if sp.name in names:
                return True
            sp = t.spans[sp.parent] if sp.parent is not None else None
        return False

    ingest_names = {"bench.run_stream", "bench.apply_batch"}
    ingest_jobs = [j for j, sp in mine.values() if under(sp, ingest_names)]
    n_commits = len(data_commits(lake))
    tot = lambda key, js: sum(j[key] for j in js)  # noqa: E731
    all_jobs = [j for j, _ in mine.values()]
    data = lake_data_files(lake)
    m_final = lake.manifest()

    vals = {
        "runner.triggers": len(runner_applies),
        "runner.overhead_p50_s": med(overhead),
        "runner.start_s": start_s,
        "runner.accounted_share": accounted,
        "apply.batch_p50_s": med([s.dur for s in applies]),
        "apply.batch_self_p50_s": med([s.dur - child_time(s, "append_delta") for s in applies]),
        "apply.events_in": run.inputs.events_delivered,
        "apply.keys_out": keys_out,
        "apply.dedup_ratio": keys_out / run.inputs.events_delivered,
        "apply.bootstrap_s": med([s.dur for s in boots]),
        "apply.bootstrap_self_s": med([t.self_time(s) for s in boots]),  # child: bootstrap_base
        "lake.append_delta_p50_s": med([s.dur for s in inside("append_delta")]),
        "lake.bootstrap_base_s": med([s.dur for s in inside("bootstrap_base")]),
        "lake.compactions": len(compacts),
        "lake.compacted_buckets": sum(int(s.result) for s in compacts),
        "lake.compact_p50_s": med([s.dur for s in compacts]),
        "lake.compact_sum_s": sum(s.dur for s in compacts),
        "lake.commits": lake.current_version(),
        "lake.manifest_bytes": os.path.getsize(
            os.path.join(lake.root, "_manifests", f"v{m_final['version']:012d}.json")),
        "lake.bytes_written": sum(os.path.getsize(p) for p in data),
        "lake.files_written": len(data),
        "lake.deltas_outstanding_mean": statistics.fmean(depth),
        "lake.dirty_bucket_share": statistics.fmean(dirty_share),
        "lake.lookup_files": statistics.fmean(lookup_files),
        "lake.scan_files": statistics.fmean(scan_files),
        "lake.read_rows_per_live_row": statistics.fmean(read_amp),
        "lake.read_raw_p50_s": med([s.dur for s in inside("read_raw")]),
        "mv.refresh_p50_s": med([s.dur for s in inside("bench.refresh_mv")]),
        "mv.dirty_group_share": statistics.fmean(facts["dirty_group_share"]),
        "spark.jobs": len(all_jobs),
        "spark.jobs_per_trigger": len(ingest_jobs) / max(n_commits, 1),
        "spark.stages": sum(len(j["stages"]) for j in all_jobs),
        "spark.shuffle_write_bytes_per_event":
            tot("shuffle_write", ingest_jobs) / run.inputs.events_delivered,
        "spark.input_bytes": tot("input", all_jobs),
        "spark.task_busy_s": tot("run_s", all_jobs),
        "spark.task_cpu_s": tot("cpu_s", all_jobs),
        "spark.gc_s": tot("gc_s", all_jobs),
        "host.mem_probe_s": host_info["mem_probe_s"],
        "host.cpu_probe_s": host_info["cpu_probe_s"],
        "host.loadavg_1m": host_info["loadavg_1m"],
    }
    units = {k: unit for k, unit in PER_LAYER}
    return {k: {"value": float(v), "unit": units[k]} for k, v in vals.items()}


PER_LAYER = [
    ("runner.triggers", "count"), ("runner.overhead_p50_s", "s"), ("runner.start_s", "s"),
    ("runner.accounted_share", "ratio"),
    ("apply.batch_p50_s", "s"), ("apply.batch_self_p50_s", "s"),
    ("apply.events_in", "count"), ("apply.keys_out", "count"), ("apply.dedup_ratio", "ratio"),
    ("apply.bootstrap_s", "s"), ("apply.bootstrap_self_s", "s"),
    ("lake.append_delta_p50_s", "s"), ("lake.bootstrap_base_s", "s"),
    ("lake.compactions", "count"), ("lake.compacted_buckets", "count"),
    ("lake.compact_p50_s", "s"), ("lake.compact_sum_s", "s"),
    ("lake.commits", "count"), ("lake.manifest_bytes", "B"),
    ("lake.bytes_written", "B"), ("lake.files_written", "count"),
    ("lake.deltas_outstanding_mean", "count"), ("lake.dirty_bucket_share", "ratio"),
    ("lake.lookup_files", "count"), ("lake.scan_files", "count"),
    ("lake.read_rows_per_live_row", "ratio"), ("lake.read_raw_p50_s", "s"),
    ("mv.refresh_p50_s", "s"), ("mv.dirty_group_share", "ratio"),
    ("spark.jobs", "count"), ("spark.jobs_per_trigger", "count"), ("spark.stages", "count"),
    ("spark.shuffle_write_bytes_per_event", "B"), ("spark.input_bytes", "B"),
    ("spark.task_busy_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("host.mem_probe_s", "s"), ("host.cpu_probe_s", "s"), ("host.loadavg_1m", "count"),
]


# ----------------------------------------------------------------------
# driver
# ----------------------------------------------------------------------
def scaled(shape: Shape, seconds: float) -> Shape:
    """The work is fixed per run so that every count repeats: one unit of
    a shape takes about UNIT_SECONDS on the reference host, and
    ``--seconds`` picks how many units a run does. A stream is one ingest
    call, so its read rounds scale; serve's scale with its cycles."""
    k = max(1, round(seconds / UNIT_SECONDS))
    rounds = k * shape.read_rounds if shape.stream else shape.read_rounds
    return replace(shape, commits=k * shape.commits, redeliver=k * shape.redeliver,
                   read_rounds=rounds)


def input_spec(shape: Shape) -> gen.InputSpec:
    n_files = shape.commits - shape.redeliver
    return gen.InputSpec(n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
                         n_events=n_files * shape.events_per_flush, n_files=n_files,
                         redeliver_files=shape.redeliver)


def pick_lookup_keys(spec: gen.InputSpec, seed: int, n: int) -> list[tuple[str, str]]:
    import numpy as np

    rng = np.random.default_rng([seed, 3])
    repos = rng.choice(spec.n_repos, size=n, p=gen.repo_weights(spec.n_repos, gen.HOT_REPO_SHARE))
    paths = rng.integers(0, spec.paths_per_repo, size=n)
    return [(f"repo_{r:04d}", f"src/{j // 10}/f{j:05d}.{gen.EXTS[j % len(gen.EXTS)]}")
            for r, j in zip(repos, paths)]


def checked(check, *args) -> dict:
    """Run one gate check; an exception is a failed check."""
    try:
        return check(*args)
    except Exception as err:  # reported as a failed operation
        traceback.print_exc()
        return {"ok": False, "error": repr(err)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import tartare_spark  # noqa: F401  (fail before any work if absent)

    host_info = host.probe()
    shape = scaled(SHAPES[args.workload], args.seconds)
    base = os.path.join(ROOT, ".cdcbench")
    work = os.path.join(base, f"work-{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "inputs"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    try:
        return measure(args, shape, base, work, host_info)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, shape: Shape, base: str, work: str, host_info: dict) -> int:
    marks = {"process_start_to_main_s": host.seconds_since_process_start()}
    t0 = time.perf_counter()
    spec = input_spec(shape)
    inputs = gen.write_inputs(spec, args.seed, os.path.join(work, "inputs"))
    lookup_keys = pick_lookup_keys(spec, args.seed, 64)
    marks["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    marks["spark_start_s"] = time.perf_counter() - t0
    tracer = Tracer()
    try:
        t0 = time.perf_counter()
        warm_up(spark, work, args.seed, shape.stream, inputs.snapshot_dir)
        marks["warm_up_s"] = time.perf_counter() - t0
        if args.trace:
            install_engine_wrappers(tracer)
        run = Run(spark, tracer, work, shape, inputs, lookup_keys)
        setup_s = host.seconds_since_process_start()
        try:
            with tracer.span("bench.window") as window:
                run.window()
        except Exception:  # the failed call is counted; no metrics exist
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": run.attempted,
                              "failed": 1, "metrics": {}}))
            return 1
        tracer.uninstall()
        memory = {"python_hwm_mb": host.vm_hwm_mb(),
                  "jvm_live_heap_mb": jvm_live_heap_mb(spark),
                  "jvm_non_heap_peak_mb": jvm_non_heap_peak_mb(spark)}
        peak_rss_mb = sum(memory.values())
        t0 = time.perf_counter()
        if shape.stream:
            run.attempted += len(data_commits(run.lake))  # one per trigger

        checks = {
            "snapshot": checked(gate.check_snapshot, spark, run.lake,
                                inputs.snapshot_dir, inputs.files),
            "mv": checked(gate.check_mv, spark, run.lake, run.mv_path,
                          os.path.join(work, "mv-full")),
            "changes": checked(gate.check_changes, run.lake, run.changes_reads),
        }
        marks["gate_s"] = time.perf_counter() - t0
        metrics = end_to_end(run, setup_s, peak_rss_mb, run.scan_reads[-1][1])
        facts = read_facts(run) if args.trace else None
    finally:
        stop_spark(spark)

    failed = sum(1 for c in checks.values() if not c["ok"])
    detail = {
        "workload": args.workload, "seed": args.seed,
        "host": host_info, "phases_s": marks, "memory": memory,
        "inputs": inputs.properties, "gate": checks,
        "samples_s": {n: [round(s.dur, 4) for s in tracer.named(n)]
                      for n in sorted({s.name for s in tracer.spans.values()})
                      if n.startswith("bench.")},
        "commit_intervals_s": [round(x, 4) for x in commit_intervals(run.lake)],
        "window_s": window.dur,
    }
    if args.trace:
        detail["traced_end_to_end"] = {k: v["value"] for k, v in metrics.items()}
        log_dir = os.path.join(work, "eventlog")
        jobs = read_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
        metrics = per_layer(run, window, jobs, host_info, facts)
        tracer.dump(os.path.join(base, f"trace-{args.workload}-s{args.seed}.jsonl"))

    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted + len(checks),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
