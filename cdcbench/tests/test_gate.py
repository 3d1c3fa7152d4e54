"""The state gate passes on an intact lake and fails on a corrupted one.

    python3 -m pytest cdcbench/tests -q

Needs a local Spark session (about half a minute on 4 cores).
"""

import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gate  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from tartare_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="cdcbench-tests", shuffle_partitions=2)
    yield s


@pytest.fixture()
def lake_run(spark, tmp_path):
    """A small lake: bootstrap, three applied batches (one fold) and an MV
    refreshed after the last batch."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch, bootstrap_load
    from tartare_spark.operators.mv import build_mv, refresh_mv

    inp = gen.write_inputs(
        gen.InputSpec(n_repos=5, paths_per_repo=20, n_events=600, n_files=3),
        seed=5, out_dir=str(tmp_path / "in"),
    )
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4, compact_every=2)
    bootstrap_load(spark, lake, spark.read.parquet(inp.snapshot_dir))
    mv = str(tmp_path / "mv")
    build_mv(spark, lake, mv)
    reads = []
    for p in inp.files:
        v = lake.current_version()
        apply_batch(spark, lake, spark.read.parquet(p), batch_id=lake.last_batch_id() + 1)
        reads.append((v, lake.current_version(), lake.changes(spark, v).count()))
    refresh_mv(spark, lake, mv)
    return lake, inp, mv, reads


def test_gate_passes_on_intact_lake(spark, lake_run, tmp_path):
    lake, inp, mv, reads = lake_run
    assert gate.check_snapshot(spark, lake, inp.snapshot_dir, inp.files)["ok"]
    assert gate.check_mv(spark, lake, mv, str(tmp_path / "mv-full"))["ok"]
    assert gate.check_changes(lake, reads)["ok"]


def test_gate_fails_when_a_winning_row_is_lost(spark, lake_run):
    lake, inp, _, _ = lake_run
    live = gate.engine_state(spark, lake).iloc[0]
    mpath = os.path.join(lake.root, "_manifests", f"v{lake.current_version():012d}.json")
    with open(mpath) as f:
        text = f.read()
    m = json.loads(text)
    hit = 0
    for p in [p for kind in ("files", "deltas") for fl in m[kind].values() for p in fl]:
        t = pq.read_table(p)
        drop = pc.and_(
            pc.and_(pc.equal(t["repo"], live.repo), pc.equal(t["path"], live.path)),
            pc.equal(t["_lsn"], int(live.lsn)),
        )
        if pc.any(drop).as_py():
            # a new file name: Spark caches the listed length of the old one
            pq.write_table(t.filter(pc.invert(drop)), p + ".corrupt.parquet")
            text = text.replace(json.dumps(p), json.dumps(p + ".corrupt.parquet"))
            hit += 1
    assert hit >= 1  # a redelivered event can sit in two delta files
    with open(mpath, "w") as f:
        f.write(text)
    res = gate.check_snapshot(spark, lake, inp.snapshot_dir, inp.files)
    assert not res["ok"] and res["missing"] >= 1


def test_gate_fails_on_an_event_file_the_lake_never_saw(spark, lake_run, tmp_path):
    lake, inp, _, _ = lake_run
    # the same flush replayed at higher LSNs: the oracle moves, the lake not
    t = pq.read_table(inp.files[0])
    t = t.set_column(0, "lsn", pc.add(t["lsn"], 1_000_000))
    extra = str(tmp_path / "extra.parquet")
    pq.write_table(t, extra)
    res = gate.check_snapshot(spark, lake, inp.snapshot_dir, inp.files + [extra])
    assert not res["ok"]


def test_gate_fails_on_a_stale_mv_and_wrong_change_counts(spark, lake_run, tmp_path):
    lake, _, mv, reads = lake_run
    from tartare_spark.operators.mv import _read_meta

    # publish a new MV version with one group dropped (a new directory:
    # Spark caches the listed length of files it has read)
    meta = _read_meta(mv)
    t = pq.read_table(os.path.join(mv, f"v{meta['mv_version']}"))
    bad = meta["mv_version"] + 1
    os.makedirs(os.path.join(mv, f"v{bad}"))
    pq.write_table(t.slice(1), os.path.join(mv, f"v{bad}", "part-0.parquet"))
    with open(os.path.join(mv, "mv_meta.json"), "w") as f:
        json.dump({"mv_version": bad, "lake_version": meta["lake_version"]}, f)
    assert not gate.check_mv(spark, lake, mv, str(tmp_path / "mv-full"))["ok"]
    f, to, n = reads[0]
    assert not gate.check_changes(lake, [(f, to, n + 1)])["ok"]
