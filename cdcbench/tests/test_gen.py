"""The benchmark's inputs are a pure function of the spec and the seed.

    python3 -m pytest cdcbench/tests -q
"""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SPEC = gen.InputSpec(n_repos=20, paths_per_repo=50, n_events=5000, n_files=5,
                     redeliver_files=1)


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a = gen.write_inputs(SPEC, 7, str(tmp_path / "a"))
    b = gen.write_inputs(SPEC, 7, str(tmp_path / "b"))
    c = gen.write_inputs(SPEC, 8, str(tmp_path / "c"))
    assert _bytes(a.files) == _bytes(b.files)
    assert _bytes([a.snapshot_dir + "/part-0.parquet"]) == _bytes([b.snapshot_dir + "/part-0.parquet"])
    assert _bytes(a.files) != _bytes(c.files)
    assert a.properties == b.properties


def test_shape_and_recorded_properties(tmp_path):
    inp = gen.write_inputs(SPEC, 3, str(tmp_path))
    p = inp.properties
    assert len(inp.files) == SPEC.n_files + SPEC.redeliver_files
    assert inp.events_delivered == sum(pq.read_metadata(f).num_rows for f in inp.files)
    assert inp.input_bytes == p["input_bytes"] == sum(os.path.getsize(f) for f in inp.files)
    assert inp.snapshot_rows == SPEC.n_repos * SPEC.paths_per_repo
    # the re-shipped flush is a verbatim copy of an earlier one
    tables = [pq.read_table(f) for f in inp.files]
    assert sum(any(t.equals(u) for u in tables[:i]) for i, t in enumerate(tables)) == 1
    # the generated properties land near their targets
    assert abs(p["hot_repo_event_share"] - gen.HOT_REPO_SHARE) < 0.03
    assert abs(p["duplicate_share"] - gen.DUP_SHARE) < 0.005
    assert abs(p["op_shares"]["delete"] - gen.OP_MIX[2]) < 0.02
    lsn = pq.read_table(inp.snapshot_dir)["lsn"].to_pylist()
    assert sorted(lsn) == list(range(1, inp.snapshot_rows + 1))
