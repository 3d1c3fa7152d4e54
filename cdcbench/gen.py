"""Seeded CDC inputs for the benchmark, independent of the engine's fixtures.

Everything here is a pure function of an :class:`InputSpec` and a seed:
the same pair writes byte-identical parquet files. The engine is handed
only the files; it never sees the spec.

Shape (the properties the engine's cost depends on):

- key space: ``n_repos`` repos of ``paths_per_repo`` paths each, all of
  them present in the initial snapshot; ``NEW_PATH_SHARE`` of the events
  insert one of ``NEW_PATHS_PER_REPO`` new paths of their repo;
- repo skew: zipf weights over repos with the hottest repo carrying
  ``HOT_REPO_SHARE`` of the events; paths are uniform within a repo;
- op mix: insert/update/delete by ``OP_MIX``; events on new paths are
  inserts;
- disorder: ``REORDER_SHARE`` of the events are displaced by up to
  ``REORDER_HORIZON`` positions, so they arrive up to that many LSNs
  late or early; ``DUP_SHARE`` are delivered twice, verbatim;
- payload: ``PAYLOAD_BYTES`` of hex per live row;
- files: the log is cut into ``n_files`` upstream flushes of equal size
  (to one event), with strictly
  increasing mtimes in delivery order; ``redeliver_files`` of them are
  shipped a second time after the outage point, as an upstream does when
  it replays after a failure.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EXTS = ["py", "rs", "ts", "go", "java", "md", "toml"]
LANGS = ["python", "rust", "typescript", "go", "java", "markdown", "toml"]
TS0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# The properties every workload shares (recorded in Inputs.properties).
NEW_PATH_SHARE = 0.05
NEW_PATHS_PER_REPO = 200
OP_MIX = (0.2, 0.7, 0.1)  # insert, update, delete
HOT_REPO_SHARE = 0.2
REORDER_SHARE = 0.05
REORDER_HORIZON = 1000
DUP_SHARE = 0.01
PAYLOAD_BYTES = 240

EVENT_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("repo", pa.string(), nullable=False),
        pa.field("path", pa.string(), nullable=False),
        pa.field("commit", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("content", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class InputSpec:
    n_repos: int
    paths_per_repo: int
    n_events: int
    n_files: int
    redeliver_files: int = 0

    @property
    def base_rows(self) -> int:
        return self.n_repos * self.paths_per_repo


def repo_weights(n_repos: int, hot_share: float) -> np.ndarray:
    """Zipf weights ``1/(i+1)**s`` with ``s`` solved so that the hottest
    repo carries ``hot_share`` of the mass."""
    ranks = np.arange(1, n_repos + 1, dtype=np.float64)
    lo, hi = 0.0, 8.0
    for _ in range(60):
        s = (lo + hi) / 2
        w = ranks**-s
        if w[0] / w.sum() < hot_share:
            lo = s
        else:
            hi = s
    w = ranks**-hi
    return w / w.sum()


def _key_strings(spec: InputSpec) -> tuple[pa.Array, pa.Array, pa.Array]:
    """repo, path and lang for every key id. Key id ``r * P + j`` is path
    ``j`` of repo ``r``, where ``P`` = paths_per_repo + NEW_PATHS_PER_REPO
    and the ids with ``j >= paths_per_repo`` are paths the snapshot lacks."""
    per = spec.paths_per_repo + NEW_PATHS_PER_REPO
    repos, paths, langs = [], [], []
    for r in range(spec.n_repos):
        for j in range(per):
            repos.append(f"repo_{r:04d}")
            paths.append(f"src/{j // 10}/f{j:05d}.{EXTS[j % len(EXTS)]}")
            langs.append(LANGS[j % len(LANGS)])
    return pa.array(repos), pa.array(paths), pa.array(langs)


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> pa.Array:
    """``n`` random lowercase-hex strings of ``2 * nbytes`` characters."""
    digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
    chars = np.empty((n, 2 * nbytes), dtype=np.uint8)
    chars[:, 0::2] = digits[raw >> 4]
    chars[:, 1::2] = digits[raw & 15]
    offsets = np.arange(0, (n + 1) * 2 * nbytes, 2 * nbytes, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes())
    )


def snapshot_table(spec: InputSpec, seed: int) -> pa.Table:
    """The initial snapshot: every pre-existing key once, with distinct
    LSNs in ``[1, base_rows]`` (a consistent export taken at LSN
    ``base_rows``)."""
    rng = np.random.default_rng([seed, 1])
    repo, path, lang = _key_strings(spec)
    per = spec.paths_per_repo + NEW_PATHS_PER_REPO
    ids = (
        np.arange(spec.n_repos)[:, None] * per + np.arange(spec.paths_per_repo)
    ).ravel()
    n = len(ids)
    lsn = rng.permutation(n).astype(np.int64) + 1
    take = pa.array(ids)
    return pa.table(
        {
            "repo": repo.take(take),
            "path": path.take(take),
            "commit": _hex(rng, n, 6),
            "lang": lang.take(take),
            "content": _hex(rng, n, PAYLOAD_BYTES // 2),
            "lsn": pa.array(lsn),
            "ts": pa.array(TS0_US + lsn * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )


def events_table(spec: InputSpec, seed: int, first_lsn: int) -> pa.Table:
    """``n_events`` change events with LSNs ``first_lsn ..`` in arrival
    order (disorder and duplicates applied), before file splitting."""
    rng = np.random.default_rng([seed, 2])
    n = spec.n_events
    per = spec.paths_per_repo + NEW_PATHS_PER_REPO
    repo_idx = rng.choice(
        spec.n_repos, size=n, p=repo_weights(spec.n_repos, HOT_REPO_SHARE)
    )
    new = rng.random(n) < NEW_PATH_SHARE
    j = np.where(
        new,
        spec.paths_per_repo + rng.integers(0, NEW_PATHS_PER_REPO, size=n),
        rng.integers(0, spec.paths_per_repo, size=n),
    )
    key = repo_idx * per + j
    op = rng.choice(3, size=n, p=np.asarray(OP_MIX) / sum(OP_MIX))
    op = np.where(new, 0, op)
    lsn = first_lsn + np.arange(n, dtype=np.int64)

    # arrival order: displace a share of events within the horizon, then
    # deliver a share twice a little later
    order_key = np.arange(n, dtype=np.float64)
    moved = rng.random(n) < REORDER_SHARE
    order_key[moved] += rng.uniform(
        -REORDER_HORIZON, REORDER_HORIZON, size=int(moved.sum())
    )
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    src = np.concatenate([np.arange(n), dup])
    order_key = np.concatenate(
        [order_key, order_key[dup] + rng.uniform(1, REORDER_HORIZON, len(dup))]
    )
    src = src[np.argsort(order_key, kind="stable")]

    repo, path, lang = _key_strings(spec)
    content = _hex(rng, n, PAYLOAD_BYTES // 2)
    deleted = op == 2
    content = pc.if_else(pa.array(deleted), "", content)
    ops = pa.array(np.asarray(["insert", "update", "delete"])[op])
    base = pa.table(
        {
            "lsn": pa.array(lsn),
            "op": ops,
            "repo": repo.take(pa.array(key)),
            "path": path.take(pa.array(key)),
            "commit": _hex(rng, n, 6),
            "lang": lang.take(pa.array(key)),
            "content": content,
            "ts": pa.array(TS0_US + lsn * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=EVENT_SCHEMA,
    )
    return base.take(pa.array(src))


@dataclass
class Inputs:
    """What was written, and the properties it was written with."""

    snapshot_dir: str
    files: list[str]          # delivered event files, in delivery order
    events_delivered: int     # rows across ``files`` (redeliveries included)
    input_bytes: int          # bytes of the delivered event files
    snapshot_rows: int
    properties: dict


def write_inputs(spec: InputSpec, seed: int, out_dir: str) -> Inputs:
    """Write the snapshot (as one parquet file) and the event files
    under ``out_dir`` and return what was written. Event files land in
    ``out_dir/log`` named and mtime-stamped in delivery order."""
    snap_dir = os.path.join(out_dir, "snapshot")
    log_dir = os.path.join(out_dir, "log")
    os.makedirs(snap_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    pq.write_table(snapshot_table(spec, seed), os.path.join(snap_dir, "part-0.parquet"))
    ev = events_table(spec, seed, first_lsn=spec.base_rows + 1)
    cuts = [round(i * ev.num_rows / spec.n_files) for i in range(spec.n_files + 1)]
    chunks = [ev.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    # redelivery: after the outage point (60% of the log) the upstream
    # re-ships the files that preceded it, then resumes
    n_re = spec.redeliver_files
    cut = max(int(0.6 * len(chunks)), n_re)
    order = list(range(cut)) + list(range(cut - n_re, cut)) + list(range(cut, len(chunks)))
    files = []
    for pos, ci in enumerate(order):
        p = os.path.join(log_dir, f"flush-{pos:06d}.parquet")
        pq.write_table(chunks[ci], p)
        files.append(p)
    stamp_in_order(files)
    n_rows = sum(chunks[ci].num_rows for ci in order)
    input_bytes = sum(os.path.getsize(p) for p in files)
    ops = ev.column("op").to_numpy(zero_copy_only=False)
    lsn = ev.column("lsn").to_numpy()
    keys = pc.binary_join_element_wise(ev["repo"], ev["path"], "/")
    props = {
        **dataclasses.asdict(spec),
        "new_path_share": NEW_PATH_SHARE,
        "new_paths_per_repo": NEW_PATHS_PER_REPO,
        "op_mix": OP_MIX,
        "hot_repo_share": HOT_REPO_SHARE,
        "reorder_share": REORDER_SHARE,
        "reorder_horizon": REORDER_HORIZON,
        "dup_share": DUP_SHARE,
        "payload_bytes": PAYLOAD_BYTES,
        "seed": seed,
        "base_rows": spec.base_rows,
        "event_keys": len(pc.unique(keys)),
        "events_generated": ev.num_rows,
        "events_delivered": n_rows,
        "events_per_flush": round(ev.num_rows / spec.n_files, 1),
        "files": len(files),
        "redelivered_share": round(n_re / len(files), 4),
        # a displaced event breaks LSN order with both of its neighbours
        "adjacent_lsn_inversion_share": round(float(np.mean(lsn[1:] < lsn[:-1])), 4),
        "duplicate_share": round(ev.num_rows / spec.n_events - 1, 4),
        "hot_repo_event_share": round(
            float(np.mean(ev.column("repo").to_numpy(zero_copy_only=False) == "repo_0000")), 4
        ),
        "op_shares": {o: round(float(np.mean(ops == o)), 4) for o in ("insert", "update", "delete")},
        "input_bytes": input_bytes,
    }
    return Inputs(
        snapshot_dir=snap_dir,
        files=files,
        events_delivered=n_rows,
        input_bytes=input_bytes,
        snapshot_rows=spec.base_rows,
        properties=props,
    )


def stamp_in_order(paths: list[str]) -> None:
    """Strictly increasing mtimes in delivery order: Spark's file source
    lists by (mtime, path), and same-millisecond ties could reorder a
    fast write loop's files between runs and change the batching."""
    t0 = int(os.path.getmtime(paths[0])) if paths else 0
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i, t0 + i))
