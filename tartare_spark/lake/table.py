"""Mini lake format: Iceberg-like snapshot-isolated table, from scratch.

No Iceberg/Delta jars exist in this environment (SURVEY.md §0.2), so the
"Iceberg table" of BASELINE.json is realized as parquet data files +
JSON snapshot manifests + an atomically-swapped current pointer. The
interface is deliberately narrow so a real Iceberg catalog can replace
this class on a production cluster.

Layout under ``root``::

    _table.json                     # num_buckets, schema notes
    _current                        # text file: current version number
    _manifests/v000000000042.json   # snapshot manifest (see below)
    data/batch-<id>/_bucket=<k>/*.parquet
    _metrics/metrics.jsonl          # per-micro-batch throughput/lag (T7)

Manifest = ``{version, batch_id, parent, schema_version,
files: {bucket: [paths]}, bucket_lsn: {bucket: applied_lsn}, stats}``.

Semantics provided (Iceberg-equivalents):
- **snapshot isolation** — readers resolve ``_current`` once and read an
  immutable file list; writers never mutate published files;
- **atomic commit** — manifest + pointer written via temp + ``os.replace``
  (atomic on POSIX); data files land before the manifest, so a crash
  between the two leaves only unreferenced orphans (replay rewrites);
- **exactly-once** — commits are keyed by a monotonically increasing
  ``batch_id`` (Structured Streaming's ``foreachBatch`` epoch); a
  re-delivered batch (``batch_id <= last_batch_id``) is a no-op
  (SURVEY.md §2 S7; tartare analog: Environment.sequence +
  current_ntfs_id pointer swap [PK: tartare/core/models.py]);
- **partition pruning** — reads and folds touch only the buckets they
  need (SURVEY.md §2 J3);
- **merge-on-read** — each batch appends per-bucket delta files;
  last-writer-wins is resolved at read time and ``compact`` folds a
  bucket's deltas back into its base; untouched buckets' files are
  carried forward by reference;
- **schema evolution** — renames/adds are metadata-only: the
  physical column name never changes, ``SchemaRegistry`` maps names and
  backfills defaults at snapshot-read time (like Iceberg field-id based
  renames).

Bucketing: ``bucket = pmod(xxhash64(repo, path), num_buckets)``. Hashing
the full primary key (not just ``repo``) is the salting scheme that
defeats hot-repo skew (BASELINE.json:6): the hottest repo's files spread
uniformly over all buckets while every key still maps to exactly one
bucket, so key-level pruning and per-bucket applied-LSN lineage both
survive. Per-repo partition pruning is traded away deliberately — the
CDC workload looks up by (repo, path), never by repo alone.

Single-writer assumption: one streaming query (or one batch replay)
commits at a time — same as the reference's per-coverage job queue.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tartare_spark.lake.schema import PHYS_LAKE_SCHEMA

logger = logging.getLogger(__name__)


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed the next manifest version (commit CAS)."""


def bucket_expr(num_buckets: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(num_buckets)).cast(
        "int"
    )


def key_bucket(repo: str | None, path: str | None, num_buckets: int) -> int:
    """``bucket_expr`` for one key, evaluated on the driver with no Spark
    job. Spark's ``xxhash64`` chains XXH64 over each non-null column's
    UTF-8 bytes, seeding with 42 and then with the previous column's
    hash; ``pmod`` of the signed result is Python's ``%``."""
    h = 42
    for s in (repo, path):
        if s is not None:
            h = _xxh64(s.encode("utf-8"), h)
    return (h - (1 << 64) if h >> 63 else h) % num_buckets


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 (unsigned), the algorithm of Spark's ``XXH64`` class."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = _round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h = _rotl(h ^ (byte * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _read_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """The lake's one data-file reader. Every data file holds
    ``PHYS_LAKE_SCHEMA``, so the read passes it: a parquet read without
    a schema launches a schema-inference job on every call. No files
    reads as an empty frame of the same schema."""
    if not files:
        return spark.createDataFrame([], PHYS_LAKE_SCHEMA)
    return spark.read.schema(PHYS_LAKE_SCHEMA).parquet(*files)


class LakeTable:
    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "_table.json")) as f:
            meta = json.load(f)
        if meta.get("mode") != "mor":
            # _table.json is outside input: a lake written by an older
            # release in copy-on-write mode (also the default when no
            # mode is recorded) has no delta files, so it would open
            # cleanly and then serve an empty changes() feed
            raise ValueError(
                f"{root}: _table.json has mode {meta.get('mode')!r}; "
                "copy-on-write lakes ('cow', the default when no mode is "
                "recorded) are no longer supported — re-ingest into a new "
                "lake (LakeTable.create(..., compact_every=1) folds after "
                "every commit, the same shape)"
            )
        self.num_buckets: int = meta["num_buckets"]
        self.compact_every: int = meta.get("compact_every", 8)
        # set on branches by create_branch; apply_batch never auto-folds
        # a branch (see fast_forward)
        self.fork_version: int | None = meta.get("fork_version")
        # the CURRENT manifest is authoritative for the bucket layout
        # (rebucket() evolves it); _table.json only seeds creation.
        try:
            self.num_buckets = int(
                self.manifest().get("num_buckets", self.num_buckets)
            )
        except FileNotFoundError:
            pass  # mid-create; v0 manifest not written yet

    def _assert_layout(self, m: dict) -> None:
        """Writers must fail loudly if the table was re-bucketed since
        this LakeTable was opened — a stale cached num_buckets would
        silently mis-bucket every written row."""
        current = int(m.get("num_buckets", self.num_buckets))
        if current != self.num_buckets:
            raise ConcurrentCommitError(
                f"table bucket layout changed ({current} buckets on disk vs "
                f"{self.num_buckets} cached) — re-open the LakeTable"
            )

    # ------------------------------------------------------------------
    # creation / manifest plumbing
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        root: str,
        num_buckets: int = 32,
        compact_every: int = 8,
    ) -> "LakeTable":
        """Create an empty merge-on-read table: each micro-batch APPENDS
        its deduped upserts/tombstones as per-bucket delta files;
        last-writer-wins is resolved at read; a bucket is folded back
        into its base once it holds ``compact_every`` delta files. This
        is the 10^10-event design: write amplification per batch is
        O(batch), not O(table) (Hudi-MOR / Iceberg-equality-delete
        shape).

        ``compact_every=1`` folds every touched bucket right after each
        commit, so readers never resolve deltas — the shape for
        read-heavy, low-churn tables. The commit's delta files still
        serve ``changes()``."""
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "_metrics"), exist_ok=True)
        _atomic_write_json(
            os.path.join(root, "_table.json"),
            {"num_buckets": num_buckets, "mode": "mor", "compact_every": compact_every},
        )
        manifest = {
            "version": 0,
            "batch_id": -1,
            "parent": None,
            "schema_version": 1,
            "num_buckets": num_buckets,
            "files": {},
            "deltas": {},
            "bucket_lsn": {},
            "stats": {"rows_written": 0},
            "committed_at": time.time(),
        }
        _atomic_write_json(_manifest_path(root, 0), manifest)
        _atomic_write_text(os.path.join(root, "_current"), "0")
        return LakeTable(root)

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_table.json"))

    def current_version(self) -> int:
        with open(os.path.join(self.root, "_current")) as f:
            return int(f.read().strip())

    def oldest_version(self) -> int:
        """Oldest RETAINED snapshot (older ones were expired)."""
        p = os.path.join(self.root, "_oldest")
        if os.path.exists(p):
            with open(p) as f:
                return int(f.read().strip())
        return 0

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        v = self.current_version() if version is None else version
        if v < self.oldest_version():
            raise ValueError(
                f"snapshot v{v} was expired (oldest retained: "
                f"v{self.oldest_version()}); time travel is bounded by "
                "expire_snapshots retention"
            )
        with open(_manifest_path(self.root, v)) as f:
            return json.load(f)

    # ------------------------------------------------------------------
    # named refs (Iceberg tag parity)
    # ------------------------------------------------------------------
    def tags(self) -> dict[str, int]:
        """All named tags → pinned version (Iceberg ``refs`` parity)."""
        p = os.path.join(self.root, "_tags.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to a retained snapshot version (default:
        current). A tag RETAINS its snapshot: ``expire_snapshots`` never
        advances past the oldest tagged version, so a tagged snapshot
        stays time-travelable (and its files vacuum-protected) until
        ``drop_tag``. Re-tagging an existing name is an error — drop it
        first (accidental repointing of a pinned ref should be loud)."""
        v = self.current_version() if version is None else int(version)
        self.manifest(v)  # raises if expired / nonexistent
        t = self.tags()
        if name in t:
            raise ValueError(
                f"tag {name!r} already points at v{t[name]}; drop_tag first"
            )
        t[name] = v
        _atomic_write_json(os.path.join(self.root, "_tags.json"), t)
        return v

    def drop_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise ValueError(f"no such tag: {name!r}")
        v = t.pop(name)
        _atomic_write_json(os.path.join(self.root, "_tags.json"), t)
        return v

    def tag_version(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise ValueError(f"no such tag: {name!r} (have: {sorted(t)})")
        return t[name]

    # ------------------------------------------------------------------
    # branches (Iceberg writable-ref parity: write-audit-publish)
    # ------------------------------------------------------------------
    def _branch_root(self, name: str) -> str:
        # only dot-PREFIXED names are reserved (create_branch staging
        # dirs, ignored by branches()); '_'/'-' prefixes stay legal so
        # the validator and the lister can never disagree about whether
        # a name is a branch (a listed-but-unaddressable branch would
        # pin expiration forever with no way to drop it)
        if (
            not name
            or name.startswith(".")
            or not all(c.isalnum() or c in "._-" for c in name)
        ):
            raise ValueError(f"invalid branch name: {name!r}")
        return os.path.join(self.root, "_branches", name)

    def branches(self) -> dict[str, dict]:
        """Live branches → ``{fork_version, current_version}``."""
        bdir = os.path.join(self.root, "_branches")
        out: dict[str, dict] = {}
        if not os.path.isdir(bdir):
            return out
        for e in os.scandir(bdir):
            # dot-prefixed dirs are create_branch staging left by a
            # crash mid-create (the rename below never happened); they
            # are not branches — a fresh create_branch of the same name
            # proceeds normally and vacuum-style cleanup is manual
            if e.name.startswith(".") or not e.is_dir():
                continue
            if LakeTable.exists(e.path):
                br = LakeTable(e.path)
                out[e.name] = {
                    "fork_version": int(br.fork_version),
                    "current_version": br.current_version(),
                }
        return out

    def create_branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Fork a writable branch at a retained snapshot (default:
        current) — the write-audit-publish pattern: stage commits on the
        branch (a full LakeTable sharing main's data files by
        reference, metadata-only fork), audit them, then atomically
        ``fast_forward`` main. Data files are never copied: the branch's
        v0 manifest is an image of the forked manifest (file paths are
        absolute), and branch commits write NEW files under the branch's
        own data dir, invisible to main until fast-forward.

        A live branch pins its fork snapshot against
        ``expire_snapshots`` (Iceberg ref-retention), so main's
        ``vacuum`` can never reclaim files the branch still references."""
        v = self.current_version() if version is None else int(version)
        m = self.manifest(v)  # raises if expired
        root = self._branch_root(name)
        if LakeTable.exists(root):
            raise ValueError(f"branch {name!r} already exists; drop_branch first")
        # Build the whole branch in a dot-prefixed staging dir, then
        # os.rename it into place: the branch becomes visible ATOMICALLY
        # and fully-formed. A crash mid-create leaves only a staging dir
        # that branches()/expire_snapshots ignore — never a half-branch
        # whose missing fork_version would wedge main's maintenance.
        tmp = os.path.join(
            self.root, "_branches", f".tmp-{name}-{uuid.uuid4().hex[:8]}"
        )
        LakeTable.create(
            tmp,
            num_buckets=int(m.get("num_buckets", self.num_buckets)),
            compact_every=self.compact_every,
        )
        fork = dict(m)
        fork.update(
            {"version": 0, "parent": None, "batch_id": int(m["batch_id"]),
             "committed_at": time.time()}
        )
        _atomic_write_json(_manifest_path(tmp, 0), fork)
        with open(os.path.join(tmp, "_table.json")) as f:
            meta = json.load(f)
        meta["fork_version"] = v
        _atomic_write_json(os.path.join(tmp, "_table.json"), meta)
        try:
            os.rename(tmp, root)  # atomic publish
        except OSError:
            # the name is occupied. A debris dir that is NOT a valid
            # branch (no _table.json — e.g. a manual mkdir or legacy
            # half-create) is safe to sweep and replace; a real branch
            # (or a concurrent create's winner) stays, and we clean up
            # our staging dir before raising.
            if os.path.isdir(root) and not LakeTable.exists(root):
                shutil.rmtree(root)
                os.rename(tmp, root)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                raise ValueError(
                    f"branch {name!r} already exists; drop_branch first"
                )
        return LakeTable(root)

    def branch(self, name: str) -> "LakeTable":
        root = self._branch_root(name)
        if not LakeTable.exists(root):
            raise ValueError(
                f"no such branch: {name!r} (have: {sorted(self.branches())})"
            )
        return LakeTable(root)

    def drop_branch(self, name: str) -> None:
        """Delete a branch: its metadata and its branch-local data files
        (files it referenced from main are untouched — branches only
        ever read them)."""
        root = self._branch_root(name)
        if not LakeTable.exists(root):
            raise ValueError(f"no such branch: {name!r}")
        shutil.rmtree(root)

    def fast_forward(self, name: str, batch_id: int | None = None) -> int:
        """Publish a branch's current snapshot as main's next version —
        the atomic "publish" of write-audit-publish. Requires main to be
        UNCHANGED since the fork (same precondition as Iceberg's
        fast-forward: a diverged main needs a re-fork, there is no
        merge); raises ``ConcurrentCommitError`` otherwise.

        Branch-local data files are hard-linked into main's data dir
        (same filesystem by construction — the branch lives under
        main's root; falls back to copy where linking is unsupported)
        and the published manifest rewrites their paths, so the branch
        can be dropped immediately after. The commit reuses the
        branch's last ``batch_id`` by default, keeping the claim
        protocol's same-batch redelivery semantics intact.

        Returns the new main version. The branch is left alive (re-audit
        or drop is the caller's call).

        Change-feed integrity: the published manifest carries every
        staged delta file, so ``changes()`` across the publish returns
        every staged commit's rows. ``apply_batch`` never auto-folds a
        branch for this reason (main folds the carried deltas on its
        next commit); do not ``compact`` a branch by hand before
        fast-forwarding either — the fold moves staged rows from delta
        files (which the incremental feed reads) into base files (which
        it skips), so those commits would vanish from ``changes()``."""
        br = self.branch(name)
        fork_version = int(br.fork_version)
        cur = self.current_version()
        if cur != fork_version:
            raise ConcurrentCommitError(
                f"main advanced since branch {name!r} forked "
                f"(fork at v{fork_version}, main at v{cur}) — fast-forward "
                "requires an unchanged main; re-fork and re-apply"
            )
        bm = br.manifest()
        if bm["version"] == 0:
            return cur  # nothing staged; no-op
        bdata = os.path.join(br.root, "data") + os.sep

        def _migrate(p: str) -> str:
            if not p.startswith(bdata):
                return p  # already a main file (carried by reference)
            dest = os.path.join(self.root, "data", p[len(bdata):])
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if not os.path.exists(dest):
                try:
                    os.link(p, dest)
                except OSError:
                    shutil.copy2(p, dest)
            return dest

        files = {b: [_migrate(p) for p in fl] for b, fl in bm["files"].items()}
        deltas = {
            b: [_migrate(p) for p in fl]
            for b, fl in bm.get("deltas", {}).items()
        }
        manifest = {
            "version": cur + 1,
            "batch_id": int(bm["batch_id"]) if batch_id is None else int(batch_id),
            "parent": cur,
            "schema_version": bm["schema_version"],
            "num_buckets": int(bm.get("num_buckets", self.num_buckets)),
            "files": files,
            "deltas": deltas,
            "bucket_lsn": bm["bucket_lsn"],
            "stats": {
                **bm.get("stats", {}),
                "fast_forward_from": name,
                "branch_version": bm["version"],
            },
        }
        if bm.get("stats_cols"):
            manifest["stats_cols"] = bm["stats_cols"]
            manifest["file_stats"] = {
                _migrate(p): s for p, s in bm.get("file_stats", {}).items()
            }
        manifest["committed_at"] = time.time()
        self._claim_and_write_manifest(manifest)
        _atomic_write_text(
            os.path.join(self.root, "_current"), str(manifest["version"])
        )
        # a branch rebucket carries the new layout onto main
        self.num_buckets = manifest["num_buckets"]
        return manifest["version"]

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Expire snapshots older than the newest ``keep_last`` (Iceberg
        maintenance parity): their manifest JSONs are deleted and the
        ``_oldest`` marker advances, which bounds time travel AND lets
        ``vacuum()`` reclaim data files referenced only by expired
        snapshots. At 10^10-event scale this is what keeps metadata and
        storage O(retained history) instead of O(all history).
        Tags and live branches retain: the marker never advances past
        the oldest tagged or branch-fork version (Iceberg ref-retention
        semantics), keeping the retained
        range contiguous — a long-lived tag therefore holds history; the
        stats CLI surfaces tag pins so the cost is visible.
        Driver-side metadata-only; returns the number expired."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        prev_oldest = self.oldest_version()
        new_oldest = max(prev_oldest, cur - keep_last + 1)
        pins = list(self.tags().values()) + [
            b["fork_version"] for b in self.branches().values()
        ]
        if pins:
            # tags AND live branches retain (Iceberg ref retention): a
            # branch's fork image references main files via the forked
            # manifest, so expiring past it would let vacuum eat them.
            new_oldest = min(new_oldest, min(pins))
            new_oldest = max(new_oldest, prev_oldest)
        # advance the marker FIRST: readers then exclude the expiring
        # versions before any manifest disappears, so a crash mid-expire
        # leaves only unreferenced manifest files (re-expire cleans them)
        # instead of a readable range with missing manifests.
        _atomic_write_text(os.path.join(self.root, "_oldest"), str(new_oldest))
        # sweep by DIRECTORY LISTING, not range(prev_oldest, new_oldest):
        # a crash in a PREVIOUS expire (marker advanced, removals not
        # done) leaves orphans BELOW prev_oldest that a range-based loop
        # would never revisit. Anything under the marker is expired.
        expired = 0
        mdir = os.path.join(self.root, "_manifests")
        for entry in os.scandir(mdir):
            name = entry.name
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v < new_oldest:
                os.remove(entry.path)
                expired += 1
        return expired

    def last_batch_id(self) -> int:
        return int(self.manifest()["batch_id"])

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _files(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        kind: str = "files",
        manifest: dict | None = None,
    ) -> list[str]:
        m = self.manifest(version) if manifest is None else manifest
        files: list[str] = []
        want = None if buckets is None else {str(b) for b in buckets}
        for b, fl in m.get(kind, {}).items():
            if want is None or b in want:
                files.extend(fl)
        return files

    def read_raw(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
        with_bucket: bool = True,
    ) -> DataFrame:
        """Raw snapshot incl. tombstones & system columns, optionally
        pruned to a bucket subset. Resolves base ∪ deltas to one row
        per key (last-writer-wins by ``_lsn``) — the read-time half of
        merge-on-read.

        ``with_bucket=False`` skips recomputing the ``_bucket`` column
        for readers that don't need it (snapshot/lookup): the MOR dedup
        packs every payload column into its max_by struct, so Catalyst
        cannot prune the hash away after the fact — opt out up front.

        The bucket layout is taken from the manifest BEING READ (not the
        instance's cached ``num_buckets``): a snapshot written before a
        ``rebucket()`` must be re-hashed with ITS layout, and a stale
        LakeTable opened before a rebucket must not silently mis-bucket
        — readers get the same layout safety writers get from
        ``_assert_layout``.

        LWW resolution is PER-BUCKET-PRUNED: only buckets that actually
        hold delta files go through the max-LSN dedup; clean buckets
        (the overwhelming majority between compactions at scale — e.g.
        1 % dirty on a 100 TB table) are scanned straight through with
        no shuffle at all. A point lookup whose bucket is clean is a
        pure pruned scan."""
        m = self.manifest(version)
        layout = int(m.get("num_buckets", self.num_buckets))
        dirty = {b for b, fl in m.get("deltas", {}).items() if fl}
        want = None if buckets is None else [int(b) for b in buckets]
        dirty_want = [int(b) for b in dirty] if want is None else [
            b for b in want if str(b) in dirty
        ]
        clean_want = (
            [int(b) for b in m.get("files", {}) if b not in dirty]
            if want is None
            else [b for b in want if str(b) not in dirty]
        )
        clean_files = self._files(clean_want, manifest=m)
        dirty_files = self._files(dirty_want, manifest=m) + self._files(
            dirty_want, kind="deltas", manifest=m
        )
        frames = []
        if dirty_files:
            from tartare_spark.operators.dedup import dedup_latest_lsn

            # base and delta rows share the physical schema; duplicate
            # (key, _lsn) rows across segments are verbatim copies, so
            # max_by is exact. Partial agg combines map-side → one shuffle
            # over the DIRTY buckets' rows only.
            frames.append(
                dedup_latest_lsn(
                    _read_files(spark, dirty_files),
                    keys=["repo", "path"],
                    order_col="_lsn",
                )
            )
        if clean_files or not frames:
            frames.append(_read_files(spark, clean_files))
        df = frames[0]
        for extra in frames[1:]:
            df = df.unionByName(extra)
        if with_bucket:
            # ``_bucket`` is a write-side directory partition (dropped
            # from the data files); recompute it — a codegen'd key hash.
            df = df.withColumn("_bucket", bucket_expr(layout))
        return df

    def snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        registry: "Any | None" = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Live rows (tombstones filtered). If a ``SchemaRegistry`` is
        given, read-time defaults + renames for the registry version
        effective at the snapshot watermark are applied (metadata-only
        evolution, Iceberg-style). ``tag`` reads the snapshot a named
        ref pins (``create_tag``); mutually exclusive with ``version``."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.tag_version(tag)
        df = (
            self.read_raw(spark, version=version, with_bucket=False)
            .filter(~F.col("_deleted"))
            .drop("_ts")
        )
        if registry is not None:
            m = self.manifest(version)
            watermark = max([int(v) for v in m["bucket_lsn"].values()], default=0)
            df = registry.apply_read(df, watermark)
        return df.drop("_deleted")

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Incremental change feed (Iceberg incremental-scan parity):
        the physical rows committed in versions (from_version,
        to_version] — upserts AND tombstones, one row per key per
        commit, tagged with ``_commit_version``/``_batch_id`` so
        downstream consumers can resume by version. Each commit's delta
        files contain exactly the deduped changed rows, so this is a
        pure metadata-pruned file read — cost O(changed rows), the table
        itself is never scanned, and a later fold does not hide them
        (folds rewrite base files; retained manifests keep the delta
        paths). Maintenance commits (compaction: batch_id unchanged from
        parent) rewrite state without changing it and are skipped.
        Redelivery caveat: under unfenced redelivery a commit's delta
        can include stale rows (LSN at-or-below the already-applied row
        for that key) that read-time LWW discards — consumers must apply
        the feed LWW-by-``_lsn`` (as ``feed_as_changelog`` →
        ``apply_batch`` relays do); naive last-row-wins replay can
        regress on stale rows."""
        to_version = self.current_version() if to_version is None else to_version
        if not from_version <= to_version:
            raise ValueError(f"from_version {from_version} > to_version {to_version}")
        frames = []
        prev = self.manifest(from_version)
        # carry the seen-file set forward incrementally: rebuilding it
        # from each full manifest would be O(versions × total files) of
        # driver work on long retained histories.
        seen = {
            f
            for fl in list(prev.get("deltas", {}).values())
            + list(prev["files"].values())
            for f in fl
        }
        prev_batch = prev["batch_id"]
        for v in range(from_version + 1, to_version + 1):
            m = self.manifest(v)
            new_files = [
                f
                for fl in m.get("deltas", {}).values()
                for f in fl
                if f not in seen
            ]
            seen.update(new_files)
            for fl in m["files"].values():
                seen.update(fl)
            if m["batch_id"] == prev_batch:
                prev_batch = m["batch_id"]
                continue  # compaction/maintenance: no logical change
            prev_batch = m["batch_id"]
            if new_files:
                frames.append(
                    _read_files(spark, new_files)
                    .withColumn("_commit_version", F.lit(v))
                    .withColumn("_batch_id", F.lit(int(m["batch_id"])))
                )
        if not frames:
            return (
                _read_files(spark, [])
                .withColumn("_commit_version", F.lit(0))
                .withColumn("_batch_id", F.lit(0))
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def stream_changes(self, spark: SparkSession) -> DataFrame:
        """The lake as a STREAMING source: tail the per-commit MOR delta
        files (``data/delta-*``) with Spark's file-stream source, so a
        downstream pipeline can consume this table's change feed
        incrementally (lake → transform → lake chaining, CDC relay).
        Emits physical rows (upserts + tombstones); pair with
        :func:`tartare_spark.operators.apply.feed_as_changelog` to feed
        another lake. Compaction output (``batch-*``) never matches the
        glob, so maintenance rewrites are invisible to consumers, and
        the file-stream checkpoint gives resume-exactly-once over the
        feed.

        Retention interplay: ``expire_snapshots`` + ``vacuum`` reclaim
        delta files once no retained manifest references them — a
        consumer that lags behind the retention window loses those feed
        rows (the standard CDC-retention contract: size ``keep_last``
        to cover your slowest consumer)."""
        # Glob all the way to leaf FILES: a directory glob would run
        # partition discovery per delta dir and reject the layout as
        # conflicting roots. ignoreMissingFiles lets a lagging consumer
        # survive files reclaimed by expire+vacuum after listing
        # (those rows are lost per the retention contract above, but
        # the query keeps running instead of wedging on its WAL).
        # Orphan delta dirs from a crashed pre-publish writer can also
        # match the glob: their rows are verbatim duplicates of the
        # redelivered batch, which the downstream LWW apply dedups.
        return (
            spark.readStream.schema(PHYS_LAKE_SCHEMA)
            .option("ignoreMissingFiles", "true")
            .parquet(os.path.join(self.root, "data", "delta-*", "_bucket=*", "*.parquet"))
        )

    def lookup(self, spark: SparkSession, repo: str, path: str) -> DataFrame:
        """Point lookup by primary key, pruned to the key's single
        bucket: reads 1/num_buckets of the table regardless of table
        size (the CDC workload's 'current content of (repo, path)'
        query). The bucket id is computed on the driver by
        ``key_bucket``, bit-identical to the writer's ``bucket_expr``, so
        the only Spark jobs are the ones that read the bucket's files
        (one for a clean bucket; the LWW dedup's two for a dirty one).
        The layout (num_buckets) is taken from the CURRENT manifest —
        not the instance cache — and the pruned read is pinned to that
        same manifest version, so a stale LakeTable
        opened before a ``rebucket()`` still resolves the right bucket
        (and a rebucket racing between the two steps cannot skew it)."""
        m = self.manifest()
        layout = int(m.get("num_buckets", self.num_buckets))
        b = key_bucket(repo, path, layout)
        return (
            self.read_raw(spark, buckets=[b], version=int(m["version"]),
                          with_bucket=False)
            .filter((F.col("repo") == repo) & (F.col("path") == path))
            .filter(~F.col("_deleted"))
            .drop("_deleted", "_ts")
        )

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------
    def _publish_writer_commit(self, attempt_fn) -> None:
        """Writer-side counterpart of :meth:`compact`'s claim retry:
        rebuild and re-publish when the version claim was lost to one
        of the table's own MAINTENANCE commits (compaction / analyze
        keep the parent's ``batch_id``, so ``last_batch_id()`` is
        unchanged by them). Without this, an async fold publishing in
        the window between a writer's manifest read and its claim
        would kill the stream. A claim lost to a DIFFERENT writer
        (``batch_id`` advanced) stays a loud ConcurrentCommitError —
        one active writer per table is the contract, and the
        maintenance thread is not a second writer. Backoff covers the
        winner's link-to-pointer-swap window (claim exists but
        ``_current`` not yet advanced, so an immediate re-read would
        rebuild the identical losing claim)."""
        observed = self.last_batch_id()
        for attempt in range(16):
            try:
                return attempt_fn()
            except ConcurrentCommitError as err:
                if self.last_batch_id() != observed:
                    raise  # a different WRITER's commit is published
                # inspect the claim we lost to: maintenance claims carry
                # the parent's batch_id. Anything else — a foreign
                # batch_id (stale claim of a crashed second writer) or
                # an unreadable file (storage corruption) — is not ours
                # to absorb: re-raise the original loud error.
                claim = _manifest_path(self.root, self.current_version() + 1)
                try:
                    with open(claim) as f:
                        claim_batch = json.load(f).get("batch_id")
                except FileNotFoundError:
                    # maintenance finished its pointer swap between our
                    # failed link and this read — safe to rebuild now
                    continue
                except (json.JSONDecodeError, ValueError):
                    raise err
                if claim_batch != observed:
                    raise
                # maintenance holds the claim (link done, pointer swap
                # pending) — give it time to advance _current
                time.sleep(0.02 * (attempt + 1))
        raise ConcurrentCommitError(
            "writer lost the version claim 16 times to maintenance "
            f"commits on {self.root} — maintenance is publishing faster "
            "than the manifest can be re-read"
        )

    def append_delta(
        self,
        staged_phys: DataFrame,
        batch_id: int,
        schema_version_fn=None,
        extra_stats: dict | None = None,
        pre_partitioned: bool = False,
    ) -> dict | None:
        """Single-job MOR commit: write ``staged_phys`` (deduped physical
        rows carrying ``_bucket``) as per-bucket delta files, then recover
        the touched-bucket set + per-bucket applied-LSN watermarks from
        the parquet FOOTERS of the files just written (driver-side, ≤
        num_buckets files, ~ms) instead of running a second Spark job
        over the batch. Publishes the manifest and returns
        ``{keys, touched_buckets, max_lsn}``; ``None`` if the batch_id
        was already applied (idempotent) or the batch was empty.

        ``schema_version_fn(max_lsn)`` (optional) resolves the schema-
        registry version effective at the batch watermark — a callback so
        the lake stays decoupled from the registry.
        """
        if batch_id <= self.last_batch_id():
            return None
        self._assert_layout(self.manifest())

        new_files = self._write_data_files(
            staged_phys,
            f"delta-{batch_id}-{uuid.uuid4().hex[:8]}",
            self.num_buckets,
            pre_partitioned=pre_partitioned,
            blooms=False,
            codec="lz4",
        )
        if not new_files:
            return {"keys": 0, "touched_buckets": [], "max_lsn": None}

        bucket_lsn_updates, n_keys, max_ts = _footer_stats(new_files, with_ts=True)
        touched = sorted(new_files)
        max_lsn = max(bucket_lsn_updates.values())
        schema_version = schema_version_fn(max_lsn) if schema_version_fn else None

        def _attempt():
            prev = self.manifest()
            deltas = {k: list(v) for k, v in prev.get("deltas", {}).items()}
            for b in touched:
                deltas.setdefault(str(b), []).extend(
                    sorted(new_files.get(b, []))
                )
            self._publish(
                prev,
                batch_id=batch_id,
                files=dict(prev["files"]),
                deltas=deltas,
                bucket_lsn_updates=bucket_lsn_updates,
                schema_version=schema_version,
                extra_stats={**(extra_stats or {}), "keys": n_keys},
            )

        self._publish_writer_commit(_attempt)
        return {
            "keys": n_keys,
            "touched_buckets": touched,
            "max_lsn": max_lsn,
            "max_event_ts": max_ts,
        }

    def bootstrap_base(
        self,
        staged_phys: DataFrame,
        batch_id: int = 0,
        pre_partitioned: bool = False,
        extra_stats: dict | None = None,
    ) -> dict | None:
        """Initial-snapshot bulk load (the Debezium-snapshot half of a
        CDC deployment): write deduped physical rows straight into the
        table's BASE — no merge, no deltas, no read of existing state,
        which is only sound because the table must be EMPTY (asserted).
        Unlike the hot-path delta commit, base files get the long-lived
        treatment up front (key bloom filters + zstd), exactly what
        ``compact`` would otherwise pay later to establish.

        Watermarks come from the written files' parquet footers, same
        single-job shape as ``append_delta``; the subsequent binlog tail
        starts at ``batch_id + 1`` and LWW-by-LSN resolves any
        snapshot/tail overlap (events at or below a key's snapshot LSN
        lose — so an at-least-once handoff between snapshot and tail is
        safe, matching the fence semantics everywhere else)."""
        if batch_id <= self.last_batch_id():
            # Idempotent redelivery — but only of a bootstrap that
            # actually COMMITTED. A bootstrap commit writes base
            # segments, so a table whose current manifest has no base
            # files cannot be one: this "redelivery" means the original
            # bootstrap failed after a tail consumed the batch-id range
            # (e.g. a supervisor restarted the stream before the
            # bootstrap retry). Returning None here would silently drop
            # the whole snapshot — raise instead.
            if not any(self.manifest()["files"].values()):
                raise ValueError(
                    f"bootstrap batch_id {batch_id} <= last applied "
                    f"({self.last_batch_id()}) but the table has no base "
                    "segments — the original bootstrap never committed "
                    "and the tail has moved past its batch id. Load the "
                    "snapshot with a fresh batch_id above "
                    "last_batch_id(), and start the tail only after the "
                    "bootstrap succeeds."
                )
            return None
        m = self.manifest()
        self._assert_layout(m)
        if any(m["files"].values()) or any(m.get("deltas", {}).values()):
            raise ValueError(
                "bootstrap_base requires an EMPTY table (it writes the "
                "base without merging); this table already has data — "
                "use apply_batch for incremental loads"
            )
        # Persist the epoch offset for a subsequent streaming tail
        # BEFORE the commit: Structured Streaming epochs start at 0 for
        # a fresh checkpoint, and the bootstrap consumes batch ids ≤
        # batch_id — without the offset, run_stream's epoch 0 would be
        # skipped as "already applied" and its rows silently lost.
        # Writing it first closes the crash window the other order has:
        # a crash AFTER the manifest publish but BEFORE the offset write
        # would make the redelivered bootstrap a no-op (idempotency
        # early-return above) that never records the offset. The inverse
        # crash (offset written, commit never published) is harmless —
        # an un-bootstrapped table with an offset just numbers its tail
        # batches from offset instead of 0, and the idempotency guard
        # still sees monotone ids. The offset is stable across resumes
        # (same checkpoint ⇒ same epoch numbering), so epoch→batch_id
        # mapping stays idempotent.
        meta_path = os.path.join(self.root, "_table.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta["stream_batch_offset"] = batch_id + 1
        _atomic_write_json(meta_path, meta)
        new_files = self._write_data_files(
            staged_phys,
            f"bootstrap-{batch_id}-{uuid.uuid4().hex[:8]}",
            self.num_buckets,
            pre_partitioned=pre_partitioned,
            blooms=True,
            codec="zstd",
        )
        if not new_files:
            return {"keys": 0, "touched_buckets": [], "max_lsn": None}
        bucket_lsn_updates, n_keys, max_ts = _footer_stats(new_files, with_ts=True)
        touched = sorted(new_files)

        def _attempt():
            prev = self.manifest()
            files = dict(prev["files"])
            for b in touched:
                files[str(b)] = sorted(new_files.get(b, []))
            self._publish(
                prev,
                batch_id=batch_id,
                files=files,
                deltas=dict(prev.get("deltas", {})),
                bucket_lsn_updates=bucket_lsn_updates,
                schema_version=None,
                extra_stats={
                    **(extra_stats or {}), "keys": n_keys, "bootstrap": True,
                },
            )

        self._publish_writer_commit(_attempt)
        return {
            "keys": n_keys,
            "touched_buckets": touched,
            "max_lsn": max(bucket_lsn_updates.values()),
            "max_event_ts": max_ts,
        }

    def stream_batch_offset(self) -> int:
        """Epoch→batch_id offset for streaming tails (set by
        ``bootstrap_base``; 0 for tables that started from the log)."""
        with open(os.path.join(self.root, "_table.json")) as f:
            return int(json.load(f).get("stream_batch_offset", 0))

    def max_delta_files(self) -> int:
        m = self.manifest()
        return max((len(v) for v in m.get("deltas", {}).values()), default=0)

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        max_records_per_file: int | None = None,
        zorder: list[str] | None = None,
        _pre_publish_hook=None,
    ) -> int:
        """Fold delta files back into the base (MOR maintenance): resolve
        base ∪ deltas per bucket and rewrite those buckets. A maintenance
        commit — keeps the previous batch_id, so batch idempotency and
        checkpoint replay are unaffected. Crash-safe: data lands before
        the manifest swap; a crash leaves only orphans for vacuum().

        Concurrency-safe against a WRITER committing between the fold
        and the publish (the async-maintenance case, but also closes a
        latent race in the sync path): the fold is pinned to the
        manifest version it started from, and the publish clears ONLY
        the delta files it actually folded — deltas appended meanwhile
        survive in the manifest and LWW-resolve over the new base (they
        are strictly newer by LSN), and a lost version-claim race
        re-reads and retries. A concurrent COMPACTOR on the same
        buckets (base files changed under us) aborts loudly instead —
        one maintenance worker per table is the supported shape
        (``submit_compaction`` enforces it).

        ``_pre_publish_hook`` is a test seam: called once between the
        fold and the first publish attempt so tests can interleave a
        concurrent commit deterministically."""
        m0 = self.manifest()
        self._assert_layout(m0)
        delta_buckets = sorted(
            int(b) for b, fl in m0.get("deltas", {}).items() if fl
        )
        if buckets is not None:
            keep = set(buckets)
            delta_buckets = [b for b in delta_buckets if b in keep]
        if not delta_buckets:
            return 0
        folded = {
            b: set(m0.get("deltas", {}).get(str(b), [])) for b in delta_buckets
        }

        # cluster the rewrite by key: sorted row groups get selective
        # parquet min/max stats on (repo, path), so later repo-filtered
        # scans prune row groups — a read optimization paid only during
        # maintenance, never on the apply hot path. ``zorder=[c1, c2,
        # ...]`` switches the sort key to an interleaved-bit Morton code
        # over range bins of those columns (Delta OPTIMIZE ZORDER
        # parity): per-file ranges stay bounded on EVERY listed column,
        # so manifest zone maps prune multi-dimensionally — see
        # lake/zorder.py and scripts/zorder_bench.py for the measured
        # trade vs the lexicographic default.
        resolved = self.read_raw(
            spark, buckets=delta_buckets, version=m0["version"]
        )
        if zorder:
            from tartare_spark.lake.zorder import zvalue

            clustered = (
                resolved.withColumn("_z", zvalue(resolved, zorder))
                .repartition(max(len(delta_buckets), 1), "_bucket")
                .sortWithinPartitions("_bucket", "_z")
                .drop("_z")
            )
        else:
            clustered = resolved.repartition(
                max(len(delta_buckets), 1), "_bucket"
            ).sortWithinPartitions("_bucket", "repo", "path")
        new_files = self._write_data_files(
            clustered,
            f"compact-{m0['version']}-{uuid.uuid4().hex[:8]}",
            len(delta_buckets),
            pre_partitioned=True,
            codec="zstd",
            # file-size target: the rewrite is key-sorted, so SMALLER
            # files mean TIGHTER per-file (repo, path) ranges — which is
            # what manifest zone maps (analyze/scan_where) prune on.
            # Default 2M rows ≈ the 100 TB shape; pass a smaller target
            # to trade file count for pruning selectivity.
            max_records_per_file=max_records_per_file or 2_000_000,
        )

        for _attempt in range(16):
            prev = self.manifest()
            for b in delta_buckets:
                if prev["files"].get(str(b)) != m0["files"].get(str(b)):
                    raise ConcurrentCommitError(
                        f"bucket {b} base changed during compaction "
                        "(concurrent compactor?) — fold aborted, new "
                        "files are orphans for vacuum()"
                    )
            files = dict(prev["files"])
            deltas = {k: list(v) for k, v in prev.get("deltas", {}).items()}
            for b in delta_buckets:
                files[str(b)] = sorted(new_files.get(b, []))
                deltas[str(b)] = [
                    f for f in deltas.get(str(b), []) if f not in folded[b]
                ]
            if _pre_publish_hook is not None:
                hook, _pre_publish_hook = _pre_publish_hook, None
                hook()
            try:
                self._publish(
                    prev,
                    batch_id=prev["batch_id"],
                    files=files,
                    deltas=deltas,
                    bucket_lsn_updates={},
                    schema_version=None,
                    extra_stats={
                        "compaction": True, "buckets": len(delta_buckets)
                    },
                )
                return len(delta_buckets)
            except ConcurrentCommitError:
                # backoff: the winner may have linked its claim but not
                # yet advanced _current — an immediate re-read would
                # rebuild the identical losing claim
                time.sleep(0.02 * (_attempt + 1))
                continue
        raise ConcurrentCommitError(
            "compaction lost the version-claim race 16 times — a writer "
            "is committing faster than the manifest can be re-read"
        )

    def submit_compaction(
        self, spark: SparkSession, buckets: list[int], batch_id: int
    ) -> bool:
        """Run :meth:`compact` on the table's single maintenance thread
        so the foreachBatch thread returns to the trigger loop
        immediately (the fold no longer sits between two triggers).

        At most ONE fold is in flight per table: while one is pending,
        further submissions are skipped (returns False) — the deltas
        simply accumulate and the next accepted fold picks them up, so
        a slow fold self-coalesces instead of queueing. A failed fold
        re-raises on the next submit or on :meth:`wait_maintenance` —
        maintenance errors are loud, just deferred. The fold's metrics
        record (``maintenance: true, async: true``) is appended from
        the worker when it finishes."""
        import concurrent.futures

        pending = getattr(self, "_maintenance_future", None)
        if pending is not None:
            if not pending.done():
                return False
            pending.result()  # surface a failed previous fold loudly
        if not hasattr(self, "_maintenance_pool"):
            self._maintenance_pool = concurrent.futures.ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-maintenance"
            )

        def _fold():
            t1 = time.time()
            n = self.compact(spark, buckets=buckets)
            self.append_metrics(
                {
                    "batch_id": batch_id,
                    "maintenance": True,
                    "async": True,
                    "compacted_buckets": n,
                    "seconds": round(time.time() - t1, 4),
                }
            )
            return n

        self._maintenance_future = self._maintenance_pool.submit(_fold)
        return True

    def wait_maintenance(self) -> None:
        """Drain the async maintenance worker (call at end-of-stream or
        before snapshotting a quiesced table); re-raises a failed fold."""
        pending = getattr(self, "_maintenance_future", None)
        if pending is not None:
            pending.result()
            self._maintenance_future = None

    def analyze(self, cols: list[str]) -> int:
        """Maintenance commit that turns the manifest into a ZONE MAP
        for ``cols``: per-base-file [min, max] recovered from parquet
        footers and stored in ``manifest["file_stats"]`` (Iceberg
        manifest-column-stats parity). From this commit on, EVERY
        publish keeps the map current automatically (``_publish``
        carries entries forward, drops de-referenced files, back-fills
        newly written base files) — analyze is run once, not per batch.

        Driver-side metadata only: ``scan_where`` then prunes files
        against a selective predicate without touching ANY data file —
        at the 100 TB design point that is the difference between a
        manifest lookup and opening a few hundred thousand parquet
        footers. Numeric and string columns only (loud TypeError
        otherwise). Returns the number of files analyzed."""
        prev = self.manifest()
        self._assert_layout(prev)
        n_files = sum(len(fl) for fl in prev.get("files", {}).values())
        self._publish(
            prev,
            batch_id=prev["batch_id"],
            files=prev["files"],
            deltas=prev.get("deltas", {}),
            bucket_lsn_updates={},
            schema_version=None,
            extra_stats={"analyze": True, "cols": list(cols)},
            stats_cols=list(cols),
        )
        return n_files

    def scan_where(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple],
        version: int | None = None,
        registry: "Any | None" = None,
    ) -> DataFrame:
        """Snapshot restricted to ``bounds`` (col → (lo, hi) inclusive,
        either side None = unbounded), with FILE-LEVEL pruning from the
        manifest zone map built by ``analyze()``.

        Pruning is applied ONLY to clean buckets' base files, where the
        engine's standing invariant (one LWW-resolved row per key — the
        same invariant that lets ``read_raw`` skip dedup there) makes a
        per-file predicate exact. Dirty buckets are read IN FULL, LWW-
        resolved, then filtered: skipping a dirty bucket's file by a
        payload predicate could resurrect an older version of a key
        whose latest row lives in the skipped file, so the zone map is
        never consulted for them. Files without stats (pre-analyze,
        all-null groups, dropped oversized string stats) are always
        read. The residual predicate is applied to every surviving row,
        so pruning can only remove whole files the predicate already
        excludes — never change the answer."""
        m = self.manifest(version)
        fstats = m.get("file_stats", {})
        dirty = {b for b, fl in m.get("deltas", {}).items() if fl}
        clean_b = [int(b) for b in m.get("files", {}) if b not in dirty]
        kept = [
            p
            for p in self._files(clean_b, manifest=m)
            if _stats_admit(fstats.get(p), bounds)
        ]
        dirty_b = [int(b) for b in dirty]
        dirty_files = self._files(dirty_b, manifest=m) + self._files(
            dirty_b, kind="deltas", manifest=m
        )
        residual = F.lit(True)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                residual = residual & (F.col(c) >= F.lit(lo))
            if hi is not None:
                residual = residual & (F.col(c) <= F.lit(hi))
        frames = []
        if dirty_files:
            from tartare_spark.operators.dedup import dedup_latest_lsn

            frames.append(
                dedup_latest_lsn(
                    _read_files(spark, dirty_files),
                    keys=["repo", "path"],
                    order_col="_lsn",
                ).filter(residual)
            )
        if kept or not frames:
            frames.append(_read_files(spark, kept).filter(residual))
        df = frames[0]
        for extra in frames[1:]:
            df = df.unionByName(extra)
        out = df.filter(~F.col("_deleted")).drop("_ts")
        if registry is not None:
            # same read-time evolution as snapshot(); ``bounds`` always
            # name PHYSICAL columns (stats are footer-derived), so the
            # registry's renames/casts apply after pruning + filtering
            watermark = max(
                [int(v) for v in m["bucket_lsn"].values()], default=0
            )
            out = registry.apply_read(out, watermark)
        return out.drop("_deleted")

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Partition evolution (Iceberg bucket-spec change): rewrite the
        table into ``new_num_buckets`` buckets — for a table that
        outgrew (or over-provisioned) its layout. One full-table job:
        resolve base ∪ deltas, re-hash, key-clustered rewrite, publish
        as a maintenance commit (batch_id unchanged → invisible to
        ``changes()``/relays; the per-bucket watermark map is REPLACED,
        recovered from the new files' parquet footers). Old snapshots
        still read their own files (their manifests carry their own
        ``num_buckets``); writers opened before the rebucket fail
        loudly via the layout guard instead of mis-bucketing rows.
        Returns the new bucket count."""
        if new_num_buckets == self.num_buckets:
            return new_num_buckets
        assert new_num_buckets >= 1
        m = self.manifest()
        self._assert_layout(m)
        resolved = self.read_raw(spark, with_bucket=False).withColumn(
            "_bucket", bucket_expr(new_num_buckets)
        )
        clustered = resolved.repartition(
            max(new_num_buckets, 1), "_bucket"
        ).sortWithinPartitions("_bucket", "repo", "path")
        self.num_buckets = new_num_buckets  # writer + _publish use this
        new_files = self._write_data_files(
            clustered,
            f"rebucket-{m['version']}-{uuid.uuid4().hex[:8]}",
            new_num_buckets,
            pre_partitioned=True,
            codec="zstd",
        )
        bucket_lsn, _, _ = _footer_stats(new_files, with_ts=False)
        self._publish(
            m,
            batch_id=m["batch_id"],
            files={str(b): sorted(fl) for b, fl in new_files.items()},
            deltas={},
            bucket_lsn_updates=bucket_lsn,
            schema_version=None,
            extra_stats={"rebucket": True, "from_buckets": int(m.get("num_buckets", 0))},
            replace_bucket_lsn=True,
        )
        return new_num_buckets

    # -- shared write/commit plumbing ----------------------------------
    def _write_data_files(
        self, df: DataFrame, dirname: str, n_partitions: int,
        pre_partitioned: bool = False, blooms: bool = True,
        codec: str | None = None, max_records_per_file: int = 2_000_000,
    ) -> dict[int, list[str]]:
        """One shuffle: co-locate each bucket into one task → one file
        per bucket (maxRecordsPerFile splits huge buckets). When the
        caller already hash-partitioned ``df`` by ``_bucket``
        (``pre_partitioned=True``), no exchange is issued at all —
        bucket co-location is inherited from the upstream stage.

        ``blooms`` writes parquet bloom filters on the primary-key
        columns: a point lookup (or MERGE probe) skips row groups that
        cannot contain the key — together with bucket pruning this makes
        lookup cost ~one row group regardless of table size. Space cost
        is ~1 MB/file, noise at the 100 TB design point. Bloom BUILD
        time is NOT noise on the apply hot path (~20% of a delta commit,
        measured: 1M-event batch 3.3 s with → 2.7 s without), so delta
        writes skip blooms — delta files are short-lived (folded by
        compaction after ``compact_every`` files) and the read
        optimizations are paid once, at maintenance time, where they
        belong.

        ``codec`` follows the same hot-path/maintenance split: delta
        writes use lz4 (fastest encode — measured ~4% off a 1M-event
        commit vs snappy; the files are folded away shortly anyway),
        compaction/rebucket use zstd (best ratio, decode still fast —
        paid once for files that are read many times). ``None`` keeps
        the session default."""
        out_dir = os.path.join(self.root, "data", dirname)
        part = df if pre_partitioned else df.repartition(
            max(n_partitions, 1), "_bucket"
        )
        writer = part.write.option("maxRecordsPerFile", max_records_per_file)
        if codec:
            writer = writer.option("compression", codec)
        if blooms:
            writer = (
                writer.option("parquet.bloom.filter.enabled#repo", "true")
                .option("parquet.bloom.filter.enabled#path", "true")
                .option("parquet.bloom.filter.expected.ndv#repo", "100000")
                .option("parquet.bloom.filter.expected.ndv#path", "1000000")
            )
        (
            writer.partitionBy("_bucket")
            .parquet(out_dir)
        )
        new_files: dict[int, list[str]] = {}
        for entry in os.scandir(out_dir):
            if entry.name.startswith("_bucket="):
                b = int(entry.name.split("=", 1)[1])
                for f in os.scandir(entry.path):
                    if f.name.endswith(".parquet"):
                        new_files.setdefault(b, []).append(f.path)
        return new_files

    def _publish(
        self,
        prev: dict,
        batch_id: int,
        files: dict,
        deltas: dict,
        bucket_lsn_updates: dict[int, int],
        schema_version: int | None,
        extra_stats: dict | None,
        replace_bucket_lsn: bool = False,
        stats_cols: list[str] | None = None,
    ) -> None:
        if replace_bucket_lsn:
            # rebucket: old bucket ids are meaningless under the new
            # layout; the updates ARE the full new watermark map
            bucket_lsn = {str(b): int(v) for b, v in bucket_lsn_updates.items()}
        else:
            bucket_lsn = dict(prev["bucket_lsn"])
            for b, lsn in bucket_lsn_updates.items():
                bucket_lsn[str(b)] = max(int(lsn), int(bucket_lsn.get(str(b), 0)))
        manifest = {
            "version": prev["version"] + 1,
            "batch_id": batch_id,
            "parent": prev["version"],
            "schema_version": schema_version or prev["schema_version"],
            "num_buckets": self.num_buckets,
            "files": files,
            "deltas": deltas,
            "bucket_lsn": bucket_lsn,
            "stats": {**(extra_stats or {})},
        }
        # zone-map maintenance (Iceberg manifest-stats parity): once
        # ``analyze()`` has set ``stats_cols``, every commit carries
        # per-BASE-file min/max forward, drops entries for files no
        # longer referenced, and back-fills stats for base files that
        # lack them (one concurrent footer sweep over the NEW files
        # only — ~10 ms; zero files are missing on the MOR apply hot
        # path, where commits touch deltas, not base files).
        eff_cols = stats_cols if stats_cols is not None else prev.get("stats_cols")
        if eff_cols:
            manifest["stats_cols"] = list(eff_cols)
            referenced = {p for fl in files.values() for p in fl}
            fstats = {
                p: s
                for p, s in prev.get("file_stats", {}).items()
                if p in referenced
            }
            if stats_cols is not None and list(stats_cols) != prev.get(
                "stats_cols"
            ):
                # re-analyze with a DIFFERENT column set: carried
                # entries describe the old columns — recompute all
                fstats = {}
            missing = sorted(referenced - fstats.keys())
            if missing:
                fstats.update(_file_column_stats(missing, list(eff_cols)))
            manifest["file_stats"] = fstats
        # wall-clock commit stamp: operational metadata only (history(),
        # timestamp time travel) — never part of query semantics
        manifest["committed_at"] = time.time()
        self._claim_and_write_manifest(manifest)
        _atomic_write_text(
            os.path.join(self.root, "_current"), str(manifest["version"])
        )

    def _claim_and_write_manifest(self, manifest: dict) -> None:
        """Optimistic-concurrency guard on the commit: the manifest file
        for version N+1 is claimed by ``os.link``-ing a FULLY-WRITTEN
        temp file into place — atomic AND exclusive (link fails with
        FileExistsError if the version is taken), and unlike
        O_EXCL-create-then-dump the published path can NEVER hold a
        partial manifest: content is complete before the name exists.
        A writer that stalls mid-commit therefore stalls BEFORE it has
        any claim; when it wakes, its late ``link`` fails and it takes
        the loser branch instead of clobbering the winner's published
        manifest (the round-2 stale-claim hazard).

        If the version is already claimed:

        - same ``batch_id`` → it is OUR earlier attempt that crashed
          between manifest publish and pointer swap (streaming
          redelivers the batch with the same id); reclaim it atomically
          (temp + rename) so checkpoint resume stays automatic. Two
          racing reclaims of the SAME batch_id can overwrite each other,
          but both manifests reference complete, equivalent data
          (verbatim redelivered rows), so either winner is correct.
        - different ``batch_id`` → a live concurrent writer claimed the
          version first: raise ConcurrentCommitError instead of silently
          dropping either batch. One active writer per table is the
          supported deployment (Structured Streaming enforces one query
          per checkpoint); this guard turns a misconfigured second
          writer into a loud error."""
        path = _manifest_path(self.root, manifest["version"])
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return
        except FileExistsError:
            pass
        except OSError:
            # Filesystem without hard-link support (some NFS/object-store
            # FUSE mounts raise EPERM/EOPNOTSUPP): fall back to an
            # O_EXCL-create claim followed by an atomic replace with the
            # fully-written temp. The claim is still exclusive and the
            # content still appears atomically; the only regression vs
            # the link path is a small window where the claimed name
            # holds an empty file. The inspection loop below covers
            # both fates of that window: a LIVE writer inside it gets a
            # brief grace (retry while the claim's mtime is fresh), and
            # a writer that CRASHED there leaves a stale EMPTY claim
            # that is recovered by takeover — an empty file can only
            # come from this window, never from a linked claim.
            try:
                os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                pass
            else:
                os.replace(tmp, path)
                return
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        # The claim exists. On the link path claims are only ever
        # created from complete temp files, so they are complete JSON;
        # the O_EXCL fallback above, however, has a small create→replace
        # window where the claimed name is an EMPTY file. Inspect with
        # that in mind: an unparseable claim with a RECENT mtime may be
        # a live writer inside its fallback window — retry while it is
        # fresh; an EMPTY claim that has gone stale can only be a writer
        # that crashed inside the window (a linked claim is never empty)
        # and is recovered by taking the claim over atomically; a STALE
        # NON-EMPTY unparseable claim is genuine storage corruption —
        # give up loudly rather than guess.
        existing = None
        for _ in range(25):
            try:
                with open(path) as f:
                    existing = json.load(f)
                break
            except (json.JSONDecodeError, ValueError):
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    # claimant vanished between our open and stat —
                    # loop; the next open re-resolves the race
                    continue
                age = time.time() - st.st_mtime
                if st.st_size == 0 and age > 2.0:
                    logger.warning(
                        "manifest claim %s is an empty file abandoned by "
                        "a writer that crashed inside the no-hardlink "
                        "O_EXCL fallback window — taking the claim over",
                        path,
                    )
                    _atomic_write_json(path, manifest)
                    return
                if age > 2.0:
                    break  # stale and non-empty: corruption, stop waiting
                time.sleep(0.2)
        if existing is None:
            raise ConcurrentCommitError(
                f"manifest version {manifest['version']} exists but is "
                f"unreadable and non-empty (claims are written "
                f"atomically, so this is storage corruption, not a "
                f"mid-write race) — inspect {path} manually"
            )
        if existing.get("batch_id") != manifest["batch_id"]:
            raise ConcurrentCommitError(
                f"manifest version {manifest['version']} already claimed by "
                f"batch {existing.get('batch_id')} (ours: {manifest['batch_id']}) "
                f"— another writer is committing to {self.root}"
            )
        # ours (crash-before-pointer-swap redelivery): reclaim atomically.
        _atomic_write_json(path, manifest)

    # ------------------------------------------------------------------
    # lineage & metrics (SURVEY.md §2 W3/T7; BASELINE.json:6)
    # ------------------------------------------------------------------
    def history(self) -> list[dict]:
        """Commit history over the retained snapshot range (Iceberg
        ``table.history()`` parity): one record per retained manifest
        with commit wall-clock time, batch id, and stats. Driver-side
        metadata only."""
        out = []
        for v in range(self.oldest_version(), self.current_version() + 1):
            m = self.manifest(v)
            out.append(
                {
                    "version": v,
                    "batch_id": m["batch_id"],
                    "committed_at": m.get("committed_at"),
                    "schema_version": m["schema_version"],
                    "num_buckets": m.get("num_buckets"),
                    "stats": m.get("stats", {}),
                }
            )
        return out

    def version_as_of(self, ts: float) -> int:
        """Largest retained version committed at-or-before wall-clock
        ``ts`` (Iceberg timestamp time travel). Raises if the retained
        range starts after ``ts`` (expired) or nothing was committed
        yet by ``ts`` — travel to before the table existed is an error,
        not an empty read. Manifests missing a stamp (written before
        this feature) are never matched by timestamp travel — their
        commit time is unknown; use version travel for them."""
        best = None
        for rec in self.history():
            at = rec["committed_at"]
            if at is not None and at <= ts:
                best = rec["version"]
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts} "
                f"(oldest retained: v{self.oldest_version()})"
            )
        return best

    def snapshot_as_of(
        self, spark: SparkSession, ts: float, registry: "Any | None" = None
    ) -> DataFrame:
        """Time travel by wall-clock timestamp: the snapshot as of the
        last commit at-or-before ``ts``."""
        return self.snapshot(spark, version=self.version_as_of(ts),
                             registry=registry)

    def lineage(self) -> list[dict]:
        """Per-bucket applied-LSN watermark progression across snapshots."""
        out = []
        for v in range(self.oldest_version(), self.current_version() + 1):
            m = self.manifest(v)
            for b, lsn in m["bucket_lsn"].items():
                out.append(
                    {
                        "version": v,
                        "batch_id": m["batch_id"],
                        "bucket": int(b),
                        "applied_lsn": int(lsn),
                    }
                )
        return out

    def append_metrics(self, record: dict) -> None:
        with open(os.path.join(self.root, "_metrics", "metrics.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")

    def metrics(self) -> list[dict]:
        p = os.path.join(self.root, "_metrics", "metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def _referenced_files(self) -> set[str]:
        """All data files referenced by any RETAINED manifest — base and
        delta files."""
        referenced: set[str] = set()
        for v in range(self.oldest_version(), self.current_version() + 1):
            m = self.manifest(v)
            for fl in m["files"].values():
                referenced.update(fl)
            for fl in m.get("deltas", {}).values():
                referenced.update(fl)
        return referenced

    def orphan_files(self) -> list[str]:
        """Data files on disk not referenced by any retained manifest
        (left by crashes between data write and manifest publish)."""
        referenced = self._referenced_files()
        found = []
        data = os.path.join(self.root, "data")
        for dirpath, _, names in os.walk(data):
            for n in names:
                p = os.path.join(dirpath, n)
                if n.endswith(".parquet") and p not in referenced:
                    found.append(p)
        return found

    def vacuum(self) -> int:
        """Delete orphan batch dirs not referenced by any RETAINED
        manifest (time-travel safe for retained snapshots; run
        ``expire_snapshots`` first to shrink the retained set).

        Drains the async maintenance worker first: an in-flight fold's
        freshly-written files are unreferenced until its manifest
        publishes, so vacuuming past a live fold would delete data the
        next commit is about to reference (table corruption). The
        drain makes vacuum-after-async-fold deterministic; a vacuum
        run from a SEPARATE process still must not race a live writer
        — same single-writer deployment contract as commits."""
        self.wait_maintenance()
        referenced = self._referenced_files()
        removed = 0
        data = os.path.join(self.root, "data")
        for entry in os.scandir(data):
            if not entry.is_dir():
                continue
            keep = any(f.startswith(entry.path + os.sep) for f in referenced)
            if not keep:
                shutil.rmtree(entry.path)
                removed += 1
        return removed


def _footer_stats(
    new_files: dict[int, list[str]], with_ts: bool
) -> tuple[dict[int, int], int, Any]:
    """Recover per-bucket max ``_lsn`` watermarks, total row count, and
    (optionally) the max ``_ts`` from the parquet FOOTERS of
    just-written files. Footers are read CONCURRENTLY (thread pool —
    pyarrow releases the GIL during metadata IO): at ≤num_buckets files
    per commit the sequential loop was ~100 ms of the per-batch fixed
    cost; concurrent it is ~10 ms. Raises loudly if ``_lsn`` stats are
    missing — the commit protocol depends on them."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    pairs = [(b, p) for b, paths in new_files.items() for p in paths]
    with ThreadPoolExecutor(max_workers=min(16, max(len(pairs), 1))) as ex:
        mds = list(ex.map(lambda bp: pq.read_metadata(bp[1]), pairs))

    bucket_lsn: dict[int, int] = {}
    n_keys = 0
    max_ts = None
    for (b, p), md in zip(pairs, mds):
        n_keys += md.num_rows
        sch = md.schema.to_arrow_schema()
        ci = sch.get_field_index("_lsn")
        ti = sch.get_field_index("_ts") if with_ts else -1
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            if st is None or st.max is None:
                raise RuntimeError(
                    f"parquet file {p} has no _lsn column statistics; "
                    "the delta commit requires footer stats "
                    "(check parquet writer settings)"
                )
            mx = int(st.max)
            # seed with the first observed value (no sentinel):
            # correct even for non-positive LSN domains.
            if b not in bucket_lsn or mx > bucket_lsn[b]:
                bucket_lsn[b] = mx
            if ti >= 0:
                tst = md.row_group(g).column(ti).statistics
                if tst is not None and tst.max is not None:
                    if max_ts is None or tst.max > max_ts:
                        max_ts = tst.max
    return bucket_lsn, n_keys, max_ts


def _stat_value(v, path: str, col: str):
    """Normalize one parquet footer min/max into a JSON-storable value.
    Only numeric and string columns are supported as zone-map columns —
    timestamps/binary would need a serialization convention the pruning
    comparison must then mirror; rejecting them loudly beats a silently
    wrong order."""
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        raise TypeError(
            f"column {col!r} (file {path}) has {type(v).__name__} "
            "statistics; zone-map columns must be numeric or string"
        )
    return v


def _file_column_stats(
    paths: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``cols``, recovered from parquet FOOTERS
    (read concurrently, like ``_footer_stats``) — the write-side half of
    manifest zone maps. A column is omitted for a file when any row
    group lacks min/max for it (all-null group, or the writer dropped
    oversized binary stats): readers treat a missing entry as
    "cannot prune", so omission is always safe. Parquet writers that
    truncate string stats keep them valid as bounds (truncated max is
    rounded UP), so footer min/max are usable pruning bounds verbatim."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, max(len(paths), 1))) as ex:
        mds = list(ex.map(pq.read_metadata, paths))
    out: dict[str, dict[str, list]] = {}
    for p, md in zip(paths, mds):
        sch = md.schema.to_arrow_schema()
        per_col: dict[str, list] = {}
        for c in cols:
            ci = sch.get_field_index(c)
            if ci < 0:
                continue  # pre-evolution file without the column
            mn = mx = None
            ok = True
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or st.min is None or st.max is None:
                    ok = False
                    break
                gmn = _stat_value(st.min, p, c)
                gmx = _stat_value(st.max, p, c)
                mn = gmn if mn is None or gmn < mn else mn
                mx = gmx if mx is None or gmx > mx else mx
            if ok and mn is not None:
                per_col[c] = [mn, mx]
        out[p] = per_col
    return out


def _stats_admit(
    per_col: dict[str, list] | None, bounds: dict[str, tuple]
) -> bool:
    """True when a file's zone-map entry CANNOT rule the file out for
    ``bounds`` (col → (lo, hi), either side None). Missing entry or
    missing column → True (read it: pruning is an optimization, never a
    correctness gate). Python str comparison is code-point order, which
    equals Spark's UTF-8 byte order (UTF-8 preserves code-point order),
    so string bounds prune identically on both sides."""
    if not per_col:
        return True
    for c, (lo, hi) in bounds.items():
        rng = per_col.get(c)
        if rng is None:
            continue
        fmin, fmax = rng
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    return True


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", f"v{version:012d}.json")


def _atomic_write_json(path: str, obj: dict) -> None:
    _atomic_write_text(path, json.dumps(obj, indent=1))


def _atomic_write_text(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
