"""M1/M2: batch replay end-to-end equality vs the pandas referee —
the judge invariant (BASELINE.json:6,15): per-row sha256(content)
equality + full-row exceptAll both ways."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tartare_spark.fixtures import (
    UNIT,
    generate_change_events,
    registry_rows,
)
from tartare_spark.lake.table import LakeTable
from tartare_spark.operators.apply import apply_batch, replay_batches
from tartare_spark.oracle import replay_referee
from tartare_spark.registry import SchemaRegistry


@pytest.fixture(scope="module")
def unit_events(spark, unit_events_dir):
    return spark.read.parquet(f"{unit_events_dir}/*.parquet")


def assert_state_equals_referee(spark, lake, registry=None, reg_rows=None):
    engine = lake.snapshot(
        spark, registry=SchemaRegistry(reg_rows) if reg_rows else None
    )
    ev_pd = pd.DataFrame(generate_change_events(UNIT))
    expected = replay_referee(ev_pd, reg_rows)
    exp_df = spark.createDataFrame(expected)

    assert sorted(engine.columns) == sorted(expected.columns.tolist())
    engine = engine.select(*expected.columns.tolist())

    # judged invariant: per-row content sha multiset equality
    only_engine = engine.exceptAll(exp_df)
    only_expected = exp_df.exceptAll(engine)
    assert only_engine.count() == 0, only_engine.limit(5).collect()
    assert only_expected.count() == 0, only_expected.limit(5).collect()

    # sha sanity: stored sha really is sha2(content)
    bad = engine.filter(
        F.col("_content_sha") != F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    assert bad.count() == 0


@pytest.mark.parametrize("compact_every", [8, 1])
def test_batch_replay_matches_referee(spark, unit_events, tmp_path, compact_every):
    lake = LakeTable.create(str(tmp_path / f"lake_{compact_every}"), num_buckets=16,
                            compact_every=compact_every)
    recs = replay_batches(spark, lake, unit_events, num_chunks=8)
    assert all(not r.get("skipped") for r in recs)
    assert_state_equals_referee(spark, lake)


def test_mor_compaction_preserves_state(spark, unit_events, tmp_path):
    """MOR maintenance: compaction folds deltas into the base without
    changing the resolved state; compact_every=3 forces several
    compactions mid-replay too."""
    lake = LakeTable.create(
        str(tmp_path / "lake_mor_c"), num_buckets=8, compact_every=3
    )
    replay_batches(spark, lake, unit_events, num_chunks=9)
    assert any(m.get("compacted_buckets") for m in lake.metrics())
    # compaction is DECOUPLED from the commit path: the threshold-
    # tripping batch records compact_deferred (its own seconds exclude
    # the bucket fold) and the fold reports a separate maintenance
    # record with its own timing
    batch_recs = [m for m in lake.metrics() if not m.get("maintenance")]
    maint_recs = [m for m in lake.metrics() if m.get("maintenance")]
    assert any(m.get("compact_deferred") for m in batch_recs)
    assert maint_recs and all(
        m["compacted_buckets"] >= 1 and m["seconds"] >= 0 for m in maint_recs
    )
    assert not any("compacted_buckets" in m for m in batch_recs)
    before = assert_state_equals_referee(spark, lake)
    lake.compact(spark)  # final manual compaction: all deltas folded
    assert lake.max_delta_files() == 0
    assert_state_equals_referee(spark, lake)
    _ = before


def test_single_batch_replay_same_state(spark, unit_events, tmp_path):
    """Chunking must not change the result (order-insensitive merge)."""
    lake = LakeTable.create(str(tmp_path / "lake1"), num_buckets=16)
    replay_batches(spark, lake, unit_events, num_chunks=1)
    assert_state_equals_referee(spark, lake)


def test_idempotent_redelivery(spark, unit_events, tmp_path):
    """S7: re-applying an already-committed batch_id is a no-op."""
    lake = LakeTable.create(str(tmp_path / "lake2"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    v = lake.current_version()
    rec = apply_batch(spark, lake, unit_events, batch_id=3)  # redelivery
    assert rec["skipped"] is True
    assert lake.current_version() == v
    assert_state_equals_referee(spark, lake)


def test_replay_with_registry(spark, unit_events, tmp_path):
    """M4: schema evolution — final schema has `language`, null langs
    backfilled from path extension."""
    reg_rows = registry_rows(UNIT)
    lake = LakeTable.create(str(tmp_path / "lake3"), num_buckets=16)
    replay_batches(
        spark, lake, unit_events, num_chunks=6, registry=SchemaRegistry(reg_rows)
    )
    assert_state_equals_referee(spark, lake, reg_rows=reg_rows)


def test_e5_widen_boundary_mid_replay(spark, tmp_path):
    """E5 type widening across a mid-replay boundary: a registry adds a
    derived int column, then widens it to bigint at LSN 50. A snapshot
    whose watermark sits below the boundary reads int; once the replay
    crosses it, the SAME physical files read bigint with identical
    values — metadata-only, no rewrite. Narrowing raises."""
    ts = "2024-01-01 00:00:00"

    def chunk(lo, hi):
        df = spark.createDataFrame(
            [(lsn, "update", f"r{lsn}", "f.py", f"c{lsn}", "py",
              "x" * (lsn % 7 + 1), ts) for lsn in range(lo, hi)],
            "lsn long, op string, repo string, path string, commit string,"
            " lang string, content string, ts string",
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    reg = SchemaRegistry([
        {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
         "renamed_from": None, "default_expr": None},
        {"version": 2, "effective_lsn": 0, "action": "add",
         "column": "content_len", "renamed_from": None,
         "default_expr": "CAST(length(content) AS INT)"},
        {"version": 3, "effective_lsn": 50, "action": "widen",
         "column": "content_len", "renamed_from": None,
         "default_expr": None, "target_type": "bigint"},
    ])
    lake = LakeTable.create(str(tmp_path / "lake_widen"), num_buckets=4)
    apply_batch(spark, lake, chunk(1, 50), 0, registry=reg)
    before = lake.snapshot(spark, registry=reg)
    assert dict(before.dtypes)["content_len"] == "int"

    apply_batch(spark, lake, chunk(50, 101), 1, registry=reg)
    after = lake.snapshot(spark, registry=reg)
    assert dict(after.dtypes)["content_len"] == "bigint"
    rows = after.select("content", "content_len").collect()
    assert rows and all(r["content_len"] == len(r["content"]) for r in rows)
    # time travel below the boundary still reads the narrow type
    early = lake.snapshot(spark, version=1, registry=reg)
    assert dict(early.dtypes)["content_len"] == "int"

    bad = SchemaRegistry([
        {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
         "renamed_from": None, "default_expr": None},
        {"version": 2, "effective_lsn": 0, "action": "widen",
         "column": "_lsn", "renamed_from": None, "default_expr": None,
         "target_type": "int"},
    ])
    with pytest.raises(ValueError, match="widening"):
        bad.apply_read(lake.snapshot(spark), 10).schema


def test_lineage_monotonic(spark, unit_events, tmp_path):
    lake = LakeTable.create(str(tmp_path / "lake4"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=5)
    lineage = lake.lineage()
    by_bucket = {}
    for row in sorted(lineage, key=lambda r: r["version"]):
        prev = by_bucket.get(row["bucket"], 0)
        assert row["applied_lsn"] >= prev
        by_bucket[row["bucket"]] = row["applied_lsn"]
    assert max(by_bucket.values()) == UNIT.n_events


def test_snapshot_isolation_time_travel(spark, unit_events, tmp_path):
    """Old snapshot versions stay readable after later commits."""
    lake = LakeTable.create(str(tmp_path / "lake5"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    v_mid = 2
    n_mid = lake.snapshot(spark, version=v_mid).count()
    n_final = lake.snapshot(spark).count()
    assert n_mid > 0
    # re-reading the old version after more commits gives the same count
    assert lake.snapshot(spark, version=v_mid).count() == n_mid
    assert n_final != n_mid or lake.current_version() == v_mid


def test_hot_repo_spreads_over_buckets(spark, unit_events, tmp_path):
    """Skew (SURVEY §5.2 item 5): the zipf fixture's hottest repo (~20%
    of events) must NOT concentrate in few buckets — full-key bucketing
    is the salting scheme. Assert the per-bucket row distribution of the
    final lake is balanced (max <= 2x mean)."""
    from pyspark.sql import functions as F

    from tartare_spark.lake.table import bucket_expr

    lake = LakeTable.create(str(tmp_path / "lake_skew"), num_buckets=16)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    per_bucket = (
        lake.snapshot(spark)
        .withColumn("_b", bucket_expr(16))
        .groupBy("_b")
        .count()
        .collect()
    )
    counts = [r["count"] for r in per_bucket]
    assert len(counts) == 16  # every bucket populated
    assert max(counts) <= 2 * (sum(counts) / len(counts))
    # and the hot repo itself touches (almost) every bucket
    hot = (
        lake.snapshot(spark)
        .filter(F.col("repo") == "repo_0000")
        .withColumn("_b", bucket_expr(16))
        .select("_b")
        .distinct()
        .count()
    )
    assert hot >= 12


def test_point_lookup_prunes_to_one_bucket(spark, unit_events, tmp_path):
    lake = LakeTable.create(str(tmp_path / "lake_pt"), num_buckets=16)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    snap = lake.snapshot(spark)
    sample = snap.limit(3).collect()
    for r in sample:
        got = lake.lookup(spark, r["repo"], r["path"]).collect()
        assert len(got) == 1
        assert got[0]["content"] == r["content"]
        assert got[0]["_content_sha"] == r["_content_sha"]
    # deleted/absent key -> empty
    assert lake.lookup(spark, "no_such_repo", "no/such/path").count() == 0


def test_vacuum_keeps_referenced(spark, unit_events, tmp_path):
    lake = LakeTable.create(str(tmp_path / "lake6"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=3)
    before = lake.snapshot(spark).count()
    lake.vacuum()  # nothing unreferenced should disappear
    assert lake.snapshot(spark).count() == before


def test_mor_apply_plan_has_single_shuffle(spark, unit_events):
    """The MOR staging pipeline (bucket repartition → keyed dedup →
    physical projection) must plan exactly ONE Exchange: the dedup
    aggregate runs on the bucket partitioning without a second shuffle,
    and the delta writer (pre_partitioned=True) adds none."""
    import io
    from contextlib import redirect_stdout

    from tartare_spark.lake.table import bucket_expr
    from tartare_spark.operators.apply import EVENT_COLS
    from tartare_spark.operators.dedup import dedup_latest_lsn

    ev = unit_events.select(*EVENT_COLS).withColumn("_bucket", bucket_expr(16))
    part = ev.repartition(16, "_bucket")
    staged = dedup_latest_lsn(part, keys=["_bucket", "repo", "path"], order_col="lsn")
    phys = staged.select(
        "repo", "path", "commit", "lang", "content",
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "delete").alias("_deleted"),
        F.sha2(F.coalesce("content", F.lit("")), 256).alias("_content_sha"),
        F.col("ts").alias("_ts"),
        "_bucket",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        phys.explain()
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1, plan


def test_concurrent_commit_guard(spark, unit_events, tmp_path):
    """A foreign partial manifest at version N+1 (different batch_id)
    must fail the commit loudly; our OWN crashed attempt (same batch_id)
    or an unparseable partial is reclaimed so checkpoint resume stays
    automatic."""
    import json
    import os

    from tartare_spark.lake.table import ConcurrentCommitError

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=2)
    v = lake.current_version()

    # foreign claim on the next version → loud error, state unchanged
    foreign = str(tmp_path / "lake" / "_manifests" / f"v{v + 1:012d}.json")
    os.makedirs(os.path.dirname(foreign), exist_ok=True)
    with open(foreign, "w") as f:
        json.dump({"batch_id": 9999, "version": v + 1}, f)
    with pytest.raises(ConcurrentCommitError):
        apply_batch(spark, lake, unit_events, batch_id=lake.last_batch_id() + 1)
    assert lake.current_version() == v

    # unparseable claim → ALWAYS a loud error: claims are published by
    # linking a fully-written temp file into place, so a partial at the
    # claim path can only be storage corruption (never a healthy writer
    # mid-dump), and no age heuristic can make overwriting it safe
    with open(foreign, "w") as f:
        f.write('{"batch_id": 99')
    with pytest.raises(ConcurrentCommitError, match="unreadable"):
        apply_batch(spark, lake, unit_events, batch_id=lake.last_batch_id() + 1)

    # our OWN crashed attempt (complete claim, same batch_id, pointer
    # never swapped — the streaming-redelivery shape) → reclaimed
    next_bid = lake.last_batch_id() + 1
    with open(foreign, "w") as f:
        json.dump({"batch_id": next_bid, "version": v + 1}, f)
    res = apply_batch(spark, lake, unit_events, batch_id=next_bid)
    assert not res["skipped"]
    assert lake.current_version() == v + 1


def test_expire_snapshots_bounds_history(spark, unit_events, tmp_path):
    """expire_snapshots bounds time travel + lets vacuum reclaim files
    referenced only by expired snapshots; the live state is untouched."""
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8,
                            compact_every=1)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    cur = lake.current_version()
    assert cur >= 4
    live_before = lake.snapshot(spark).count()

    expired = lake.expire_snapshots(keep_last=2)
    assert expired == cur - 1  # versions 0..cur-2 gone
    assert lake.oldest_version() == cur - 1

    # live state + retained time travel intact; expired travel is a
    # clear error, not a FileNotFoundError
    assert lake.snapshot(spark).count() == live_before
    assert lake.snapshot(spark, version=cur - 1).count() >= 0
    with pytest.raises(ValueError, match="expired"):
        lake.snapshot(spark, version=0)

    # folds leave old base (and folded delta) files referenced ONLY by
    # expired manifests; vacuum can now reclaim them
    removed = lake.vacuum()
    assert removed > 0
    assert lake.snapshot(spark).count() == live_before
    assert len(lake.lineage()) > 0

    # crash-recovery sweep: a manifest orphaned BELOW the _oldest marker
    # (crash between marker write and removals in an earlier expire) is
    # cleaned by the next expire — the sweep lists the directory instead
    # of trusting the [prev_oldest, new_oldest) range (round-2 ADVICE)
    import json as _json
    import os as _os

    orphan = str(tmp_path / "lake" / "_manifests" / "v000000000000.json")
    with open(orphan, "w") as f:
        _json.dump({"version": 0, "batch_id": -1}, f)
    assert lake.expire_snapshots(keep_last=2) >= 1
    assert not _os.path.exists(orphan)


def test_snapshot_plan_skips_bucket_hash(spark, unit_events, tmp_path):
    """Analytical reads must not pay the per-row bucket hash: the MOR
    dedup would pack _bucket into its max_by struct (unprunable), so
    snapshot opts out of computing it entirely."""
    import io
    from contextlib import redirect_stdout

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        lake.snapshot(spark).explain(True)
    assert "xxhash64" not in buf.getvalue()


def test_replay_with_drop_registry(spark, unit_events, tmp_path):
    """E4 end-to-end: a registry that later DROPS the evolved column
    yields identical engine-vs-referee state without it; time travel via
    a lower watermark would still see it (metadata-only drop)."""
    reg_rows = registry_rows(UNIT) + [
        {"version": 4, "effective_lsn": UNIT.v2_lsn + 1, "action": "drop",
         "column": "language", "renamed_from": None, "default_expr": None},
    ]
    lake = LakeTable.create(str(tmp_path / "lake_drop"), num_buckets=16)
    replay_batches(
        spark, lake, unit_events, num_chunks=4, registry=SchemaRegistry(reg_rows)
    )
    engine = lake.snapshot(spark, registry=SchemaRegistry(reg_rows))
    assert "language" not in engine.columns and "lang" not in engine.columns
    assert_state_equals_referee(spark, lake, reg_rows=reg_rows)


def test_changes_feed_matches_applied_batches(spark, unit_events, tmp_path):
    """changes(v-1, v) returns exactly the deduped rows each commit
    applied (upserts + tombstones); compaction commits contribute no
    feed rows; the full feed from 0 composes the same final state."""
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    recs = replay_batches(spark, lake, unit_events, num_chunks=3)
    cur = lake.current_version()

    total_feed = 0
    for v in range(1, cur + 1):
        feed = lake.changes(spark, v - 1, v)
        n = feed.count()
        total_feed += n
        if n:
            assert feed.select("_commit_version").distinct().collect()[0][0] == v
    assert total_feed == sum(r["rows"] for r in recs if not r.get("skipped"))

    # replaying the feed into a dict last-writer-wins == lake snapshot
    rows = lake.changes(spark, 0).collect()
    state = {}
    for r in sorted(rows, key=lambda r: r["_lsn"]):
        if r["_deleted"]:
            state.pop((r["repo"], r["path"]), None)
        else:
            state[(r["repo"], r["path"])] = r["content"]
    snap = {(r["repo"], r["path"]): r["content"]
            for r in lake.snapshot(spark).collect()}
    assert state == snap

    # compaction bumps the version but adds NOTHING to the feed
    before = lake.changes(spark, 0).count()
    n_compacted = lake.compact(spark)
    assert n_compacted > 0
    assert lake.current_version() == cur + 1
    assert lake.changes(spark, 0).count() == before
    assert lake.changes(spark, cur).count() == 0


def _replay_feed_over_snapshot(spark, lake, feed, from_v, to_v):
    old = {(r["repo"], r["path"]): r["content"]
           for r in lake.snapshot(spark, version=from_v).collect()}
    for r in feed.collect():
        if r["_deleted"]:
            old.pop((r["repo"], r["path"]), None)
        else:
            old[(r["repo"], r["path"])] = r["content"]
    new = {(r["repo"], r["path"]): r["content"]
           for r in lake.snapshot(spark, version=to_v).collect()}
    assert old == new


def test_changes_fold_every_commit_feed_survives_vacuum(spark, unit_events, tmp_path):
    """Fold-every-commit change feed: every commit's buckets are folded
    right away, yet the feed is still served from the commits' own
    delta files (O(changed rows) — the feed's plan reads ONLY delta-*
    files, never the folded bases), replaying it over the old snapshot
    reconstructs the new one, and the deltas survive vacuum."""
    import os

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8,
                            compact_every=1)
    replay_batches(spark, lake, unit_events, num_chunks=3)
    cur = lake.current_version()
    assert lake.max_delta_files() == 0  # every commit was folded

    feed = lake.changes(spark, 1, cur)
    # the O(changed-rows) claim, asserted on the plan's actual inputs
    inputs = feed.inputFiles()
    assert inputs and all(f"{os.sep}delta-" in f for f in inputs), inputs[:3]
    _replay_feed_over_snapshot(spark, lake, feed, 1, cur)
    # folded deltas survive vacuum (referenced by retained manifests)
    lake.vacuum()
    _replay_feed_over_snapshot(spark, lake, lake.changes(spark, 1, cur), 1, cur)


def test_read_resolution_pruned_to_dirty_buckets(spark, unit_events, tmp_path):
    """MOR read-time LWW resolution must shuffle ONLY buckets that hold
    delta files: a point lookup on a compacted (clean) bucket plans a
    pure pruned scan with no aggregate; a dirty bucket's lookup keeps
    the max-LSN dedup. State stays referee-exact either way."""
    import io
    from contextlib import redirect_stdout

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4,
                            compact_every=10_000)
    replay_batches(spark, lake, unit_events, num_chunks=3)
    dirty = [int(b) for b, fl in lake.manifest()["deltas"].items() if fl]
    assert len(dirty) == 4  # every bucket delta'd, none compacted yet

    # compact ONE bucket → it becomes clean, the others stay dirty
    assert lake.compact(spark, buckets=[dirty[0]]) == 1
    m = lake.manifest()
    assert not m["deltas"][str(dirty[0])]

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    clean_plan = plan_of(lake.read_raw(spark, buckets=[dirty[0]]))
    dirty_plan = plan_of(lake.read_raw(spark, buckets=[dirty[1]]))
    assert "Aggregate" not in clean_plan and "Exchange" not in clean_plan
    assert "max_by" in dirty_plan

    # mixed read (all buckets) stays exact vs the referee
    assert_state_equals_referee(spark, lake)


@pytest.mark.parametrize("num_buckets", [16, 7])
def test_key_bucket_matches_bucket_expr(spark, num_buckets):
    """The driver-side lookup bucket is bit-identical to the writer's
    ``bucket_expr`` on every XXH64 input shape: empty, short, non-ASCII
    (multi-byte UTF-8), exactly 32 bytes and longer, and null."""
    import random

    from tartare_spark.lake.table import bucket_expr, key_bucket

    rng = random.Random(20261017)
    alphabet = "abcXYZ019/._-" + "éßø" + "日本語" + "🙂"

    def word():
        return "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 70)))

    keys = [(word(), word()) for _ in range(1200)]
    keys += [("", ""), ("", "x"), ("r" * 32, "p" * 32), ("é" * 16, "🙂" * 8),
             (None, "p"), ("r", None)]
    got = [key_bucket(r, p, num_buckets) for r, p in keys]
    rows = (
        spark.createDataFrame(
            [(i, r, p) for i, (r, p) in enumerate(keys)],
            "i int, repo string, path string",
        )
        .select("i", bucket_expr(num_buckets).alias("b"))
        .collect()
    )
    want = [b for _, b in sorted((r["i"], r["b"]) for r in rows)]
    assert got == want
    assert any(len(r.encode()) >= 32 for r, _ in keys[:1200])


def test_lake_reads_launch_only_data_jobs(spark, tmp_path):
    """Job-count pin: every lake read launches only the jobs that read
    data — no schema-inference job per file read, no job to compute a
    lookup's bucket, no dirty-group count in an MV refresh whose feed
    is small. An inferring read creeping back shows up here as +1."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import key_bucket
    from tartare_spark.operators.mv import build_mv, refresh_mv

    sc = spark.sparkContext
    ts = datetime.datetime(2026, 1, 1)

    def events(lo, hi):
        return spark.createDataFrame(
            [(i, "update", f"r{i % 5}", f"p{i % 40}", f"c{i}", None, "x", ts)
             for i in range(lo, hi)],
            CHANGE_EVENT_SCHEMA,
        )

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4,
                            compact_every=100)
    apply_batch(spark, lake, events(1, 41), batch_id=0)
    lake.compact(spark)
    mv = str(tmp_path / "mv")
    build_mv(spark, lake, mv)
    apply_batch(spark, lake, events(41, 46), batch_id=1)
    dirty = {int(b) for b, fl in lake.manifest()["deltas"].items() if fl}
    keys = [(f"r{i % 5}", f"p{i % 40}") for i in range(1, 41)]
    clean_key = next(k for k in keys if key_bucket(*k, 4) not in dirty)
    dirty_key = next(k for k in keys if key_bucket(*k, 4) in dirty)

    def jobs(name: str, fn) -> int:
        group = f"jobpin-{name}"
        sc.setJobGroup(group, "job-count pin")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    calls = {
        # a clean bucket is one scan; a dirty one adds the LWW dedup shuffle
        "lookup_clean": lambda: lake.lookup(spark, *clean_key).collect(),
        "lookup_dirty": lambda: lake.lookup(spark, *dirty_key).collect(),
        "changes_count": lambda: lake.changes(spark, 1).count(),
        "snapshot_count": lambda: lake.snapshot(spark).count(),
        "scan_where_count":
            lambda: lake.scan_where(spark, {"_lsn": (3, 30)}).count(),
        # the dirty-key broadcast (2) and the write (3)
        "refresh_mv": lambda: refresh_mv(spark, lake, mv),
    }
    counts = {name: jobs(name, fn) for name, fn in calls.items()}
    assert counts == {
        "lookup_clean": 1, "lookup_dirty": 2, "changes_count": 2,
        "snapshot_count": 3, "scan_where_count": 3, "refresh_mv": 5,
    }


def test_untyped_null_column_keeps_physical_schema(spark, tmp_path):
    """A batch built without a schema whose ``lang`` is all None reaches
    the engine as a void column; the lake still stores ``lang`` as a
    string, so later typed batches, folds and every read agree on it."""
    import datetime

    from tartare_spark.fixtures import CHANGE_EVENT_COLUMNS
    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    untyped = spark.createDataFrame(
        pd.DataFrame(
            [(i, "update", "r", f"p{i}", "c", None, "x", ts) for i in (1, 2)],
            columns=CHANGE_EVENT_COLUMNS,
        )
    )
    assert untyped.schema["lang"].dataType.typeName() == "void"
    typed = spark.createDataFrame(
        [(3, "update", "r", "p1", "c", "py", "y", ts)], CHANGE_EVENT_SCHEMA
    )
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=1)
    apply_batch(spark, lake, untyped, batch_id=0)
    apply_batch(spark, lake, typed, batch_id=1)
    want = {("p1", "py"), ("p2", None)}
    rows = lake.snapshot(spark).select("path", "lang").collect()
    assert {tuple(r) for r in rows} == want
    lake.compact(spark)
    rows = lake.snapshot(spark).select("path", "lang").collect()
    assert {tuple(r) for r in rows} == want


def test_bloom_filters_on_base_not_deltas(spark, unit_events, tmp_path):
    """Perf contract from round 3: the apply hot path (delta writes)
    skips parquet bloom-filter builds; maintenance (compaction → base
    files) pays them. Pinned via the writer toggle's size footprint
    (blooms at the configured ndv are ~10^5 bytes/file; pyarrow does
    not expose bloom offsets, so size margin is the observable)."""
    import os

    from pyspark.sql import functions as F

    from tartare_spark.lake.table import LakeTable, bucket_expr

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=1)
    df = (
        spark.range(2000)
        .select(
            F.concat(F.lit("r"), F.col("id")).alias("repo"),
            F.lit("f.py").alias("path"),
            F.lit("x").alias("content"),
            F.col("id").alias("_lsn"),
        )
        .withColumn("_bucket", bucket_expr(1) * 0)
    )

    def total_size(files):
        return sum(os.path.getsize(p) for fl in files.values() for p in fl)

    plain = total_size(lake._write_data_files(df, "probe-plain", 1, blooms=False))
    bloomed = total_size(lake._write_data_files(df, "probe-bloom", 1, blooms=True))
    assert bloomed > plain + 50_000, (plain, bloomed)

    # wiring: a replayed MOR lake's delta files are the bloom-free kind;
    # compaction rewrites them into bloomed base files
    lake2 = LakeTable.create(str(tmp_path / "lake2"), num_buckets=2)
    replay_batches(spark, lake2, unit_events, num_chunks=2)
    m = lake2.manifest()
    delta_files = [f for fl in m["deltas"].values() for f in fl]
    assert delta_files
    lake2.compact(spark)
    m2 = lake2.manifest()
    base_files = [f for fl in m2["files"].values() for f in fl]
    base_rows = sum(
        __import__("pyarrow.parquet", fromlist=["x"]).read_metadata(f).num_rows
        for f in base_files
    )
    delta_rows = sum(
        __import__("pyarrow.parquet", fromlist=["x"]).read_metadata(f).num_rows
        for f in delta_files
    )
    # same logical rows, but the bloomed base carries the filter bytes
    assert base_rows <= delta_rows  # compaction dedups (<=), never grows
    assert sum(os.path.getsize(f) for f in base_files) > 2 * 50_000


def test_history_and_timestamp_time_travel(spark, unit_events, tmp_path):
    """history() exposes per-commit wall-clock stamps; snapshot_as_of
    resolves a timestamp to the last commit at-or-before it (Iceberg
    timestamp time-travel parity)."""
    import time as _time

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=2)
    mid_rows = lake.snapshot(spark).count()
    mid_ts = _time.time()
    _time.sleep(0.05)
    replay_batches(spark, lake, unit_events, num_chunks=2, start_batch_id=10)

    hist = lake.history()
    assert [h["version"] for h in hist] == list(range(lake.current_version() + 1))
    assert all(h["committed_at"] is not None for h in hist)  # incl. v0 (create)
    stamps = [h["committed_at"] for h in hist]
    assert stamps == sorted(stamps)

    v_mid = lake.version_as_of(mid_ts)
    assert v_mid < lake.current_version()
    assert lake.snapshot_as_of(spark, mid_ts).count() == mid_rows
    # as-of "now" = current snapshot; before the table existed = loud
    # error, not an empty read
    assert lake.version_as_of(_time.time()) == lake.current_version()
    with pytest.raises(ValueError, match="no retained snapshot"):
        lake.version_as_of(0.0)


def test_rebucket_partition_evolution(spark, unit_events, tmp_path):
    """rebucket() preserves state exactly, redirects lookups to the new
    layout, keeps the change feed maintenance-silent, lets replays
    continue on the new layout, and fails a STALE writer loudly."""
    from tartare_spark.lake.table import ConcurrentCommitError

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    replay_batches(spark, lake, unit_events, num_chunks=2)
    before = {(r["repo"], r["path"]): r["content"]
              for r in lake.snapshot(spark).collect()}
    feed_before = lake.changes(spark, 0).count()
    stale = LakeTable(str(tmp_path / "lake"))  # opened pre-rebucket

    assert lake.rebucket(spark, 16) == 16
    assert lake.num_buckets == 16
    after = {(r["repo"], r["path"]): r["content"]
             for r in lake.snapshot(spark).collect()}
    assert after == before
    assert lake.changes(spark, 0).count() == feed_before  # maintenance-silent

    # point lookup works against the new layout
    (repo, path) = next(iter(before))
    got = lake.lookup(spark, repo, path).collect()
    assert len(got) == 1 and got[0]["content"] == before[(repo, path)]

    # a reader opened fresh sees the new layout; the STALE writer raises
    assert LakeTable(str(tmp_path / "lake")).num_buckets == 16
    with pytest.raises(ConcurrentCommitError, match="layout"):
        apply_batch(spark, stale, unit_events.limit(50),
                    batch_id=stale.last_batch_id() + 1)

    # a STALE READER (opened pre-rebucket) still resolves point lookups:
    # bucket id + pruning both derive from the manifest being read, not
    # the instance's cached layout (round-2 ADVICE: a stale reader used
    # to silently report live keys as absent)
    got_stale = stale.lookup(spark, repo, path).collect()
    assert len(got_stale) == 1 and got_stale[0]["content"] == before[(repo, path)]

    # replay continues on the new layout and state stays referee-correct
    replay_batches(spark, lake, unit_events, num_chunks=2, start_batch_id=99)
    assert_state_equals_referee(spark, lake)


def test_compact_concurrent_commit_not_lost(spark, unit_events, tmp_path):
    """The async-maintenance race, forced deterministically: a writer
    commits NEW deltas to the same buckets between compaction's fold
    and its publish. The fold must lose the version claim, retry, keep
    the interleaved delta files in the manifest, and the final resolved
    state must equal a replay where no compaction ran at all."""
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    lo, hi = unit_events.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (int(lo) + int(hi)) // 2
    first, second = (
        unit_events.filter(F.col("lsn") <= mid),
        unit_events.filter(F.col("lsn") > mid),
    )
    apply_batch(spark, lake, first, batch_id=0)
    v_before = lake.current_version()

    def interleaved_commit():
        apply_batch(spark, lake, second, batch_id=1)

    n = lake.compact(spark, _pre_publish_hook=interleaved_commit)
    assert n > 0
    # both the writer's commit and the fold's commit are in history
    assert lake.current_version() == v_before + 2
    m = lake.manifest()
    assert m["stats"].get("compaction"), "last commit should be the fold"
    # the interleaved batch's delta files survived the fold's publish
    assert any(fl for fl in m.get("deltas", {}).values()), (
        "concurrent writer's deltas were dropped by the compaction publish"
    )
    # and the resolved state is the full two-batch replay
    ref = LakeTable.create(str(tmp_path / "ref"), num_buckets=8)
    apply_batch(spark, ref, first, batch_id=0)
    apply_batch(spark, ref, second, batch_id=1)
    a = lake.snapshot(spark).drop("_ts")
    b = ref.snapshot(spark).drop("_ts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_async_compaction_replay_matches_referee(spark, unit_events, tmp_path):
    """compact_async=True: folds run on the maintenance thread while
    the next batches commit; after draining, state equals the referee
    and at least one async fold actually happened."""
    lake = LakeTable.create(
        str(tmp_path / "lake_async"), num_buckets=8,
        compact_every=3,
    )
    replay_batches(spark, lake, unit_events, num_chunks=9, compact_async=True)
    lake.wait_maintenance()
    assert any(
        m.get("maintenance") and m.get("async") for m in lake.metrics()
    ), "no async fold ran — compact_every threshold never tripped?"
    assert_state_equals_referee(spark, lake)


def test_writer_retries_past_maintenance_claim(
    spark, unit_events, tmp_path, monkeypatch
):
    """The OTHER direction of the async race: the maintenance fold
    claims the next version in the window between the writer's
    manifest read and its own claim. The writer must absorb the lost
    claim (maintenance keeps the parent batch_id) and retry onto the
    post-fold manifest — not kill the stream with
    ConcurrentCommitError."""
    lake = LakeTable.create(
        str(tmp_path / "lake"), num_buckets=8,
        compact_every=10_000,  # no automatic folds — we inject one
    )
    lo, hi = unit_events.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (int(lo) + int(hi)) // 2
    first, second = (
        unit_events.filter(F.col("lsn") <= mid),
        unit_events.filter(F.col("lsn") > mid),
    )
    apply_batch(spark, lake, first, batch_id=0)

    orig = LakeTable._claim_and_write_manifest
    fired = {"done": False}

    def intercept(self, manifest):
        # just as the WRITER publishes batch 1, a fold steals the version
        if not fired["done"] and manifest.get("batch_id") == 1:
            fired["done"] = True
            lake.compact(spark)
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_claim_and_write_manifest", intercept)
    apply_batch(spark, lake, second, batch_id=1)  # must not raise
    assert fired["done"], "interleave hook never fired"
    # history holds batch 0, the fold, and batch 1 (retried onto v+1)
    m = lake.manifest()
    assert m["batch_id"] == 1
    parent = lake.manifest(m["parent"])
    assert parent["stats"].get("compaction"), "fold commit missing from history"
    # and the state is the full two-batch replay
    ref = LakeTable.create(str(tmp_path / "ref"), num_buckets=8)
    apply_batch(spark, ref, first, batch_id=0)
    apply_batch(spark, ref, second, batch_id=1)
    a = lake.snapshot(spark).drop("_ts")
    b = ref.snapshot(spark).drop("_ts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_writer_conflict_with_second_writer_stays_loud(
    spark, unit_events, tmp_path, monkeypatch
):
    """The retry must ONLY absorb maintenance claims: a claim lost to a
    DIFFERENT writer (batch_id advanced) is a deployment error and
    still raises ConcurrentCommitError."""
    import pytest as _pytest

    from tartare_spark.lake.table import ConcurrentCommitError

    lake = LakeTable.create(
        str(tmp_path / "lake"), num_buckets=8,
        compact_every=10_000,
    )
    lo, hi = unit_events.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (int(lo) + int(hi)) // 2
    first, second = (
        unit_events.filter(F.col("lsn") <= mid),
        unit_events.filter(F.col("lsn") > mid),
    )
    apply_batch(spark, lake, first, batch_id=0)

    orig = LakeTable._claim_and_write_manifest
    fired = {"done": False}

    def intercept(self, manifest):
        if not fired["done"] and manifest.get("batch_id") == 1:
            fired["done"] = True
            # a SECOND WRITER (new batch_id) steals the version
            rogue = LakeTable(lake.root)
            apply_batch(spark, rogue, second.limit(50), batch_id=7)
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_claim_and_write_manifest", intercept)
    with _pytest.raises(ConcurrentCommitError):
        apply_batch(spark, lake, second, batch_id=1)


def test_vacuum_drains_inflight_fold(spark, unit_events, tmp_path):
    """vacuum must not delete an in-flight async fold's files (they are
    unreferenced until the fold publishes): it drains the maintenance
    worker first, so the fold's commit lands and its files are
    referenced by the time the orphan sweep runs."""
    lake = LakeTable.create(
        str(tmp_path / "lake"), num_buckets=8,
        compact_every=10_000,
    )
    replay_batches(spark, lake, unit_events, num_chunks=4)
    assert lake.max_delta_files() > 0
    v_before = lake.current_version()
    assert lake.submit_compaction(
        spark, list(range(8)), batch_id=99
    ), "fold submission was skipped"
    lake.vacuum()  # drains; must NOT delete the fold's files
    assert lake.current_version() == v_before + 1
    assert lake.manifest()["stats"].get("compaction")
    # the folded table still resolves fully (files all present)
    assert_state_equals_referee(spark, lake)


def test_tags_pin_and_retain_snapshots(spark, unit_events, tmp_path):
    """Named tags (Iceberg ref parity): a tag pins a version for reads,
    RETAINS it through expire_snapshots, and protects its files from
    vacuum until dropped."""
    lake = LakeTable.create(str(tmp_path / "lake_tags"), num_buckets=8,
                            compact_every=1)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    cur = lake.current_version()
    pinned = cur - 2
    pinned_rows = {tuple(r) for r in lake.snapshot(spark, version=pinned).collect()}

    assert lake.create_tag("release", version=pinned) == pinned
    assert lake.tags() == {"release": pinned}
    with pytest.raises(ValueError, match="already points"):
        lake.create_tag("release", version=cur)

    got = {tuple(r) for r in lake.snapshot(spark, tag="release").collect()}
    assert got == pinned_rows
    with pytest.raises(ValueError, match="version OR tag"):
        lake.snapshot(spark, version=cur, tag="release")

    # expiration halts at the oldest tag; the tagged read stays exact
    # even after vacuum (its files are still referenced = protected)
    lake.expire_snapshots(keep_last=1)
    assert lake.oldest_version() == pinned
    lake.vacuum()
    assert {tuple(r) for r in lake.snapshot(spark, tag="release").collect()} == pinned_rows
    with pytest.raises(ValueError, match="expired"):
        lake.snapshot(spark, version=pinned - 1)

    # dropping the tag releases retention: expire + vacuum reclaim
    assert lake.drop_tag("release") == pinned
    with pytest.raises(ValueError, match="no such tag"):
        lake.drop_tag("release")
    lake.expire_snapshots(keep_last=1)
    assert lake.oldest_version() == cur
    with pytest.raises(ValueError, match="expired"):
        lake.snapshot(spark, version=pinned)
    # tagging an expired version is a loud error
    with pytest.raises(ValueError, match="expired"):
        lake.create_tag("too-old", version=pinned)


def _split_events(unit_events):
    bounds = unit_events.agg(
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
    ).collect()[0]
    mid = (int(bounds["lo"]) + int(bounds["hi"])) // 2
    return (
        unit_events.filter(F.col("lsn") <= mid),
        unit_events.filter(F.col("lsn") > mid),
    )


def test_branch_wap_publish_matches_referee(spark, unit_events, tmp_path):
    """Write-audit-publish: stage the second half of the log on a
    branch. While staged, main is bit-identical to its pre-branch
    state; fast-forward publishes atomically; the final state matches
    the referee; published files survive branch drop + vacuum."""
    lake = LakeTable.create(str(tmp_path / "lake_wap"), num_buckets=8)
    first, rest = _split_events(unit_events)
    replay_batches(spark, lake, first, num_chunks=2)  # batches 0, 1
    v0 = lake.current_version()
    before = {tuple(r) for r in lake.snapshot(spark).collect()}

    br = lake.create_branch("audit")
    assert lake.branches()["audit"]["fork_version"] == v0
    # fork is a metadata image: branch reads main's files by reference
    assert {tuple(r) for r in br.snapshot(spark).collect()} == before
    # no-op fast-forward of an empty branch
    assert lake.fast_forward("audit") == v0

    replay_batches(spark, br, rest, num_chunks=2, start_batch_id=2)
    # staged commits are visible on the branch, invisible on main
    assert lake.current_version() == v0
    assert {tuple(r) for r in lake.snapshot(spark).collect()} == before
    assert {tuple(r) for r in br.snapshot(spark).collect()} != before

    assert lake.fast_forward("audit") == v0 + 1
    lake.drop_branch("audit")
    with pytest.raises(ValueError, match="no such branch"):
        lake.branch("audit")
    assert_state_equals_referee(spark, lake)
    lake.vacuum()  # hard-linked publish files are referenced = kept
    assert_state_equals_referee(spark, lake)
    m = lake.manifest()
    assert m["stats"]["fast_forward_from"] == "audit"
    # every published file now lives under MAIN's data dir
    import os as _os

    for fl in list(m["files"].values()) + list(m.get("deltas", {}).values()):
        for p in fl:
            assert p.startswith(_os.path.join(lake.root, "data") + _os.sep), p


def test_branch_fast_forward_requires_unchanged_main(
    spark, unit_events, tmp_path
):
    """A diverged main refuses fast-forward loudly (re-fork, no merge);
    duplicate branch names are loud; unknown branches are loud."""
    from tartare_spark.lake.table import ConcurrentCommitError

    lake = LakeTable.create(str(tmp_path / "lake_div"), num_buckets=8)
    first, rest = _split_events(unit_events)
    replay_batches(spark, lake, first, num_chunks=2)
    br = lake.create_branch("stage")
    with pytest.raises(ValueError, match="already exists"):
        lake.create_branch("stage")
    replay_batches(spark, br, rest, num_chunks=1, start_batch_id=2)
    # main moves on → branch is stale
    apply_batch(spark, lake, rest.limit(5), batch_id=2)
    with pytest.raises(ConcurrentCommitError, match="main advanced"):
        lake.fast_forward("stage")
    with pytest.raises(ValueError, match="no such branch"):
        lake.fast_forward("nope")
    lake.drop_branch("stage")


def test_branch_pins_expiration(spark, unit_events, tmp_path):
    """A live branch retains its fork snapshot through
    expire_snapshots (ref retention); dropping the branch releases it."""
    lake = LakeTable.create(str(tmp_path / "lake_pin"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=4)
    fork_v = lake.current_version() - 2
    lake.create_branch("held", version=fork_v)
    cur = lake.current_version()
    lake.expire_snapshots(keep_last=1)
    assert lake.oldest_version() == fork_v  # pinned by the branch
    lake.vacuum()
    assert lake.snapshot(spark, version=fork_v).count() > 0
    lake.drop_branch("held")
    lake.expire_snapshots(keep_last=1)
    assert lake.oldest_version() == cur


def test_bootstrap_then_tail_matches_referee(spark, unit_events, tmp_path):
    """Snapshot → tail handoff: collapse the first half of the log to a
    live-rows snapshot, bulk-load it, then tail THE WHOLE log again
    (full at-least-once overlap: every first-half event is redelivered).
    LWW-by-LSN must converge to the straight-replay referee state."""
    from tartare_spark.operators.apply import bootstrap_load
    from tartare_spark.operators.dedup import dedup_latest_lsn

    lake = LakeTable.create(str(tmp_path / "lake_boot"), num_buckets=8)
    first, _rest = _split_events(unit_events)
    snap = dedup_latest_lsn(first, keys=["repo", "path"], order_col="lsn").filter(
        F.col("op") != "delete"
    )
    rec = bootstrap_load(spark, lake, snap.drop("op"), batch_id=0)
    assert rec["rows"] == snap.count() and not rec["skipped"]
    m = lake.manifest()
    # snapshot landed as BASE segments, not deltas, with watermarks
    assert any(m["files"].values()) and not any(m.get("deltas", {}).values())
    assert m["stats"]["bootstrap"] is True and m["bucket_lsn"]
    # redelivery of the bootstrap batch is a no-op
    assert bootstrap_load(spark, lake, snap.drop("op"), batch_id=0)["skipped"]

    replay_batches(spark, lake, unit_events, num_chunks=4, start_batch_id=1)
    assert_state_equals_referee(spark, lake)


def test_bootstrap_guards(spark, unit_events, tmp_path):
    """Bootstrap refuses a non-empty table (it skips the merge, so
    loading over data would corrupt); a snapshot without LSNs needs an
    explicit snapshot position; constant-LSN snapshots load fine."""
    from tartare_spark.operators.apply import bootstrap_load
    from tartare_spark.operators.dedup import dedup_latest_lsn

    lake = LakeTable.create(str(tmp_path / "lake_guard"), num_buckets=8)
    apply_batch(spark, lake, unit_events.limit(20), batch_id=0)
    snap = dedup_latest_lsn(
        unit_events, keys=["repo", "path"], order_col="lsn"
    ).filter(F.col("op") != "delete")
    with pytest.raises(ValueError, match="EMPTY table"):
        bootstrap_load(spark, lake, snap.drop("op"), batch_id=1)

    lake2 = LakeTable.create(str(tmp_path / "lake_nolsn"), num_buckets=8)
    no_lsn = snap.drop("op", "lsn", "ts")
    with pytest.raises(ValueError, match="snapshot_lsn"):
        bootstrap_load(spark, lake2, no_lsn, batch_id=0)
    top = int(unit_events.agg(F.max("lsn")).collect()[0][0])
    rec = bootstrap_load(spark, lake2, no_lsn, batch_id=0, snapshot_lsn=top)
    assert rec["rows"] == snap.count()
    # every bucket watermark sits at the snapshot position
    assert set(lake2.manifest()["bucket_lsn"].values()) == {top}


def test_expectations_quarantine_and_fail(spark, unit_events, tmp_path):
    """Quality gate semantics: violating events are excluded BEFORE the
    merge (final state == referee over the passing subset), quarantined
    rows persist with their violation names, counts land in metrics,
    and a fail-action violation aborts before anything is written."""
    from tartare_spark.operators.expect import (
        Expectation,
        ExpectationFailedError,
    )
    from tartare_spark.oracle import replay_referee
    import pandas as pd
    from tartare_spark.fixtures import generate_change_events

    pred = "op = 'delete' OR length(content) <= 99"
    exp = [Expectation("min_content_len", pred, action="quarantine")]
    lake = LakeTable.create(str(tmp_path / "lake_exp"), num_buckets=8)
    recs = replay_batches(spark, lake, unit_events, num_chunks=4,
                          expectations=exp)
    n_bad = unit_events.filter(f"NOT ({pred})").count()
    assert n_bad > 0  # the gate must actually bind on this fixture
    assert sum(r.get("rows_quarantined", 0) for r in recs) == n_bad
    assert sum(
        r.get("expectations_failed", {}).get("min_content_len", 0) for r in recs
    ) == n_bad

    # engine state == referee replay over ONLY the passing events
    ev_pd = pd.DataFrame(generate_change_events(UNIT))
    keep = (ev_pd["op"] == "delete") | (
        ev_pd["content"].fillna("").str.len() <= 99
    )
    expected = replay_referee(ev_pd[keep], None)
    exp_df = spark.createDataFrame(expected)
    eng = lake.snapshot(spark).select(*expected.columns.tolist())
    assert eng.exceptAll(exp_df).count() == 0
    assert exp_df.exceptAll(eng).count() == 0

    # quarantined rows are on disk with their violation names
    q = spark.read.parquet(str(tmp_path / "lake_exp" / "_quarantine" / "*"))
    assert q.count() == n_bad
    assert set(q.select(F.explode("_violations")).distinct().toPandas().iloc[:, 0]) == {
        "min_content_len"
    }

    # fail action: loud abort, nothing committed
    lake2 = LakeTable.create(str(tmp_path / "lake_exp2"), num_buckets=8)
    v0 = lake2.current_version()
    with pytest.raises(ExpectationFailedError, match="min_content_len"):
        apply_batch(
            spark, lake2, unit_events, batch_id=0,
            expectations=[Expectation("min_content_len", pred, action="fail")],
        )
    assert lake2.current_version() == v0
    assert not any((tmp_path / "lake_exp2" / "_quarantine").glob("*")) \
        if (tmp_path / "lake_exp2" / "_quarantine").exists() else True


def test_expectations_mixed_actions_quarantine_scope(spark, unit_events, tmp_path):
    """Mixed drop+quarantine: ONLY rows violating a quarantine-action
    expectation are persisted; drop-action violations are excluded
    silently but still counted in rows_excluded/metrics."""
    from tartare_spark.operators.expect import Expectation

    drop_pred = "op = 'delete' OR length(content) <= 99"      # binds
    quar_pred = "op = 'delete' OR NOT content LIKE '%.py %'"  # binds differently
    lake = LakeTable.create(str(tmp_path / "lake_mix"), num_buckets=8)
    recs = replay_batches(
        spark, lake, unit_events, num_chunks=2,
        expectations=[
            Expectation("short", drop_pred, action="drop"),
            Expectation("no_py", quar_pred, action="quarantine"),
        ],
    )
    n_quar_expect = unit_events.filter(f"NOT ({quar_pred})").count()
    n_dirty_expect = unit_events.filter(
        f"NOT ({drop_pred}) OR NOT ({quar_pred})"
    ).count()
    assert 0 < n_quar_expect < n_dirty_expect  # both gates bind, differently
    assert sum(r.get("rows_quarantined", 0) for r in recs) == n_quar_expect
    assert sum(r.get("rows_excluded", 0) for r in recs) == n_dirty_expect
    q = spark.read.parquet(str(tmp_path / "lake_mix" / "_quarantine" / "*"))
    assert q.count() == n_quar_expect
    # every quarantined row names the quarantine expectation
    assert q.filter(~F.array_contains("_violations", "no_py")).count() == 0


def test_bootstrap_refuses_op_column(spark, unit_events, tmp_path):
    """A snapshot carrying an 'op' column is a changelog — bootstrap
    must refuse loudly instead of stamping deletes as live rows."""
    from tartare_spark.operators.apply import bootstrap_load

    lake = LakeTable.create(str(tmp_path / "lake_opguard"), num_buckets=8)
    with pytest.raises(ValueError, match="'op' column"):
        bootstrap_load(spark, lake, unit_events.limit(5), batch_id=0)


def test_branch_ff_feed_spans_all_staged_commits(spark, unit_events, tmp_path):
    """Fold-every-commit write-audit-publish: the fast-forward commit's
    change feed must carry EVERY staged commit's keys, not just the last
    one's — so a branch must not auto-fold its staged deltas away."""
    lake = LakeTable.create(str(tmp_path / "lake_ffcl"), num_buckets=8,
                            compact_every=1)
    first, rest = _split_events(unit_events)
    replay_batches(spark, lake, first, num_chunks=1)
    fork_v = lake.current_version()
    br = lake.create_branch("stage")
    # TWO staged commits with disjoint key sets
    recs = replay_batches(spark, br, rest, num_chunks=2, start_batch_id=1)
    assert sum(1 for r in recs if not r.get("empty")) == 2
    staged_keys = {
        (r["repo"], r["path"])
        for r in br.changes(spark, from_version=0).select("repo", "path").collect()
    }
    lake.fast_forward("stage")
    feed_keys = {
        (r["repo"], r["path"])
        for r in lake.changes(spark, from_version=fork_v)
        .select("repo", "path").collect()
    }
    assert feed_keys == staged_keys


def test_open_rejects_copy_on_write_lake(tmp_path):
    """Copy-on-write mode is gone: a _table.json from an older release
    recording mode 'cow' — or no mode, the old default — fails loudly at
    open instead of serving an empty change feed."""
    import json
    import os

    root = LakeTable.create(str(tmp_path / "lake"), num_buckets=4).root
    for meta in ({"num_buckets": 4, "mode": "cow"}, {"num_buckets": 4}):
        with open(os.path.join(root, "_table.json"), "w") as f:
            json.dump(meta, f)
        with pytest.raises(ValueError, match="copy-on-write lakes"):
            LakeTable(root)


def test_half_created_branch_does_not_wedge_maintenance(spark, unit_events, tmp_path):
    """A crash mid-create_branch leaves only a dot-prefixed staging dir
    that branches()/expire_snapshots ignore; a fresh create of the same
    name proceeds."""
    import os

    lake = LakeTable.create(str(tmp_path / "lake_crash"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=3)
    # simulate the crash: staging dir exists, rename never happened
    stage = os.path.join(lake.root, "_branches", ".tmp-held-deadbeef")
    LakeTable.create(stage, num_buckets=8)  # no fork_version inside
    assert lake.branches() == {}
    lake.expire_snapshots(keep_last=1)  # must not raise KeyError
    assert lake.oldest_version() == lake.current_version()
    br = lake.create_branch("held")
    assert lake.branches()["held"]["fork_version"] == lake.current_version()
    lake.drop_branch("held")


def test_claim_abandoned_empty_fallback_recovered(spark, unit_events, tmp_path):
    """ADVICE r4: the no-hardlink O_EXCL fallback has a create->replace
    window where the claimed manifest name is an EMPTY file. A writer
    crashing there must not wedge the table: a linked claim can never
    be empty, so a STALE empty claim is definitively abandoned and the
    next commit takes it over instead of raising 'storage corruption'.
    A fresh (possibly live-writer) empty claim gets a grace period
    first — the commit still succeeds once the claim goes stale."""
    import os
    import time as _time

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, unit_events, num_chunks=2)
    v = lake.current_version()

    # abandoned empty claim (mtime pushed into the past = stale)
    claim = str(tmp_path / "lake" / "_manifests" / f"v{v + 1:012d}.json")
    open(claim, "w").close()
    past = _time.time() - 30
    os.utime(claim, (past, past))
    res = apply_batch(
        spark, lake, unit_events, batch_id=lake.last_batch_id() + 1
    )
    assert not res["skipped"]
    assert lake.current_version() == v + 1
    # the takeover published OUR manifest (complete JSON, our batch_id)
    assert lake.manifest(v + 1)["batch_id"] == res["batch_id"]

    # a FRESH empty claim: brief grace, then recovered the same way
    # (the creator never published content, so nothing can be lost)
    v2 = lake.current_version()
    claim2 = str(tmp_path / "lake" / "_manifests" / f"v{v2 + 1:012d}.json")
    open(claim2, "w").close()
    res2 = apply_batch(
        spark, lake, unit_events, batch_id=lake.last_batch_id() + 1
    )
    assert not res2["skipped"]
    assert lake.current_version() == v2 + 1


def test_expectations_drop_only_deferred_counts(spark, unit_events, tmp_path):
    """Round-5: an all-drop expectation config takes the ZERO-extra-job
    path (counts ride the write job via observe(), resolved post-write)
    — the metrics record still carries exact per-expectation counts and
    rows_excluded, and the final state equals the referee over the
    passing subset. Includes an ALL-violating chunk, exercising the
    AQE-lost-metrics fallback (empty-relation propagation swallows the
    observe row when every event is filtered)."""
    import pandas as pd

    from tartare_spark.fixtures import generate_change_events
    from tartare_spark.operators.expect import Expectation
    from tartare_spark.oracle import replay_referee

    pred = "op = 'delete' OR length(content) <= 99"
    exp = [
        Expectation("min_content_len", pred, action="drop"),
        Expectation("has_repo", "repo IS NOT NULL", action="drop"),
    ]
    lake = LakeTable.create(str(tmp_path / "lake_dd"), num_buckets=8)
    recs = replay_batches(spark, lake, unit_events, num_chunks=4,
                          expectations=exp)
    n_bad = unit_events.filter(f"NOT ({pred})").count()
    assert n_bad > 0
    assert sum(r.get("rows_excluded", 0) for r in recs) == n_bad
    assert sum(
        r.get("expectations_failed", {}).get("min_content_len", 0)
        for r in recs
    ) == n_bad
    assert all(r.get("rows_quarantined", 0) == 0 for r in recs)

    ev_pd = pd.DataFrame(generate_change_events(UNIT))
    keep = (ev_pd["op"] == "delete") | (
        ev_pd["content"].fillna("").str.len() <= 99
    )
    expected = replay_referee(ev_pd[keep], None)
    exp_df = spark.createDataFrame(expected)
    eng = lake.snapshot(spark).select(*expected.columns.tolist())
    assert eng.exceptAll(exp_df).count() == 0
    assert exp_df.exceptAll(eng).count() == 0

    # all-violating batch: every row dropped, counts still exact (the
    # observe row is lost to AQE's empty-relation rewrite; the deferred
    # resolver falls back to one explicit agg)
    allbad = unit_events.filter(f"NOT ({pred})")
    lake2 = LakeTable.create(str(tmp_path / "lake_dd2"), num_buckets=8)
    rec = apply_batch(spark, lake2, allbad, batch_id=0, expectations=exp)
    assert rec["rows_excluded"] == n_bad
    assert rec["expectations_failed"]["min_content_len"] == n_bad
    assert rec["rows"] == 0


def test_rebase_branch_merges_onto_diverged_main(spark, tmp_path):
    """Round-5 (VERDICT r4 missing #3): rebase_branch automates
    're-fork and re-apply' for a DIVERGED main. Staged branch commits
    are re-applied onto main through the normal apply path, one main
    batch per staged commit, with the engine's row-level LWW-by-LSN
    conflict resolution — the final state equals a reference lake that
    applied ALL events (main's + the branch's) directly."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import ConcurrentCommitError
    from tartare_spark.operators.apply import rebase_branch

    ts = datetime.datetime(2026, 1, 1)

    def ev(rows):
        return spark.createDataFrame(
            [(lsn, op, repo, path, f"c{lsn}", None, content, ts)
             for lsn, op, repo, path, content in rows],
            CHANGE_EVENT_SCHEMA,
        )

    base = ev([(i, "update", "r", f"k{i}", f"v{i}") for i in range(1, 11)])
    # branch stages two commits: updates k1/k2 + new key k11, then a
    # delete of k3
    staged_a = ev([(20, "update", "r", "k1", "branch-k1"),
                   (21, "update", "r", "k2", "branch-k2"),
                   (22, "update", "r", "k11", "branch-k11")])
    staged_b = ev([(30, "delete", "r", "k3", None)])
    # main diverges meanwhile: k1 at LOWER lsn than the branch's (branch
    # wins), k2 at HIGHER lsn (main wins), plus a fresh key k12
    diverge = ev([(15, "update", "r", "k1", "main-k1"),
                  (25, "update", "r", "k2", "main-k2"),
                  (16, "update", "r", "k12", "main-k12")])

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    apply_batch(spark, lake, base, batch_id=0)
    br = lake.create_branch("feat")
    apply_batch(spark, br, staged_a, batch_id=1)
    apply_batch(spark, br, staged_b, batch_id=2)
    apply_batch(spark, lake, diverge, batch_id=1)

    with pytest.raises(ConcurrentCommitError, match="main advanced"):
        lake.fast_forward("feat")

    recs = rebase_branch(spark, lake, "feat", drop_source=True)
    assert len(recs) == 2  # one main batch per staged commit
    assert "feat" not in lake.branches()

    # reference: every event applied directly (LWW converges regardless
    # of batching)
    ref = LakeTable.create(str(tmp_path / "ref"), num_buckets=8)
    for i, b in enumerate([base, diverge, staged_a, staged_b]):
        apply_batch(spark, ref, b, batch_id=i)
    got = lake.snapshot(spark)
    want = ref.snapshot(spark).select(*got.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    state = {r["path"]: r["content"] for r in got.collect()}
    assert state["k1"] == "branch-k1"      # branch's higher LSN wins
    assert state["k2"] == "main-k2"        # main's higher LSN wins
    assert "k3" not in state               # branch delete applied
    assert state["k11"] == "branch-k11" and state["k12"] == "main-k12"

    # a no-divergence rebase is also correct (though FF is preferred)
    lake2 = LakeTable.create(str(tmp_path / "lake2"), num_buckets=8)
    apply_batch(spark, lake2, base, batch_id=0)
    br2 = lake2.create_branch("feat2")
    apply_batch(spark, br2, staged_a, batch_id=1)
    rebase_branch(spark, lake2, "feat2", drop_source=True)
    s2 = {r["path"]: r["content"] for r in lake2.snapshot(spark).collect()}
    assert s2["k1"] == "branch-k1" and s2["k11"] == "branch-k11"
