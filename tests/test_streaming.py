"""M3: streaming replay, checkpoint resume, exactly-once (SURVEY.md §5.2)."""

import time

import pandas as pd
from pyspark.sql import functions as F
import pytest

from tartare_spark.fixtures import (
    CHANGE_EVENT_COLUMNS,
    UNIT,
    generate_change_events,
    registry_rows,
)
from tartare_spark.lake.table import LakeTable
from tartare_spark.oracle import replay_referee
from tartare_spark.registry import SchemaRegistry
from tartare_spark.streaming.runner import run_stream


@pytest.fixture(scope="module")
def expected():
    return replay_referee(
        pd.DataFrame(generate_change_events(UNIT)), registry_rows(UNIT)
    )


def _assert_matches(spark, lake, reg, expected):
    exp = spark.createDataFrame(expected)
    eng = lake.snapshot(spark, registry=reg).select(*expected.columns.tolist())
    assert eng.exceptAll(exp).count() == 0
    assert exp.exceptAll(eng).count() == 0


def test_streaming_replay_matches_referee(spark, unit_events_dir, tmp_path, expected):
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=16)
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt"),
        registry=reg, max_files_per_trigger=7,
    )
    assert lake.current_version() >= 2  # multiple micro-batches happened
    _assert_matches(spark, lake, reg, expected)
    # T7: every committed batch has a metrics record with throughput AND
    # event-time lag (footer-derived max event ts per batch)
    recs = [m for m in lake.metrics() if not m.get("skipped")]
    assert recs and all("keys_per_sec" in m for m in recs if m["rows"])
    assert all(
        m["max_event_ts"] is not None and m["lag_seconds"] is not None
        for m in recs if m["rows"]
    )


def test_streaming_resume_after_kill(spark, unit_events_dir, tmp_path, expected):
    """T6: kill mid-replay, resume from the same checkpoint → exact state,
    no loss, no duplication."""
    lake = LakeTable.create(str(tmp_path / "lake2"), num_buckets=16)
    reg = SchemaRegistry(registry_rows(UNIT))
    ckpt = str(tmp_path / "ckpt2")
    q = run_stream(
        spark, unit_events_dir, lake, ckpt, registry=reg,
        max_files_per_trigger=3, available_now=False, await_termination=False,
    )
    deadline = time.time() + 120
    while lake.current_version() < 2 and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    assert lake.current_version() >= 2
    run_stream(spark, unit_events_dir, lake, ckpt, registry=reg, max_files_per_trigger=3)
    _assert_matches(spark, lake, reg, expected)
    lake.vacuum()  # reclaim any files orphaned by the kill
    _assert_matches(spark, lake, reg, expected)


def test_streaming_rerun_same_checkpoint_noop(spark, unit_events_dir, tmp_path, expected):
    lake = LakeTable.create(str(tmp_path / "lake3"), num_buckets=8)
    reg = SchemaRegistry(registry_rows(UNIT))
    ckpt = str(tmp_path / "ckpt3")
    run_stream(spark, unit_events_dir, lake, ckpt, registry=reg, max_files_per_trigger=10)
    v = lake.current_version()
    run_stream(spark, unit_events_dir, lake, ckpt, registry=reg, max_files_per_trigger=10)
    assert lake.current_version() == v
    _assert_matches(spark, lake, reg, expected)


def test_streaming_cow_lake(spark, unit_events_dir, tmp_path, expected):
    """The streaming runner against a fold-every-commit lake (the
    copy-on-write shape for read-heavy tables) converges to the same
    referee state."""
    lake = LakeTable.create(str(tmp_path / "lake_cow"), num_buckets=8,
                            compact_every=1)
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt_cow"),
        registry=reg, max_files_per_trigger=10,
    )
    _assert_matches(spark, lake, reg, expected)


def test_streaming_stateful_fence_path(spark, unit_events_dir, tmp_path, expected):
    """T5: the applyInPandasWithState applied-LSN fence yields the same
    final state (it only drops events the LWW merge would discard) and
    its per-batch apply volume is <= the unfenced replay's."""
    lake = LakeTable.create(str(tmp_path / "lake5"), num_buckets=8)
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt5"),
        registry=reg, max_files_per_trigger=7, stateful_fence=True,
    )
    _assert_matches(spark, lake, reg, expected)


def test_streaming_manifest_fence_path(spark, unit_events_dir, tmp_path, expected):
    """The JVM-side per-bucket watermark fence, with the fixture's
    documented 1000-LSN out-of-order horizon as allowed lateness,
    yields the same final state and never applies MORE volume than the
    unfenced replay (a 0-slack fence on this fixture would wrongly drop
    late-but-new events — that contract lives in the docstring AND
    here)."""
    reg = SchemaRegistry(registry_rows(UNIT))
    vols = {}
    for tag, fence in (("plain", False), ("fence", True)):
        lake = LakeTable.create(str(tmp_path / f"lake_mf_{tag}"), num_buckets=8)
        run_stream(
            spark, unit_events_dir, lake, str(tmp_path / f"ckpt_mf_{tag}"),
            registry=reg, max_files_per_trigger=7, manifest_fence=fence,
            fence_lateness=1000,
        )
        _assert_matches(spark, lake, reg, expected)
        vols[tag] = sum(m.get("rows") or 0 for m in lake.metrics())
    assert vols["fence"] <= vols["plain"]


def test_manifest_fence_per_bucket_isolation(spark, tmp_path):
    """The fence is per-BUCKET: a batch-2 event whose LSN is below
    ANOTHER bucket's watermark (but new for its own) must survive; a
    redelivered event at-or-below its OWN bucket's watermark must not
    reach the apply."""
    from tartare_spark.lake.table import bucket_expr
    from tartare_spark.operators.apply import apply_batch, manifest_watermark_fence

    lake = LakeTable.create(str(tmp_path / "lake_iso"), num_buckets=4)
    ts = "2024-01-01 00:00:00"

    def ev_df(rows):
        df = spark.createDataFrame(
            [(lsn, "update", r, p, f"c{lsn}", "py", f"body-{lsn}", ts)
             for (lsn, r, p) in rows],
            "lsn long, op string, repo string, path string, commit string,"
            " lang string, content string, ts string",
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    # find two keys in DIFFERENT buckets via the engine's own hash
    probe = ev_df([(0, f"r{i}", "f.py") for i in range(16)]).select(
        "repo", bucket_expr(4).alias("b")
    ).collect()
    by_bucket = {}
    for r in probe:
        by_bucket.setdefault(r["b"], r["repo"])
    (ba, ka), (bb, kb) = list(by_bucket.items())[:2]

    # batch 0: bucket A gets a high LSN (bucket hashes the FULL key, so
    # only (repo, "f.py") pairs — the probed shape — are used)
    apply_batch(spark, lake, ev_df([(100, ka, "f.py")]), batch_id=0)
    assert int(lake.manifest()["bucket_lsn"][str(ba)]) == 100

    # batch 1: new low-LSN event for bucket B + redelivery of (100, A)
    batch2 = ev_df([(5, kb, "f.py"), (100, ka, "f.py")])
    kept = manifest_watermark_fence(batch2.select(
        "lsn", "op", "repo", "path", "commit", "lang", "content", "ts"
    ), lake)
    rows = kept.collect()
    assert {(r["lsn"], r["repo"]) for r in rows} == {(5, kb)}

    rec = apply_batch(spark, lake, batch2, batch_id=1, lsn_fence="manifest")
    assert rec["rows"] == 1  # only the genuinely-new bucket-B event
    snap = {(r["repo"], r["path"]) for r in lake.snapshot(spark).collect()}
    assert (kb, "f.py") in snap and (ka, "f.py") in snap


def test_manifest_fence_broadcast_form(spark, tmp_path):
    """Past ``broadcast_threshold`` buckets the fence must switch from a
    create_map literal (a plan-size/codegen hazard at 20k entries) to a
    broadcast join: plan carries a BroadcastHashJoin and stays small.
    Both forms must drop exactly the same rows."""
    from tartare_spark.operators.apply import manifest_watermark_fence

    ts = "2024-01-01 00:00:00"

    def ev_df(rows):
        df = spark.createDataFrame(
            [(lsn, "update", r, p, f"c{lsn}", "py", f"body-{lsn}", ts)
             for (lsn, r, p) in rows],
            "lsn long, op string, repo string, path string, commit string,"
            " lang string, content string, ts string",
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    class WideLake:
        num_buckets = 20000

        def manifest(self):
            return {
                "num_buckets": 20000,
                "bucket_lsn": {str(b): 50 for b in range(20000)},
            }

    ev = ev_df([(lsn, f"r{lsn}", "f.py") for lsn in (5, 50, 51, 200)])
    fenced = manifest_watermark_fence(ev, WideLake())
    plan = fenced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no 20k-entry literal map: 40k expression nodes would dwarf this
    assert len(plan) < 20_000, len(plan)
    assert sorted(r["lsn"] for r in fenced.collect()) == [51, 200]
    assert fenced.columns == ev.columns  # shape-preserving

    # row-equivalence of the two forms on a real lake manifest
    from tartare_spark.operators.apply import apply_batch

    lake = LakeTable.create(str(tmp_path / "lake_bf"), num_buckets=8)
    apply_batch(
        spark, lake,
        ev_df([(100, f"r{i}", "f.py") for i in range(12)]), batch_id=0,
    )
    batch2 = ev_df(
        [(lsn, f"r{i}", "f.py") for i, lsn in enumerate((40, 99, 100, 101, 250))]
    )
    for lateness in (0, 10):
        lit_rows = {
            (r["lsn"], r["repo"])
            for r in manifest_watermark_fence(
                batch2, lake, allowed_lateness=lateness
            ).collect()
        }
        bc_rows = {
            (r["lsn"], r["repo"])
            for r in manifest_watermark_fence(
                batch2, lake, allowed_lateness=lateness, broadcast_threshold=0
            ).collect()
        }
        assert lit_rows == bc_rows, (lateness, lit_rows, bc_rows)


def test_manifest_fence_out_of_order_detector(spark, tmp_path):
    """The fence's in-order delivery contract becomes a runtime CHECK:
    a batch whose max LSN falls below the run's high-water (the
    same-mtime chunk-flip failure shape) records fence_order_anomaly
    with the dropped-row count; an in-order run — and a fresh-run
    replay over a populated lake (redelivery) — never trips it."""
    from tartare_spark.operators.apply import apply_batch

    ts = "2024-01-01 00:00:00"

    def chunk(lo, hi):
        df = spark.createDataFrame(
            [(lsn, "update", f"r{lsn}", "f.py", f"c{lsn}", "py",
              f"body-{lsn}", ts) for lsn in range(lo, hi)],
            "lsn long, op string, repo string, path string, commit string,"
            " lang string, content string, ts string",
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    def anomalies(lake):
        return [m for m in lake.metrics() if m.get("fence_order_anomaly")]

    # in-order source: never trips
    ordered = LakeTable.create(str(tmp_path / "ordered"), num_buckets=4)
    apply_batch(spark, ordered, chunk(0, 50), 0, lsn_fence="manifest")
    apply_batch(spark, ordered, chunk(50, 100), 1, lsn_fence="manifest")
    assert anomalies(ordered) == []

    # chunk order flipped (the same-mtime listing failure): trips, and
    # counts the silently-lost rows
    flipped = LakeTable.create(str(tmp_path / "flipped"), num_buckets=4)
    apply_batch(spark, flipped, chunk(50, 100), 0, lsn_fence="manifest")
    apply_batch(spark, flipped, chunk(0, 50), 1, lsn_fence="manifest")
    hits = anomalies(flipped)
    assert len(hits) == 1
    assert hits[0]["fence_order_dropped_rows"] == 50
    assert hits[0]["fence_batch_max_lsn"] == 49
    assert hits[0]["fence_run_high_water_lsn"] == 99

    # intentional replay on a FRESH run (new handle, e.g. crash-resume
    # or fresh-checkpoint replay): high-water resets, no false trip
    replay_handle = LakeTable(str(tmp_path / "ordered"))
    apply_batch(spark, replay_handle, chunk(0, 100), 2, lsn_fence="manifest")
    assert anomalies(replay_handle) == []


def test_streaming_watermark_dedup_path(spark, unit_events_dir, tmp_path, expected):
    """T2: the withWatermark + dropDuplicatesWithinWatermark path yields
    the same final state (dedup is belt-and-braces over the LWW merge)."""
    lake = LakeTable.create(str(tmp_path / "lake4"), num_buckets=8)
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt4"),
        registry=reg, max_files_per_trigger=None,  # one big batch
        drop_dup_within_watermark=True,
    )
    _assert_matches(spark, lake, reg, expected)


def test_lake_to_lake_relay(spark, unit_events_dir, tmp_path):
    """CDC relay: lake A's streaming change feed drives lake B's apply;
    B converges to exactly A's live snapshot (deletes included), and an
    incremental catch-up after more commits to A also converges."""
    from tartare_spark.operators.apply import apply_batch, feed_as_changelog

    src = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    lake_a = LakeTable.create(str(tmp_path / "a"), num_buckets=8)
    from tartare_spark.operators.apply import replay_batches

    replay_batches(spark, lake_a, src, num_chunks=3)

    lake_b = LakeTable.create(str(tmp_path / "b"), num_buckets=8)

    def relay(batch_df, batch_id):
        apply_batch(spark, lake_b, feed_as_changelog(batch_df), batch_id)

    q = (
        lake_a.stream_changes(spark)
        .writeStream.foreachBatch(relay)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    a = lake_a.snapshot(spark)
    b = lake_b.snapshot(spark)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # more commits to A, then resume the relay from the same checkpoint
    more = src.limit(200).withColumn("lsn", F.col("lsn") + 1_000_000)
    apply_batch(spark, lake_a, more, batch_id=lake_a.last_batch_id() + 1)
    q2 = (
        lake_a.stream_changes(spark)
        .writeStream.foreachBatch(relay)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    a2, b2 = lake_a.snapshot(spark), lake_b.snapshot(spark)
    assert a2.exceptAll(b2).count() == 0 and b2.exceptAll(a2).count() == 0


def test_progress_listener_survives_recentprogress_cap(spark, unit_events_dir, tmp_path):
    """progress.jsonl must record EVERY micro-batch even when the run
    has more batches than spark.sql.streaming.numRecentProgressUpdates
    retains — the listener, not the capped recentProgress dump, is the
    system of record."""
    import json

    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
        run_stream(
            spark,
            f"{unit_events_dir}",
            lake,
            str(tmp_path / "ckpt"),
            max_files_per_trigger=2,  # many micro-batches
        )
        with open(f"{lake.root}/_metrics/progress.jsonl") as f:
            progress_batches = {json.loads(l)["batchId"] for l in f}
        applied = {m["batch_id"] for m in lake.metrics() if not m.get("skipped")}
        assert len(applied) > 3  # the run really exceeded the cap
        assert applied <= progress_batches, (
            f"missing progress for batches {sorted(applied - progress_batches)}"
        )
    finally:
        spark.conf.set(key, prev)


def test_streaming_envelope_source_matches_referee(
    spark, unit_events_dir, tmp_path, expected
):
    """S11 end-to-end under readStream: the engine tailing a
    Debezium-style JSON topic dump (text envelopes + a poison line)
    reaches the referee's exact final state — malformed rows are
    dropped by the adapter, not crashed on."""
    from tartare_spark.operators.envelope import to_envelope

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    topic = str(tmp_path / "topic")
    to_envelope(ev).coalesce(6).write.mode("overwrite").text(topic)
    with open(f"{topic}/poison.txt", "w") as f:
        f.write("not json at all\n{\"op\":\n")
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=16)
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, topic, lake, str(tmp_path / "ckpt"),
        registry=reg, envelope=True, max_files_per_trigger=3,
    )
    assert lake.current_version() >= 2
    _assert_matches(spark, lake, reg, expected)


def test_streaming_async_compaction(spark, unit_events_dir, tmp_path, expected):
    """T1 + async maintenance: folds overlap the trigger loop, the
    run_stream exit drains the last in-flight fold, and the final
    state still matches the referee exactly."""
    lake = LakeTable.create(
        str(tmp_path / "lake"), num_buckets=8, compact_every=3
    )
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt"),
        registry=reg, max_files_per_trigger=4, compact_async=True,
    )
    assert any(
        m.get("maintenance") and m.get("async") for m in lake.metrics()
    )
    _assert_matches(spark, lake, reg, expected)


def test_streaming_mv_auto_refresh(spark, unit_events_dir, tmp_path, expected):
    """mv_path keeps the materialized aggregate current inside the
    stream: after a multi-trigger replay the MV equals a full rebuild
    over the final snapshot, and a redelivered (fresh-checkpoint)
    replay leaves both the lake AND the MV unchanged."""
    from tartare_spark.operators.mv import group_file_stats, read_mv

    lake = LakeTable.create(str(tmp_path / "lake_mv"), num_buckets=16)
    reg = SchemaRegistry(registry_rows(UNIT))
    mv = str(tmp_path / "mv")
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt_mv"),
        registry=reg, max_files_per_trigger=7, mv_path=mv,
    )
    assert lake.current_version() >= 2  # refreshes happened per trigger
    _assert_matches(spark, lake, reg, expected)

    def mv_rows():
        return {tuple(r) for r in read_mv(spark, mv).collect()}

    want = {
        tuple(r)
        for r in group_file_stats(lake.snapshot(spark), "repo").collect()
    }
    got = mv_rows()
    assert got == want and got

    # idempotent redelivery: a fresh checkpoint replays every batch;
    # apply_batch skips them all, the lake version never moves, and the
    # MV refresh no-ops (from == to) each trigger
    v = lake.current_version()
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt_mv2"),
        registry=reg, max_files_per_trigger=7, mv_path=mv,
    )
    assert lake.current_version() == v
    assert mv_rows() == want


def test_bootstrap_then_streaming_tail(spark, unit_events_dir, tmp_path):
    """The production handoff: bootstrap an initial snapshot, then tail
    the WHOLE log through a fresh streaming checkpoint. Without the
    epoch→batch_id offset the tail's epoch 0 collides with the
    bootstrap's batch_id 0 and its rows are silently skipped — this
    test pins the offset end-to-end (final state == referee)."""
    from tartare_spark.operators.apply import bootstrap_load
    from tartare_spark.operators.dedup import dedup_latest_lsn

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    mid = int(ev.agg((F.min("lsn") + F.max("lsn")) / 2).collect()[0][0])
    snap = dedup_latest_lsn(
        ev.filter(F.col("lsn") <= mid), keys=["repo", "path"], order_col="lsn"
    ).filter(F.col("op") != "delete")
    lake = LakeTable.create(str(tmp_path / "lake_bs"), num_buckets=16)
    bootstrap_load(spark, lake, snap.drop("op"), batch_id=0)
    assert lake.stream_batch_offset() == 1
    run_stream(
        spark, unit_events_dir, lake, str(tmp_path / "ckpt_bs"),
        max_files_per_trigger=7,
    )
    # the tail's epoch 0 must have been applied (as batch 1), not
    # swallowed by the bootstrap's idempotency guard
    applied = [m["batch_id"] for m in lake.metrics()
               if not m.get("skipped") and not m.get("bootstrap")]
    assert applied and min(applied) == 1
    no_reg = replay_referee(pd.DataFrame(generate_change_events(UNIT)), None)
    _assert_matches(spark, lake, None, no_reg)


# ---------------------------------------------------------------- S18
def _parity_route():
    return F.when(
        F.substring("repo", 6, 4).cast("int") % 2 == 0, "t_even"
    ).otherwise("t_odd")


def _parity_expected(even: bool):
    ev = pd.DataFrame(generate_change_events(UNIT))
    mask = (ev["repo"].str[5:].astype(int) % 2 == 0) == even
    return replay_referee(ev[mask].copy(), registry_rows(UNIT))


def test_multi_table_tail_matches_referee(spark, unit_events_dir, tmp_path):
    """S18: one binlog tail fanned into two lake tables by a route
    expression — each table's final state equals the referee replay of
    its own slice, and redelivery with a fresh checkpoint is a no-op on
    BOTH tables (per-table exactly-once)."""
    from tartare_spark.streaming.runner import run_stream_multi

    lakes = {
        "t_even": LakeTable.create(str(tmp_path / "even"), num_buckets=8),
        "t_odd": LakeTable.create(str(tmp_path / "odd"), num_buckets=8),
    }
    reg = SchemaRegistry(registry_rows(UNIT))
    run_stream_multi(
        spark, unit_events_dir, lakes, str(tmp_path / "ck"),
        route=_parity_route(), registry=reg, max_files_per_trigger=7,
    )
    for name, even in (("t_even", True), ("t_odd", False)):
        _assert_matches(spark, lakes[name], reg, _parity_expected(even))
    # T7 parity: the fan-out query records per-batch progress next to
    # its checkpoint (it has no single owning lake)
    import os

    assert os.path.getsize(str(tmp_path / "ck" / "_progress.jsonl")) > 0
    # redelivery (fresh checkpoint, same input): every epoch's claim is
    # already held per table → versions unchanged on both
    before = {n: lk.current_version() for n, lk in lakes.items()}
    run_stream_multi(
        spark, unit_events_dir, lakes, str(tmp_path / "ck_fresh"),
        route=_parity_route(), registry=reg, max_files_per_trigger=7,
    )
    assert {n: lk.current_version() for n, lk in lakes.items()} == before
    for name, even in (("t_even", True), ("t_odd", False)):
        _assert_matches(spark, lakes[name], reg, _parity_expected(even))


def test_multi_table_partial_crash_resumes_exactly_once(
    spark, unit_events_dir, tmp_path, monkeypatch
):
    """A crash BETWEEN two tables' applies (first table committed,
    second not) redelivers the micro-batch on restart: the committed
    table's claim skips it, the crashed table catches up — both
    converge to the referee with no double-apply."""
    from tartare_spark.streaming import runner as runner_mod
    from tartare_spark.streaming.runner import run_stream_multi

    lakes = {
        "t_even": LakeTable.create(str(tmp_path / "even"), num_buckets=8),
        "t_odd": LakeTable.create(str(tmp_path / "odd"), num_buckets=8),
    }
    reg = SchemaRegistry(registry_rows(UNIT))
    real_apply = runner_mod.apply_batch
    state = {"tripped": False}

    def faulty_apply(spark_, lake_, events, batch_id, **kw):
        # crash ONCE, on t_odd's apply of epoch >= 1 (t_even, sorted
        # first, has already committed that epoch)
        if (
            not state["tripped"]
            and lake_.root.endswith("odd")
            and batch_id >= 1
        ):
            state["tripped"] = True
            raise RuntimeError("injected crash between table applies")
        return real_apply(spark_, lake_, events, batch_id, **kw)

    monkeypatch.setattr(runner_mod, "apply_batch", faulty_apply)
    with pytest.raises(Exception, match="injected crash"):
        run_stream_multi(
            spark, unit_events_dir, lakes, str(tmp_path / "ck"),
            route=_parity_route(), registry=reg, max_files_per_trigger=7,
        )
    assert state["tripped"]
    assert lakes["t_even"].current_version() > lakes["t_odd"].current_version()
    # resume from the SAME checkpoint: Spark redelivers the crashed
    # epoch; t_even skips (claim held), t_odd applies, both catch up
    run_stream_multi(
        spark, unit_events_dir, lakes, str(tmp_path / "ck"),
        route=_parity_route(), registry=reg, max_files_per_trigger=7,
    )
    for name, even in (("t_even", True), ("t_odd", False)):
        _assert_matches(spark, lakes[name], reg, _parity_expected(even))


def test_multi_table_unrouted_strict_and_deadletter(
    spark, unit_events_dir, tmp_path
):
    """Events routed to an unregistered table fail the query loudly
    under strict=True; under strict=False they are dead-lettered
    (overwrite-by-epoch) and the registered table still converges."""
    from tartare_spark.streaming.runner import run_stream_multi

    reg = SchemaRegistry(registry_rows(UNIT))
    only_even = {"t_even": LakeTable.create(str(tmp_path / "e1"), num_buckets=8)}
    with pytest.raises(Exception, match="unregistered table"):
        run_stream_multi(
            spark, unit_events_dir, only_even, str(tmp_path / "ck_strict"),
            route=_parity_route(), registry=reg,
        )

    only_even2 = {"t_even": LakeTable.create(str(tmp_path / "e2"), num_buckets=8)}
    ck = str(tmp_path / "ck_dl")
    run_stream_multi(
        spark, unit_events_dir, only_even2, ck,
        route=_parity_route(), registry=reg, strict=False,
        max_files_per_trigger=7,
    )
    _assert_matches(spark, only_even2["t_even"], reg, _parity_expected(True))
    dl = spark.read.parquet(str(tmp_path / "ck_dl" / "_unrouted" / "epoch=*"))
    odd_total = int((pd.DataFrame(generate_change_events(UNIT))["repo"]
                     .str[5:].astype(int) % 2 == 1).sum())
    assert dl.count() == odd_total
    assert set(dl.columns) == set(CHANGE_EVENT_COLUMNS)

    with pytest.raises(ValueError, match="no lakes"):
        run_stream_multi(spark, unit_events_dir, {}, str(tmp_path / "ck0"))
    # the unrouted sentinel is not a legal table name
    sentinel = {"__unrouted__": LakeTable.create(str(tmp_path / "u"), num_buckets=8)}
    with pytest.raises(ValueError, match="reserved"):
        run_stream_multi(spark, unit_events_dir, sentinel, str(tmp_path / "ck_u"))


# ---------------------------------------------------------------- T8
def test_stream_stream_enrich_matches_batch_join(spark, unit_events_dir, tmp_path):
    """T8: watermarked stream-stream interval join == the identical
    batch join ROW FOR ROW (single availableNow batch, so no row can be
    dropped as late), and the plan is a StreamingSymmetricHashJoin with
    state."""
    import datetime
    import json

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.streaming.joins import stream_stream_enrich

    # marker stream: one deploy marker per repo (all 20 UNIT repos),
    # timestamps inside the event range
    ev_batch = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(unit_events_dir)
    lo = ev_batch.agg(F.min("ts")).collect()[0][0]
    markers = [
        (f"repo_{i:04d}", lo + datetime.timedelta(minutes=7 * i))
        for i in range(20)
    ]
    mk_dir = str(tmp_path / "markers")
    spark.createDataFrame(markers, "repo string, mts timestamp").write.parquet(mk_dir)

    expected = stream_stream_enrich(
        ev_batch, spark.read.parquet(mk_dir), window="45 minutes"
    )
    assert expected.count() > 0

    ev_s = spark.readStream.schema(CHANGE_EVENT_SCHEMA).parquet(unit_events_dir)
    mk_s = spark.readStream.schema("repo string, mts timestamp").parquet(mk_dir)
    joined = stream_stream_enrich(ev_s, mk_s, window="45 minutes")
    out_dir = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir).select(*expected.columns)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # the executed streaming plan held symmetric join state
    progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    ops = [op for p in progress for op in (p.get("stateOperators") or [])]
    assert any("symmetricHashJoin" in (op.get("operatorName") or "") for op in ops), ops


def test_stream_stream_enrich_names_missing_time_column(spark):
    """Misuse fails with the contract, not Spark's unresolved-column
    error: a side without its time column raises ValueError naming it."""
    from tartare_spark.streaming.joins import stream_stream_enrich

    events = spark.createDataFrame([("r", 1)], "repo string, lsn long")
    markers = spark.createDataFrame([("r", None)], "repo string, mts timestamp")
    with pytest.raises(ValueError, match=r"events has no column 'ts'"):
        stream_stream_enrich(events, markers)
    events = events.withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match=r"markers has no column 'mts'"):
        stream_stream_enrich(events, markers.withColumnRenamed("mts", "at"))


def test_multi_table_envelope_and_per_table_registry(
    spark, unit_events_dir, tmp_path
):
    """S18 × S11: the fan-out tail reads a Debezium JSON topic dump
    (poison line dropped), and each table gets its OWN registry —
    t_even evolves an added column with a default, t_odd stays at the
    base schema."""
    from tartare_spark.operators.envelope import to_envelope
    from tartare_spark.streaming.runner import run_stream_multi

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    topic = str(tmp_path / "topic")
    to_envelope(ev).coalesce(6).write.mode("overwrite").text(topic)
    with open(f"{topic}/poison.txt", "w") as f:
        f.write("not json at all\n")

    base = registry_rows(UNIT)
    evolved = SchemaRegistry(
        base
        + [{
            "version": 99, "effective_lsn": 0, "action": "add",
            "column": "tier", "renamed_from": None,
            "default_expr": "'hot'",
        }]
    )
    lakes = {
        "t_even": LakeTable.create(str(tmp_path / "even"), num_buckets=8),
        "t_odd": LakeTable.create(str(tmp_path / "odd"), num_buckets=8),
    }
    with pytest.raises(ValueError, match="unknown.*missing"):
        run_stream_multi(
            spark, topic, lakes, str(tmp_path / "ck0"),
            registry={"nope": evolved},
        )
    # a forgotten table is ALSO a loud error (silent no-registry replay
    # would produce wrong columns) — opt out explicitly with None
    with pytest.raises(ValueError, match="missing.*t_odd"):
        run_stream_multi(
            spark, topic, lakes, str(tmp_path / "ck0b"),
            registry={"t_even": evolved},
        )
    run_stream_multi(
        spark, topic, lakes, str(tmp_path / "ck"),
        route=_parity_route(),
        registry={"t_even": evolved, "t_odd": SchemaRegistry(base)},
        envelope=True, max_files_per_trigger=3,
    )
    even = lakes["t_even"].snapshot(spark, registry=evolved)
    assert "tier" in even.columns
    assert even.select("tier").distinct().collect()[0][0] == "hot"
    odd = lakes["t_odd"].snapshot(spark, registry=SchemaRegistry(base))
    assert "tier" not in odd.columns
    # both tables still referee-exact on the shared columns
    for name, even_flag in (("t_even", True), ("t_odd", False)):
        exp = _parity_expected(even_flag)
        reg = evolved if even_flag else SchemaRegistry(base)
        eng = lakes[name].snapshot(spark, registry=reg).select(
            *exp.columns.tolist()
        )
        expdf = spark.createDataFrame(exp)
        assert eng.exceptAll(expdf).count() == 0
        assert expdf.exceptAll(eng).count() == 0
