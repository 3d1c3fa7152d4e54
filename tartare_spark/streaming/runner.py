"""Structured Streaming entry: binlog tail → foreachBatch lake upsert.

Reference analog: tartare's Celery-beat automatic update — poll every
data source, skip unchanged, re-export affected coverages [PK:
tartare/tasks.py automatic_update]. Here the poll loop is Spark's file
stream source (S2), the "skip unchanged / exactly once" is the
batchId-keyed idempotent commit (S7), and "re-export affected" is the
touched-bucket pruning inside apply_batch (J3).

Resumability (T6): offsets live in the Structured Streaming checkpoint
(WAL + commit log); state lives in the lake manifests. After a crash,
Spark re-delivers the last uncommitted micro-batch with the SAME
batch_id; apply_batch is idempotent on batch_id, so the rewrite is
exact-once end to end. Killing mid-batch leaves at most orphan data
files (never a published manifest), which vacuum() reclaims.
"""

from __future__ import annotations

import os
import sys
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
from tartare_spark.lake.table import LakeTable
from tartare_spark.operators.apply import apply_batch

# run_stream_multi's route value for events with no registered table
_UNROUTED = "__unrouted__"


def _open_change_source(
    spark: SparkSession,
    events_dir: str,
    envelope: bool,
    max_files_per_trigger: int | None,
):
    """Shared stream-source constructor for run_stream / run_stream_multi:
    parquet changelog by default, Debezium-style JSON topic dump
    (S11 adapter, malformed lines dropped) with ``envelope=True``."""
    reader = spark.readStream
    if not envelope:
        reader = reader.schema(CHANGE_EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if envelope:
        from tartare_spark.operators.envelope import envelope_changelog

        return envelope_changelog(reader.text(events_dir), drop_malformed=True)
    return reader.parquet(events_dir)


def run_stream(
    spark: SparkSession,
    events_dir: str,
    lake: LakeTable,
    checkpoint_dir: str,
    registry=None,
    max_files_per_trigger: int | None = 20,
    available_now: bool = True,
    drop_dup_within_watermark: bool = False,
    watermark: str = "30 minutes",
    await_termination: bool = True,
    stateful_fence: bool = False,
    manifest_fence: bool = False,
    fence_lateness: int = 0,
    fence_order_check: bool = True,
    envelope: bool = False,
    compact_async: bool = False,
    expectations=None,
    mv_path: str | None = None,
    mv_group_col: str = "repo",
):
    """Tail ``events_dir`` (parquet file stream) into ``lake``.

    ``envelope=True`` tails a Debezium-style JSON topic dump instead
    (text files of change envelopes, operators/envelope.py): rows are
    decoded by ``envelope_changelog`` (malformed lines dropped) and the
    rest of the pipeline — fences, registry, exactly-once commits — is
    identical. This is the wire format a real binlog tail arrives in.

    ``drop_dup_within_watermark`` adds the T2 operator
    (withWatermark + dropDuplicatesWithinWatermark on lsn). It is OFF by
    default: the merge is already idempotent under duplicate LSNs, and
    the stateful dedup adds a shuffle + state store per batch. Turn it on
    when upstream redelivery is heavy enough that shrinking batches
    beats the extra exchange.

    ``stateful_fence`` adds the T5 operator (streaming/stateful.py): a
    per-key applied-LSN fence in the state store that drops cross-batch
    stale/duplicate events before the apply. Same trade-off as T2 —
    correctness never needs it (the MERGE is idempotent); it pays one
    extra keyed shuffle to cut apply volume under heavy redelivery.

    ``manifest_fence`` is the cheap JVM-side alternative (see
    :func:`tartare_spark.operators.apply.manifest_watermark_fence`):
    a per-bucket watermark filter rebuilt from the lake manifest each
    batch — no shuffle, no state store; valid for in-order binlog
    tails (redelivery-only duplication), with ``fence_lateness`` LSN
    slack for sources with bounded reordering. Measured break-even vs
    the state-store fence is documented in BENCH/BASELINE.md.

    ``mv_path`` keeps a materialized aggregate (operators/mv.py)
    current INSIDE the stream: after each committed micro-batch the MV
    is refreshed from that commit's change feed (dirty-group recompute,
    O(changed slice)). Bootstrap is automatic (full build on first
    trigger). The composition inherits the commit path's exactly-once
    properties: a redelivered batch is skipped by apply_batch, leaves
    the lake version unchanged, and the refresh no-ops (from == to); a
    crash BETWEEN apply and refresh is healed on the next trigger —
    the feed read spans every commit since the MV's recorded version,
    so refreshes coalesce rather than drop. Refresh ≡ full rebuild for
    any groupBy agg (tested in tests/test_streaming.py).
    """
    src = _open_change_source(spark, events_dir, envelope, max_files_per_trigger)
    if drop_dup_within_watermark:
        src = src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["lsn"])
    if stateful_fence:
        from tartare_spark.streaming.stateful import stateful_lsn_filter

        src = stateful_lsn_filter(src)

    # epoch→batch_id offset: nonzero iff the table was seeded by
    # bootstrap_base (which consumed the low batch ids); captured once
    # per run — it is immutable after bootstrap, and resumes of the same
    # checkpoint renumber epochs identically, so idempotent-skip
    # semantics are preserved across crashes.
    batch_offset = lake.stream_batch_offset()

    def _apply(batch_df, batch_id: int):
        batch_id += batch_offset
        apply_batch(
            spark, lake, batch_df, batch_id, registry=registry,
            lsn_fence="manifest" if manifest_fence else None,
            fence_lateness=fence_lateness,
            fence_order_check=fence_order_check,
            # off-thread compaction (lake.submit_compaction): the fold
            # overlaps the next trigger instead of delaying it; drained
            # below after termination
            compact_async=compact_async,
            # data-quality gate (operators/expect.py); a fail-action
            # violation aborts the query loudly before any write
            expectations=expectations,
        )
        if mv_path is not None:
            from tartare_spark.operators.mv import (
                _meta_path,
                build_mv,
                refresh_mv,
            )

            if os.path.exists(_meta_path(mv_path)):
                refresh_mv(spark, lake, mv_path, group_col=mv_group_col)
            else:
                build_mv(spark, lake, mv_path, group_col=mv_group_col)

    # unique per-run query name: the progress listener filters on it,
    # which closes the start()-returns-after-first-event race an
    # id-based filter would have (the name is known BEFORE start)
    query_name = f"tartare-cdc-apply-{uuid.uuid4().hex[:8]}"
    writer = (
        src.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    # T7 (listener variant): persist Spark's own per-batch progress
    # (input rate, duration breakdown, source offsets) next to the
    # engine's metrics log — the two views cross-check each other.
    # A listener (not recentProgress, which Spark caps at the last
    # ~numRecentProgressUpdates≈100 batches) so long replays keep
    # EVERY batch's progress record. Registered only on the managed
    # (await_termination) path — an unmanaged caller stops the query
    # itself and a session-lifetime listener would leak, capturing
    # every other query on the session into this lake's file; those
    # callers get the capped dump_progress() instead.
    if await_termination:
        listener = _ProgressLogger(
            os.path.join(lake.root, "_metrics", "progress.jsonl"),
            query_name=query_name,
        )
        spark.streams.addListener(listener)
        try:
            query = writer.start()
            query.awaitTermination()
        finally:
            # removed even when start() itself raises — otherwise the
            # listener leaks for the session's lifetime
            spark.streams.removeListener(listener)
            if compact_async:
                # drained even when the query FAILED: otherwise the
                # in-flight fold keeps mutating the table after
                # run_stream returns (racing whatever recovery the
                # caller starts next) and a failed fold's error is
                # never surfaced. In the failure path the fold's own
                # error must not mask the query's — swallow it here;
                # the success path re-raises it below.
                try:
                    lake.wait_maintenance()
                except Exception as fold_err:  # noqa: BLE001
                    print(
                        f"tartare: async fold failed during stream "
                        f"teardown: {fold_err!r}",
                        file=sys.stderr,
                    )
        # listener delivery is async — reconcile anything still in
        # recentProgress (dump_progress also dedupes against the
        # file, so an in-flight listener write can't duplicate).
        dump_progress(query, lake, seen=listener.seen)
        if compact_async:
            # success path: a failed fold raises HERE, loudly
            lake.wait_maintenance()
        return query
    return writer.start()


def run_stream_multi(
    spark: SparkSession,
    events_dir: str,
    lakes: dict[str, LakeTable],
    checkpoint_dir: str,
    route="repo",
    registry=None,
    max_files_per_trigger: int | None = 20,
    available_now: bool = True,
    await_termination: bool = True,
    manifest_fence: bool = False,
    fence_lateness: int = 0,
    strict: bool = True,
    envelope: bool = False,
):
    """S18 — ONE binlog tail fanned into MULTIPLE lake tables in a
    single query (Debezium topic-per-table / server-level connector
    shape): each event routes by the ``route`` column (a name or any
    Column expression over the event row) to the lake registered under
    that value in ``lakes``. ``registry`` may be a single
    ``SchemaRegistry`` shared by every table or a ``{table: registry}``
    dict (Debezium's per-table schema history); ``envelope=True`` tails
    a Debezium-style JSON topic dump (S11 adapter, malformed lines
    dropped) instead of parquet changelogs.

    Exactly-once is PER TABLE and rides each lake's own batch_id claim
    (S7): tables are applied in sorted-name order inside one
    foreachBatch, so a crash between two tables' applies redelivers
    the whole micro-batch with the same epoch — already-applied tables
    skip (idempotent claim), the rest catch up. No cross-table
    transaction is claimed: readers of table A may observe a batch
    before readers of table B (the same contract Debezium gives across
    topics).

    Events whose route value has no registered lake either fail the
    query loudly (``strict=True`` — a binlog containing a table you
    forgot to register is a deployment bug) or are dead-lettered to
    ``<checkpoint_dir>/_unrouted/epoch=<n>/`` (``strict=False``,
    overwrite-by-epoch so redelivery never duplicates).

    Scale shape: the batch is persisted once, then each table's apply
    filters it (N bounded-size passes over cached rows — N = number of
    tables, not data-sized); per-table applies keep their own
    single-shuffle MOR plan. At a 1000-table fan-out you'd shard
    tables across queries; within a query the loop is the standard
    Debezium sink shape.
    """
    if not lakes:
        raise ValueError("run_stream_multi: no lakes registered")
    if _UNROUTED in lakes:
        raise ValueError(
            f"run_stream_multi: table name {_UNROUTED!r} is reserved for "
            "unrouted events; register the table under another name"
        )
    rcol = F.col(route) if isinstance(route, str) else route
    if isinstance(registry, dict):
        registries = dict(registry)
        # symmetric validation: an unknown name AND a forgotten table
        # are both deployment bugs — a table silently replaying with no
        # registry would produce wrong columns with no error anywhere.
        # Opt a table out of evolution EXPLICITLY with {"t": None}.
        if set(registries) != set(lakes):
            unknown = sorted(set(registries) - set(lakes))
            missing = sorted(set(lakes) - set(registries))
            raise ValueError(
                "run_stream_multi: per-table registry dict must cover "
                f"every table exactly (unknown: {unknown}, missing: "
                f"{missing}; pass None per table to opt out)"
            )
    else:
        registries = {name: registry for name in lakes}
    src = _open_change_source(spark, events_dir, envelope, max_files_per_trigger)

    # captured once per run, like run_stream's single-table offset:
    # immutable after bootstrap, and checkpoint resumes renumber epochs
    # identically, so per-table idempotent-skip survives crashes
    offsets = {name: lk.stream_batch_offset() for name, lk in lakes.items()}
    names = sorted(lakes)

    def _apply(batch_df, epoch: int):
        cached = batch_df.persist()
        try:
            # unknown routes collapse to one sentinel BEFORE the count
            # collect, so the driver sees ≤ len(lakes)+1 rows even if a
            # buggy route expression emits unbounded distinct garbage
            tagged = cached.withColumn(
                "_route",
                F.when(
                    F.coalesce(rcol.isin(names), F.lit(False)), rcol
                ).otherwise(F.lit(_UNROUTED)),
            )
            counts = {
                r["_route"]: r["n"]
                for r in tagged.groupBy("_route").agg(
                    F.count("*").alias("n")
                ).collect()
            }
            n_unrouted = counts.get(_UNROUTED, 0)
            if n_unrouted:
                unrouted = tagged.filter(F.col("_route") == _UNROUTED)
                if strict:
                    bad = [
                        r[0]
                        for r in unrouted.select(rcol).distinct().limit(5).collect()
                    ]
                    raise ValueError(
                        f"run_stream_multi: {n_unrouted} events routed to "
                        f"unregistered table(s) {bad} — register them in "
                        "`lakes` or pass strict=False to dead-letter"
                    )
                unrouted.drop("_route").write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, "_unrouted", f"epoch={epoch}")
                )
            for name in names:
                # sparse routing is the Debezium norm (most tables idle
                # per micro-batch): skip zero-row slices — an empty
                # apply never commits or bumps last_batch_id, so claim
                # semantics are identical, minus N-1 no-op job pipelines
                if not counts.get(name):
                    continue
                apply_batch(
                    spark,
                    lakes[name],
                    tagged.filter(F.col("_route") == name).drop("_route"),
                    epoch + offsets[name],
                    registry=registries.get(name),
                    lsn_fence="manifest" if manifest_fence else None,
                    fence_lateness=fence_lateness,
                )
        finally:
            cached.unpersist()

    query_name = f"tartare-cdc-multi-{uuid.uuid4().hex[:8]}"
    writer = (
        src.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    if await_termination:
        # T7 parity with run_stream's managed path: the fan-out query's
        # per-batch progress lands next to its checkpoint (it has no
        # single owning lake)
        progress_path = os.path.join(checkpoint_dir, "_progress.jsonl")
        listener = _ProgressLogger(progress_path, query_name=query_name)
        spark.streams.addListener(listener)
        try:
            query = writer.start()
            query.awaitTermination()
        finally:
            spark.streams.removeListener(listener)
        _dump_progress_to(query, progress_path, seen=listener.seen)
        return query
    return writer.start()


class _ProgressLogger(StreamingQueryListener):
    """StreamingQueryListener that appends each progress event as it
    arrives (no recentProgress cap). Tracks (queryId, batchId) pairs so
    the post-run reconcile never double-writes."""

    def __init__(self, path: str, query_name: str):
        super().__init__()
        self.path = path
        self.query_name = query_name
        self.seen: set[tuple[str, int]] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        # only record OUR query (several queries can share the session,
        # e.g. a lake-to-lake relay) — matched by the unique per-run
        # query NAME, which is known before start(), so even an event
        # delivered before start() returns is correctly attributed.
        if p.name != self.query_name:
            return
        try:
            with open(self.path, "a") as f:
                f.write(p.json + "\n")
        except OSError:
            return  # lake dir vanished (e.g. test teardown) — drop
        self.seen.add((str(p.id), int(p.batchId)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def dump_progress(query, lake: LakeTable, seen: set | None = None) -> int:
    """Append the query's ``recentProgress`` JSON to the lake's metrics
    dir (progress.jsonl) — see :func:`_dump_progress_to`."""
    return _dump_progress_to(
        query, os.path.join(lake.root, "_metrics", "progress.jsonl"), seen
    )


def _dump_progress_to(query, path: str, seen: set | None = None) -> int:
    """Append the query's ``recentProgress`` JSON to ``path``, skipping
    (queryId, batchId) pairs already written by the live listener.
    Returns the number of records written. Note recentProgress alone is
    capped at the last ~spark.sql.streaming.numRecentProgressUpdates
    (default 100) batches — the listener is the complete record."""
    import json

    seen = set(seen or ())
    # also dedupe against what is already ON DISK: an in-flight listener
    # write landing between our seen-snapshot and this reconcile would
    # otherwise be appended twice.
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                    seen.add((str(rec.get("id")), int(rec.get("batchId"))))
                except (json.JSONDecodeError, ValueError, TypeError):
                    continue
    recs = [
        p
        for p in (query.recentProgress or [])
        if (str(p.get("id")), int(p.get("batchId"))) not in seen
    ]
    with open(path, "a") as f:
        for p in recs:
            f.write(json.dumps(p, default=str) + "\n")
    return len(recs)


def windowed_throughput(spark: SparkSession, events_dir: str, window: str = "1 minute"):
    """T3 ``tumbling_metrics`` — per-interval event counts on the change
    stream (batch analog usable in tests; streaming variant identical
    modulo readStream)."""
    df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(events_dir)
    return (
        df.groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )
