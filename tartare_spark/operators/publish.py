"""Bucketed publish: export a DataFrame as a Spark BUCKETED parquet
table, so downstream joins and aggregations on the bucket key run with
ZERO exchange.

Reference analog: tartare publishes merged exports for downstream
consumers [SURVEY §2.1 S6]; at the 100 TB design point the dominant
cost of consuming an export is re-shuffling it for every join. Writing
the export bucketed (hash-partitioned AND catalog-registered, with
per-file sort) moves that shuffle to write time, paid ONCE: every
subsequent equi-join between co-bucketed exports is planned as a
SortMergeJoin over aligned bucket files with no Exchange at all
(pinned in tests/test_operators.py), and Spark prunes buckets on point
predicates (``SelectedBucketsCount`` in the scan).

Catalog note: bucket metadata lives in the session catalog. This
sandbox has no persistent metastore, so registration is per-session;
``publish_bucketed`` therefore also writes a tiny JSON SIDECAR
(``_bucket_spec.json``: name, bucket cols, N, sort cols, schema DDL)
next to the data, and ``register_published`` re-creates the catalog
entry from it in a fresh session — downstream exchange-free joins
survive a restart. A production deployment points the same call at a
real metastore (or uses Iceberg's ``bucket(N, col)`` partition
transform, which encodes the same contract in table metadata).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_SPEC_FILE = "_bucket_spec.json"


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def publish_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as an external bucketed parquet table at ``path``
    registered as ``name``. ``sort_cols`` additionally sorts within
    each bucket file (SMJ reads then need no full re-sort, and
    zone-map/row-group pruning on the sort key gets tight ranges).
    A ``_bucket_spec.json`` sidecar records the bucket contract so
    :func:`register_published` can rebuild the catalog entry after a
    session restart."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
    spec = {
        "name": name,
        "bucket_cols": list(bucket_cols),
        "num_buckets": int(num_buckets),
        "sort_cols": list(sort_cols) if sort_cols else [],
        "schema_ddl": _schema_ddl(df),
    }
    # the writer owns `path`; parquet readers ignore non-.parquet files
    with open(os.path.join(path, _SPEC_FILE), "w") as f:
        json.dump(spec, f)
    return name


def register_published(
    spark: SparkSession, path: str, name: str | None = None
) -> str:
    """Recover a published bucketed table in a FRESH session from its
    ``_bucket_spec.json`` sidecar: re-creates the catalog entry (schema
    + CLUSTERED BY ... INTO N BUCKETS + LOCATION) over the existing
    files — no data is read or moved, and joins on the bucket key are
    exchange-free again (tests/test_operators.py). ``name`` overrides
    the recorded table name."""
    with open(os.path.join(path, _SPEC_FILE)) as f:
        spec = json.load(f)
    name = name or spec["name"]
    clustered = ", ".join(f"`{c}`" for c in spec["bucket_cols"])
    sorted_by = (
        " SORTED BY ({})".format(", ".join(f"`{c}`" for c in spec["sort_cols"]))
        if spec["sort_cols"]
        else ""
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({spec['schema_ddl']}) USING parquet "
        f"CLUSTERED BY ({clustered}){sorted_by} "
        f"INTO {int(spec['num_buckets'])} BUCKETS "
        f"LOCATION '{os.path.abspath(path)}'"
    )
    return name


def read_published(spark: SparkSession, name: str) -> DataFrame:
    """Read a published bucketed table back (bucket metadata intact —
    joins on the bucket key stay exchange-free)."""
    return spark.table(name)


# ---------------------------------------------------------------- S19
_PUB_META = "_publish_meta.json"


def publish_incremental(
    spark: SparkSession,
    lake,
    out_dir: str,
    num_parts: int = 32,
    registry=None,
) -> dict:
    """S19 — keep a partitioned parquet EXPORT of the lake snapshot
    current by rewriting ONLY the partitions touched since the last
    publish (tartare's "re-export affected coverages after each
    update", SURVEY §2.1 S6 at the incremental point).

    The export is hash-partitioned into ``num_parts`` dirs on the key
    (``pmod(xxhash64(repo, path), num_parts)``). The first call writes
    a full export and records the lake version; later calls read the
    change feed since that version (O(changed rows), S8), take the
    DISTINCT dirty partitions (≤ num_parts values to the driver) and
    dynamically overwrite only those directories — a downstream
    consumer re-reads 1/num_parts of the export per touched partition
    instead of the world. A dirty partition whose keys are ALL deleted
    gets its directory removed explicitly (dynamic overwrite only
    replaces partitions that receive rows).

    Crash-safe by ordering: the meta file is written (fsync'd, atomic)
    AFTER the data, so a crash mid-publish re-publishes the same dirty
    set on retry (overwrite = idempotent). If the recorded version has
    been EXPIRED by ``expire_snapshots``, falls back to a full rewrite
    (same discipline as ``refresh_mv``); any other feed error is
    re-raised. A no-change publish touches no Spark job beyond the
    manifest-pointer read. Returns a summary dict.
    """
    import shutil

    from tartare_spark.lake.table import _atomic_write_json
    from tartare_spark.operators.apply import _obs_metrics

    meta_path = os.path.join(out_dir, _PUB_META)
    part = F.pmod(F.xxhash64("repo", "path"), F.lit(num_parts)).cast("int")
    version = lake.current_version()

    def _snap():
        return lake.snapshot(spark, version=version, registry=registry).withColumn(
            "_pub_part", part
        )

    def _full(mode: str) -> dict:
        # static overwrite wipes the whole export dir (stale partitions
        # from the previous layout/state cannot survive), then the meta
        # is re-recorded
        _snap().write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy("_pub_part").parquet(out_dir)
        _atomic_write_json(
            meta_path, {"last_version": version, "num_parts": num_parts}
        )
        return {"mode": mode, "version": version, "dirty_partitions": num_parts}

    if not os.path.exists(meta_path):
        return _full("full")
    with open(meta_path) as f:
        meta = json.load(f)
    if int(meta["num_parts"]) != num_parts:
        raise ValueError(
            f"publish_incremental: export at {out_dir} was written "
            f"with num_parts={meta['num_parts']}, got {num_parts} — "
            "changing the layout requires a fresh out_dir"
        )
    last = int(meta["last_version"])
    if last == version:
        return {"mode": "noop", "version": version, "dirty_partitions": 0}
    try:
        feed = lake.changes(spark, last, version)
    except ValueError as err:
        if "expired" not in str(err):
            raise
        # recorded version expired by retention — full rebuild
        return _full("full_rebuild")
    dirty = sorted(
        int(r[0]) for r in feed.select(part.alias("_p")).distinct().collect()
    )
    if not dirty:
        _atomic_write_json(
            meta_path, {"last_version": version, "num_parts": num_parts}
        )
        return {"mode": "noop", "version": version, "dirty_partitions": 0}
    snap = _snap().filter(F.col("_pub_part").isin(dirty))
    # the partitions that received rows ride the write job as a metric
    obs = Observation("publish_incremental")
    snap.observe(obs, F.collect_set("_pub_part").alias("live")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "_pub_part"
    ).parquet(out_dir)
    live_parts = _obs_metrics(obs).get("live")
    if live_parts is None:
        # AQE dropped the metric of an empty write: query instead
        live_parts = [
            r[0] for r in snap.select("_pub_part").distinct().collect()
        ]
    # dynamic overwrite never touches a partition that produced zero
    # rows — a dirty partition whose keys were all tombstoned must be
    # cleared by hand or the export would retain deleted rows forever
    live = {int(p_id) for p_id in live_parts}
    for p_id in dirty:
        if p_id not in live:
            shutil.rmtree(
                os.path.join(out_dir, f"_pub_part={p_id}"), ignore_errors=True
            )
    _atomic_write_json(
        meta_path, {"last_version": version, "num_parts": num_parts}
    )
    return {
        "mode": "incremental",
        "version": version,
        "dirty_partitions": len(dirty),
    }


def read_incremental_export(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the published export back (partition column dropped)."""
    return spark.read.parquet(out_dir).drop("_pub_part")
