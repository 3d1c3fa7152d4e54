"""S3 ``conditional_ingest`` — the pre-MERGE skip-unchanged filter.

The J1 MERGE resolution — last-writer-wins by LSN, pinned by
tartare_spark.oracle and the referee tests — lives in the merge-on-read
lake: ``LakeTable.read_raw`` resolves base ∪ deltas to one row per key
at read time, and ``LakeTable.compact`` makes that durable. Deletes are tombstones (``_deleted=true``), not physical
removals, so an arbitrarily-late lower-LSN update can never resurrect a
deleted row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conditional_filter(staged: DataFrame, target_raw: DataFrame) -> DataFrame:
    """S3 ``conditional_ingest`` — drop staged changes whose content sha
    equals the current live row's sha (tartare's skip-unchanged md5 fetch
    [PK: tartare/core/fetcher.py + helper.get_md5_content_file]).
    Left-anti join on (key, sha): unchanged payloads never reach MERGE.
    DELETE events are exempt — skip-unchanged is an upsert optimization,
    and a delete whose placeholder content happens to sha-match the live
    row (e.g. deleting an empty file) must still delete it."""
    cur = target_raw.filter(~F.col("_deleted")).select(
        "repo", "path", F.col("_content_sha").alias("sha")
    )
    upserts = staged.filter(F.col("op") != "delete")
    deletes = staged.filter(F.col("op") == "delete")
    staged_sha = upserts.withColumn(
        "sha", F.sha2(F.coalesce("content", F.lit("")), 256)
    )
    kept = staged_sha.join(cur, ["repo", "path", "sha"], "left_anti").drop("sha")
    return kept.unionByName(deletes)
