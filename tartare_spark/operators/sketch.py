"""A7 ``heavy_hitters`` — count-min-sketch frequency estimation.

Reference analog: SURVEY.md §2 A-family (aggregation); the operational
need is BASELINE.json's hot-repo skew story — at 10^10 events you want
"which keys are hot?" WITHOUT a full ``groupBy(key)`` whose state is
O(distinct keys). A count-min sketch answers point frequency queries
from O(depth × width) state built in ONE map-side-combined pass
(Cormode & Muthukrishnan 2005, public).

Scale shape at 100 TB:
- **build**: each input row expands to ``depth`` (slot) pairs; the
  groupBy has at most ``depth × width`` groups, so the shuffle after
  partial aggregation carries ≤ depth × width rows PER MAP TASK and the
  final sketch is a few KB regardless of input size. No per-key state.
- **probe**: the sketch is broadcast; estimating any candidate set is a
  broadcast hash join, never a shuffle of the corpus.
- **candidates**: ``heavy_hitters`` probes ALL distinct keys, taken
  from an exact ``groupBy(key)`` that it also reports as ``n_exact``,
  so the DuckDB oracle can verify the classical CMS guarantee
  est ≥ exact on every key. That groupBy holds O(distinct keys) state:
  it is the demo form, not the scale path. No reduced candidate list
  (alert lists, per-partition local top-k) ships; a caller with one
  passes it to ``cms_estimate`` directly.

Hashes are md5-derived (``conv(substr(md5(depth|key),1,8),16,10) %
width``) so DuckDB mirrors them bit-exactly — same trick as the minhash
family (dedup_docs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def _slot(key: Column, row: int, width: int) -> Column:
    """Sketch row ``row``'s slot for ``key`` (``row`` is a single row
    INDEX in 0..depth-1, not the depth count): first 8 md5 hex chars
    (32 bits, non-negative in a long) mod width."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}|"), key)), 1, 8), 16, 10
    ).cast("long")
    return (h % F.lit(width)).alias("slot")


def cms_build(df: DataFrame, key: str, depth: int = 4, width: int = 64) -> DataFrame:
    """Build the sketch: one pass, ``depth × width`` counters.

    Returns a DataFrame ``(d, slot, n)`` with at most depth×width rows.
    ``posexplode`` emits the depth index alongside each slot so a single
    groupBy aggregates all rows of the sketch matrix at once.
    """
    slots = F.array(*[_slot(F.col(key), d, width) for d in range(depth)])
    return (
        df.select(F.posexplode(slots).alias("d", "slot"))
        .groupBy("d", "slot")
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-frequency estimates for ``keys[key]``: min over the sketch's
    ``depth`` rows. The sketch side is tiny — broadcast it so probing
    never shuffles the candidate set."""
    slots = F.array(*[_slot(F.col(key), d, width) for d in range(depth)])
    probes = keys.select(key, F.posexplode(slots).alias("d", "slot"))
    return (
        probes.join(F.broadcast(sketch), ["d", "slot"], "left")
        # a (d,slot) cell the build never touched counts 0, not NULL
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .groupBy(key)
        .agg(F.min("n").alias("n_est"))
    )


def heavy_hitters(
    df: DataFrame,
    key: str,
    threshold: int | None = None,
    rel_threshold: float | None = None,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Keys whose CMS-estimated frequency is ≥ ``threshold`` (absolute)
    or ≥ ``rel_threshold × mean-per-key`` (relative — the usual skew
    question), with the exact count alongside (the demo form — exact
    verification is the point at test scale; at 100 TB you'd skip the
    exact join and probe a candidate list instead).

    CMS never undercounts, so the result is a SUPERSET of the true heavy
    hitters; ``overcount = n_est - n_exact`` quantifies collisions.
    """
    if (threshold is None) == (rel_threshold is None):
        raise ValueError("pass exactly one of threshold / rel_threshold")
    exact = df.groupBy(key).agg(F.count("*").alias("n_exact"))
    est = cms_estimate(cms_build(df, key, depth, width), exact, key, depth, width)
    out = exact.join(est, key)
    if threshold is not None:
        out = out.where(F.col("n_est") >= F.lit(threshold))
    else:
        totals = exact.agg(
            F.sum("n_exact").alias("_total"), F.count("*").alias("_nkeys")
        )
        out = out.crossJoin(F.broadcast(totals)).where(
            F.col("n_est")
            >= F.lit(rel_threshold) * F.col("_total") / F.col("_nkeys")
        )
    return out.select(
        key,
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
    )
