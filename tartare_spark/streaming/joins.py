"""T8 ``stream_stream_enrich`` — watermarked stream-stream interval join.

Reference analog: SURVEY.md §2 T-family; the deployment question is
"which change events landed within the blast window of which deploy /
incident marker?" answered IN-FLIGHT, joining two live streams —
neither side is a static dimension (that case is the trivial
stream-static join the registry already covers).

Spark primitive: StreamingSymmetricHashJoin. Both sides MUST carry
watermarks and the join condition MUST bound event time on both sides
(here: equi-key + ``ev.ts ∈ [mk.ts, mk.ts + window]``), or state grows
forever — the watermark bound is what lets Spark evict join state for
closed windows. State size ≈ rows within the watermark horizon per
side, not the stream history.

Semantics note (inner join): a match is emitted once, when the later
of the two rows arrives; rows older than the watermark horizon when
their partner arrives are dropped by design — the same late-data
contract as T2's dedup. Use ``leftOuter`` to also emit unmatched
events after their window closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_enrich(
    events: DataFrame,
    markers: DataFrame,
    key: str = "repo",
    window: str = "30 minutes",
    watermark: str = "1 hour",
    join_type: str = "inner",
) -> DataFrame:
    """Join a change-event stream to a marker stream on ``key`` where
    the event's ``ts`` falls in ``[marker.mts, marker.mts + window]``.
    Both inputs may be streaming DataFrames (the stream-stream case) or
    batch DataFrames (the oracle/referee case — same expression).

    EVERY marker column comes back prefixed ``mk_`` (``mts`` →
    ``mk_mts``, payload columns likewise; the duplicate ``mk_<key>`` is
    dropped), so a marker stream may share any column names with the
    event stream — nothing is ambiguous and nothing collides.

    Raises ``ValueError`` naming the column when ``events`` lacks
    ``ts`` or ``markers`` lacks ``mts`` (their time columns), or when
    either side lacks ``key``."""
    for side, df, cols in (
        ("events", events, ("ts", key)), ("markers", markers, ("mts", key))
    ):
        for c in cols:
            if c not in df.columns:
                raise ValueError(
                    f"stream_stream_enrich: {side} has no column {c!r} "
                    f"(columns: {df.columns})"
                )
    mk = markers.select(
        *[F.col(c).alias(f"mk_{c}") for c in markers.columns]
    )
    ev = events.withWatermark("ts", watermark) if events.isStreaming else events
    mk = mk.withWatermark("mk_mts", watermark) if mk.isStreaming else mk
    cond = (
        (F.col(key) == F.col(f"mk_{key}"))
        & (F.col("ts") >= F.col("mk_mts"))
        & (F.col("ts") <= F.col("mk_mts") + F.expr(f"INTERVAL {window}"))
    )
    return ev.join(mk, cond, join_type).drop(f"mk_{key}")
