"""Driver-facing demo registry: every SURVEY.md §2 operator as a
(spark query, DuckDB oracle SQL) pair over /root/testdata tables.

Contract (``__spark_entry__.py``): each ``SPARK[name](spark, sf_dir)``
returns a DataFrame; ``ORACLE[name]`` is ANSI SQL DuckDB runs on views
``region nation customer supplier part orders lineitem events documents
embeddings`` over the same parquet. Column names/aliases match exactly
on both sides; float aggregates are rounded identically on both sides.

Ops with no oracle entry (streaming/sink semantics) are covered by
pytest instead (tests/test_streaming.py, tests/test_replay_batch.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SPARK: dict = {}
ORACLE: dict[str, str] = {}


def demo(name: str, sql: str | None = None):
    def wrap(fn):
        SPARK[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return wrap


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ======================================================================
# CDC flagship — the engine end-to-end on driver data (S5+A1+J1+S7)
# ======================================================================
def _events_as_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's events table onto the binlog shape (FIXTURES §6):
    user_id → key, event_id → lsn, event_type 'error' → delete."""
    ev = T(spark, sf_dir, "events")
    is_del = F.col("event_type") == "error"
    return ev.select(
        (F.col("event_id") + 1).alias("lsn"),
        F.when(is_del, "delete").otherwise("update").alias("op"),
        F.concat(F.lit("repo_"), (F.col("user_id") % 8).cast("string")).alias("repo"),
        F.concat(F.lit("u/"), F.col("user_id").cast("string")).alias("path"),
        F.substring(
            F.md5(F.concat(F.col("event_type"), F.col("event_id").cast("string"))), 1, 12
        ).alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.when(is_del, "")
        .otherwise(F.concat(F.col("props"), F.lit("|"), F.col("event_id").cast("string")))
        .alias("content"),
        F.col("ts"),
    )


# the changelog mapping above, as a reusable DuckDB CTE (scd2/mv
# oracles below build different shapes over the same event stream)
_CH_CTE = """
WITH ch AS (
  SELECT event_id + 1 AS lsn,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS op,
         'repo_' || CAST(user_id % 8 AS VARCHAR) AS repo,
         'u/' || CAST(user_id AS VARCHAR) AS path,
         substr(md5(event_type || CAST(event_id AS VARCHAR)), 1, 12) AS "commit",
         CASE WHEN event_type = 'error' THEN ''
              ELSE props || '|' || CAST(event_id AS VARCHAR) END AS content
  FROM events
)"""

_CDC_SQL = _CH_CTE + """, last AS (
  SELECT repo, path,
         arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit",
         arg_max(content, lsn) AS content,
         max(lsn) AS _lsn
  FROM ch GROUP BY repo, path
)
SELECT repo, path, "commit", content, _lsn, sha256(content) AS _content_sha
FROM last WHERE op <> 'delete'
"""


@demo("cdc_apply_current_state", _CDC_SQL)
def cdc_apply_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL engine (batch replay → lake → snapshot): 'what is
    the current content of every (repo, path)?'"""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches

    ch = _events_as_changelog(spark, sf_dir)
    # deterministic scratch dir, overwritten per run (repeated driver
    # invocations must not accumulate orphan lakes in /tmp)
    import shutil

    root = os.path.join(tempfile.gettempdir(), f"tartare_demo_lake_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    replay_batches(spark, lake, ch, num_chunks=4)
    return lake.snapshot(spark).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )


# same LWW state, restricted post-merge — the predicate a zone-mapped
# scan must reproduce exactly
_S9_SQL = _CDC_SQL.replace(
    "WHERE op <> 'delete'",
    "WHERE op <> 'delete' AND _lsn >= 500 AND repo <= 'repo_5'",
)


@demo("s9_stats_pruned_scan", _S9_SQL)
def s9_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest zone maps end-to-end: replay → compact → ``analyze()``
    (per-file min/max into the manifest) → ``scan_where`` prunes base
    files driver-side before any Spark job, then applies the residual
    predicate. Same engine invariants as the flagship demo; the oracle
    is the flagship LWW state with the predicate applied after the
    merge — which is exactly what file pruning must preserve."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches

    ch = _events_as_changelog(spark, sf_dir)
    import shutil

    root = os.path.join(
        tempfile.gettempdir(), f"tartare_demo_zonemap_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    replay_batches(spark, lake, ch, num_chunks=2)
    lake.compact(spark)  # all buckets clean → every file file-prunable
    lake.analyze(["_lsn", "repo"])
    return lake.scan_where(
        spark, {"_lsn": (500, None), "repo": (None, "repo_5")}
    ).select("repo", "path", "commit", "content", "_lsn", "_content_sha")


@demo("s12_branch_wap", _CDC_SQL)
def s12_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish through a lake branch (Iceberg writable-ref
    parity): the first half of the log lands on main, the second half
    is staged on a branch (metadata fork — zero data copied), audited,
    then fast-forwarded onto main atomically. The published state must
    equal a straight replay of the whole log — which is exactly the
    flagship oracle."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"tartare_demo_wap_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    bounds = ch.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    mid = (int(bounds["lo"]) + int(bounds["hi"])) // 2
    replay_batches(spark, lake, ch.filter(F.col("lsn") <= mid), num_chunks=2)
    br = lake.create_branch("audit")
    replay_batches(
        spark, br, ch.filter(F.col("lsn") > mid), num_chunks=2, start_batch_id=2
    )
    # audit gate: staged state passes a sanity check before publishing
    assert br.snapshot(spark).count() > 0
    lake.fast_forward("audit")
    lake.drop_branch("audit")
    return lake.snapshot(spark).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )


@demo("s15_branch_rebase", _CDC_SQL)
def s15_branch_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch merge onto a DIVERGED main (round 5; Iceberg refuses this
    with fast-forward — rebase_branch automates 're-fork and
    re-apply'): the first third of the log lands on main, the second
    third is staged on a branch, the last third advances MAIN while the
    branch is still open (divergence — fast_forward would refuse), then
    the branch is rebased: each staged commit re-applied onto main
    through the normal apply path with row-level LWW-by-LSN conflict
    resolution. Converged state must equal a straight replay of the
    whole log — the flagship oracle."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import rebase_branch, replay_batches

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(
        tempfile.gettempdir(), f"tartare_demo_rebase_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    bounds = ch.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    t1, t2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    replay_batches(spark, lake, ch.filter(F.col("lsn") <= t1), num_chunks=2)
    br = lake.create_branch("feature")
    replay_batches(
        spark, br,
        ch.filter((F.col("lsn") > t1) & (F.col("lsn") <= t2)),
        num_chunks=2, start_batch_id=2,
    )
    # main diverges while the branch is open
    replay_batches(
        spark, lake, ch.filter(F.col("lsn") > t2), num_chunks=2,
        start_batch_id=2,
    )
    rebase_branch(spark, lake, "feature", drop_source=True)
    return lake.snapshot(spark).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )


@demo("s13_bootstrap_tail", _CDC_SQL)
def s13_bootstrap_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard CDC deployment shape: consistent snapshot → binlog
    tail. The first half of the log is collapsed to a source-table
    snapshot (live rows at their commit LSNs) and bulk-loaded into an
    empty lake as finished base segments (no merge machinery); the
    second half tails in through the normal apply path. LWW-by-LSN
    makes the handoff at-least-once-safe, so the final state must equal
    a straight replay of the whole log — the flagship oracle."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import bootstrap_load, replay_batches
    from tartare_spark.operators.dedup import dedup_latest_lsn

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"tartare_demo_boot_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    bounds = ch.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    mid = (int(bounds["lo"]) + int(bounds["hi"])) // 2
    snap = dedup_latest_lsn(
        ch.filter(F.col("lsn") <= mid), keys=["repo", "path"], order_col="lsn"
    ).filter(F.col("op") != "delete")
    bootstrap_load(spark, lake, snap.drop("op"), batch_id=0)
    replay_batches(
        spark, lake, ch.filter(F.col("lsn") > mid), num_chunks=2,
        start_batch_id=1,
    )
    return lake.snapshot(spark).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )


# ======================================================================
# 2.1 scans / sources / sinks
# ======================================================================
@demo("s1_scan_lake", "SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders FROM lineitem")
def s1_scan_lake(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@demo(
    "s4_csv_source",
    "SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name "
    "FROM nation GROUP BY n_regionkey",
)
def s4_csv_source(spark, sf_dir):
    """Round-trip nation through CSV (GTFS files are CSVs-in-zip —
    [PK: tartare/core/validity_period_finder.py parses calendar CSVs])."""
    import shutil

    nation = T(spark, sf_dir, "nation")
    # pid-unique, wiped per run: repeated driver invocations must not
    # accumulate orphan scratch dirs in /tmp
    out = os.path.join(tempfile.gettempdir(), f"tartare_csv_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(out)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n"), F.min("n_name").alias("first_name")
    )


@demo(
    "s6_publish_export",
    "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
)
def s6_publish_export(spark, sf_dir):
    """Partitioned publish + re-read (tartare platform publish analog
    [PK: tartare/core/publisher.py])."""
    import shutil

    docs = T(spark, sf_dir, "documents")
    out = os.path.join(tempfile.gettempdir(), f"tartare_pub_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@demo(
    "s14_bucketed_publish",
    """
    SELECT d.lang, e.label,
           count(*) AS n,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, e.label
    """,
)
def s14_bucketed_publish(spark, sf_dir):
    """Shuffle-once export: publish documents and embeddings as
    co-bucketed tables on the join key, then join them — the join is
    exchange-free (bucket-aligned SortMergeJoin; pinned with broadcast
    disabled in tests/test_operators.py). At 100 TB the export shuffle
    is paid once at write; every downstream consumer join skips it."""
    import shutil

    from tartare_spark.operators.publish import publish_bucketed, read_published

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id")
    base = os.path.join(tempfile.gettempdir(), f"tartare_bpub_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    pid = os.getpid()
    publish_bucketed(
        docs, f"docs_pub_{pid}", os.path.join(base, "docs"),
        ["doc_id"], num_buckets=8, sort_cols=["doc_id"],
    )
    publish_bucketed(
        emb, f"emb_pub_{pid}", os.path.join(base, "emb"),
        ["doc_id"], num_buckets=8, sort_cols=["doc_id"],
    )
    j = read_published(spark, f"docs_pub_{pid}").join(
        read_published(spark, f"emb_pub_{pid}"), "doc_id"
    )
    return j.groupBy("lang", "label").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


@demo(
    "s2_changelog_tail_counts",
    "SELECT event_id // 1000 AS batch_no, count(*) AS n FROM events GROUP BY 1",
)
def s2_changelog_tail_counts(spark, sf_dir):
    """Batch view of the micro-batch boundaries the stream source would
    produce (true streaming covered in tests/test_streaming.py)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("event_id") / 1000).cast("bigint").alias("batch_no")
    ).agg(F.count("*").alias("n"))


@demo(
    "s3_conditional_ingest",
    """
    WITH h AS (SELECT doc_id, md5(text) AS fp FROM documents)
    SELECT count(*) AS n_changed FROM h a
    WHERE NOT EXISTS (
      SELECT 1 FROM h b WHERE b.fp = a.fp AND b.doc_id < a.doc_id)
    """,
)
def s3_conditional_ingest(spark, sf_dir):
    """Skip-unchanged semantics: rows whose checksum was already seen
    under a smaller id are 'unchanged re-fetches' and are skipped
    [PK: tartare/core/fetcher.py md5 compare]."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    seen_earlier = docs.alias("a").join(
        docs.alias("b"),
        (F.col("b.fp") == F.col("a.fp")) & (F.col("b.doc_id") < F.col("a.doc_id")),
        "left_anti",
    )
    return seen_earlier.agg(F.count("*").alias("n_changed"))


# ======================================================================
# 2.2 projections / filters
# ======================================================================
@demo(
    "p1_project_rename",
    "SELECT n_nationkey, r_name || '_' || n_name AS prefixed_name "
    "FROM nation JOIN region ON n_regionkey = r_regionkey",
)
def p1_project_rename(spark, sf_dir):
    """ID-prefixing on merge (tartare data_prefix [PK:
    tartare/core/calendar_handler.py])."""
    nation, region = T(spark, sf_dir, "nation"), T(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(
        "n_nationkey",
        F.concat_ws("_", "r_name", "n_name").alias("prefixed_name"),
    )


@demo(
    "p2_filter_predicate",
    "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY l_returnflag",
)
def p2_filter_predicate(spark, sf_dir):
    """Pushdown demo — .explain shows PushedFilters on l_shipdate and a
    3-column ReadSchema."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


@demo(
    "p3_op_router",
    "SELECT CASE WHEN event_type = 'error' THEN 'delete' "
    "WHEN event_type = 'signup' THEN 'insert' ELSE 'update' END AS op, "
    "count(*) AS n FROM events GROUP BY 1",
)
def p3_op_router(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    return ev.groupBy(op.alias("op")).agg(F.count("*").alias("n"))


# the flagship LWW state computed over ONLY the events that pass the
# quality gate (op='delete' OR length(content) <= 13) — expectations
# exclude rows BEFORE the merge, which is observable: a key whose
# newest event is long-content regresses to its newest SHORT version,
# not to nothing
_P4_SQL = _CH_CTE + """, flt AS (
  SELECT * FROM ch WHERE op = 'delete' OR length(content) <= 13
), last AS (
  SELECT repo, path,
         arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit",
         arg_max(content, lsn) AS content,
         max(lsn) AS _lsn
  FROM flt GROUP BY repo, path
)
SELECT repo, path, "commit", content, _lsn, sha256(content) AS _content_sha
FROM last WHERE op <> 'delete'
"""


@demo("p4_expectations", _P4_SQL)
def p4_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations on the apply path (Delta Live Tables
    analog): a max-content-length constraint quarantines violating
    events BEFORE the merge, so they can never reach table state — the
    final snapshot equals an LWW replay over only the passing events
    (the oracle). Quarantined rows persist under _quarantine/ for
    triage; counts land in every batch's metrics record."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.expect import Expectation

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"tartare_demo_expect_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    replay_batches(
        spark, lake, ch, num_chunks=4,
        expectations=[
            Expectation(
                "max_content_len",
                "op = 'delete' OR length(content) <= 13",
                action="quarantine",
            )
        ],
    )
    return lake.snapshot(spark).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )


# ======================================================================
# 2.3 joins
# ======================================================================
@demo(
    "j1_merge_full_outer",
    """
    SELECT CASE WHEN o_orderkey IS NULL THEN 'customer_only'
                WHEN c_custkey IS NULL THEN 'order_only'
                ELSE 'matched' END AS presence,
           count(*) AS n
    FROM (SELECT DISTINCT o_custkey, min(o_orderkey) AS o_orderkey
          FROM orders GROUP BY o_custkey) o
    FULL OUTER JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def j1_merge_full_outer(spark, sf_dir):
    """Full-outer reconciliation (the MERGE core; the production path is
    the merge-on-read LWW in ``LakeTable.read_raw``/``compact``)."""
    orders = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    cust = T(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey, "full_outer")
    presence = (
        F.when(F.col("o_orderkey").isNull(), "customer_only")
        .when(F.col("c_custkey").isNull(), "order_only")
        .otherwise("matched")
    )
    return j.groupBy(presence.alias("presence")).agg(F.count("*").alias("n"))


@demo(
    "j2_equi_join_broadcast",
    "SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty "
    "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand",
)
def j2_equi_join_broadcast(spark, sf_dir):
    """Small-dim enrichment → broadcast hash join (tartare
    ComputeDirections config join [PK: tartare/processes/contributor/
    compute_directions.py])."""
    li, part = T(spark, sf_dir, "lineitem"), T(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


@demo(
    "j3_semi_join_affected",
    "SELECT o_orderpriority, count(*) AS n FROM orders "
    "WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') "
    "GROUP BY o_orderpriority",
)
def j3_semi_join_affected(spark, sf_dir):
    """Restrict to affected keys (tartare re-exports only affected
    coverages [PK: tartare/tasks.py automatic_update])."""
    orders, cust = T(spark, sf_dir, "orders"), T(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    return (
        orders.join(building, orders.o_custkey == building.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@demo(
    "j4_anti_join_orphans",
    "SELECT c_mktsegment, count(*) AS n FROM customer "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY c_mktsegment",
)
def j4_anti_join_orphans(spark, sf_dir):
    cust, orders = T(spark, sf_dir, "customer"), T(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


@demo(
    "j5_asof_schema_version",
    """
    WITH n AS (SELECT max(event_id) AS m FROM events),
    v AS (SELECT 1 AS version, 0 AS eff FROM n
          UNION ALL SELECT 2, m // 3 FROM n
          UNION ALL SELECT 3, 2 * m // 3 FROM n)
    SELECT (SELECT max(version) FROM v WHERE eff <= event_id) AS version,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def j5_asof_schema_version(spark, sf_dir):
    """As-of join: registry version effective at each event's LSN
    (operators/asof.py, the J5 primitive used by the registry)."""
    from tartare_spark.operators.asof import asof_join_broadcast

    ev = T(spark, sf_dir, "events").select("event_id")
    m = ev.agg(F.max("event_id")).collect()[0][0]
    versions = spark.createDataFrame(
        [(1, 0), (2, m // 3), (3, 2 * m // 3)], "version INT, eff BIGINT"
    )
    tagged = asof_join_broadcast(
        ev, versions, left_on="event_id", right_on="eff", payload=["version"]
    )
    return tagged.groupBy("version").agg(F.count("*").alias("n"))


@demo(
    "j6_interval_overlap",
    """
    WITH iv AS (SELECT o_custkey AS k, min(o_orderdate) AS s, max(o_orderdate) AS e
                FROM orders WHERE o_custkey < 80 GROUP BY o_custkey)
    SELECT a.k AS k_a, b.k AS k_b FROM iv a JOIN iv b
    ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def j6_interval_overlap(spark, sf_dir):
    """Validity-interval overlap (tartare ValidityPeriod.union
    [PK: tartare/core/validity_period_finder.py]); bounded key range —
    the scale path adds a coarse time-bucket equi key first."""
    iv = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 80)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.min("o_orderdate").alias("s"), F.max("o_orderdate").alias("e"))
    )
    a, b = iv.alias("a"), iv.alias("b")
    return a.join(
        b,
        (F.col("a.k") < F.col("b.k"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    ).select(F.col("a.k").alias("k_a"), F.col("b.k").alias("k_b"))


@demo(
    "j6b_interval_overlap_bucketed",
    """
    WITH iv AS (SELECT o_custkey AS k, min(o_orderdate) AS s, max(o_orderdate) AS e
                FROM orders WHERE o_custkey < 80 GROUP BY o_custkey)
    SELECT a.k AS k_a, b.k AS k_b FROM iv a JOIN iv b
    ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def j6b_interval_overlap_bucketed(spark, sf_dir):
    """J6 scale path (SURVEY §2.3 J6's own 'add bucket key' note): the
    SAME overlap pairs as j6_interval_overlap — same oracle — but as a
    coarse time-bucket EQUI join + range residual instead of a
    BroadcastNestedLoopJoin (operators/ranges.py; plan pinned no-BNLJ
    by scripts/explain_audit.py)."""
    from tartare_spark.operators.ranges import interval_overlap_bucketed

    iv = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 80)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.min("o_orderdate").alias("s"), F.max("o_orderdate").alias("e"))
    )
    # timestamp bounds bucket in seconds — one coarse bucket per year
    return interval_overlap_bucketed(iv, key="k", start="s", end="e",
                                     bucket_width=365 * 86400)


@demo(
    "j7_sort_merge_join",
    "SELECT o_orderstatus, count(*) AS n, sum(l_quantity) AS sum_qty "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus",
)
def j7_sort_merge_join(spark, sf_dir):
    """Large-large equi join: broadcast disabled so Catalyst picks a
    shuffled join (SMJ / AQE-switched)."""
    li = T(spark, sf_dir, "lineitem").hint("merge")
    orders = T(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


# ======================================================================
# 2.4 aggregations
# ======================================================================
@demo(
    "a1_dedup_latest_lsn",
    """
    SELECT event_type, count(*) AS n_users FROM (
      SELECT user_id, arg_max(event_type, event_id) AS event_type
      FROM events GROUP BY user_id)
    GROUP BY event_type
    """,
)
def a1_dedup_latest_lsn(spark, sf_dir):
    """Latest event per key via max_by — the production A1 operator."""
    from tartare_spark.operators.dedup import dedup_latest_lsn

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    latest = dedup_latest_lsn(ev, keys=["user_id"], order_col="event_id")
    return latest.groupBy("event_type").agg(F.count("*").alias("n_users"))


@demo(
    "a2_validity_period",
    "SELECT l_returnflag, min(l_shipdate) AS period_start, "
    "max(l_shipdate) AS period_end, count(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def a2_validity_period(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_shipdate").alias("period_start"),
        F.max("l_shipdate").alias("period_end"),
        F.count("*").alias("n"),
    )


@demo(
    "a3_salted_two_phase_agg",
    "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
)
def a3_salted_two_phase_agg(spark, sf_dir):
    """Two-phase salted count == plain count (the salt cancels out);
    the oracle is the plain form, proving equivalence."""
    from tartare_spark.operators.salt import salted_count

    ev = T(spark, sf_dir, "events")
    return salted_count(ev, key="user_id", entropy_cols=["event_id"], n_salts=16)


@demo(
    "a4_distinct_count",
    "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp FROM lineitem "
    "GROUP BY l_returnflag",
)
def a4_distinct_count(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )


@demo(
    "a4b_approx_distinct",
    # HLL sketches differ across engines, so the *assertion* is exact:
    # Spark returns the exact count plus a boolean saying its own approx
    # landed within 2%; the oracle computes the exact count and a literal
    # TRUE — every column matches bit-for-bit iff the sketch is accurate.
    "SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp_exact, "
    "TRUE AS within_2pct FROM lineitem GROUP BY l_returnflag",
)
def a4b_approx_distinct(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp_exact"),
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        "n_supp_exact",
        (
            F.abs(F.col("_approx") - F.col("n_supp_exact"))
            / F.col("n_supp_exact")
            <= 0.02
        ).alias("within_2pct"),
    )


@demo(
    "a5_rollup_job_stats",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders "
    "GROUP BY ROLLUP (o_orderstatus, o_orderpriority)",
)
def a5_rollup_job_stats(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


@demo(
    "a6_grouped_collect",
    "SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types "
    "FROM events GROUP BY user_id",
)
def a6_grouped_collect(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types")
    )


# ======================================================================
# 2.5 windows
# ======================================================================
@demo(
    "w1_rank_versions",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def w1_rank_versions(spark, sf_dir):
    from tartare_spark.operators.dedup import dedup_latest_window

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    return dedup_latest_window(ev, keys=["user_id"], order_col="event_id")


@demo(
    "w2_lag_delta",
    "SELECT user_id, event_id, round(value - lag(value) OVER "
    "(PARTITION BY user_id ORDER BY event_id), 4) AS delta FROM events",
)
def w2_lag_delta(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@demo(
    "w3_running_watermark",
    "SELECT user_id, event_id, max(event_id) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS applied_lsn FROM events",
)
def w3_running_watermark(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", F.max("event_id").over(w).alias("applied_lsn")
    )


@demo(
    "w4_moving_avg",
    "SELECT user_id, event_id, round(avg(value) OVER (PARTITION BY user_id "
    "ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg "
    "FROM events",
)
def w4_moving_avg(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-3, 0)
    return ev.select(
        "user_id", "event_id", F.round(F.avg("value").over(w), 4).alias("mov_avg")
    )


@demo(
    "w7_sessionize",
    # microsecond-exact gap test (epoch_us ↔ unix_micros) — a
    # seconds-truncated diff would disagree with the interval oracle on
    # gaps within 1s of the 6h boundary; sum(new_sess) is HUGEINT in
    # DuckDB → CAST (driver hash is type-sensitive)
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM g)
    SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
           count(*) AS n_events, min(ts) AS sess_start, max(ts) AS sess_end,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
)
def w7_sessionize(spark, sf_dir):
    """Batch sessionization with session ORDINALS [SURVEY §2.5 W7]: the
    lag+cumsum classic — a 6h-gap flag per event, a running sum turns
    flags into per-user session indexes, then one aggregate per
    session. Complements t4 (streaming session_window COUNTS): this
    emits the sessions themselves, joinable back to events by
    (user_id, session_idx).

    Scale shape: the two window functions share one (user_id) shuffle +
    sort, and the per-session groupBy is EXCHANGE-FREE after it —
    HashPartitioning(user_id) satisfies the (user_id, session_idx)
    clustering (subset rule), so the whole operator is one shuffle."""
    from tartare_spark.operators.sessions import session_rollup

    ev = T(spark, sf_dir, "events")
    roll = session_rollup(
        ev,
        "user_id",
        "ts",
        gap_seconds=6 * 3600,
        order_cols=["ts", "event_id"],
        agg={"value": "sum"},
    )
    return roll.select(
        "user_id",
        "session_idx",
        "n_events",
        "sess_start",
        "sess_end",
        F.round("sum_value", 4).alias("sum_value"),
    )


# ======================================================================
# 2.6 sorts / top-k
# ======================================================================
@demo(
    "o1_topk_hot_repos",
    "SELECT user_id, count(*) AS n FROM events GROUP BY user_id "
    "ORDER BY n DESC, user_id ASC LIMIT 10",
)
def o1_topk_hot_repos(spark, sf_dir):
    from tartare_spark.operators.salt import topk_hot_keys

    return topk_hot_keys(T(spark, sf_dir, "events"), key="user_id", k=10)


@demo(
    "o2_ordered_export",
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_name",
)
def o2_ordered_export(spark, sf_dir):
    return T(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


@demo(
    "o3_global_rank",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS rank
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def o3_global_rank(spark, sf_dir):
    """Exact global ranking WITHOUT a single-partition window (the
    naive ``row_number() OVER (ORDER BY …)`` moves the whole table to
    one task): order-monotone coarse buckets + a driver-side prefix sum
    of per-bucket counts + a bucket-partitioned window. One shuffle,
    every stage parallel; the oracle is the naive global window."""
    from tartare_spark.operators.sort import global_rank

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    ranked = global_rank(
        orders,
        bucket=F.floor(F.col("o_totalprice") / 10000),
        order_cols=["o_totalprice", "o_orderkey"],
    )
    return ranked.select("o_orderkey", "o_totalprice", "rank")


@demo(
    "o4_global_ntile",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS tile
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def o4_global_ntile(spark, sf_dir):
    """Exact global NTILE(10) percentile bucketing WITHOUT a
    single-partition window [SURVEY §2.6 O4]: the tile is a pure
    arithmetic function of the two-phase global rank, and the total
    row count rides the same per-bucket count pass — no extra job.
    The oracle is the naive global-window NTILE."""
    from tartare_spark.operators.sort import global_ntile

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    tiled = global_ntile(
        orders,
        bucket=F.floor(F.col("o_totalprice") / 10000),
        order_cols=["o_totalprice", "o_orderkey"],
        n=10,
    )
    return tiled.select("o_orderkey", "o_totalprice", "tile")


# ======================================================================
# 2.7 set ops
# ======================================================================
@demo(
    "u1_union_feeds",
    """
    SELECT o_orderpriority, count(*) AS n FROM (
      SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
    ) GROUP BY o_orderpriority
    """,
)
def u1_union_feeds(spark, sf_dir):
    """unionByName with missing columns (tartare merges contributor
    exports with differing files [PK: tartare/tasks.py coverage_export])."""
    orders = T(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select("o_orderkey")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


@demo(
    "u2_state_diff",
    """
    SELECT count(*) AS n_diffs FROM (
      SELECT * FROM lineitem EXCEPT ALL SELECT * FROM lineitem)
    """,
)
def u2_state_diff(spark, sf_dir):
    """exceptAll both-ways is the judge-invariant harness (used in
    tests/test_replay_batch.py against the referee)."""
    li = T(spark, sf_dir, "lineitem")
    return li.exceptAll(li).agg(F.count("*").alias("n_diffs"))


@demo(
    "u3_common_keys",
    """
    SELECT count(*) AS n_common FROM (
      SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    """,
)
def u3_common_keys(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    early = orders.filter(F.col("o_orderdate") < "1997-01-01").select("o_custkey")
    late = orders.filter(F.col("o_orderdate") >= "1997-01-01").select("o_custkey")
    return early.intersect(late).agg(F.count("*").alias("n_common"))


# ======================================================================
# 2.8 scalar functions
# ======================================================================
@demo(
    "f1_string_normalize",
    "SELECT c_custkey, regexp_replace(lower(trim(c_name)), '\\s+', ' ', 'g') AS norm_name "
    "FROM customer WHERE c_custkey < 100",
)
def f1_string_normalize(spark, sf_dir):
    from tartare_spark.functions import string_normalize

    cust = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return cust.select("c_custkey", string_normalize("c_name").alias("norm_name"))


@demo(
    "f2_lang_tag",
    """
    SELECT doc_id,
           CASE regexp_extract('f_' || CAST(doc_id AS VARCHAR) || '.' ||
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'py' WHEN 1 THEN 'rs' ELSE 'md' END,
                '\\.([a-z0-9]+)$', 1)
             WHEN 'py' THEN 'python' WHEN 'rs' THEN 'rust' WHEN 'ts' THEN 'typescript'
             WHEN 'go' THEN 'go' WHEN 'java' THEN 'java' WHEN 'md' THEN 'markdown'
             WHEN 'toml' THEN 'toml' END AS lang_tag
    FROM documents
    """,
)
def f2_lang_tag(spark, sf_dir):
    from tartare_spark.functions import lang_tag

    docs = T(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("f_"),
        F.col("doc_id").cast("string"),
        F.lit("."),
        F.when(F.col("doc_id") % 3 == 0, "py")
        .when(F.col("doc_id") % 3 == 1, "rs")
        .otherwise("md"),
    )
    return docs.select("doc_id", lang_tag(path).alias("lang_tag"))


@demo(
    "f3_date_arith",
    "SELECT o_orderkey, date_diff('day', TIMESTAMP '1995-01-01', "
    "least(greatest(o_orderdate, TIMESTAMP '1995-01-01'), TIMESTAMP '1996-12-31')) "
    "AS capped_days FROM orders WHERE o_orderkey < 1000",
)
def f3_date_arith(spark, sf_dir):
    from tartare_spark.functions import cap_date

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    capped = cap_date(
        "o_orderdate",
        F.to_timestamp(F.lit("1995-01-01")).cast("timestamp"),
        F.to_timestamp(F.lit("1996-12-31")),
    )
    return orders.select(
        "o_orderkey",
        F.datediff(capped, F.to_timestamp(F.lit("1995-01-01"))).cast("long").alias(
            "capped_days"
        ),
    )


@demo(
    "f4_hash_invariant",
    "SELECT doc_id, sha256(text) AS sha, md5(text) AS m FROM documents",
)
def f4_hash_invariant(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.sha2("text", 256).alias("sha"), F.md5("text").alias("m")
    )


@demo(
    "f5_json_settings",
    "SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
    "AS BIGINT) AS sum_k FROM events GROUP BY event_type",
)
def f5_json_settings(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
    )


@demo(
    "f6_array_map_ops",
    "SELECT vec_id, len(embedding) AS dim, "
    "round(CAST(embedding[1] AS DOUBLE), 4) AS first_val, "
    "round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) "
    "AS sum_val FROM embeddings",
)
def f6_array_map_ops(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 4).alias("first_val"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("sum_val"),
    )


# ======================================================================
# 2.9 streaming analogs (true streaming: tests/test_streaming.py)
# ======================================================================
@demo(
    "t3_tumbling_metrics",
    "SELECT date_trunc('minute', ts) AS w_start, count(*) AS n_events "
    "FROM events GROUP BY 1",
)
def t3_tumbling_metrics(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(F.window("ts", "1 minute").alias("w")).agg(
        F.count("*").alias("n_events")
    ).select(F.col("w.start").alias("w_start"), "n_events")


@demo(
    "t4_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts,
             -- >= : Spark's session_window spans [t, t+gap), so an event
             -- EXACTLY gap later starts a new session
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  >= INTERVAL 30 MINUTE THEN 1
                  WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
                  ELSE 0 END AS new_sess
      FROM events)
    SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def t4_session_windows(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("cnt"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )


# ======================================================================
# 2.10 vectorized UDF surface
# ======================================================================
@demo(
    "d1_pandas_scalar_udf",
    "SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(text, "
    "'\\r\\n', chr(10), 'g'), '\\t', '    ', 'g'), ' +\\n', chr(10), 'g')) AS norm_text "
    "FROM documents",
)
def d1_pandas_scalar_udf(spark, sf_dir):
    from tartare_spark.operators.text import normalize_content

    docs = T(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_content("text").alias("norm_text"))


@demo(
    "d2_pandas_grouped_agg",
    """
    SELECT event_type,
           round(sum(value * CAST(json_extract_string(props, '$.k') AS DOUBLE)) /
                 sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS wmean
    FROM events GROUP BY event_type
    """,
)
def d2_pandas_grouped_agg(spark, sf_dir):
    from tartare_spark.functions.udafs import weighted_mean

    ev = T(spark, sf_dir, "events").withColumn(
        "w", F.get_json_object("props", "$.k").cast("double")
    )
    return ev.groupBy("event_type").agg(
        F.round(weighted_mean(F.col("value"), F.col("w")), 6).alias("wmean")
    )


@demo(
    "d3_apply_in_pandas",
    """
    SELECT user_id, event_id,
           round((value - avg(value) OVER (PARTITION BY user_id)) /
                 stddev_samp(value) OVER (PARTITION BY user_id), 4) AS z
    FROM events
    """,
)
def d3_apply_in_pandas(spark, sf_dir):
    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def zscore(pdf):
        v = pdf["value"]
        pdf = pdf.assign(z=((v - v.mean()) / v.std(ddof=1)).round(4))
        return pdf[["user_id", "event_id", "z"]]

    return ev.groupBy("user_id").applyInPandas(
        zscore, "user_id long, event_id long, z double"
    )


@demo(
    "d4_udtf_diff_explode",
    """
    SELECT event_id, unnest(generate_series(1,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 + 1)) AS i
    FROM events WHERE event_id < 1000
    """,
)
def d4_udtf_diff_explode(spark, sf_dir):
    """Composite payload → one row per element; explode stays vectorized
    (preferred over a Python UDTF, SURVEY §2 D4)."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    n = F.get_json_object("props", "$.k").cast("long") % 3 + 1
    return ev.select(
        "event_id", F.explode(F.sequence(F.lit(1).cast("long"), n)).alias("i")
    )


# ======================================================================
# 2.11 schema evolution
# ======================================================================
@demo(
    "e1_evolve_add_column",
    "SELECT n_nationkey, n_name, CASE WHEN n_regionkey = 0 THEN 'AFR' "
    "WHEN n_regionkey = 1 THEN 'AME' WHEN n_regionkey = 2 THEN 'ASI' "
    "WHEN n_regionkey = 3 THEN 'EUR' ELSE 'MEA' END AS region_code FROM nation",
)
def e1_evolve_add_column(spark, sf_dir):
    from tartare_spark.registry import SchemaRegistry

    reg = SchemaRegistry(
        [
            {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
             "renamed_from": None, "default_expr": None},
            {"version": 2, "effective_lsn": 5, "action": "add", "column": "region_code",
             "renamed_from": None,
             "default_expr": "CASE WHEN n_regionkey = 0 THEN 'AFR' "
             "WHEN n_regionkey = 1 THEN 'AME' WHEN n_regionkey = 2 THEN 'ASI' "
             "WHEN n_regionkey = 3 THEN 'EUR' ELSE 'MEA' END"},
        ]
    )
    nation = T(spark, sf_dir, "nation")
    return reg.apply_read(nation, watermark=10).select(
        "n_nationkey", "n_name", "region_code"
    )


@demo(
    "e4_evolve_drop_column",
    "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
)
def e4_evolve_drop_column(spark, sf_dir):
    """Metadata-only drop: the physical column survives in the files
    (time travel to a watermark below the drop's effective LSN still
    sees s_acctbal); snapshots at/after it stop projecting it."""
    from tartare_spark.registry import SchemaRegistry

    reg = SchemaRegistry(
        [
            {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
             "renamed_from": None, "default_expr": None},
            {"version": 2, "effective_lsn": 7, "action": "drop",
             "column": "s_acctbal", "renamed_from": None, "default_expr": None},
        ]
    )
    supplier = T(spark, sf_dir, "supplier")
    out = reg.apply_read(supplier, watermark=10)
    assert "s_acctbal" not in out.columns
    # time travel below the drop's effective LSN keeps the column
    assert "s_acctbal" in reg.apply_read(supplier, watermark=5).columns
    return out


@demo(
    "e5_evolve_widen_column",
    "SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey "
    "FROM nation",
)
def e5_evolve_widen_column(spark, sf_dir):
    """E5 metadata-only type widening (Iceberg parity: int -> long):
    physical files keep int32 n_regionkey forever; snapshots at/after
    the widen's effective LSN read it CAST to bigint. The driver's
    value hash is type-sensitive, so the oracle's CAST AS BIGINT pins
    that the widening actually happened."""
    from tartare_spark.registry import SchemaRegistry

    reg = SchemaRegistry(
        [
            {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
             "renamed_from": None, "default_expr": None},
            {"version": 2, "effective_lsn": 5, "action": "widen",
             "column": "n_regionkey", "renamed_from": None,
             "default_expr": None, "target_type": "bigint"},
        ]
    )
    nation = T(spark, sf_dir, "nation")
    out = reg.apply_read(nation, watermark=10)
    assert dict(out.dtypes)["n_regionkey"] == "bigint"
    # time travel below the widen's effective LSN keeps the narrow type
    assert dict(reg.apply_read(nation, watermark=2).dtypes)["n_regionkey"] == "int"
    return out.select("n_nationkey", "n_name", "n_regionkey")


@demo(
    "e2_evolve_rename_column",
    "SELECT r_regionkey, r_name AS region_name FROM region",
)
def e2_evolve_rename_column(spark, sf_dir):
    from tartare_spark.registry import SchemaRegistry

    reg = SchemaRegistry(
        [
            {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
             "renamed_from": None, "default_expr": None},
            {"version": 2, "effective_lsn": 5, "action": "rename",
             "column": "region_name", "renamed_from": "r_name", "default_expr": None},
        ]
    )
    region = T(spark, sf_dir, "region")
    return reg.apply_read(region, watermark=10).select("r_regionkey", "region_name")


@demo(
    "e3_registry_merge",
    """
    WITH n AS (SELECT max(event_id) AS m FROM events),
    v AS (SELECT 1 AS version, 0 AS eff FROM n
          UNION ALL SELECT 2, m // 3 FROM n
          UNION ALL SELECT 3, 2 * m // 3 FROM n)
    SELECT (SELECT max(version) FROM v WHERE eff <= event_id) AS version,
           CASE WHEN (SELECT max(version) FROM v WHERE eff <= event_id) >= 2
                THEN 'tagged' ELSE 'untagged' END AS tag,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def e3_registry_merge(spark, sf_dir):
    """J5 as-of + E1 add composition: events tagged with their effective
    schema version and the version-gated derived column."""
    from tartare_spark.operators.asof import asof_join_broadcast

    ev = T(spark, sf_dir, "events").select("event_id")
    m = ev.agg(F.max("event_id")).collect()[0][0]
    versions = spark.createDataFrame(
        [(1, 0), (2, m // 3), (3, 2 * m // 3)], "version INT, eff BIGINT"
    )
    tagged = asof_join_broadcast(
        ev, versions, left_on="event_id", right_on="eff", payload=["version"]
    )
    return tagged.select(
        "version",
        F.when(F.col("version") >= 2, "tagged").otherwise("untagged").alias("tag"),
        "event_id",
    ).groupBy("version", "tag").agg(F.count("*").alias("n"))


# ======================================================================
# Training-data pipeline ops (task brief): dedup / similarity / text /
# multimodal — first-class components alongside SURVEY §2.
# ======================================================================
_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@demo(
    "dd1_exact_dedup",
    f"""
    SELECT md5({_NORM_SQL}) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id
    FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
)
def dd1_exact_dedup(spark, sf_dir):
    from tartare_spark.operators.dedup_docs import exact_dedup_groups

    return exact_dedup_groups(T(spark, sf_dir, "documents"))


def _minhash_bands_sql(where: str) -> str:
    # same pinned affine family as operators/dedup_docs.py — bit parity;
    # parameterized on the docs filter so both the self-join (dd2) and
    # the incremental corpus-vs-batch join (dd8) share the CTE chain
    from tartare_spark.operators.dedup_docs import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_MOD,
    )

    sig_terms = ",\n          ".join(
        f"list_min([({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_MOD} for h in hs])"
        for i in range(12)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents WHERE {where}
), toks AS (
  SELECT doc_id, norm, regexp_split_to_array(norm, ' ') AS t FROM docs
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)])
              ELSE [norm] END AS shingles
  FROM toks
), hs AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hs
  FROM sh
), sig AS (
  SELECT doc_id,
         [{sig_terms}] AS sig
  FROM hs
), bands AS (
  SELECT doc_id, b, CAST(sig[b+1] AS VARCHAR) AS bkey
  FROM sig, (SELECT unnest(generate_series(0, 11)) AS b)
)
"""


_MINHASH_SQL = _minhash_bands_sql("doc_id % 5 = 0") + """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


@demo("dd2_minhash_lsh", _MINHASH_SQL)
def dd2_minhash_lsh(spark, sf_dir):
    from tartare_spark.operators.dedup_docs import lsh_candidates

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return lsh_candidates(docs, k=12, bands=12, shingle_n=3)


_DD8_SQL = _minhash_bands_sql("doc_id % 10 = 0 OR doc_id % 10 = 5") + """
SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS idx_id
FROM bands n JOIN bands c
  ON n.b = c.b AND n.bkey = c.bkey
WHERE n.doc_id % 10 = 5 AND c.doc_id % 10 = 0
"""


@demo("dd8_incremental_dedup", _DD8_SQL)
def dd8_incremental_dedup(spark, sf_dir):
    """Incremental dedup, the shape a continuously-ingesting pipeline
    runs: the corpus's MinHash band rows are persisted ONCE
    (build_minhash_index); each arriving batch hashes only itself and
    equi-joins the index — per-ingest cost O(batch), never O(corpus).
    Same hash family as dd2, so the oracle derives both sides'
    signatures and joins them."""
    import tempfile

    from tartare_spark.operators.dedup_docs import (
        build_minhash_index,
        query_minhash_index,
    )

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 == 5)
    idx = tempfile.mkdtemp(prefix="tartare_mh_idx_")
    build_minhash_index(corpus, idx, k=12, bands=12, shingle_n=3)
    return query_minhash_index(spark, idx, batch)


_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents WHERE doc_id < 200
), h AS (
  SELECT doc_id,
         list_transform(t, x ->
           CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM toks
)
SELECT doc_id,
       CAST(list_aggregate(
         [CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
               THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
          for b in range(0, 32)], 'sum') AS BIGINT) AS simhash
FROM h
"""


@demo("dd3_simhash", _SIMHASH_SQL)
def dd3_simhash(spark, sf_dir):
    from tartare_spark.operators.dedup_docs import simhash

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash(docs, bits=32)


_SIMHASH_BANDED_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(
           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents WHERE doc_id < 200
), h AS (
  SELECT doc_id,
         list_transform(t, x ->
           CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM toks
), sig AS (
  SELECT doc_id,
         CAST(list_aggregate(
           [CASE WHEN 2 * len(list_filter(hs, v -> (v >> b) & 1 = 1)) > len(hs)
                 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END
            for b in range(0, 32)], 'sum') AS BIGINT) AS simhash
  FROM h
), bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS bval
  FROM sig, range(0, 4) t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                  a.simhash AS sa, c.simhash AS sb
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@demo("dd6_simhash_banded", _SIMHASH_BANDED_SQL)
def dd6_simhash_banded(spark, sf_dir):
    """Hamming ≤ 3 near-dup search: 4 pigeonhole bands of the 32-bit
    simhash, equi-join on any matching band, bit_count(xor) verify."""
    from tartare_spark.operators.dedup_docs import simhash_near_dups_banded

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_near_dups_banded(docs, bits=32, r=3)


# dd6's candidate pairs + a recursive transitive closure: cluster id =
# min doc id reachable through the near-dup graph. The engine computes
# the same thing distributively (label propagation + pointer jumping);
# the oracle brute-forces reachability, which only a bounded sample
# can afford — exactly why the distributed form exists.
_DUP_CLUSTERS_SQL = _SIMHASH_BANDED_SQL.replace("WITH toks", "WITH RECURSIVE toks").replace(
    """)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
""",
    """), pairs AS (
  SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
""",
)


@demo("dd7_dup_clusters", _DUP_CLUSTERS_SQL)
def dd7_dup_clusters(spark, sf_dir):
    """Duplicate GROUPS, not pairs: connected components over the dd6
    banded-simhash candidate graph (near-duplication is transitive —
    chains A≈B≈C must dedup as one group)."""
    from tartare_spark.operators.dedup_docs import (
        dup_clusters,
        simhash_near_dups_banded,
    )

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = simhash_near_dups_banded(docs, bits=32, r=3)
    return dup_clusters(pairs)


_JACCARD_SQL = """
WITH docs AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id % 5 = 0
), toks AS (
  SELECT doc_id, norm, regexp_split_to_array(norm, ' ') AS t FROM docs
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)])
              ELSE [norm] END AS shingles
  FROM toks
), ex0 AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), dfq AS (
  SELECT s, count(*) AS df FROM ex0 GROUP BY s
), ex AS (
  -- DF cap: shingles in more than 20 docs are boilerplate; dropping
  -- them BEFORE the self-join keeps the join from going quadratic
  SELECT ex0.doc_id, ex0.s FROM ex0 JOIN dfq USING (s) WHERE dfq.df <= 20
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.02
"""


@demo(
    "dd9_decontaminate",
    # same shingle CTE as dd4, split into train (id ≥ 10) vs a tiny
    # benchmark set (id < 10); a pair is contaminated at ≥ 2 shared
    # distinct trigrams
    """
    WITH docs AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ), toks AS (
      SELECT doc_id, norm, regexp_split_to_array(norm, ' ') AS t FROM docs
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                      for i in range(1, len(t) - 1)])
                  ELSE [norm] END AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ), tr AS (
      SELECT * FROM ex WHERE doc_id >= 10
    ), be AS (
      SELECT * FROM ex WHERE doc_id < 10
    )
    SELECT tr.doc_id AS train_id, be.doc_id AS bench_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM tr JOIN be USING (s)
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def dd9_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing ≥2 distinct
    trigram shingles with any benchmark doc. The benchmark side is
    broadcast (eval sets are tiny vs a 100 TB corpus), so the corpus
    streams through a broadcast hash join on the shingle — no corpus
    shuffle, no all-pairs scan (plan pinned in BENCH/PLANS.md)."""
    from tartare_spark.operators.dedup_docs import contamination_report

    docs = T(spark, sf_dir, "documents")
    return contamination_report(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        shingle_n=3,
        min_overlap=2,
    )


@demo("dd4_ngram_jaccard", _JACCARD_SQL)
def dd4_ngram_jaccard(spark, sf_dir):
    from tartare_spark.operators.dedup_docs import jaccard_pairs

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return jaccard_pairs(docs, shingle_n=3, threshold=0.02, max_df=20)


def _hp_bucket_sql(col: str, n_planes: int = 4, seed: int = 42) -> str:
    """Mirror similarity.hyperplane_bucket in DuckDB: same md5-derived
    hyperplane components, same sign-bit packing, so the bucket ids (and
    therefore the candidate sets) agree bit-for-bit with Spark."""

    def comp(p: int) -> str:
        return (
            f"((CAST('0x' || substr(md5('{seed}|{p}|' || CAST(i AS VARCHAR)), 1, 8) "
            "AS BIGINT) % 2001 - 1000) / 1000.0)"
        )

    return " + ".join(
        f"CASE WHEN list_aggregate(list_transform({col}, (x, i) -> x * {comp(p)}), "
        f"'sum') >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(n_planes)
    )


def _dd5_oracle_sql(n_planes: int = 4, seed: int = 42) -> str:
    bucket = _hp_bucket_sql("v", n_planes, seed)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 300
), bkt AS (
  SELECT vec_id, v, {bucket} AS b FROM e
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_cosine_similarity(a.v, c.v), 6) AS cos
FROM bkt a JOIN bkt c ON a.b = c.b AND a.vec_id < c.vec_id
WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.25
"""


@demo("dd5_embedding_near_dup", _dd5_oracle_sql())
def dd5_embedding_near_dup(spark, sf_dir):
    """Sign-LSH-bucketed near-dup: equi-join on the hyperplane bucket,
    exact cosine within buckets — never the O(n²) all-pairs theta join."""
    from tartare_spark.operators.similarity import embedding_near_dups

    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return embedding_near_dups(emb, threshold=0.25, n_planes=4)


@demo(
    "sim1_ann_bruteforce",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, v.vec_id,
             round(list_cosine_similarity(
               list_transform(v.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(q.q_vec, x -> CAST(x AS DOUBLE))), 6) AS cos
      FROM embeddings v, q WHERE v.vec_id >= 5)
    SELECT q_id, vec_id, cos, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored) WHERE rk <= 5
    """,
)
def sim1_ann_bruteforce(spark, sf_dir):
    from tartare_spark.operators.similarity import brute_force_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 5)
    return brute_force_topk(vectors, queries, k=5)


def _sim2_oracle_sql(
    n_tables: int = 8, n_planes: int = 3, multi_probe: int = 0
) -> str:
    per_table = []
    for t in range(n_tables):
        bucket = _hp_bucket_sql("v", n_planes=n_planes, seed=42 + t)
        if multi_probe:
            probes = ", ".join(
                ["b0"] + [f"xor(b0, {1 << p})" for p in range(n_planes)]
            )
            q_side = f"""(SELECT q_id, qv, unnest([{probes}]) AS b
        FROM (SELECT vec_id AS q_id, v AS qv, {bucket} AS b0
              FROM e WHERE vec_id < 5))"""
        else:
            q_side = f"""(SELECT vec_id AS q_id, v AS qv, {bucket} AS b
        FROM e WHERE vec_id < 5)"""
        per_table.append(f"""
  SELECT qx.q_id, qx.qv, vx.vec_id, vx.v
  FROM (SELECT vec_id, v, {bucket} AS b FROM e WHERE vec_id >= 5) vx
  JOIN {q_side} qx
    ON vx.b = qx.b""")
    union = "\n  UNION ALL\n".join(per_table)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cand AS (
{union}
), dedup AS (
  SELECT DISTINCT ON (q_id, vec_id) q_id, qv, vec_id, v FROM cand
), scored AS (
  SELECT q_id, vec_id,
         round(list_cosine_similarity(v, qv), 6) AS cos
  FROM dedup
)
SELECT q_id, vec_id, cos, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored) WHERE rk <= 5
"""


@demo("sim2_ann_lsh_bucketed", _sim2_oracle_sql())
def sim2_ann_lsh_bucketed(spark, sf_dir):
    """Config chosen from the measured recall-vs-cost curve
    (BENCH/ANN.md): 8 tables x 3 planes, no multi-probe — recall@5 0.88
    at ~0.66 candidate fraction on the near-uniform sandbox embeddings
    (round 2's 2x4+probe config sat at 0.60)."""
    from tartare_spark.operators.similarity import lsh_bucketed_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 5)
    return lsh_bucketed_topk(
        vectors, queries, k=5, n_planes=3, multi_probe=0, n_tables=8
    )


@demo("sim2b_ann_lsh_persisted", _sim2_oracle_sql())
def sim2b_ann_lsh_persisted(spark, sf_dir):
    """Persisted-index variant of sim2 (the 100 TB repeated-query
    shape): the per-table bucket layout is built ONCE to disk, then the
    query scans only its |Q|·n_tables probed (t, b) partitions via
    partition pruning — instead of re-hashing the corpus once per table
    per call as the inline form does. Same hash family and parameters,
    so identical rows and the identical oracle. Pruning proven
    behaviorally in tests/test_operators.py (non-probed partitions
    corrupted, queries unaffected)."""
    import tempfile

    from tartare_spark.operators.similarity import (
        build_lsh_index,
        query_lsh_index,
    )

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 5)
    # scratch index per call: the demo contract is (spark, sf_dir) ->
    # DataFrame; the returned frame reads lazily from the index, so the
    # dir must outlive the call (driver temp cleanup reclaims it)
    idx = tempfile.mkdtemp(prefix="tartare_lsh_idx_")
    build_lsh_index(vectors, idx, n_planes=3, n_tables=8)
    return query_lsh_index(spark, idx, queries, k=5)


@demo(
    "mm1_blob_metadata",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
    "lower(hex(encode(substr(text, 1, 4)))) AS magic, 'text/plain' AS kind "
    "FROM documents",
)
def mm1_blob_metadata(spark, sf_dir):
    """Multimodal plumbing: binary column + mapInPandas metadata kernel
    (decode kernels stubbed — operators/multimodal.py)."""
    from tartare_spark.operators.multimodal import (
        attach_binary_payload,
        extract_blob_metadata,
    )

    docs = T(spark, sf_dir, "documents")
    return extract_blob_metadata(attach_binary_payload(docs)).select(
        "doc_id", "n_bytes", "magic", "kind"
    )


# Measured 25-query curve (BENCH/ANN.md): 16 cells / 8 probes with 2
# Lloyd iterations = recall@5 0.84 @ 0.498 candidate fraction — the
# cheapest >=0.8 config, and the refinement buys +0.06 recall over raw
# md5-sample seeding at identical candidates even on this near-uniform
# corpus (on clustered corpora the win is larger:
# tests/test_operators.py::test_kmeans_beats_sampling_on_clusters).
_SIM3_N_CELLS = 16
_SIM3_N_PROBE = 8
_SIM3_N_ITERS = 2


def _ivf_cents_sql(
    n_cells: int, n_iters: int = 2, seed: int = 42,
    prefix: str = "", src: str = "vecs",
) -> str:
    """The DuckDB mirror of kmeans_centroids (similarity.py): a CTE
    chain over ``src(vec_id, v)`` ending in ``{prefix}cents(cell, cv)``.
    Seeding orders by md5(seed|id); each Lloyd iteration assigns by
    rounded-cosine argmax (ties by cell) and recomputes means with the
    SAME canonical-order fold Spark uses (members sorted by id, summed
    left-to-right in doubles) so centroids come out bit-identical.
    ``prefix``/``src`` let one query train several independent codebooks
    (exercised by tests/test_operators.py::test_pq_codebooks_match_duckdb,
    which mirrors pq_topk's per-subspace codebooks cross-engine)."""
    key = f"md5(CAST({seed} AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR))"
    p = prefix
    parts = [f"""{p}cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY {key} ASC, vec_id ASC) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT * FROM {src} ORDER BY {key} ASC, vec_id ASC LIMIT {n_cells})
)"""]
    for i in range(n_iters):
        parts.append(f"""{p}ka{i} AS (
  SELECT vec_id, v, cell FROM (
    SELECT {src}.vec_id, {src}.v, c.cell,
           row_number() OVER (PARTITION BY {src}.vec_id
             ORDER BY round(list_cosine_similarity({src}.v, c.cv), 6) DESC,
                      c.cell ASC) AS r
    FROM {src}, {p}cents{i} c) WHERE r <= 1
)""")
        parts.append(f"""{p}km{i} AS (
  SELECT cell, list_transform(
    list_reduce(
      list_prepend(list_transform(vlist[1], x -> CAST(0.0 AS DOUBLE)), vlist),
      (acc, x) -> list_transform(acc, (a, j) -> a + x[j])
    ), s -> s / n) AS cv
  FROM (SELECT cell, list(v ORDER BY vec_id ASC) AS vlist, COUNT(*) AS n
        FROM {p}ka{i} GROUP BY cell)
)""")
        parts.append(f"""{p}cents{i + 1} AS (
  SELECT c.cell, COALESCE(m.cv, c.cv) AS cv
  FROM {p}cents{i} c LEFT JOIN {p}km{i} m ON c.cell = m.cell
)""")
    parts.append(f"{p}cents AS (SELECT * FROM {p}cents{n_iters})")
    return ", ".join(parts)


_SIM3_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), vecs AS (
  SELECT * FROM e WHERE vec_id >= 5
), qs AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5
), {_ivf_cents_sql(_SIM3_N_CELLS, n_iters=_SIM3_N_ITERS)}, vassign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vecs.vec_id, vecs.v, cents.cell,
           row_number() OVER (PARTITION BY vecs.vec_id
             ORDER BY round(list_cosine_similarity(vecs.v, cents.cv), 6) DESC,
                      cents.cell ASC) AS r
    FROM vecs, cents) WHERE r <= 1
), qassign AS (
  SELECT q_id, qv, cell FROM (
    SELECT qs.q_id, qs.qv, cents.cell,
           row_number() OVER (PARTITION BY qs.q_id
             ORDER BY round(list_cosine_similarity(qs.qv, cents.cv), 6) DESC,
                      cents.cell ASC) AS r
    FROM qs, cents) WHERE r <= {_SIM3_N_PROBE}
), scored AS (
  SELECT q.q_id, v.vec_id,
         round(list_cosine_similarity(v.v, q.qv), 6) AS cos
  FROM vassign v JOIN qassign q ON v.cell = q.cell
)
SELECT q_id, vec_id, cos, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored) WHERE rk <= 5
"""


@demo("sim3_ann_ivf", _SIM3_SQL)
def sim3_ann_ivf(spark, sf_dir):
    """IVF inverted-file ANN — the partition-pruned scale path named in
    the task brief (centroid assign -> probe n closest cells)."""
    from tartare_spark.operators.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 5)
    # config from the measured recall-vs-cost curve (BENCH/ANN.md):
    # see the _SIM3_* constants above
    return ivf_topk(vectors, queries, k=5, n_cells=_SIM3_N_CELLS,
                    n_probe=_SIM3_N_PROBE, n_iters=_SIM3_N_ITERS)


@demo(
    "mm2_resize_blob",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes_in, "
    "CAST(least(octet_length(encode(text)), 4096) AS BIGINT) AS n_bytes_out "
    "FROM documents",
)
def mm2_resize_blob(spark, sf_dir):
    """Multimodal resize plumbing (deterministic fake kernel — real
    decode+resize swaps one line; operators/multimodal.py)."""
    from tartare_spark.operators.multimodal import attach_binary_payload, resize_blob

    docs = T(spark, sf_dir, "documents")
    return resize_blob(attach_binary_payload(docs), target_bytes=4096).select(
        "doc_id", "n_bytes_in", "n_bytes_out"
    )


_MM3_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx FROM documents
), n AS (
  SELECT doc_id, len(hx) // 2 AS nb,
         [substr(hx, i, 1) for i in range(1, len(hx) + 1, 2)] AS nibs
  FROM h
)
SELECT doc_id,
       CASE WHEN nb = 0 THEN [CAST(0.0 AS FLOAT) for b in range(0, 16)]
            ELSE [CAST(len(list_filter(nibs, x -> x = hex(b))) / nb AS FLOAT)
                  for b in range(0, 16)]
       END AS features
FROM n
"""


@demo("mm3_feature_extract", _MM3_SQL)
def mm3_feature_extract(spark, sf_dir):
    """Multimodal feature extraction (deterministic fake: L1-normalized
    byte histogram as array<float> — the CNN-embedding batch contract)."""
    from tartare_spark.operators.multimodal import attach_binary_payload, extract_features

    docs = T(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs), n_bins=16)


_STOP_IN = "('the','a','and','of','to','in','is','it','for','on')"
_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_LTOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


@demo(
    "tx1_document_stats",
    f"""
    WITH base AS (
      SELECT doc_id, text,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_LTOKS}, x -> x IN {_STOP_IN})) AS n_stop,
             greatest(len({_TOKS}), 1) AS n_tok_g,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) AS n_punct,
             greatest(length(text), 1) AS len_g,
             list_aggregate(list_transform(
               regexp_split_to_array(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
               x -> length(x)), 'sum') AS alnum_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round((alnum_chars + 3) / 4, 2) AS n_bpe_tokens,
           round(n_stop / n_tok_g, 6) AS stop_ratio,
           round(least(n_tokens / 50.0, 1.0)
                 * (1.0 - least(n_punct / len_g * 5, 1.0))
                 * (CASE WHEN n_stop / n_tok_g > 0.02 THEN 1.0 ELSE 0.5 END), 6) AS quality,
           CASE WHEN n_stop / n_tok_g > 0.02 THEN 'en' ELSE 'other' END AS lang_pred,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM base
    """,
)
def tx1_document_stats(spark, sf_dir):
    from tartare_spark.operators.text import document_stats

    return document_stats(T(spark, sf_dir, "documents"))


@demo(
    "tx2_vocab_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    )
    SELECT tok, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
    FROM toks WHERE tok <> ''
    GROUP BY tok ORDER BY n_total DESC, tok ASC LIMIT 50
    """,
)
def tx2_vocab_topk(spark, sf_dir):
    """Corpus vocabulary build: top-k tokens by total and doc frequency."""
    from tartare_spark.operators.text import vocab_topk

    return vocab_topk(T(spark, sf_dir, "documents"), k=50)


@demo(
    "tx3_corpus_quality_report",
    f"""
    WITH base AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             len({_TOKS}) AS n_tok,
             round(least(len({_TOKS}) / 50.0, 1.0)
               * (1.0 - least((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                              / greatest(length(text), 1) * 5, 1.0))
               * (CASE WHEN len(list_filter({_LTOKS}, x -> x IN {_STOP_IN}))
                            / greatest(len({_TOKS}), 1) > 0.02
                       THEN 1.0 ELSE 0.5 END), 6) AS q
      FROM documents
    )
    SELECT count(*) AS n_docs,
           count(DISTINCT fp) AS n_unique,
           round(1.0 - count(DISTINCT fp) / count(*), 6) AS dup_rate,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(q), 4) AS mean_quality,
           round(min(q), 4) AS min_quality
    FROM base
    """,
)
def tx3_corpus_quality_report(spark, sf_dir):
    """Pre-training corpus health: volume, exact-dup rate, quality stats."""
    from tartare_spark.operators.text import corpus_quality_report

    rep = corpus_quality_report(T(spark, sf_dir, "documents"))
    return rep.select(
        "n_docs", "n_unique", "dup_rate", "total_tokens",
        F.round("mean_quality", 4).alias("mean_quality"),
        F.round("min_quality", 4).alias("min_quality"),
    )


@demo(
    "tx4_rolling_fingerprint",
    # mirror operators/text.rolling_fingerprint: fold h*131 + md5_32(tok)
    # mod 2^31-1 over the token stream (list_reduce with a prepended 0
    # init == Spark's aggregate with a 0 init; all values < 2^39 so the
    # arithmetic is exact signed-64 in both engines)
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(t, x ->
                 CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 2147483647) AS roll_fp
    FROM toks
    """,
)
def tx4_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive polynomial rolling-hash fingerprint per document
    (distinguishes permuted near-identical docs; the chunk/window variant
    rolls the same recurrence). Zero shuffle, zero Python."""
    from tartare_spark.operators.text import rolling_fingerprint

    docs = T(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint(F.col("text")).alias("roll_fp"))


@demo(
    "tx5_chunk_fingerprints",
    # mirror operators/text.chunk_fingerprints: 16-token windows every 8
    # tokens, rolling hash per window (list_reduce with prepended 0 ==
    # Spark aggregate with 0 init; DuckDB range() is stop-exclusive)
    """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_transform(tk, x ->
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
      FROM t
    ), w AS (
      SELECT doc_id,
             unnest([{'win': CAST((i - 1) // 8 AS INT),
                      'fp': list_reduce(
                              list_prepend(CAST(0 AS BIGINT), hs[i:i+15]),
                              (acc, x) -> (acc * 131 + x) % 2147483647)}
                     for i in range(1, greatest(len(hs) - 15, 1) + 1, 8)]) AS c
      FROM h
    )
    SELECT doc_id, c.win AS win, c.fp AS fp FROM w
    """,
)
def tx5_chunk_fingerprints(spark, sf_dir):
    """Passage-level rolling fingerprints (fuzzy containment detection:
    a copied passage matches on chunk fps even when doc hashes differ)."""
    from tartare_spark.operators.text import chunk_fingerprints

    docs = T(spark, sf_dir, "documents")
    return chunk_fingerprints(docs, window=16, stride=8)


@demo(
    "tx6_redact_pii",
    """
    WITH r1 AS (
      SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                          '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t1,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
             AS n_ips
    FROM r1
    """,
)
def tx6_redact_pii(spark, sf_dir):
    """Training-data hygiene: tag-out emails/IPv4s + per-doc counts —
    codegen'd regexp, zero shuffle."""
    from tartare_spark.operators.text import redact_pii

    docs = T(spark, sf_dir, "documents")
    return redact_pii(docs)


_CHANGES_SQL = """
WITH ch AS (
  SELECT event_id + 1 AS lsn,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS op,
         'repo_' || CAST(user_id % 8 AS VARCHAR) AS repo,
         'u/' || CAST(user_id AS VARCHAR) AS path,
         substr(md5(event_type || CAST(event_id AS VARCHAR)), 1, 12) AS "commit",
         CASE WHEN event_type = 'error' THEN ''
              ELSE props || '|' || CAST(event_id AS VARCHAR) END AS content
  FROM events
), b AS (
  SELECT min(lsn) AS lo, max(lsn) AS hi FROM ch
), parts AS (
  SELECT ch.*,
         CAST(floor((lsn - b.lo) / ((b.hi - b.lo + 1 + 3) // 4)) AS INT) AS chunk
  FROM ch, b
), last AS (
  SELECT chunk, repo, path,
         arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit",
         arg_max(content, lsn) AS content,
         max(lsn) AS _lsn
  FROM parts GROUP BY chunk, repo, path
)
SELECT repo, path, "commit", content, _lsn,
       op = 'delete' AS _deleted,
       sha256(content) AS _content_sha,
       CAST(chunk + 1 AS INT) AS _commit_version
FROM last WHERE chunk >= 1
"""


@demo("cdc_changes_feed", _CHANGES_SQL)
def cdc_changes_feed(spark, sf_dir):
    """Incremental change-feed read (Iceberg incremental-scan analog):
    replay the changelog in 4 LSN-range chunks, then serve every row
    committed AFTER version 1 — upserts + tombstones, tagged with the
    commit version — via a pure metadata-pruned read of the per-commit
    delta files (the table itself is never scanned)."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"tartare_feed_lake_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    replay_batches(spark, lake, ch, num_chunks=4)
    return lake.changes(spark, from_version=1).select(
        "repo", "path", "commit", "content", "_lsn", "_deleted",
        "_content_sha", "_commit_version",
    )


@demo(
    "tx7_hash_split",
    # mirror operators/text.hash_split: u = md5('42|'||id)[:8] / 2^32,
    # cumulative thresholds train 0.9 / val 0.05 / test 0.05
    """
    WITH u AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 AS u
      FROM documents
    ), tagged AS (
      SELECT doc_id, lang,
             CASE WHEN u < 0.9 THEN 'train'
                  WHEN u < 0.95 THEN 'val'
                  ELSE 'test' END AS split
      FROM u
    )
    SELECT split, lang, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS min_id
    FROM tagged GROUP BY split, lang
    """,
)
def tx7_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment: split is a pure function
    of (seed, id) — reproducible across runs/engines/orderings, unlike
    RNG sampling. Zero shuffle until the verification aggregate."""
    from tartare_spark.operators.text import hash_split

    docs = T(spark, sf_dir, "documents")
    tagged = hash_split(docs, "doc_id")
    return tagged.groupBy("split", "lang").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_id")
    )


@demo(
    "tx8_regex_tokens",
    # mirror operators/text.regex_token_stats: GPT-2-style pre-token
    # pieces from a Java/RE2-portable pattern over normalized text;
    # list_aggregate('sum') of [] is NULL in DuckDB → COALESCE, and its
    # integer sum widens to HUGEINT → CAST to BIGINT (driver hash is
    # type-sensitive)
    """
    WITH d AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ), t AS (
      SELECT doc_id,
             regexp_extract_all(norm, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +') AS tk
      FROM d
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(tk, x -> regexp_matches(x, '^ ?[a-z]+$')))
                AS BIGINT) AS n_alpha,
           CAST(len(list_filter(tk, x -> regexp_matches(x, '^ ?[0-9]+$')))
                AS BIGINT) AS n_num,
           CAST(COALESCE(list_aggregate(
                  list_transform(tk, x -> length(x)), 'sum'), 0)
                AS BIGINT) AS n_chars
    FROM t
    """,
)
def tx8_regex_tokens(spark, sf_dir):
    """Token counting the way a training pipeline budgets corpora: a
    GPT-2-style regex pre-tokenization (word / number / punctuation /
    space pieces) with per-category counts. Pure codegen'd regex +
    higher-order array ops, zero shuffle, zero Python."""
    from tartare_spark.operators.text import regex_token_stats

    return regex_token_stats(T(spark, sf_dir, "documents"))


# mirror of sampling.hash_u / hash_shard: first 8 md5 hex digits of
# "{salt}{seed}|{id}" — the same generator tx7's oracle already proves
# portable (Spark conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT))
_SMP_U = (
    "CAST(('0x' || substr(md5('smp42|' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT) / 4294967296.0"
)
_SMP_SHARD = (
    "CAST(CAST(('0x' || substr(md5('shard42|' || CAST(doc_id AS VARCHAR)), 1, 8))"
    " AS BIGINT) % 4 AS INT)"
)


@demo(
    "tx9_stratified_sample",
    f"""
    WITH u AS (
      SELECT doc_id, lang, {_SMP_U} AS u FROM documents
    )
    SELECT doc_id, lang FROM u
    WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.05 END
    """,
)
def tx9_stratified_sample(spark, sf_dir):
    """Corpus rebalancing as a deterministic per-stratum filter: keep
    50% of English, 25% of German, 5% of everything else — the draw is
    a pure function of (seed, doc_id), so the sample is identical on
    any engine/partitioning. Zero shuffle; the predicate is codegen'd
    and scan-adjacent like any other filter."""
    from tartare_spark.operators.sampling import stratified_sample

    docs = T(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_rate=0.05
    ).select("doc_id", "lang")


@demo(
    "tx10_quota_cap",
    f"""
    WITH u AS (
      SELECT doc_id, lang, {_SMP_U} AS u FROM documents
    )
    SELECT doc_id, lang FROM u
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) <= 30
    """,
)
def tx10_quota_cap(spark, sf_dir):
    """Per-domain quota: at most 30 documents per language, chosen by
    deterministic hash order. Plans as a WindowGroupLimit — each map
    partition trims to its local top-30 BEFORE the shuffle, so a
    10^9-row hot domain ships O(cap) rows per input split, not the
    corpus (plan pinned in tests/test_operators.py)."""
    from tartare_spark.operators.sampling import quota_cap

    docs = T(spark, sf_dir, "documents")
    return quota_cap(docs, "doc_id", "lang", cap=30).select("doc_id", "lang")


@demo(
    "tx11_pack_sequences",
    # weight = whitespace token count (the proven _TOKS mirror),
    # clamped to ≥1; offsets/seq ids in exact integer arithmetic (//)
    f"""
    WITH w AS (
      SELECT doc_id,
             CAST(greatest(len({_TOKS}), 1) AS BIGINT) AS wgt,
             {_SMP_SHARD} AS shard
      FROM documents
    ), o AS (
      SELECT doc_id, shard, wgt,
             SUM(wgt) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS off_end
      FROM w
    )
    SELECT doc_id, shard,
           CAST(off_end - wgt AS BIGINT) AS off_begin,
           wgt AS weight,
           CAST((off_end - wgt) // 256 AS BIGINT) AS seq_first,
           CAST((off_end - 1) // 256 AS BIGINT) AS seq_last,
           CAST((off_end - 1) // 256 - (off_end - wgt) // 256 + 1 AS BIGINT)
             AS n_seqs
    FROM o
    """,
)
def tx11_pack_sequences(spark, sf_dir):
    """Sequence packing: concatenate documents (deterministic id order
    within 4 hash shards) into 256-token training sequences and report
    which sequences each document spans. One shuffle on the shard id;
    shards pack independently — the parallel unit at 100 TB is
    num_shards ≈ cluster cores, never a global prefix sum."""
    from tartare_spark.operators.sampling import pack_sequences
    from tartare_spark.operators.text import token_count

    docs = T(spark, sf_dir, "documents")
    weight = F.greatest(token_count(F.col("text")), F.lit(1))
    return pack_sequences(
        docs, "doc_id", weight, capacity=256, num_shards=4
    )


@demo(
    "a5b_approx_quantiles",
    # like a4b: the t-digest sketch differs across engines, so the
    # ASSERTION is exact — exact median/p90 plus a Spark-side boolean
    # that its own approx landed within 5%; oracle computes exact + TRUE
    """
    SELECT o_orderstatus,
           CAST(quantile_disc(o_totalprice, 0.5) AS DOUBLE) AS p50_exact,
           CAST(quantile_disc(o_totalprice, 0.9) AS DOUBLE) AS p90_exact,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def a5b_approx_quantiles(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("_p50x"),
        F.expr("percentile(o_totalprice, 0.9)").alias("_p90x"),
        F.percentile_approx("o_totalprice", 0.5).alias("_p50a"),
        F.percentile_approx("o_totalprice", 0.9).alias("_p90a"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").alias("p50_exact"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").alias("p90_exact"),
    )
    ok = (
        (F.abs(F.col("_p50a") - F.col("_p50x")) / F.col("_p50x") <= 0.05)
        & (F.abs(F.col("_p90a") - F.col("_p90x")) / F.col("_p90x") <= 0.05)
    )
    return agg.select(
        "o_orderstatus",
        F.col("p50_exact").cast("double").alias("p50_exact"),
        F.col("p90_exact").cast("double").alias("p90_exact"),
        ok.alias("within_5pct"),
    )


# ======================================================================
# SCD type-2 history over the change log (SURVEY §2 W5/W6)
# ======================================================================
_SCD2_V_CTE = _CH_CTE + """, v AS (
  SELECT repo, path, "commit", content, op,
         CAST(lsn AS BIGINT) AS valid_from_lsn,
         lead(CAST(lsn AS BIGINT)) OVER (
           PARTITION BY repo, path ORDER BY lsn) AS valid_to_lsn
  FROM ch
)"""

_SCD2_SQL = _SCD2_V_CTE + """
SELECT repo, path, "commit", content, valid_from_lsn, valid_to_lsn,
       (valid_to_lsn IS NULL) AS is_current
FROM v WHERE op <> 'delete'
"""


@demo("w5_scd2_history", _SCD2_SQL)
def w5_scd2_history(spark, sf_dir):
    """Type-2 history: one row per surviving VERSION of a (repo, path)
    key with its [valid_from_lsn, valid_to_lsn) currency interval —
    tartare's full per-source fetch history [SURVEY §2.4 A2] in SCD2
    form. One window shuffle; deletes close their predecessor and emit
    no row (operators/scd.py)."""
    from tartare_spark.operators.scd import scd2_history

    ch = _events_as_changelog(spark, sf_dir).drop("ts", "lang")
    return scd2_history(ch)


_SCD2_ASOF_SQL = _SCD2_V_CTE + """
SELECT repo, path, "commit", content, valid_from_lsn, valid_to_lsn
FROM v WHERE op <> 'delete'
  AND valid_from_lsn <= 5000
  AND (valid_to_lsn IS NULL OR valid_to_lsn > 5000)
"""


@demo("w6_scd2_asof", _SCD2_ASOF_SQL)
def w6_scd2_asof(spark, sf_dir):
    """Point-in-time read off the SCD2 history: the version of every
    key current just after LSN 5000 was applied — equal by construction
    to the lake state a replay stopped at 5000 would hold (tested in
    tests/test_operators.py). Pure interval filter, no shuffle beyond
    the history's own window."""
    from tartare_spark.operators.scd import scd2_asof, scd2_history

    ch = _events_as_changelog(spark, sf_dir).drop("ts", "lang")
    return scd2_asof(scd2_history(ch), lsn=5000)


# ======================================================================
# Incremental materialized view over the change feed (SURVEY §2 S10)
# ======================================================================
_MV_SQL = _CH_CTE + """, last AS (
  SELECT repo, path,
         arg_max(op, lsn) AS op,
         arg_max(content, lsn) AS content,
         max(lsn) AS _lsn
  FROM ch GROUP BY repo, path
), live AS (
  SELECT repo, path, content, _lsn FROM last WHERE op <> 'delete'
)
SELECT repo, count(*) AS n_paths, max(_lsn) AS max_lsn,
       CAST(sum(length(content)) AS BIGINT) AS total_bytes
FROM live GROUP BY repo
"""


@demo("s10_incremental_mv", _MV_SQL)
def s10_incremental_mv(spark, sf_dir):
    """Incremental MV maintenance (operators/mv.py): build a per-repo
    aggregate at the lake's mid-replay version, apply the rest of the
    log, then REFRESH — only groups touched by the change feed are
    re-aggregated and spliced in. The oracle is the full aggregate over
    the final LWW state: refresh ≡ full rebuild, at O(changed slice)
    cost (the feed read is O(changed rows); dirty groups broadcast to
    both the semi- and anti-join sides)."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.mv import build_mv, refresh_mv

    ch = _events_as_changelog(spark, sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"tartare_demo_mv_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    replay_batches(spark, lake, ch.filter(F.col("lsn") <= 5000), num_chunks=2)
    build_mv(spark, lake, os.path.join(root, "mv"))
    replay_batches(
        spark, lake, ch.filter(F.col("lsn") > 5000),
        num_chunks=2, start_batch_id=2,
    )
    return refresh_mv(spark, lake, os.path.join(root, "mv"))


# ======================================================================
# Debezium-style CDC envelope source (SURVEY §2 S11)
# ======================================================================
_S11_SQL = _CH_CTE + """
SELECT repo, op, count(*) AS n, count(DISTINCT path) AS n_paths,
       max(lsn) AS max_lsn,
       CAST(sum(CASE WHEN op <> 'delete' THEN length(content) END) AS BIGINT)
         AS content_bytes,
       min(CASE WHEN op <> 'delete' THEN "commit" END) AS first_commit
FROM ch GROUP BY repo, op
"""


@demo("s11_cdc_envelope_source", _S11_SQL)
def s11_cdc_envelope_source(spark, sf_dir):
    """Round-trip the change log through the Debezium wire format
    (operators/envelope.py): changelog → envelope JSON → parsed
    changelog, aggregated per (repo, op). The oracle computes the same
    aggregate from the raw events — equality proves the envelope
    encode/decode is lossless on every surviving field (delete rows
    carry only the before-image key, so their commit/content are null
    on the Spark side and excluded on both sides)."""
    from tartare_spark.operators.envelope import envelope_changelog, to_envelope

    ch = _events_as_changelog(spark, sf_dir)
    parsed = envelope_changelog(to_envelope(ch))
    return parsed.groupBy("repo", "op").agg(
        F.count("*").alias("n"),
        F.countDistinct("path").alias("n_paths"),
        F.max("lsn").alias("max_lsn"),
        F.sum(F.length("content")).alias("content_bytes"),
        F.min("commit").alias("first_commit"),
    )


# ======================================================================
# Round-5 training-data additions: Gopher repetition rules (tx12),
# cross-doc span dedup (dd10), SemDeDup semantic dedup (sim4)
# ======================================================================
_TX12_SQL_T = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM __DOCS__
), g AS (
  SELECT doc_id, tk,
         CAST(len(tk) AS BIGINT) AS n_tok,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(tk, x -> CAST(len(x) AS BIGINT))), (a, b) -> a + b) AS chars,
         CASE WHEN len(tk) >= 2
              THEN [tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]
              ELSE [] END AS grams
  FROM t
), topg AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
    GROUP BY doc_id, gram)
  GROUP BY doc_id
), s AS (
  SELECT g.doc_id, g.n_tok,
         round(g.chars / g.n_tok, 4) AS mean_word_len,
         round((len(g.grams) - len(list_distinct(g.grams)))
               / greatest(len(g.grams), 1)::DOUBLE, 6) AS dup_2gram_frac,
         round(COALESCE(topg.top_c, 0) / greatest(len(g.grams), 1)::DOUBLE, 6)
           AS top_2gram_frac
  FROM g LEFT JOIN topg ON g.doc_id = topg.doc_id
)
SELECT doc_id, n_tok, mean_word_len, dup_2gram_frac, top_2gram_frac,
       COALESCE(n_tok >= 20 AND dup_2gram_frac <= 0.05 AND top_2gram_frac <= 0.08
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0, false) AS keep
FROM s
"""


_TX12_SQL = _TX12_SQL_T.replace("__DOCS__", "documents")


@demo("tx12_gopher_repetition", _TX12_SQL)
def tx12_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition/quality rules (duplicate-2-gram fraction,
    top-2-gram fraction, mean word length) as a shuffle-free map pass —
    the standard pre-training repetition filter."""
    from tartare_spark.operators.text import gopher_repetition

    return gopher_repetition(T(spark, sf_dir, "documents"))


_DD10_SQL_T = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM __DOCS__
), h AS (
  SELECT doc_id,
         list_transform(tk, x ->
           CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM t
), w AS (
  SELECT doc_id,
         unnest([list_reduce(
                   list_prepend(CAST(0 AS BIGINT), hs[i:i+7]),
                   (acc, x) -> (acc * 131 + x) % 2147483647)
                 for i in range(1, greatest(len(hs) - 7, 1) + 1, 8)]) AS fp
  FROM h
), m AS (
  SELECT doc_id,
         (min(doc_id) OVER (PARTITION BY fp)
          <> max(doc_id) OVER (PARTITION BY fp)) AS cross_doc
  FROM w
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN cross_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(CAST(sum(CASE WHEN cross_doc THEN 1 ELSE 0 END) AS BIGINT)
             / count(*)::DOUBLE, 6) AS shared_frac,
       (CAST(sum(CASE WHEN cross_doc THEN 1 ELSE 0 END) AS BIGINT)
        / count(*)::DOUBLE < 0.5) AS keep
FROM m GROUP BY doc_id
"""


_DD10_SQL = _DD10_SQL_T.replace("__DOCS__", "documents")


@demo("dd10_span_dedup", _DD10_SQL)
def dd10_span_dedup(spark, sf_dir):
    """Cross-document duplicated-span accounting (RefinedWeb-style
    exact-substring dedup at 8-token span granularity): two exchanges,
    the shuffle carries (doc_id, fp) longs only — never text."""
    from tartare_spark.operators.dedup_docs import span_dedup

    return span_dedup(T(spark, sf_dir, "documents"), window=8)


_SIM4_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), vecs AS (
  SELECT * FROM e
), {{cents}}, vassign AS (
  SELECT vec_id, v, cell FROM (
    SELECT vecs.vec_id, vecs.v, cents.cell,
           row_number() OVER (PARTITION BY vecs.vec_id
             ORDER BY round(list_cosine_similarity(vecs.v, cents.cv), 6) DESC,
                      cents.cell ASC) AS r
    FROM vecs, cents) WHERE r <= 1
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(a.v, b.v), 6) AS cos
  FROM vassign a JOIN vassign b ON a.cell = b.cell AND a.vec_id > b.vec_id
), hits AS (
  SELECT a_id, min(b_id) AS dup_of, max(cos) AS max_cos
  FROM pairs WHERE cos >= 0.3 GROUP BY a_id
)
SELECT v.vec_id, v.cell, (h.dup_of IS NULL) AS keep, h.dup_of, h.max_cos
FROM vassign v LEFT JOIN hits h ON v.vec_id = h.a_id
"""


@demo("sim4_semantic_dedup",
      _SIM4_SQL.format(cents=_ivf_cents_sql(16, n_iters=2)))
def sim4_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: k-means cells bound the
    pair comparison to sum-over-cells O(c^2) — never all-pairs, never
    a cartesian product (plan-pinned)."""
    from tartare_spark.operators.similarity import semantic_dedup

    return semantic_dedup(T(spark, sf_dir, "embeddings"), threshold=0.3,
                          n_cells=16, n_iters=2)


_TX13_SQL_T = """
WITH tk AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM __DOCS__
), tk2 AS (
  SELECT doc_id, tok FROM tk WHERE tok <> ''
), dt AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k FROM tk2 GROUP BY doc_id, tok
), vocab AS (
  SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY tok
), n AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM vocab
), per AS (
  SELECT dt.doc_id, CAST(sum(dt.k) AS BIGINT) AS n_tok,
         sum(dt.k * CAST(round(ln(vocab.c), 6) AS DECIMAL(18,6))) AS slp
  FROM dt JOIN vocab USING (tok) GROUP BY dt.doc_id
), s AS (
  SELECT doc_id, n_tok,
         round(CAST(slp AS DOUBLE) / n_tok
               - round(ln((SELECT n_corpus FROM n)), 6), 4) AS mean_logprob
  FROM per
)
SELECT doc_id, n_tok, mean_logprob, mean_logprob >= -8.0 AS keep FROM s
"""


_TX13_SQL = _TX13_SQL_T.replace("__DOCS__", "documents")


@demo("tx13_unigram_logprob", _TX13_SQL)
def tx13_unigram_logprob(spark, sf_dir):
    """Corpus-self unigram LM score (KenLM-perplexity proxy): distinct
    (doc,tok) pairs kill occurrence-level stopword skew; per-doc sum is
    an exact DECIMAL(18,6) fold so float order can't flip a hash."""
    from tartare_spark.operators.text import unigram_logprob

    return unigram_logprob(T(spark, sf_dir, "documents"))


# tx17 reuses tx13's scoring CTEs verbatim and swaps the final SELECT
# for the corpus-wide NTILE tier split (ties break on doc_id, so
# boundary rows are deterministic cross-engine)
_TX17_SQL = _TX13_SQL.replace(
    "SELECT doc_id, n_tok, mean_logprob, mean_logprob >= -8.0 AS keep FROM s",
    """
SELECT doc_id, n_tok, mean_logprob,
       CASE CAST(ntile(3) OVER (ORDER BY mean_logprob DESC, doc_id)
                 AS BIGINT)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
FROM s
""",
)
# the replace() must have matched — a drifted tx13 final SELECT would
# silently leave tx17's oracle identical to tx13's
assert _TX17_SQL != _TX13_SQL


@demo("tx17_quality_tiers", _TX17_SQL)
def tx17_quality_tiers(spark, sf_dir):
    """CCNet head/middle/tail quality tiering [SURVEY §2.12 TX17]: the
    corpus-self LM score (tx13) split into three equal corpus-wide
    tiers by the O4 two-phase global ntile — keep head, maybe middle,
    drop tail. The corpus-wide quantile split never plans a
    SinglePartition window; the oracle is the naive global-window
    NTILE over the same score."""
    from tartare_spark.operators.text import quality_tiers

    tiled = quality_tiers(T(spark, sf_dir, "documents"), n_tiers=3)
    tier = (
        F.when(F.col("tile") == 1, F.lit("head"))
        .when(F.col("tile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return tiled.select("doc_id", "n_tok", "mean_logprob", tier.alias("tier"))


_TX14_SQL = """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS group_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT CAST(sum(group_tokens) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM g
)
SELECT source, n_docs, group_tokens,
       round(group_tokens / CAST(total_tokens AS DOUBLE), 6) AS token_share,
       round(1.0 / n_groups, 6) AS target_share,
       round((1.0 / n_groups)
             / (group_tokens / CAST(total_tokens AS DOUBLE)), 6) AS sample_weight
FROM g, t
"""


@demo("tx14_mixture_weights", _TX14_SQL)
def tx14_mixture_weights(spark, sf_dir):
    """Training-mixture rebalancing: per-source token share vs a uniform
    target, emitting the sampling weight a downstream tx9/tx10 sampler
    multiplies in. One map-side-combined corpus agg; all arithmetic on
    |groups| rows with the 1-row total broadcast."""
    from tartare_spark.operators.text import mixture_weights

    return mixture_weights(T(spark, sf_dir, "documents"))


# Stage order is load-bearing (see operators/curation.py): exact dedup
# runs FIRST; the cross-doc stages run over its survivors, so the
# embedded tx12/dd10/tx13 CTE chains are re-pointed at `curation_docs`.
_tx12_cur = _TX12_SQL_T.replace("__DOCS__", "curation_docs")
_dd10_cur = _DD10_SQL_T.replace("__DOCS__", "curation_docs")
_tx13_cur = _TX13_SQL_T.replace("__DOCS__", "curation_docs")
_P5_SQL = (
    f"""
WITH ex AS (
  SELECT doc_id, text, source,
         doc_id = min(doc_id) OVER (PARTITION BY md5({_NORM_SQL}))
           AS keep_exact
  FROM __RAW_DOCS__
), curation_docs AS (
  SELECT doc_id, text, source FROM ex WHERE keep_exact
), gstage AS (
  SELECT doc_id, keep AS keep_gopher FROM ({_tx12_cur})
), spstage AS (
  SELECT doc_id, keep AS keep_span FROM ({_dd10_cur})
), lmstage AS (
  SELECT doc_id, n_tok, mean_logprob >= -3.5 AS keep_lm FROM ({_tx13_cur})
), surv AS (
  SELECT d.source, lm.n_tok,
         (g.keep_gopher AND sp.keep_span AND lm.keep_lm) AS keep_all
  FROM curation_docs d
  JOIN gstage g USING (doc_id)
  JOIN spstage sp USING (doc_id)
  JOIN lmstage lm USING (doc_id)
), kept AS (
  SELECT source,
         CAST(sum(CASE WHEN keep_all THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN keep_all THEN n_tok ELSE 0 END) AS BIGINT)
           AS tokens_kept
  FROM surv GROUP BY source
), cand AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM __RAW_DOCS__ GROUP BY source
)
SELECT cand.source, cand.n_docs,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
       round(COALESCE(kept.n_kept, 0) / CAST(cand.n_docs AS DOUBLE), 6)
         AS kept_frac,
       CAST(COALESCE(kept.tokens_kept, 0) AS BIGINT) AS tokens_kept
FROM cand LEFT JOIN kept USING (source)
""".replace("__RAW_DOCS__", "documents")
)


@demo("p5_corpus_curation", _P5_SQL)
def p5_corpus_curation(spark, sf_dir):
    """Composed curation pipeline (gopher ∧ exact-unique ∧ span-unique
    ∧ LM-score) → per-source survivor report with surviving token
    budget; every stage individually oracle-checked, the composition
    checked here."""
    from tartare_spark.operators.curation import curate_corpus

    return curate_corpus(T(spark, sf_dir, "documents"))


_SIM5_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), vecs AS (
  SELECT * FROM e WHERE vec_id >= 5
), qs AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5
), enc AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x ->
                CAST(floor(x * 127.0 / scale + 0.5) AS INT))
         END AS codes
  FROM (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM vecs)
), scored AS (
  SELECT q.q_id, enc.vec_id, enc.v, q.qv,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(enc.codes,
             (c, i) -> (CAST(c AS DOUBLE) * enc.scale / 127.0) * q.qv[i])),
           (acc, t) -> acc + t), 6) AS approx
  FROM enc, qs q
), cand AS (
  SELECT q_id, vec_id, v, qv FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY approx DESC, vec_id ASC) AS cr FROM scored) WHERE cr <= 20
)
SELECT q_id, vec_id, cos, rk FROM (
  SELECT q_id, vec_id,
         round(list_cosine_similarity(v, qv), 6) AS cos,
         row_number() OVER (PARTITION BY q_id
           ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
                    vec_id ASC) AS rk
  FROM cand) WHERE rk <= 5
"""


@demo("sim5_sq8_rerank", _SIM5_SQL)
def sim5_sq8_rerank(spark, sf_dir):
    """SQ8 scalar-quantized ANN (FAISS SQ8 shape): int8 codes + one
    per-vector scale (4x memory cut), asymmetric approximate dot for
    candidates, exact cosine rerank of the top 20. Encoding is a pure
    map-side projection — no training pass."""
    from tartare_spark.operators.similarity import sq8_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 5)
    return sq8_topk(vectors, queries, k=5, n_candidates=20)


_MM4_SQL = """
WITH meta AS (
  SELECT doc_id,
         CAST((doc_id % 300) + 1 AS BIGINT) AS duration_s,
         CAST(([24, 25, 30])[CAST(doc_id % 3 AS INT) + 1] AS BIGINT) AS fps
  FROM documents
), s AS (
  SELECT doc_id,
         duration_s * fps AS n_frames,
         greatest(CAST(1 AS BIGINT), (duration_s * fps) // 16) AS stride
  FROM meta
)
SELECT doc_id, n_frames, stride,
       CAST(len(idx) AS BIGINT) AS n_sampled,
       idx AS frame_idx
FROM (
  SELECT doc_id, n_frames, stride,
         CASE WHEN n_frames > 0
              THEN (generate_series(CAST(0 AS BIGINT), n_frames - 1, stride))[1:16]
              ELSE CAST([] AS BIGINT[]) END AS idx
  FROM s)
"""


@demo("mm4_frame_schedule", _MM4_SQL)
def mm4_frame_schedule(spark, sf_dir):
    """Decode-free frame-sampling schedule: per-blob uniform-stride
    frame indices from (duration, fps) metadata — the work-planning
    pass that bounds the decode stage's task budget; pure long
    arithmetic, zero shuffle."""
    from tartare_spark.operators.multimodal import frame_schedule

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") % 300) + 1).cast("long").alias("duration_s"),
        F.element_at(
            F.array(F.lit(24), F.lit(25), F.lit(30)),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).cast("long").alias("fps"),
    )
    return frame_schedule(docs)


_DD11_SQL = """
WITH u AS (
  SELECT doc_id,
         concat(
           CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
           CASE WHEN doc_id % 4 < 2 THEN 'www.' ELSE '' END,
           CASE WHEN doc_id % 8 < 4 THEN upper(source) ELSE source END,
           '.example.com/page-', CAST(doc_id % 7 AS VARCHAR),
           CASE WHEN doc_id % 16 < 8 THEN '/' ELSE '' END,
           CASE WHEN doc_id % 32 < 16
                THEN '?utm_source=feed&ref=rss' ELSE '' END
         ) AS url
  FROM documents
), c AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(trim(url)), '^https?://', ''),
             '^www\\.', ''),
           '[?#].*$', ''),
         '/+$', '') AS canon_url
  FROM u
)
SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keep_id
FROM c GROUP BY canon_url HAVING count(*) > 1
"""


@demo("dd11_url_dedup", _DD11_SQL)
def dd11_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup (RefinedWeb/CCNet first-pass): crawl
    URLs are synthesized deterministically from (doc_id, source) with
    scheme / www / case / trailing-slash / tracking-query noise, then
    canonicalized and grouped — the cheapest dedup pass, run before any
    content hashing. One map-side-combined shuffle of (canon_url, id)."""
    from tartare_spark.operators.dedup_docs import canonical_url_dedup

    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 4 < 2, F.lit("www.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 8 < 4, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.com/page-"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 16 < 8, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 32 < 16, F.lit("?utm_source=feed&ref=rss"))
        .otherwise(F.lit("")),
    )
    return canonical_url_dedup(d.select("doc_id", url.alias("url")))


_TX15_SQL = f"""
WITH g AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS group_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT CAST(sum(group_tokens) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM g
), w AS (
  SELECT source,
         (CAST(1.0 AS DOUBLE) / n_groups)
           / (group_tokens / CAST(total_tokens AS DOUBLE)) AS wt
  FROM g, t
), u AS (
  SELECT doc_id, source, {_SMP_U} AS u FROM documents
)
SELECT u.doc_id, u.source
FROM u JOIN w USING (source)
WHERE w.wt IS NOT NULL AND u.u < least(CAST(1.0 AS DOUBLE), w.wt)
"""


@demo("tx15_apply_mixture", _TX15_SQL)
def tx15_apply_mixture(spark, sf_dir):
    """Materialized training mixture: tx14's DoReMi-lite weights turned
    into the actual rebalanced corpus via the deterministic (seed, id)
    acceptance draw — weight side is a broadcast |groups|-row frame, the
    corpus takes no shuffle. Weights flow through UNROUNDED
    (mixture_weights(rounded=False)): every step is a correctly-rounded
    double division of exact long sums, so the kept set is bit-identical
    cross-engine with no halfway-rounding seam."""
    from tartare_spark.operators.sampling import apply_mixture
    from tartare_spark.operators.text import mixture_weights

    docs = T(spark, sf_dir, "documents")
    w = mixture_weights(docs, rounded=False)
    return apply_mixture(docs, w).select("doc_id", "source")


_TX16_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- deterministic near-dup copies: case + whitespace noise that the
  -- dd1 normalization collapses (same synthesis style as dd11)
  SELECT doc_id + 1000000 AS doc_id,
         ' ' || replace(upper(text), ' ', '  ') || ' ' AS text
  FROM documents WHERE doc_id % 5 = 0
), f AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp FROM corpus
), r AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep_id FROM f
), u AS (
  SELECT doc_id, rep_id,
         CAST(('0x' || substr(md5('42|' || CAST(rep_id AS VARCHAR)), 1, 8))
              AS BIGINT) / 4294967296.0 AS u
  FROM r
)
SELECT doc_id, rep_id,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""


@demo("tx16_leakage_safe_split", _TX16_SQL)
def tx16_leakage_safe_split(spark, sf_dir):
    """Dup-cluster-aware train/val/test split: the split is a pure hash
    of the exact-dup group REPRESENTATIVE, so a document and its copies
    always land in the SAME split — per-doc splitting (tx7) would put a
    few percent of eval's twins into train and measure memorization.
    The demo unions deterministic noised copies (1 in 5 docs) into the
    corpus so the co-assignment property is actually exercised; the
    oracle replays fingerprint → group-min → hash draw in SQL."""
    from tartare_spark.operators.sampling import leakage_safe_split

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit(" "),
            F.regexp_replace(F.upper("text"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        ).alias("text"),
    )
    tagged = leakage_safe_split(d.unionAll(copies))
    return tagged.select("doc_id", "rep_id", "split")


_DD12_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
), sp AS (
  SELECT doc_id,
         unnest([{pos: CAST(i AS BIGINT),
                  span: array_to_string(tk[i:i+7], ' ')}
                 for i in range(1, len(tk) + 1, 8)],
                recursive := true)
  FROM t
), m AS (
  SELECT doc_id, pos, span,
         doc_id * 4294967296 + pos AS k,
         min(doc_id * 4294967296 + pos) OVER (PARTITION BY span) AS first_k
  FROM sp
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN k = first_k THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         string_agg(CASE WHEN k = first_k THEN span END, ' ' ORDER BY pos)
           AS ct
  FROM m GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.ct, '') AS clean_text,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.n_spans - a.n_kept, 0) AS n_removed
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


@demo("dd12_span_remove", _DD12_SQL)
def dd12_span_remove(spark, sf_dir):
    """C4-style duplicate-span REMOVAL with text reconstruction:
    first global occurrence of each 8-token span survives, every later
    copy is cut, and each document's text is rebuilt from its kept
    spans — the rewrite step dd10 (which only accounts shared spans)
    stops short of. One text-carrying exchange; the first-occurrence
    window sees (doc_id, pos, fp) longs only."""
    from tartare_spark.operators.dedup_docs import span_remove

    return span_remove(T(spark, sf_dir, "documents"), window=8)


_S16_SQL = _CH_CTE + """, last AS (
  SELECT repo, path,
         arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit",
         arg_max(content, lsn) AS content,
         max(lsn) AS _lsn
  FROM ch GROUP BY repo, path
), state AS (
  SELECT repo, path, "commit", content, _lsn FROM last WHERE op <> 'delete'
), h AS (
  SELECT CAST(('0x' || substr(md5(
           md5(COALESCE(repo, chr(0))) || md5(COALESCE(path, chr(0)))
         ), 1, 4)) AS BIGINT) % 32 AS bucket,
         CAST(('0x' || substr(md5(
           md5(COALESCE(repo, chr(0))) || md5(COALESCE(path, chr(0))) ||
           md5(COALESCE("commit", chr(0))) ||
           md5(COALESCE(content, chr(0))) ||
           md5(COALESCE(CAST(_lsn AS VARCHAR), chr(0)))
         ), 1, 15)) AS BIGINT) AS hh
  FROM state
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(hh) AS checksum
FROM h GROUP BY bucket
"""


@demo("s16_replica_checksum", _S16_SQL)
def s16_replica_checksum(spark, sf_dir):
    """pt-table-checksum / Debezium-parity replica validation: source
    and replica each reduce the CDC LWW state to ≤32 (bucket, n_rows,
    checksum) rows with a portable md5 fold + XOR — comparing the two
    summaries proves replica equality without shipping or diffing any
    rows; a mismatch localizes to a bucket for targeted re-sync. The
    oracle IS the cross-engine replica run: DuckDB computes the same
    summary from the same events."""
    from tartare_spark.operators.checksum import table_checksum
    from tartare_spark.operators.dedup import dedup_latest_lsn

    ch = _events_as_changelog(spark, sf_dir)
    last = dedup_latest_lsn(ch, keys=["repo", "path"], order_col="lsn").filter(
        F.col("op") != "delete"
    )
    return table_checksum(
        last.select(
            "repo", "path", "commit", "content", F.col("lsn").alias("_lsn")
        ),
        key_cols=["repo", "path"],
        val_cols=["commit", "content", "_lsn"],
        num_buckets=32,
    )


_O5_SQL = _CH_CTE + """, counts AS (
  SELECT path, count(*) AS n_events FROM ch GROUP BY path
), tot AS (
  SELECT CAST(sum(n_events) AS BIGINT) AS total, count(*) AS nkeys FROM counts
)
SELECT path, CAST(n_events AS BIGINT) AS n_events,
       round(n_events / total, 6) AS share,
       round(CAST(n_events AS DOUBLE) * nkeys / total, 6) AS ratio,
       CAST(n_events AS DOUBLE) * nkeys / total >= 1.2 AS is_hot,
       CAST(CASE WHEN CAST(n_events AS DOUBLE) * nkeys / total >= 1.2
                 THEN ceil(CAST(n_events AS DOUBLE) * nkeys / total) ELSE 1 END AS INT)
         AS salt_factor
FROM counts, tot
"""


@demo("o5_skew_report", _O5_SQL)
def o5_skew_report(spark, sf_dir):
    """Hot-key skew diagnostics: per-key volume share + ratio vs the
    mean key, the hot flag, and the suggested salt factor — the report
    that sizes A3's ``n_salts`` and that an on-call reads when one
    reducer straggles. One map-side-combined groupBy; the totals join
    back as a 1-row broadcast (no partition-less window)."""
    from tartare_spark.operators.salt import skew_report

    ch = _events_as_changelog(spark, sf_dir)
    return skew_report(ch, key="path", hot_ratio=1.2)


_A7_SQL = _CH_CTE + """, exact AS (
  SELECT path, count(*) AS n_exact FROM ch GROUP BY path
), slots AS (
  SELECT path, d.d AS d,
         CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || path), 1, 8))
              AS BIGINT) % 4096 AS slot
  FROM ch CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(d)
), sketch AS (
  SELECT d, slot, count(*) AS n FROM slots GROUP BY d, slot
), probes AS (
  SELECT e.path, d.d AS d,
         CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || e.path), 1, 8))
              AS BIGINT) % 4096 AS slot
  FROM exact e CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(d)
), est AS (
  SELECT p.path, min(COALESCE(s.n, 0)) AS n_est
  FROM probes p LEFT JOIN sketch s USING (d, slot)
  GROUP BY p.path
), tot AS (
  SELECT CAST(sum(n_exact) AS BIGINT) AS total, count(*) AS nkeys FROM exact
)
SELECT e.path, CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(n_est AS BIGINT) AS n_est,
       CAST(n_est - e.n_exact AS BIGINT) AS overcount
FROM exact e JOIN est USING (path), tot
WHERE n_est >= CAST(1.2 AS DOUBLE) * total / nkeys
"""


@demo("a7_heavy_hitters", _A7_SQL)
def a7_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters: point-frequency estimates from
    O(depth×width) state built in one map-side-combined pass — the
    'which keys are hot?' answer that does NOT keep O(distinct keys)
    aggregation state at 10^10 events. The demo probes every key so the
    oracle verifies the classical est ≥ exact guarantee cell-exactly
    (md5 slot arithmetic mirrors in DuckDB); flagged = est ≥ 1.2× the
    mean key, a deliberate CMS superset of the true hot set."""
    from tartare_spark.operators.sketch import heavy_hitters

    ch = _events_as_changelog(spark, sf_dir)
    return heavy_hitters(ch, key="path", rel_threshold=1.2, depth=4, width=4096)


_S17_SQL = _CH_CTE + """, cut AS (
  SELECT (max(lsn) * 6) // 10 AS cutoff FROM ch
)
SELECT repo,
       max(CASE WHEN lsn <= cutoff THEN lsn END) AS applied_wm,
       max(lsn) AS max_lsn,
       CAST(count(CASE WHEN lsn > cutoff THEN 1 END) AS BIGINT) AS n_pending,
       min(CASE WHEN lsn > cutoff THEN lsn END) AS oldest_pending_lsn,
       max(lsn) - max(CASE WHEN lsn <= cutoff THEN lsn END) AS lag_lsn
FROM ch, cut
GROUP BY repo
"""


@demo("s17_lag_report", _S17_SQL)
def s17_lag_report(spark, sf_dir):
    """Replication-lag report: per-repo applied watermark, pending
    count, oldest pending LSN and lag vs a checkpoint cutoff (here 60%
    of max LSN, simulating a mid-replay fence) — the queryable
    counterpart of T7's per-batch lag metrics, one grouped pass with
    conditional aggregates and a 1-row broadcast cutoff."""
    from tartare_spark.operators.monitor import lag_report

    ch = _events_as_changelog(spark, sf_dir)
    cut = ch.agg(F.expr("(max(lsn) * 6) div 10").alias("_cutoff"))
    return lag_report(
        ch.crossJoin(F.broadcast(cut)), cutoff=F.col("_cutoff"), key="repo"
    )


_O6_SQL = _CH_CTE + """, last AS (
  SELECT repo, path, arg_max(op, lsn) AS op
  FROM ch GROUP BY repo, path
), st AS (
  SELECT repo, path FROM last WHERE op <> 'delete'
), r AS (
  SELECT repo, path,
         ntile(6) OVER (ORDER BY repo, path) AS chunk_id,
         row_number() OVER (ORDER BY repo, path) AS rk
  FROM st
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
       arg_min(repo, rk) AS lo_repo, arg_min(path, rk) AS lo_path,
       arg_max(repo, rk) AS hi_repo, arg_max(path, rk) AS hi_path,
       CAST(count(*) AS BIGINT) AS n_rows
FROM r GROUP BY chunk_id
"""


@demo("o6_backfill_ranges", _O6_SQL)
def o6_backfill_ranges(spark, sf_dir):
    """Balanced parallel-backfill chunk plan (DMS / Debezium
    incremental-snapshot shape): the current LWW key space split into 6
    contiguous (repo, path) ranges of near-equal row count, each with
    inclusive lo/hi boundaries — the chunk table a parallel re-sync
    copies concurrently. Uniform-width ranges would inherit key skew;
    this is the exact NTILE split of the exact two-phase global rank
    (no SinglePartition window), boundaries via min_by/max_by on the
    rank so the composite order is respected. The oracle is the naive
    global-window plan."""
    from tartare_spark.operators.dedup import dedup_latest_lsn
    from tartare_spark.operators.sort import backfill_ranges

    ch = _events_as_changelog(spark, sf_dir)
    st = (
        dedup_latest_lsn(ch, keys=["repo", "path"], order_col="lsn")
        .filter(F.col("op") != "delete")
        .select("repo", "path")
    )
    return backfill_ranges(
        st,
        bucket=F.ascii(F.substring("repo", 6, 1)),
        order_cols=["repo", "path"],
        n_chunks=6,
    )


_U4_SQL = _CH_CTE + """, cut AS (
  SELECT (max(lsn) * 6) // 10 AS cutoff FROM ch
), old_last AS (
  SELECT repo, path, arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit", arg_max(content, lsn) AS content
  FROM ch, cut WHERE lsn <= cutoff GROUP BY repo, path
), old_st AS (
  SELECT repo, path, "commit", content FROM old_last WHERE op <> 'delete'
), new_last AS (
  SELECT repo, path, arg_max(op, lsn) AS op,
         arg_max("commit", lsn) AS "commit", arg_max(content, lsn) AS content
  FROM ch GROUP BY repo, path
), new_st AS (
  SELECT repo, path, "commit", content FROM new_last WHERE op <> 'delete'
), j AS (
  SELECT COALESCE(o.repo, n.repo) AS repo,
         COALESCE(o.path, n.path) AS path,
         CASE WHEN o.repo IS NULL THEN 'insert'
              WHEN n.repo IS NULL THEN 'delete'
              ELSE 'update' END AS op,
         CASE WHEN o.repo IS NOT NULL AND n.repo IS NOT NULL THEN
           list_concat(
             CASE WHEN o."commit" IS DISTINCT FROM n."commit"
                  THEN ['commit'] ELSE [] END,
             CASE WHEN o.content IS DISTINCT FROM n.content
                  THEN ['content'] ELSE [] END)
         ELSE [] END AS changed_cols
  FROM old_st o FULL OUTER JOIN new_st n
    ON o.repo = n.repo AND o.path = n.path
)
SELECT repo, path, op, changed_cols FROM j
WHERE op <> 'update' OR len(changed_cols) > 0
"""


@demo("u4_cell_diff", _U4_SQL)
def u4_cell_diff(spark, sf_dir):
    """Column-granular CDC audit diff: the LWW state at a mid-replay
    checkpoint (60% of max LSN) vs the final state — one row per key
    that changed, with op insert/delete/update and the exact columns
    that differ (null-safe). S16's checksum localizes a replica
    mismatch to a bucket; this names the key and the columns. One
    full-outer join + a codegen changed-column projection, O(diffs)
    output."""
    from tartare_spark.operators.dedup import dedup_latest_lsn
    from tartare_spark.operators.diff import cell_diff

    ch = _events_as_changelog(spark, sf_dir)
    cut = ch.agg(F.expr("(max(lsn) * 6) div 10").alias("_cutoff"))
    # drop the broadcast scalar BEFORE the dedup groupBy, or max_by
    # carries it through the exchange for every row (s19 does the same)
    old_ev = (
        ch.crossJoin(F.broadcast(cut))
        .filter(F.col("lsn") <= F.col("_cutoff"))
        .drop("_cutoff")
    )
    old_st = (
        dedup_latest_lsn(old_ev, keys=["repo", "path"], order_col="lsn")
        .filter(F.col("op") != "delete")
        .select("repo", "path", "commit", "content")
    )
    new_st = (
        dedup_latest_lsn(ch, keys=["repo", "path"], order_col="lsn")
        .filter(F.col("op") != "delete")
        .select("repo", "path", "commit", "content")
    )
    return cell_diff(old_st, new_st, keys=["repo", "path"], cols=["commit", "content"])


@demo("s19_incremental_publish", _CDC_SQL)
def s19_incremental_publish(spark, sf_dir):
    """Incremental export publish end-to-end: replay 60% of the
    changelog, FULL-publish the export, replay the remaining 40%, then
    incrementally publish — only the partitions whose keys changed are
    rewritten (dynamic partition overwrite over a hash-partitioned
    layout; the change feed supplies the dirty set at O(changed rows)).
    Returns the re-read export, which must equal the full LWW state —
    tartare's "re-export affected coverages" as an incremental
    operator."""
    import shutil

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.publish import (
        publish_incremental,
        read_incremental_export,
    )

    ch = _events_as_changelog(spark, sf_dir)
    cut = ch.agg(F.expr("(max(lsn) * 6) div 10").alias("_cutoff"))
    tagged = ch.crossJoin(F.broadcast(cut))
    old_ev = tagged.filter(F.col("lsn") <= F.col("_cutoff")).drop("_cutoff")
    new_ev = tagged.filter(F.col("lsn") > F.col("_cutoff")).drop("_cutoff")

    root = os.path.join(tempfile.gettempdir(), f"tartare_s19_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    lake = LakeTable.create(os.path.join(root, "lake"), num_buckets=16)
    out = os.path.join(root, "export")
    replay_batches(spark, lake, old_ev, num_chunks=2)
    assert publish_incremental(spark, lake, out, num_parts=16)["mode"] == "full"
    replay_batches(spark, lake, new_ev, num_chunks=2, start_batch_id=2)
    rep = publish_incremental(spark, lake, out, num_parts=16)
    assert rep["mode"] == "incremental", rep
    return read_incremental_export(spark, out).select(
        "repo", "path", "commit", "content", "_lsn", "_content_sha"
    )
