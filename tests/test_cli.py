"""python -m tartare_spark operational CLI: replay → snapshot → lookup →
compact → vacuum → metrics over the unit fixture, in-process (the CLI
builds its session via get_spark, which reuses the test JVM)."""

import json

from pyspark.sql import functions as F

from tartare_spark.__main__ import main
from tartare_spark.fixtures import UNIT, generate_change_events
from tartare_spark.lake.table import LakeTable


def test_cli_end_to_end(spark, unit_events_dir, tmp_path, capsys):
    lake_dir = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    rc = main(
        [
            "replay",
            "--events", f"{unit_events_dir}",
            "--lake", lake_dir,
            "--checkpoint", ckpt,
            "--create",
            "--buckets", "16",
            "--max-files-per-trigger", "5",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0
    rep = json.loads(out)
    assert rep["batches_applied"] >= 1 and rep["rows_applied"] > 0

    # snapshot row count must equal the library API's
    lake = LakeTable(lake_dir)
    n_expected = lake.snapshot(spark).count()
    rc = main(["snapshot", "--lake", lake_dir, "--limit", "3"])
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert rc == 0 and len(lines) == 3

    # lookup a key that exists (pick one live row) and one that doesn't
    row = lake.snapshot(spark).limit(1).collect()[0]
    rc = main(["lookup", "--lake", lake_dir, "--repo", row["repo"], "--path", row["path"]])
    found = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and found["repo"] == row["repo"] and found["path"] == row["path"]
    rc = main(["lookup", "--lake", lake_dir, "--repo", "nope", "--path", "nope"])
    capsys.readouterr()
    assert rc == 3

    rc = main(["compact", "--lake", lake_dir])
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and comp["compacted_buckets"] >= 0
    assert LakeTable(lake_dir).snapshot(spark).count() == n_expected

    rc = main(["vacuum", "--lake", lake_dir])
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and vac["orphan_files_removed"] >= 0

    rc = main(["changes", "--lake", lake_dir, "--from-version", "0", "--limit", "2"])
    ch = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert rc == 0 and len(ch) == 2 and "_commit_version" in ch[0]

    rc = main(["history", "--lake", lake_dir])
    hist = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert rc == 0 and hist[-1]["version"] == LakeTable(lake_dir).current_version()
    assert hist[-1]["committed_at"] is not None

    rc = main(["stats", "--lake", lake_dir])
    stt = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and stt["files"] > 0 and stt["raw_rows"] > 0
    assert stt["num_buckets"] == 16

    rc = main(["metrics", "--lake", lake_dir, "--tail", "5"])
    mets = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0 and len(mets) >= 1 and "batch_id" in mets[0]

    # tag create → list → snapshot-by-tag → drop
    cur = LakeTable(lake_dir).current_version()
    rc = main(["tag", "--lake", lake_dir, "--name", "release"])
    tg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and tg == {"tag": "release", "version": cur}
    rc = main(["tag", "--lake", lake_dir])
    assert rc == 0 and json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    ) == {"release": cur}
    rc = main(["snapshot", "--lake", lake_dir, "--tag", "release", "--limit", "2"])
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert rc == 0 and len(lines) == 2
    rc = main(["tag", "--lake", lake_dir, "--name", "release", "--drop"])
    dr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and dr["was_version"] == cur

    # errors are one-line + exit 1, not tracebacks
    rc = main(["metrics", "--lake", str(tmp_path / "missing")])
    assert rc == 1


def test_cli_mv_and_envelope_replay(spark, unit_events_dir, tmp_path, capsys):
    """mv build/refresh/read subcommands + envelope replay flag."""
    from pyspark.sql import functions as F

    from tartare_spark.operators.envelope import to_envelope

    # write the unit log as a Debezium topic dump and replay from it
    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    topic = str(tmp_path / "topic")
    to_envelope(ev).coalesce(4).write.mode("overwrite").text(topic)
    lake_dir = str(tmp_path / "lake")
    rc = main(
        [
            "replay",
            "--events", topic,
            "--lake", lake_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--create", "--buckets", "8",
            "--envelope", "--compact-async",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_applied"] > 0
    # the envelope replay reached the same live state as the direct API
    lake = LakeTable(lake_dir)
    direct = lake.snapshot(spark)
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    last = (
        ev.withColumn(
            "_rn",
            F.row_number().over(
                w.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
            ),
        )
        .filter("_rn = 1")
        .filter("op <> 'delete'")
    )
    assert direct.count() == last.count()

    rc = main(["mv", "build", "--lake", lake_dir, "--mv", str(tmp_path / "mv")])
    assert rc == 0
    built = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]
    assert built and all("n_paths" in r for r in built)
    rc = main(["mv", "refresh", "--lake", lake_dir, "--mv", str(tmp_path / "mv")])
    assert rc == 0
    rc = main(["mv", "read", "--lake", lake_dir, "--mv", str(tmp_path / "mv")])
    assert rc == 0
    read_out = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]
    assert read_out


def test_cli_branch_wap(spark, unit_events_dir, tmp_path, capsys):
    """branch create → stage a replay on the branch → list →
    fast-forward → drop, all through the CLI."""
    lake_dir = str(tmp_path / "lake_br")
    rc = main(
        ["replay", "--events", f"{unit_events_dir}", "--lake", lake_dir,
         "--checkpoint", str(tmp_path / "ck1"), "--create", "--buckets", "8",
         "--max-files-per-trigger", "100"]
    )
    assert rc == 0
    capsys.readouterr()
    cur = LakeTable(lake_dir).current_version()

    rc = main(["branch", "create", "--lake", lake_dir, "--name", "stage"])
    created = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and created["fork_version"] == cur

    # stage one more commit on the branch (batch replay onto its root)
    from tartare_spark.operators.apply import apply_batch

    br = LakeTable(lake_dir).branch("stage")
    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    apply_batch(spark, br, ev.limit(10),
                batch_id=LakeTable(lake_dir).last_batch_id() + 1)

    rc = main(["branch", "list", "--lake", lake_dir])
    listed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and listed["stage"]["current_version"] == 1

    rc = main(["branch", "fast-forward", "--lake", lake_dir, "--name", "stage"])
    ff = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and ff["main_version"] == cur + 1

    rc = main(["branch", "drop", "--lake", lake_dir, "--name", "stage"])
    assert rc == 0
    assert LakeTable(lake_dir).branches() == {}


def test_cli_bootstrap_then_replay(spark, unit_events_dir, tmp_path, capsys):
    """bootstrap CLI seeds an empty lake from a snapshot parquet dir,
    then the replay CLI tails the log on top of it."""
    from pyspark.sql import functions as F

    from tartare_spark.operators.dedup import dedup_latest_lsn

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    mid = int(ev.agg((F.min("lsn") + F.max("lsn")) / 2).collect()[0][0])
    snap_dir = str(tmp_path / "snap")
    dedup_latest_lsn(
        ev.filter(F.col("lsn") <= mid), keys=["repo", "path"], order_col="lsn"
    ).filter(F.col("op") != "delete").drop("op").write.parquet(snap_dir)

    lake_dir = str(tmp_path / "lake_cli_bs")
    rc = main(["bootstrap", "--snapshot", snap_dir, "--lake", lake_dir,
               "--create", "--buckets", "8"])
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rec["bootstrap"] and rec["rows"] > 0

    rc = main(["replay", "--events", unit_events_dir, "--lake", lake_dir,
               "--checkpoint", str(tmp_path / "ck_bs"),
               "--max-files-per-trigger", "100"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["rows_applied"] > 0
    # the tail landed ABOVE the bootstrap batch id (offset mapping)
    assert LakeTable(lake_dir).last_batch_id() >= 1


def test_cli_branch_requires_name(spark, unit_events_dir, tmp_path, capsys):
    lake_dir = str(tmp_path / "lake_bn")
    LakeTable.create(lake_dir, num_buckets=8)
    rc = main(["branch", "create", "--lake", lake_dir])
    assert rc == 2
    assert "requires --name" in capsys.readouterr().err


def test_cli_replay_multi(spark, unit_events_dir, tmp_path, capsys):
    """S18 CLI: route by repo into per-repo tables — register ALL repo
    values (UNIT has 20 repos), then check two tables' states against
    the library snapshot."""
    import pandas as pd

    ev = pd.DataFrame(generate_change_events(UNIT))
    tables = sorted(ev["repo"].unique())
    rc = main(
        [
            "replay-multi",
            "--events", f"{unit_events_dir}",
            "--lakes-root", str(tmp_path / "lakes"),
            # spaces after the commas: --tables values are stripped
            "--tables", ", ".join(tables),
            "--route", "repo",
            "--checkpoint", str(tmp_path / "ck"),
            "--create",
            "--buckets", "4",
            "--max-files-per-trigger", "7",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0
    rep = json.loads(out)
    assert set(rep) == set(tables)
    # spot-check: each per-repo lake holds exactly that repo's LWW keys
    from tartare_spark.oracle import replay_referee
    from tartare_spark.fixtures import registry_rows

    for t in tables[:2]:
        lake = LakeTable(str(tmp_path / "lakes" / t))
        exp = replay_referee(ev[ev["repo"] == t].copy(), registry_rows(UNIT))
        assert lake.snapshot(spark).count() == len(exp)

    # missing --tables value → usage error
    rc = main(
        [
            "replay-multi",
            "--events", f"{unit_events_dir}",
            "--lakes-root", str(tmp_path / "lakes2"),
            "--tables", "",
            "--checkpoint", str(tmp_path / "ck2"),
        ]
    )
    capsys.readouterr()
    assert rc == 2

    # a table with no lake and no --create → usage error naming the root
    rc = main(
        [
            "replay-multi",
            "--events", f"{unit_events_dir}",
            "--lakes-root", str(tmp_path / "lakes3"),
            "--tables", "t1",
            "--checkpoint", str(tmp_path / "ck3"),
        ]
    )
    err = capsys.readouterr().err
    assert rc == 2 and "no lake at" in err and "pass --create" in err


def test_cli_verify_replica(spark, unit_events_dir, tmp_path, capsys):
    """CLI `verify`: equal replicas exit 0 with equal=true; a replica
    that MISSED the final change event exits 4 and names >= 1 dirty
    bucket (the lost-event replication failure the tool exists for)."""
    from tartare_spark.operators.apply import replay_batches

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    max_lsn = ev.agg(F.max("lsn")).collect()[0][0]
    lakes = {}
    for name, frame in (("src", ev), ("rep", ev), ("lagged", ev.filter(F.col("lsn") != max_lsn))):
        lk = LakeTable.create(str(tmp_path / name), num_buckets=8)
        replay_batches(spark, lk, frame, num_chunks=2)
        lakes[name] = lk

    rc = main(["verify", "--lake", lakes["src"].root, "--replica", lakes["rep"].root])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0 and json.loads(out) == {
        "equal": True, "dirty_buckets": 0, "num_buckets": 32,
    }

    rc = main(["verify", "--lake", lakes["src"].root, "--replica", lakes["lagged"].root])
    lines = capsys.readouterr().out.strip().splitlines()
    assert rc == 4
    tail = json.loads(lines[-1])
    assert tail["equal"] is False and tail["dirty_buckets"] >= 1
    # every dirty row names a real bucket for targeted re-sync
    assert all("bucket" in json.loads(l) for l in lines[:-1])
