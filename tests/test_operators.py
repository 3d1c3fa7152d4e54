"""Unit tests for standalone operators (SURVEY.md §2 breadth).
Cross-engine value parity is covered by scripts/check_correctness.py
(the driver's DuckDB gate); these tests pin engine-internal invariants.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_salted_count_equals_plain(spark):
    from tartare_spark.operators.salt import salted_count

    ev = _events(spark)
    salted = salted_count(ev, "user_id", ["event_id"], n_salts=8)
    plain = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_interval_overlap_bucketed_equals_theta(spark):
    """J6 scale path: the bucketed equi+residual overlap join returns
    EXACTLY the theta join's pairs, for widths smaller than, near, and
    larger than the interval lengths (multi-bucket spans must not
    duplicate pairs; coarse buckets must not drop any)."""
    import random

    from tartare_spark.operators.ranges import interval_overlap_bucketed

    rng = random.Random(7)
    rows = []
    for i in range(80):
        s = rng.randrange(0, 1000)
        rows.append((i, s, s + rng.randrange(0, 400)))
    iv = spark.createDataFrame(rows, "k INT, s BIGINT, e BIGINT")
    a, b = iv.alias("a"), iv.alias("b")
    theta = {
        (r["k_a"], r["k_b"])
        for r in a.join(
            b,
            (F.col("a.k") < F.col("b.k"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(F.col("a.k").alias("k_a"), F.col("b.k").alias("k_b"))
        .collect()
    }
    for width in (7, 100, 5000):
        got = {
            (r["k_a"], r["k_b"])
            for r in interval_overlap_bucketed(
                iv, key="k", start="s", end="e", bucket_width=width
            ).collect()
        }
        assert got == theta, f"width={width}"


def test_ivf_index_persisted_partition_pruned(spark, tmp_path):
    """Persisted IVF index: query_ivf_index over the on-disk cell
    layout returns EXACTLY ivf_topk's rows (same centroids/rounding),
    and the cells scan is partition-pruned — the plan carries a
    PartitionFilters entry on cell and the files actually read are
    only the probed cells' directories."""
    from pyspark.sql import functions as F2

    from tartare_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F2.col("vec_id") < 1).select(
        F2.col("vec_id").alias("q_id"), F2.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F2.col("vec_id") >= 1)

    idx = str(tmp_path / "ivf")
    build_ivf_index(vectors, idx, n_cells=8)
    got = query_ivf_index(spark, idx, queries, k=5, n_probe=3)
    want = ivf_topk(vectors, queries, k=5, n_cells=8, n_probe=3)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain(True)
    plan = buf.getvalue()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("cell" in l for l in pf_lines), plan[-2000:]

    # stronger, behavioral: corrupt every NON-probed cell's data files
    # (inputFiles() reports the pre-pruning listing, so it can't prove
    # pruning) — if the scan is really partition-pruned the query never
    # opens them and still returns the exact rows; an unpruned scan
    # would crash on the garbage parquet.
    import os

    from tartare_spark.operators.similarity import _assign_cells

    centroids = spark.read.parquet(f"{idx}/centroids")
    probed = {
        str(r["cell"])
        for r in _assign_cells(queries, centroids, "q_vec", ["q_id"], 3).collect()
    }
    assert len(probed) == 3
    corrupted = 0
    for entry in os.scandir(f"{idx}/cells"):
        if entry.name.startswith("cell=") and entry.name.split("=")[1] not in probed:
            for f in os.scandir(entry.path):
                if f.name.endswith(".parquet"):
                    with open(f.path, "wb") as fh:
                        fh.write(b"not a parquet file")
                    corrupted += 1
    assert corrupted >= 1  # there were non-probed cells to corrupt
    again = query_ivf_index(spark, idx, queries, k=5, n_probe=3)
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_lsh_index_persisted_partition_pruned(spark, tmp_path):
    """Persisted sign-LSH index (the sim2 analog of the IVF index):
    query_lsh_index over the on-disk (t, b) layout returns EXACTLY
    lsh_bucketed_topk's rows for the same hash family, and the scan is
    partition-pruned — proven behaviorally by corrupting every
    non-probed (t, b) partition's data files and re-querying (an
    unpruned scan would crash on the garbage parquet; inputFiles()
    can't prove pruning, it lists pre-pruning)."""
    from pyspark.sql import functions as F2

    from tartare_spark.operators.similarity import (
        build_lsh_index,
        hyperplane_bucket,
        lsh_bucketed_topk,
        query_lsh_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F2.col("vec_id") < 2).select(
        F2.col("vec_id").alias("q_id"), F2.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F2.col("vec_id") >= 2)

    idx = str(tmp_path / "lsh")
    build_lsh_index(vectors, idx, n_planes=3, n_tables=4)
    got = query_lsh_index(spark, idx, queries, k=5)
    want = lsh_bucketed_topk(
        vectors, queries, k=5, n_planes=3, multi_probe=0, n_tables=4
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    import io
    import os
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain(True)
    plan = buf.getvalue()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("b" in l for l in pf_lines), plan[-2000:]

    # the probed (t, b) set, recomputed with the same hash family
    probed: dict[int, set[int]] = {}
    for t in range(4):
        for r in queries.select(
            hyperplane_bucket(F2.col("q_vec"), 3, seed=42 + t).alias("b")
        ).collect():
            probed.setdefault(t, set()).add(int(r["b"]))
    corrupted = 0
    for tdir in os.scandir(f"{idx}/buckets"):
        if not tdir.name.startswith("t="):
            continue
        t = int(tdir.name.split("=")[1])
        for bdir in os.scandir(tdir.path):
            if not bdir.name.startswith("b="):
                continue
            if int(bdir.name.split("=")[1]) in probed.get(t, set()):
                continue
            for f in os.scandir(bdir.path):
                if f.name.endswith(".parquet"):
                    with open(f.path, "wb") as fh:
                        fh.write(b"not a parquet file")
                    corrupted += 1
    assert corrupted >= 1  # there were non-probed partitions to corrupt
    again = query_lsh_index(spark, idx, queries, k=5)
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_asof_window_equals_broadcast(spark):
    """J5: the big-big window implementation must agree with the
    broadcast theta-join implementation."""
    from tartare_spark.operators.asof import asof_join_broadcast, asof_join_window

    ev = _events(spark).select("event_id").withColumn("k", F.lit(1))
    versions = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 300), (1, 3, 700)], "k INT, version INT, eff BIGINT"
    )
    via_bc = asof_join_broadcast(
        ev.drop("k"), versions.drop("k"), "event_id", "eff", ["version"]
    )
    via_w = asof_join_window(
        ev, versions, key=["k"], left_on="event_id", right_on="eff", payload=["version"]
    ).select("event_id", "version")
    assert via_bc.exceptAll(via_w).count() == 0
    assert via_w.exceptAll(via_bc).count() == 0


def test_minhash_deterministic(spark):
    from tartare_spark.operators.dedup_docs import minhash_signature

    docs = _docs(spark).limit(50)
    a = {r["doc_id"]: r["sig"] for r in minhash_signature(docs, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["sig"] for r in minhash_signature(docs, "doc_id", "text").collect()}
    assert a == b


def test_lsh_candidates_superset_of_high_jaccard(spark):
    """Banded LSH with r=1 must surface every pair sharing ANY minhash;
    all true near-dups above the band's design threshold are candidates."""
    from tartare_spark.operators.dedup_docs import jaccard_pairs, lsh_candidates

    docs = _docs(spark)
    cands = {
        (r["id_a"], r["id_b"]) for r in lsh_candidates(docs, k=12, bands=12).collect()
    }
    # inject an exact duplicate pair: doc 0 text copied onto a fake id
    dup = docs.limit(1).select(F.lit(99999).alias("doc_id"), "text", "lang", "source", "n_chars")
    with_dup = docs.unionByName(dup)
    cands2 = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidates(with_dup, k=12, bands=12).collect()
    }
    first_id = docs.select(F.min("doc_id")).collect()[0][0]
    assert (first_id, 99999) in cands2
    assert cands2 >= cands


def test_simhash_identical_for_identical_text(spark):
    from tartare_spark.operators.dedup_docs import simhash

    docs = _docs(spark).limit(5)
    dup = docs.limit(1).select(F.lit(99999).alias("doc_id"), "text", "lang", "source", "n_chars")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs.unionByName(dup)).collect()}
    first_id = min(k for k in sigs if k != 99999)
    assert sigs[99999] == sigs[first_id]


def test_brute_force_topk_self_similarity(spark):
    """A vector's nearest neighbour among a set containing itself is
    itself with cosine 1."""
    from tartare_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = brute_force_topk(emb, queries, k=1)
    rows = top.collect()
    assert all(r["vec_id"] == r["q_id"] and abs(r["cos"] - 1.0) < 1e-5 for r in rows)


def test_lsh_bucketed_recall_at_least_self(spark):
    from tartare_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = lsh_bucketed_topk(emb, queries, k=1, n_planes=4)
    rows = top.collect()
    # the query vector lands in its own bucket → rank-1 is itself
    assert all(r["vec_id"] == r["q_id"] for r in rows)


def test_ivf_topk_recall_vs_bruteforce(spark):
    from tartare_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vectors = emb.filter(F.col("vec_id") >= 3)
    exact = brute_force_topk(vectors, queries, k=3)
    approx = ivf_topk(vectors, queries, k=3, n_cells=8, n_probe=8)
    # probing ALL cells makes IVF exhaustive -> must equal brute force
    e = {(r["q_id"], r["vec_id"], r["rk"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"], r["rk"]) for r in approx.collect()}
    assert e == a
    # with fewer probes it returns <= k rows per query, all from real ids
    part = ivf_topk(vectors, queries, k=3, n_cells=8, n_probe=2)
    rows = part.collect()
    assert all(r["rk"] <= 3 for r in rows)


def test_kmeans_beats_sampling_on_clusters(spark):
    """Lloyd refinement (n_iters>0) must buy recall over raw md5-sample
    seeding on a corpus WITH cluster structure — the case k-means
    exists for. 8 true cluster directions, probe=1 of 8 cells: sampled
    seeds can land two-in-one-cluster (splitting/merging cells), Lloyd
    converges each centroid onto a true cluster mean. The bench corpus
    (near-uniform) is the opposite case — see BENCH/ANN.md — which is
    why the sim3 demo ships n_iters=0 while clustered corpora run 2."""
    import random

    from pyspark.sql import functions as F2

    from tartare_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = random.Random(7)
    dim, n_clusters, per = 16, 8, 250
    dirs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    vid = 0
    for d in dirs:
        for _ in range(per):
            rows.append((vid, [x + 0.25 * rng.gauss(0, 1) for x in d]))
            vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F2.col("vec_id") % per < 1).select(
        F2.col("vec_id").alias("q_id"), F2.col("embedding").alias("q_vec")
    )  # one query per true cluster
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(vecs, queries, k=5).collect()
    }

    def recall(iters):
        got = {
            (r["q_id"], r["vec_id"])
            for r in ivf_topk(
                vecs, queries, k=5, n_cells=8, n_probe=1, n_iters=iters
            ).collect()
        }
        return len(exact & got) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 == 1.0, (r0, r2)
    assert r2 > r0, (r0, r2)


def test_blob_metadata_plumbing(spark):
    from tartare_spark.operators.multimodal import (
        attach_binary_payload,
        extract_blob_metadata,
    )

    docs = _docs(spark).limit(20)
    meta = extract_blob_metadata(attach_binary_payload(docs))
    rows = meta.collect()
    assert len(rows) == 20
    src = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        assert r["n_bytes"] == len(src[r["doc_id"]].encode("utf-8"))
        assert r["magic"] == src[r["doc_id"]].encode("utf-8")[:4].hex()


def test_resize_and_features_plumbing(spark):
    from tartare_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
        resize_blob,
    )

    docs = attach_binary_payload(_docs(spark).limit(20))
    resized = resize_blob(docs, target_bytes=64).collect()
    assert all(r["n_bytes_out"] == min(r["n_bytes_in"], 64) for r in resized)
    assert all(len(bytes(r["blob_out"])) == r["n_bytes_out"] for r in resized)

    feats = extract_features(docs, n_bins=16).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    # L1-normalized histogram sums to ~1 for non-empty blobs
    assert all(abs(sum(r["features"]) - 1.0) < 1e-3 for r in feats)


def test_multimodal_stubs_raise(spark):
    from tartare_spark.operators.multimodal import attach_binary_payload, decode_image

    docs = attach_binary_payload(_docs(spark).limit(2))
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        decode_image(docs).collect()


def test_conditional_ingest_filters_unchanged(spark):
    from tartare_spark.operators.merge import conditional_filter

    staged = spark.createDataFrame(
        [(1, "u", "r", "p1", "c", None, "same"), (2, "u", "r", "p2", "c", None, "new")],
        "lsn LONG, op STRING, repo STRING, path STRING, commit STRING, lang STRING, content STRING",
    )
    target = spark.createDataFrame(
        [("r", "p1", "c", None, "same", 0, False, None)],
        "repo STRING, path STRING, commit STRING, lang STRING, content STRING, _lsn LONG, _deleted BOOLEAN, _content_sha STRING",
    ).withColumn("_content_sha", F.sha2(F.col("content"), 256))
    out = conditional_filter(staged, target).collect()
    assert [r["path"] for r in out] == ["p2"]


def test_dedup_window_equals_maxby(spark):
    from tartare_spark.operators.dedup import dedup_latest_lsn, dedup_latest_window

    ev = _events(spark).select("user_id", "event_id", "event_type")
    a = dedup_latest_lsn(ev, keys=["user_id"], order_col="event_id")
    b = dedup_latest_window(ev, keys=["user_id"], order_col="event_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_simhash_banded_finds_planted_near_dup(spark):
    """A pair differing by one rare token has Hamming distance in (0, r]:
    the Hamming-0 fast path misses it, the banded search must find it."""
    from tartare_spark.operators.dedup_docs import (
        simhash_near_dups,
        simhash_near_dups_banded,
    )

    base = " ".join(f"tok{i}" for i in range(400))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("tok7", "tok7x")),  # near-dup: 1 token changed
            (3, " ".join(f"other{i}" for i in range(400))),
        ],
        "doc_id LONG, text STRING",
    )
    exact = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(docs).collect()}
    banded = simhash_near_dups_banded(docs, bits=32, r=3)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in banded.collect()}
    assert (1, 2) in found, f"banded search missed the planted pair: {found}"
    assert 0 < found[(1, 2)] <= 3
    assert (1, 2) not in exact  # Hamming-0 path misses it by construction
    assert (1, 3) not in found and (2, 3) not in found


def test_jaccard_df_cap_bounds_candidates(spark):
    """A shingle present in EVERY doc makes the unguarded self-join
    quadratic; with max_df the candidate pair count stays bounded."""
    from tartare_spark.operators.dedup_docs import jaccard_pairs

    n = 40
    boiler = "license header apache two point zero"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(n)]
    # two genuine near-dups sharing their non-boilerplate shingles
    rows.append((100, "alpha beta gamma delta epsilon zeta eta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta theta"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    unguarded = jaccard_pairs(docs, shingle_n=3, threshold=0.01)
    assert unguarded.count() >= n * (n - 1) // 2  # boilerplate blowup

    capped = jaccard_pairs(docs, shingle_n=3, threshold=0.01, max_df=5)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs  # real near-dups survive the cap
    assert len(pairs) < n  # boilerplate-only pairs are gone


def test_rolling_fingerprint_order_sensitive(spark):
    """The polynomial fingerprint distinguishes permuted documents (the
    md5 bag fingerprint cannot) and is deterministic."""
    from tartare_spark.operators.text import rolling_fingerprint

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id LONG, text STRING",
    )
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]
    assert all(0 <= v < 2_147_483_647 for v in fp.values())


def test_lsh_multiprobe_recall_dominates_single(spark):
    """Hamming-1 multi-probe candidates are a superset of the single-
    bucket candidates, so every query's best hit is at least as good."""
    from tartare_spark.operators.similarity import lsh_bucketed_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    v = emb.filter(F.col("vec_id") >= 5)
    single = {
        (r["q_id"], r["rk"]): r["cos"]
        for r in lsh_bucketed_topk(v, q, k=1, n_planes=4).collect()
    }
    multi = {
        (r["q_id"], r["rk"]): r["cos"]
        for r in lsh_bucketed_topk(v, q, k=1, n_planes=4, multi_probe=1).collect()
    }
    assert set(single) <= set(multi)  # every answered query still answered
    for key, cos in single.items():
        assert multi[key] >= cos


def test_simhash_banded_is_exact_for_hamming_r(spark):
    """Pigeonhole banding is COMPLETE (any pair within Hamming r shares
    a band) and the bit_count verify makes it SOUND: the banded join
    must return exactly the brute-force Hamming <= r pair set."""
    from tartare_spark.operators.dedup_docs import simhash, simhash_near_dups_banded

    rows = []
    for i in range(40):
        base = [f"w{j}" for j in range(60)]
        # clusters of 4 share most tokens -> many near-dup pairs
        base[i % 7] = f"mut{i // 4}"
        base[(i * 3) % 11 + 20] = f"alt{i % 4}"
        rows.append((i, " ".join(base)))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=32).collect()}
    expected = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups_banded(docs, bits=32, r=3).collect()
    }
    assert got == expected and len(expected) > 0


def test_chunk_fingerprints_detect_containment(spark):
    """A 16-token passage copied into an otherwise-different document
    produces a shared chunk fingerprint (fuzzy containment), while
    whole-document fingerprints differ."""
    from tartare_spark.operators.text import chunk_fingerprints, rolling_fingerprint

    passage = " ".join(f"p{i}" for i in range(16))
    rows = [
        (1, " ".join(f"a{i}" for i in range(24)) + " " + passage),
        (2, passage + " " + " ".join(f"b{i}" for i in range(24))),
        (3, " ".join(f"c{i}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    whole = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert len(set(whole.values())) == 3  # all documents distinct

    fps = chunk_fingerprints(docs, window=16, stride=8).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]          # shared passage detected
    assert not (by_doc[1] & by_doc[3])    # no false sharing
    assert not (by_doc[2] & by_doc[3])


def test_redact_pii_counts_and_tags(spark):
    from tartare_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob@corp.io at 10.0.0.1 ok"),
            (2, "version 1.2.3 is not an ip but 192.168.0.255 is"),
            (3, "nothing sensitive here"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_ips"] == 1
    assert "<EMAIL>" in out[1]["redacted"] and "<IP>" in out[1]["redacted"]
    assert "alice@example.com" not in out[1]["redacted"]
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 1
    assert "1.2.3" in out[2]["redacted"]  # versions survive
    assert out[3]["redacted"] == "nothing sensitive here"


def test_conditional_filter_keeps_matching_sha_delete(spark):
    """A delete whose placeholder content sha-matches the live row (e.g.
    deleting an empty file) must NOT be skipped as 'unchanged'."""
    from tartare_spark.operators.merge import conditional_filter

    staged = spark.createDataFrame(
        [(5, "delete", "r", "p1", "c", None, ""), (6, "update", "r", "p2", "c", None, "same")],
        "lsn LONG, op STRING, repo STRING, path STRING, commit STRING, lang STRING, content STRING",
    )
    target = spark.createDataFrame(
        [("r", "p1", "c", None, "", 1, False, None),
         ("r", "p2", "c", None, "same", 2, False, None)],
        "repo STRING, path STRING, commit STRING, lang STRING, content STRING, _lsn LONG, _deleted BOOLEAN, _content_sha STRING",
    ).withColumn("_content_sha", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256))
    out = conditional_filter(staged, target).collect()
    # the unchanged upsert is skipped; the sha-matching delete survives
    assert [(r["op"], r["path"]) for r in out] == [("delete", "p1")]


def test_asof_broadcast_preserves_duplicate_rows(spark):
    from tartare_spark.operators.asof import asof_join_broadcast

    left = spark.createDataFrame([(5,), (5,), (7,)], "lsn LONG")
    right = spark.createDataFrame([(1, 0), (2, 6)], "version INT, eff LONG")
    out = asof_join_broadcast(left, right, "lsn", "eff", ["version"]).collect()
    assert sorted((r["lsn"], r["version"]) for r in out) == [(5, 1), (5, 1), (7, 2)]


def test_asof_broadcast_duplicate_right_keys_no_overcount(spark):
    """ADVICE r3: duplicate ``right_on`` values made the count/m
    duplicate-recovery arithmetic OVER-recover (count = n*m_rows, m =
    m_distinct). The right side is now pre-deduplicated per right_on
    (deterministic max-struct winner), so output cardinality == left
    cardinality regardless of right-side duplication."""
    from tartare_spark.operators.asof import asof_join_broadcast

    left = spark.createDataFrame([(5,), (5,), (7,)], "lsn LONG")
    # eff=0 appears twice with different payloads; max-struct winner is
    # version 9 (lexicographic max on the payload struct)
    right = spark.createDataFrame(
        [(1, 0), (9, 0), (2, 6)], "version INT, eff LONG"
    )
    out = asof_join_broadcast(left, right, "lsn", "eff", ["version"]).collect()
    assert sorted((r["lsn"], r["version"]) for r in out) == [
        (5, 9), (5, 9), (7, 2)
    ]


def test_interval_bucket_arithmetic_exact_at_long_extremes(spark):
    """ADVICE r3: floor(a / b) on doubles loses integer precision past
    2^53. The exact pmod/decimal floor-division keeps bucket ids exact
    (and hence fanout bounded and the overlap-start dedup aligned) over
    the full long domain, including negatives."""
    from tartare_spark.operators.ranges import _floor_div

    vals = [
        2**62 + 12345,
        2**62 + 12346,  # adjacent — doubles collapse these
        -(2**62) - 7,
        2**53 + 1,
        -1,
        0,
        89,
        90,
        # ADVICE r4: within w of Long.MIN the old long-domain
        # `col - pmod` underflowed before the decimal cast could widen
        # it; the subtraction now runs in decimal(38,0)
        -(2**63),
        -(2**63) + 1,
        -(2**63) + 89,
        2**63 - 1,
    ]
    w = 90
    df = spark.createDataFrame([(v,) for v in vals], "v LONG")
    got = {
        r["v"]: r["b"]
        for r in df.select("v", _floor_div(F.col("v"), F.lit(w).cast("long")).alias("b")).collect()
    }
    for v in vals:
        assert got[v] == v // w, (v, got[v], v // w)


def test_replay_batches_empty_input_noop(spark, tmp_path):
    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    empty = spark.createDataFrame([], CHANGE_EVENT_SCHEMA)
    assert replay_batches(spark, lake, empty, num_chunks=3) == []
    assert lake.current_version() == 0


def test_tag_versions_matches_asof_broadcast(spark):
    from tartare_spark.operators.asof import asof_join_broadcast
    from tartare_spark.registry import SchemaRegistry

    reg_rows = [
        {"version": 1, "effective_lsn": 0, "action": "base", "column": None,
         "renamed_from": None, "default_expr": None},
        {"version": 2, "effective_lsn": 300, "action": "add", "column": "x",
         "renamed_from": None, "default_expr": None},
        {"version": 3, "effective_lsn": 700, "action": "add", "column": "y",
         "renamed_from": None, "default_expr": None},
    ]
    ev = _events(spark).select((F.col("event_id") + 1).alias("lsn"))
    via_case = SchemaRegistry(reg_rows).tag_versions(ev).select(
        "lsn", F.col("_schema_version").alias("version"))
    reg_df = spark.createDataFrame(
        [(int(r["version"]), int(r["effective_lsn"])) for r in reg_rows],
        "version INT, eff LONG")
    via_join = asof_join_broadcast(ev, reg_df, "lsn", "eff", ["version"])
    assert via_case.exceptAll(via_join).count() == 0
    assert via_join.exceptAll(via_case).count() == 0


def test_hash_split_deterministic_and_disjoint(spark):
    """Split assignment is a pure function of (seed, id): identical
    across invocations and orderings, partitions the data exactly, and
    different seeds give a different (but internally consistent) split."""
    from tartare_spark.operators.text import hash_split

    docs = _docs(spark)
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(docs.orderBy(F.desc("doc_id")), "doc_id").collect()}
    assert a == b  # ordering-independent
    assert set(a.values()) <= {"train", "val", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    assert 0.8 * n <= train <= 0.97 * n  # ~0.9 share at this n

    c = {r["doc_id"]: r["split"]
         for r in hash_split(docs, "doc_id", seed=7).collect()}
    assert c != a  # seed changes the draw


def _uf_components(n_nodes, edge_list):
    """Reference union-find: node → min id in its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n_nodes)}


def test_dup_clusters_chain_triangle_pair(spark):
    """Transitivity through a chain (0-1-2-3 is ONE group even though
    0 and 3 never pair directly), plus a triangle and a lone pair."""
    from tartare_spark.operators.dedup_docs import dup_clusters

    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dup_clusters_matches_union_find_random(spark):
    import random

    from tartare_spark.operators.dedup_docs import dup_clusters

    rng = random.Random(42)
    n = 80
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in ((rng.randrange(n), rng.randrange(n))
                                 for _ in range(70)) if a != b})
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    ref = _uf_components(n, edges)
    touched = {v for e in edges for v in e}
    assert got == {v: ref[v] for v in touched}  # singletons excluded


def test_dup_clusters_long_chain_converges(spark):
    """A 41-node path is the pointer-jumping stress case: plain min
    propagation would need 40 rounds; shortcutting needs ~log2(40)."""
    from tartare_spark.operators.dedup_docs import dup_clusters

    edges = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_clusters(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(41)}


def test_dup_clusters_empty(spark):
    from tartare_spark.operators.dedup_docs import dup_clusters

    pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert dup_clusters(pairs).count() == 0


# ----------------------------------------------------------------------
# SCD2 history (operators/scd.py, SURVEY §2 W5/W6)
# ----------------------------------------------------------------------
def _lww_live(ev):
    """Reference LWW live state of a changelog: latest event per key,
    deletes removed (independent window formulation, not the engine's)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .filter(F.col("op") != "delete")
        .select("repo", "path", "commit", "content")
    )


def test_scd2_current_slice_equals_lww_state(spark, unit_events_dir):
    from tartare_spark.operators.scd import scd2_history

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    hist = scd2_history(ev.drop("ts", "lang"))
    cur = hist.filter("is_current").select("repo", "path", "commit", "content")
    exp = _lww_live(ev)
    assert cur.exceptAll(exp).count() == 0
    assert exp.exceptAll(cur).count() == 0
    # intervals are well-formed: a closed version never inverts
    bad = hist.filter(F.col("valid_to_lsn") <= F.col("valid_from_lsn"))
    assert bad.count() == 0


def test_scd2_redelivery_invariant(spark, unit_events_dir):
    """Verbatim redelivered events (SURVEY §2.1 S7 semantics) must not
    fabricate versions: history over log+duplicates == history over log."""
    from tartare_spark.operators.scd import scd2_history

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet").drop("ts", "lang")
    redelivered = ev.unionAll(ev.orderBy("lsn").limit(500))
    a = scd2_history(ev)
    b = scd2_history(redelivered)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_scd2_asof_equals_prefix_replay_state(spark, unit_events_dir):
    """Point-in-time slice at LSN L == LWW live state of the log prefix
    lsn <= L, for L before / between / after delete activity."""
    from tartare_spark.operators.scd import scd2_asof, scd2_history

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet").drop("ts", "lang")
    lo, hi = ev.agg(F.min("lsn"), F.max("lsn")).first()
    hist = scd2_history(ev)
    for frac in (0.25, 0.6, 1.0):
        cut = int(lo + (hi - lo) * frac)
        got = scd2_asof(hist, cut).select("repo", "path", "commit", "content")
        exp = _lww_live(ev.filter(F.col("lsn") <= cut))
        assert got.exceptAll(exp).count() == 0, f"extra rows at lsn {cut}"
        assert exp.exceptAll(got).count() == 0, f"missing rows at lsn {cut}"


# ----------------------------------------------------------------------
# Incremental MV maintenance (operators/mv.py, SURVEY §2 S10)
# ----------------------------------------------------------------------
def test_mv_refresh_equals_full_rebuild(spark, unit_events_dir, tmp_path):
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.mv import build_mv, read_mv, refresh_mv

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    lo, hi = ev.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (int(lo) + int(hi)) // 2
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, ev.filter(F.col("lsn") <= mid), num_chunks=2)
    build_mv(spark, lake, str(tmp_path / "mv"))
    replay_batches(
        spark, lake, ev.filter(F.col("lsn") > mid), num_chunks=3,
        start_batch_id=2,
    )
    got = refresh_mv(spark, lake, str(tmp_path / "mv"))
    full = build_mv(spark, lake, str(tmp_path / "mv_full"))
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0
    # idempotent: refreshing again at the same lake version is a no-op read
    again = refresh_mv(spark, lake, str(tmp_path / "mv"))
    assert again.exceptAll(got).count() == 0
    assert read_mv(spark, str(tmp_path / "mv")).count() == got.count()


def test_mv_groups_appear_and_disappear(spark, tmp_path):
    """A group whose every key is deleted drops out of the MV; a group
    first seen after the build shows up — both via the generic splice."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch
    from tartare_spark.operators.mv import build_mv, refresh_mv

    ts = datetime.datetime(2026, 1, 1)
    def row(lsn, op, repo, path, content):
        return (lsn, op, repo, path, f"c{lsn}", None, content, ts)

    phase1 = spark.createDataFrame(
        [row(1, "update", "A", "x", "aa"), row(2, "update", "B", "y", "bb")],
        CHANGE_EVENT_SCHEMA,
    )
    phase2 = spark.createDataFrame(
        [row(3, "delete", "A", "x", ""), row(4, "update", "C", "z", "cc")],
        CHANGE_EVENT_SCHEMA,
    )
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    apply_batch(spark, lake, phase1, batch_id=0)
    build_mv(spark, lake, str(tmp_path / "mv"))
    apply_batch(spark, lake, phase2, batch_id=1)
    got = refresh_mv(spark, lake, str(tmp_path / "mv"))
    repos = sorted(r["repo"] for r in got.select("repo").collect())
    assert repos == ["B", "C"], repos


def test_mv_refresh_plan_broadcasts_dirty_keys(spark, tmp_path):
    """Scale invariant: the refresh's two dirty-key joins are BROADCAST
    (semi + anti) — neither the lake snapshot nor the MV shuffles on
    the group key."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch
    from tartare_spark.operators.mv import build_mv, refresh_plan

    ts = datetime.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [(i, "update", f"r{i % 3}", f"p{i}", f"c{i}", None, "x" * 10, ts)
         for i in range(1, 30)],
        CHANGE_EVENT_SCHEMA,
    )
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    apply_batch(spark, lake, ev.filter("lsn <= 15"), batch_id=0)
    build_mv(spark, lake, str(tmp_path / "mv"))
    apply_batch(spark, lake, ev.filter("lsn > 15"), batch_id=1)
    plan = refresh_plan(
        spark, lake, str(tmp_path / "mv"), 1, lake.current_version()
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_window_plan(spark, unit_events_dir):
    """Scale invariant: the whole history is ONE window over ONE
    exchange — no pre-dedup shuffle, no join."""
    from tartare_spark.operators.scd import scd2_history

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet").drop("ts", "lang")
    plan = scd2_history(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan and "lead(" in plan
    assert "Join" not in plan


# ----------------------------------------------------------------------
# CDC envelope source (operators/envelope.py, SURVEY §2 S11)
# ----------------------------------------------------------------------
def test_envelope_roundtrip_lossless(spark, unit_events_dir):
    """changelog → envelope JSON → changelog preserves every surviving
    field: upserts fully (incl. ts at millisecond precision, the wire
    format's granularity); deletes keep key + lsn + ts."""
    from tartare_spark.operators.envelope import envelope_changelog, to_envelope

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    ref = ev.withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    )
    back = envelope_changelog(to_envelope(ev))
    up_cols = ["lsn", "op", "repo", "path", "commit", "lang", "content", "ts"]
    a = ref.filter("op <> 'delete'").select(up_cols)
    b = back.filter("op <> 'delete'").select(up_cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    del_cols = ["lsn", "repo", "path", "ts"]
    da = ref.filter("op = 'delete'").select(del_cols)
    db = back.filter("op = 'delete'").select(del_cols)
    assert da.exceptAll(db).count() == 0
    assert db.exceptAll(da).count() == 0


def test_envelope_malformed_rows(spark):
    """Malformed JSON surfaces as an all-null row by default (so a
    caller can dead-letter it) and is filtered by drop_malformed."""
    from tartare_spark.operators.envelope import envelope_changelog

    raw = spark.createDataFrame(
        [
            ('{"op":"u","after":{"repo":"r","path":"p","commit":"c",'
             '"content":"x"},"source":{"lsn":7,"ts_ms":1000}}',),
            ("this is not json",),
            # valid JSON, non-row-change op (Debezium truncate): must
            # surface null-op, never decode as a null-key update
            ('{"op":"t","source":{"lsn":9,"ts_ms":2000}}',),
        ],
        "value string",
    )
    kept = envelope_changelog(raw)
    assert kept.count() == 3
    assert kept.filter(F.col("lsn").isNull() & F.col("op").isNull()).count() == 1
    assert (
        kept.filter((F.col("lsn") == 9) & F.col("op").isNull()).count() == 1
    ), "truncate event decoded as a row change"
    strict = envelope_changelog(raw, drop_malformed=True)
    assert strict.count() == 1
    assert strict.first()["lsn"] == 7


def test_envelope_replay_matches_direct_replay(spark, unit_events_dir, tmp_path):
    """The engine applied from a Debezium topic dump reaches the same
    final state as applied from the native changelog."""
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.envelope import envelope_changelog, to_envelope

    ev = spark.read.parquet(f"{unit_events_dir}/*.parquet")
    direct = LakeTable.create(str(tmp_path / "direct"), num_buckets=8)
    replay_batches(spark, direct, ev, num_chunks=4)
    via_env = LakeTable.create(str(tmp_path / "env"), num_buckets=8)
    replay_batches(spark, via_env, envelope_changelog(to_envelope(ev)), num_chunks=4)
    a = direct.snapshot(spark).drop("_ts")
    b = via_env.snapshot(spark).drop("_ts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """At the 100 TB design point a selective dim-side filter should
    reach the fact scan as a Catalyst RUNTIME bloom filter (semi-join
    reduction) — the fact side drops non-matching rows before the
    shuffle instead of shuffling 100 TB to the join. The engine leans on
    the built-in rule rather than hand-rolling one: this pins that the
    rule fires on our join shape once the (size-based) thresholds are
    met, which local-sf data never meets naturally — so the thresholds
    are lowered here, exactly as the 100 TB plan meets them for real."""
    import io
    from contextlib import redirect_stdout

    # the rule only fires on real scans (it sizes the application side),
    # so both sides go through parquet — LocalRelations are never filtered
    rows = [(i, i % 97, f"p{i % 13}") for i in range(20_000)]
    spark.createDataFrame(rows, "k LONG, dim_id LONG, payload STRING").write.parquet(
        str(tmp_path / "fact")
    )
    spark.createDataFrame(
        [(i, "hot" if i < 3 else "cold") for i in range(97)],
        "dim_id LONG, temp STRING",
    ).write.parquet(str(tmp_path / "dim"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim"))

    def run(with_bloom: bool):
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            if with_bloom:
                for k, v in confs.items():
                    spark.conf.set(k, v)
            j = (
                fact.join(
                    dim.filter(F.col("temp") == "hot"), "dim_id"
                )
                .groupBy("temp")
                .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
            )
            out = {tuple(r) for r in j.collect()}
            buf = io.StringIO()
            with redirect_stdout(buf):
                j.explain("formatted")
            return out, buf.getvalue()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    plain_rows, plain_plan = run(with_bloom=False)
    bloom_rows, bloom_plan = run(with_bloom=True)
    assert "might_contain" not in plain_plan
    assert "might_contain" in bloom_plan and "bloom_filter_agg" in bloom_plan
    assert bloom_rows == plain_rows and bloom_rows


def test_minhash_index_equals_inline_cross_pairs(spark, tmp_path):
    """query_minhash_index(batch, index(corpus)) must return exactly the
    corpus×batch slice of the inline LSH self-join over corpus ∪ batch —
    the persisted index changes the cost shape (hash only the batch per
    ingest), never the candidates."""
    from tartare_spark.operators.dedup_docs import (
        build_minhash_index,
        lsh_candidates,
        query_minhash_index,
    )

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 == 5)
    idx = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, idx, k=12, bands=12, shingle_n=3)
    got = {
        (r["new_id"], r["idx_id"])
        for r in query_minhash_index(spark, idx, batch).collect()
    }

    inline = lsh_candidates(
        corpus.unionByName(batch), k=12, bands=12, shingle_n=3
    ).collect()
    # keep only cross pairs, reorient to (batch-side, corpus-side)
    want = set()
    for r in inline:
        a, b = r["id_a"], r["id_b"]
        if a % 10 == 5 and b % 10 == 0:
            want.add((a, b))
        elif a % 10 == 0 and b % 10 == 5:
            want.add((b, a))
    assert got == want and got, f"{len(got)} vs {len(want)} pairs"

    # an exact duplicate of a corpus doc in a later batch must be caught
    dup_src = corpus.orderBy("doc_id").limit(1)
    dup = dup_src.select(
        F.lit(99995).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    first_id = dup_src.collect()[0]["doc_id"]
    got2 = {
        (r["new_id"], r["idx_id"])
        for r in query_minhash_index(spark, idx, dup).collect()
    }
    assert (99995, first_id) in got2


def test_minhash_index_probe_bands_partition_pruned(spark, tmp_path):
    """probe_bands must reach the index scan as partition pruning:
    corrupt every NON-probed band=<b> partition — a probe restricted to
    the healthy bands still answers, and equals the full query's pairs
    restricted to those bands on the batch side too."""
    import os

    from tartare_spark.operators.dedup_docs import (
        build_minhash_index,
        query_minhash_index,
    )

    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 == 5)
    idx = str(tmp_path / "mh_idx_prune")
    build_minhash_index(corpus, idx, k=12, bands=12, shingle_n=3)

    probed = [0, 1, 2]
    want = {
        (r["new_id"], r["idx_id"])
        for r in query_minhash_index(
            spark, idx, batch, probe_bands=probed
        ).collect()
    }
    assert want, "probed bands must yield candidates on this corpus"

    for b in range(12):
        if b in probed:
            continue
        d = os.path.join(idx, "bands", f"band={b}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "wb") as fh:
                    fh.write(b"not parquet")
    got = {
        (r["new_id"], r["idx_id"])
        for r in query_minhash_index(
            spark, idx, batch, probe_bands=probed
        ).collect()
    }
    assert got == want
    # and the full (unrestricted) query now fails — corruption is real
    import pytest as _pytest

    with _pytest.raises(Exception):
        query_minhash_index(spark, idx, batch).collect()


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """The optimizer-native answer to skewed join keys (complementing
    the explicit salting of A3): with AQE skew-join on, a hot key's
    oversized shuffle partition is split at runtime — the final
    adaptive plan marks the join skew=true — with results identical to
    the unsplit plan. Thresholds are lowered to make local-sf data
    qualify, exactly as 100 TB partitions qualify naturally."""
    import io
    from contextlib import redirect_stdout

    # one pathological key carrying ~95% of rows
    rows = [(0 if i % 20 else i % 97, i) for i in range(200_000)]
    spark.createDataFrame(rows, "k LONG, v LONG").write.parquet(
        str(tmp_path / "skewed")
    )
    spark.createDataFrame(
        [(i, f"d{i}") for i in range(97)], "k LONG, tag STRING"
    ).write.parquet(str(tmp_path / "dim"))
    fact = spark.read.parquet(str(tmp_path / "skewed"))
    dim = spark.read.parquet(str(tmp_path / "dim"))

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = fact.join(dim, "k").groupBy("tag").agg(
            F.count("*").alias("n"), F.sum("v").alias("sum_v")
        )
        got = {tuple(r) for r in j.collect()}
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        assert "skew=true" in plan, plan[-2000:]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    plain = {
        tuple(r)
        for r in fact.join(dim, "k")
        .groupBy("tag")
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == plain and got


# ----------------------------------------------------------------------
# Corpus composition (operators/sampling.py — tx9/tx10/tx11)
# ----------------------------------------------------------------------
def test_stratified_sample_partitioning_invariant(spark):
    """The kept set is a pure function of (seed, id, stratum): identical
    under any physical partitioning/ordering, rates are honored per
    stratum, and unknown strata fall to default_rate (0 = dropped)."""
    from tartare_spark.operators.sampling import stratified_sample

    docs = _docs(spark)
    rates = {"en": 0.5, "de": 0.25}
    a = {r["doc_id"] for r in
         stratified_sample(docs, "doc_id", "lang", rates).collect()}
    b = {r["doc_id"] for r in
         stratified_sample(docs.repartition(17, "lang"), "doc_id", "lang",
                           rates).collect()}
    c = {r["doc_id"] for r in
         stratified_sample(docs.orderBy(F.desc("doc_id")), "doc_id", "lang",
                           rates).collect()}
    assert a == b == c and a
    # default_rate=0 drops every stratum without a rate
    langs = {r["lang"] for r in
             stratified_sample(docs, "doc_id", "lang", rates)
             .select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    # per-stratum shares ~ rate (n_en = 218, n_de = 70 at sf0.01)
    kept = stratified_sample(docs, "doc_id", "lang", rates)
    n_en = kept.filter("lang = 'en'").count()
    tot_en = docs.filter("lang = 'en'").count()
    assert 0.35 * tot_en <= n_en <= 0.65 * tot_en


def test_quota_cap_deterministic_and_map_side_trimmed(spark):
    """Quota semantics: ≤ cap rows per stratum, same winners under any
    input ordering. Scale invariant: the row_number filter plans as a
    WindowGroupLimit (Partial before the exchange), so each map
    partition trims to its local top-cap before any shuffle."""
    from tartare_spark.operators.sampling import quota_cap

    docs = _docs(spark)
    capped = quota_cap(docs, "doc_id", "lang", cap=10)
    per = {r["lang"]: r["n"] for r in
           capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per and all(n <= 10 for n in per.values())
    assert per["en"] == 10  # en has 218 docs — the cap binds
    a = {r["doc_id"] for r in capped.collect()}
    b = {r["doc_id"] for r in
         quota_cap(docs.orderBy(F.desc("n_chars")), "doc_id", "lang",
                   cap=10).collect()}
    assert a == b
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_pack_sequences_invariants_and_single_shuffle(spark):
    """Per shard: offsets tile exactly (each doc begins where the
    previous ended), sequence ids are the exact integer quotients, and
    the whole packing is ONE exchange (on the shard id)."""
    from tartare_spark.operators.sampling import pack_sequences
    from tartare_spark.operators.text import token_count

    docs = _docs(spark)
    w = F.greatest(token_count(F.col("text")), F.lit(1))
    packed = pack_sequences(docs, "doc_id", w, capacity=128, num_shards=4)
    rows = packed.orderBy("shard", "doc_id").collect()
    assert rows and {r["shard"] for r in rows} == {0, 1, 2, 3}
    nxt = {}
    for r in rows:  # rows are ordered by (shard, doc_id)
        assert r["off_begin"] == nxt.get(r["shard"], 0)
        nxt[r["shard"]] = r["off_begin"] + r["weight"]
        assert r["seq_first"] == r["off_begin"] // 128
        assert r["seq_last"] == (r["off_begin"] + r["weight"] - 1) // 128
        assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1 >= 1
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_pack_sequences_exact_past_double_precision(spark):
    """Offsets beyond 2^53 stay exact: seq ids use integer DIV, never
    double division (the ranges.py lesson). A weight stream whose
    cumulative sum crosses 2^53+epsilon must match Python int math."""
    from pyspark.sql.types import LongType, StructField, StructType

    from tartare_spark.operators.sampling import pack_sequences

    base = (1 << 53) + 1
    data = [(i, base if i == 0 else 1000 + i) for i in range(6)]
    df = spark.createDataFrame(
        data,
        StructType([StructField("id", LongType()), StructField("w", LongType())]),
    )
    got = {
        r["id"]: (r["off_begin"], r["seq_first"], r["seq_last"])
        for r in pack_sequences(df, "id", "w", capacity=997,
                                num_shards=1).collect()
    }
    off = 0
    for i, w in data:
        assert got[i] == (off, off // 997, (off + w - 1) // 997), (i, got[i])
        off += w


def test_bucketed_publish_join_exchange_free(spark, tmp_path):
    """Co-bucketed exports join with ZERO exchange (the write-once
    shuffle contract): with broadcast disabled, the bucket-aligned
    SortMergeJoin has no Exchange node at all, buckets prune on point
    predicates, and results equal the plain join."""
    from tartare_spark.operators.publish import publish_bucketed, read_published

    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumnRenamed(
        "vec_id", "doc_id"
    )
    publish_bucketed(docs, "t_docs_bj", str(tmp_path / "d"), ["doc_id"], 8,
                     sort_cols=["doc_id"])
    publish_bucketed(emb, "t_emb_bj", str(tmp_path / "e"), ["doc_id"], 8,
                     sort_cols=["doc_id"])
    a, b = read_published(spark, "t_docs_bj"), read_published(spark, "t_emb_bj")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = a.join(b, "doc_id").select("doc_id", "lang", "label")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        got = {tuple(r) for r in j.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    plain = {
        tuple(r)
        for r in docs.join(emb, "doc_id").select("doc_id", "lang", "label").collect()
    }
    assert got == plain and got
    # bucket pruning on a point predicate reaches the scan (a bare
    # filter doesn't require the bucketed distribution, so Spark's
    # autoBucketedScan turns bucketed reading off unless pinned on)
    saved_abs = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    )
    try:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        pt = a.filter(F.col("doc_id") == 7)
        pplan = pt._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in pplan, pplan
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", saved_abs
        )


def test_contamination_flags_planted_leak(spark):
    """A training doc that embeds a benchmark doc verbatim must be
    flagged with a large shared-shingle count; the corpus side must
    stream through a BROADCAST join on the shingle (no corpus shuffle,
    no cartesian)."""
    from tartare_spark.operators.dedup_docs import contamination_report

    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") < 5)
    leak_text = bench.filter("doc_id = 3").collect()[0]["text"]
    train = docs.filter(F.col("doc_id") >= 5).union(
        spark.createDataFrame(
            [(9999, "fresh prefix words " + leak_text, "en", "srcX", len(leak_text))],
            docs.schema,
        )
    )
    rep = contamination_report(train, bench, min_overlap=2)
    hits = {(r["train_id"], r["bench_id"]): r["n_shared"] for r in rep.collect()}
    assert (9999, 3) in hits and hits[(9999, 3)] >= 10
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_global_rank_exact_and_partitioned(spark):
    """Two-phase global rank equals the naive single-partition window
    exactly, and its window is PARTITIONED (no whole-table-to-one-task
    stage: the plan's Window has a partition spec and one Exchange on
    the bucket, never a SinglePartition exchange)."""
    from pyspark.sql import Window

    from tartare_spark.operators.sort import global_rank

    docs = _docs(spark)
    ranked = global_rank(
        docs, bucket=F.floor(F.col("n_chars") / 50),
        order_cols=["n_chars", "doc_id"],
    )
    got = {r["doc_id"]: r["rank"] for r in ranked.collect()}
    naive = {
        r["doc_id"]: r["rank"]
        for r in docs.withColumn(
            "rank",
            F.row_number().over(Window.orderBy("n_chars", "doc_id")),
        ).collect()
    }
    assert got == naive and len(got) == 500
    # AQE's toString appends the Initial Plan after the Final Plan —
    # assert on the final section only
    plan = (
        ranked._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1 and "Window" in plan, plan
    # negative buckets (negative leading keys) still rank exactly
    neg = docs.withColumn("v", F.col("n_chars") - 300)
    r2 = global_rank(neg, F.floor(F.col("v") / 50), ["v", "doc_id"])
    n2 = {
        r["doc_id"]: r["rank"]
        for r in neg.withColumn(
            "rank", F.row_number().over(Window.orderBy("v", "doc_id"))
        ).collect()
    }
    assert {r["doc_id"]: r["rank"] for r in r2.collect()} == n2


def test_global_rank_broadcast_form(spark):
    """Round-4 verdict item 3: past ``broadcast_threshold`` buckets the
    rank offsets ship as a BROADCAST-joined DataFrame instead of a
    create_map literal (the plan-size/codegen hazard at fine-bucketed
    100 TB exports). Both forms produce identical ranks; the wide form's
    plan has a BroadcastHashJoin and still no SinglePartition window."""
    from pyspark.sql import Window

    from tartare_spark.operators.sort import global_rank

    # equivalence of the two forms on the same input (threshold=0
    # forces the broadcast form even at 500 docs)
    docs = _docs(spark)
    bucket = F.floor(F.col("n_chars") / 50)
    lit_form = global_rank(docs, bucket, ["n_chars", "doc_id"])
    bc_form = global_rank(
        docs, bucket, ["n_chars", "doc_id"], broadcast_threshold=0
    )
    lit_ranks = {r["doc_id"]: r["rank"] for r in lit_form.collect()}
    bc_ranks = {r["doc_id"]: r["rank"] for r in bc_form.collect()}
    assert lit_ranks == bc_ranks and len(bc_ranks) == 500

    # 20k buckets under the DEFAULT threshold: broadcast form kicks in
    wide = spark.range(40_000).select(
        F.col("id").cast("long").alias("v")
    )
    ranked = global_rank(wide, F.floor(F.col("v") / 2), ["v"])
    plan = (
        ranked._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SinglePartition" not in plan, plan
    got = {r["v"]: r["rank"] for r in ranked.collect()}
    assert all(got[v] == v + 1 for v in (0, 1, 39_999, 20_000))
    assert len(got) == 40_000


def test_mv_dirty_broadcast_guard(spark, tmp_path):
    """Round-4 verdict item 4: a majority-dirty feed (bulk backfill /
    long refresh gap) must NOT broadcast the dirty-key set — past the
    threshold both joins fall back to shuffle semi/anti joins, and the
    refresh still equals a full rebuild."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch
    from tartare_spark.operators.mv import build_mv, refresh_mv, refresh_plan

    ts = datetime.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [(i, "update", f"r{i % 40}", f"p{i}", f"c{i}", None, "x" * 10, ts)
         for i in range(1, 101)],
        CHANGE_EVENT_SCHEMA,
    )
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    apply_batch(spark, lake, ev.filter("lsn <= 50"), batch_id=0)
    build_mv(spark, lake, str(tmp_path / "mv"))
    apply_batch(spark, lake, ev.filter("lsn > 50"), batch_id=1)

    # past the threshold the refresh must not FORCE a broadcast — with
    # the size-based auto-broadcast off (as it would be for a genuinely
    # huge dirty set), no BroadcastHashJoin remains in the plan
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = refresh_plan(
            spark, lake, str(tmp_path / "mv"), 1, lake.current_version(),
            dirty_broadcast_threshold=0,
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    got = refresh_mv(
        spark, lake, str(tmp_path / "mv"), dirty_broadcast_threshold=0
    )
    full = build_mv(spark, lake, str(tmp_path / "mv_full"))
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0


def test_mv_broadcast_guard_bound_spans_fast_forward(spark, tmp_path):
    """The broadcast guard's driver-side bound must cover every commit
    kind. A fast-forward publishes every staged delta but carries only
    the branch head's stats: here the head touched 1 key while the
    publish dirties 4 groups, so a threshold of 1 must still plan
    shuffle joins, and the refresh must equal a full rebuild."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch
    from tartare_spark.operators.mv import build_mv, refresh_mv, refresh_plan

    ts = datetime.datetime(2026, 1, 1)

    def events(rows):
        return spark.createDataFrame(
            [(i, "update", repo, f"p{i}", f"c{i}", None, "z" * i, ts)
             for i, repo in rows],
            CHANGE_EVENT_SCHEMA,
        )

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    apply_batch(spark, lake, events([(i, f"r{i % 6}") for i in range(1, 13)]),
                batch_id=0)
    mv = str(tmp_path / "mv")
    build_mv(spark, lake, mv)
    fork_v = lake.current_version()
    br = lake.create_branch("stage")
    # two staged commits: 3 groups, then 1 key in a 4th group
    apply_batch(spark, br, events([(20, "r0"), (21, "r1"), (22, "r2")]),
                batch_id=1)
    apply_batch(spark, br, events([(23, "r9")]), batch_id=2)
    lake.fast_forward("stage")
    assert lake.manifest()["stats"]["keys"] == 1  # the head commit's stats

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = refresh_plan(
            spark, lake, mv, fork_v, lake.current_version(),
            dirty_broadcast_threshold=1,
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    got = refresh_mv(spark, lake, mv, dirty_broadcast_threshold=1)
    full = build_mv(spark, lake, str(tmp_path / "mv_full"))
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0


def test_mv_refresh_falls_back_on_expired_feed(spark, tmp_path):
    """ADVICE r4: when expire_snapshots has outrun the MV's recorded
    lake version, the incremental feed is gone — refresh_mv must fall
    back to a FULL rebuild at the current version (monotone MV version,
    correct contents) instead of dying."""
    import datetime

    from tartare_spark.lake.schema import CHANGE_EVENT_SCHEMA
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import apply_batch
    from tartare_spark.operators.mv import (
        _read_meta, build_mv, refresh_mv,
    )

    ts = datetime.datetime(2026, 1, 1)
    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, "update", f"r{i % 5}", f"p{i}", f"c{i}", None, "y" * 8, ts)
             for i in range(lo, hi)],
            CHANGE_EVENT_SCHEMA,
        )

    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    apply_batch(spark, lake, batch(1, 20), batch_id=0)
    build_mv(spark, lake, str(tmp_path / "mv"))
    mv_meta_before = _read_meta(str(tmp_path / "mv"))
    for b in range(1, 5):
        apply_batch(spark, lake, batch(20 * b, 20 * b + 20), batch_id=b)
    lake.expire_snapshots(keep_last=2)
    assert lake.oldest_version() > mv_meta_before["lake_version"]

    got = refresh_mv(spark, lake, str(tmp_path / "mv"))
    full = build_mv(spark, lake, str(tmp_path / "mv_full"))
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0
    meta = _read_meta(str(tmp_path / "mv"))
    assert meta["mv_version"] == mv_meta_before["mv_version"] + 1
    assert meta["lake_version"] == lake.current_version()


def test_pack_sequences_clamps_nonpositive_weights(spark):
    """ADVICE r4: a 0/negative weight is clamped to 1 inside the
    operator, keeping offsets strictly increasing and n_seqs >= 1."""
    from tartare_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 10), (4, 0)], "id LONG, w LONG"
    )
    out = sorted(
        pack_sequences(df, "id", "w", capacity=8, num_shards=1).collect(),
        key=lambda r: r["id"],
    )
    assert [r["weight"] for r in out] == [1, 1, 10, 1]
    offs = [r["off_begin"] for r in out]
    assert offs == sorted(set(offs)), offs  # strictly increasing
    assert all(r["n_seqs"] >= 1 for r in out)


def test_bucketed_publish_registration_survives_session(spark, tmp_path):
    """Round-4 verdict item 6: the _bucket_spec.json sidecar +
    register_published recover the bucket contract after a catalog
    wipe (session restart): the re-registered tables join with ZERO
    exchange and identical rows."""
    from tartare_spark.operators.publish import (
        publish_bucketed, read_published, register_published,
    )

    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumnRenamed(
        "vec_id", "doc_id"
    )
    publish_bucketed(docs, "t_docs_reg", str(tmp_path / "d"), ["doc_id"], 8,
                     sort_cols=["doc_id"])
    publish_bucketed(emb, "t_emb_reg", str(tmp_path / "e"), ["doc_id"], 8,
                     sort_cols=["doc_id"])
    # simulate a fresh session: the catalog forgets the registration
    spark.sql("DROP TABLE t_docs_reg")
    spark.sql("DROP TABLE t_emb_reg")
    register_published(spark, str(tmp_path / "d"))
    register_published(spark, str(tmp_path / "e"))
    a = read_published(spark, "t_docs_reg")
    b = read_published(spark, "t_emb_reg")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = a.join(b, "doc_id").select("doc_id", "lang", "label")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        got = {tuple(r) for r in j.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    plain = {
        tuple(r)
        for r in docs.join(emb, "doc_id").select("doc_id", "lang", "label").collect()
    }
    assert got == plain and got


# ---------------------------------------------------------------------------
# round 5: tx12 Gopher repetition, dd10 span dedup, sim4 semantic dedup
# ---------------------------------------------------------------------------
def test_gopher_repetition_semantics(spark):
    """Hand-computed repetition signals: a degenerate repeated doc is
    dropped, a long diverse doc kept, a one-token doc has empty-gram
    guards (no div-by-zero, dropped on length)."""
    from tartare_spark.operators.text import gopher_repetition

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa bb aa bb"),
            (2, " ".join(f"word{i}" for i in range(25))),
            (3, "hello"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    r1 = rows[1]
    # grams: "aa bb" x3, "bb aa" x2 -> 5 grams, 2 distinct, top count 3
    assert r1["n_tok"] == 6
    assert r1["dup_2gram_frac"] == 0.6
    assert r1["top_2gram_frac"] == 0.6
    assert r1["mean_word_len"] == 2.0
    assert r1["keep"] is False
    r2 = rows[2]
    assert r2["n_tok"] == 25 and r2["dup_2gram_frac"] == 0.0
    assert r2["keep"] is True
    r3 = rows[3]
    assert r3["n_tok"] == 1
    assert r3["dup_2gram_frac"] == 0.0 and r3["top_2gram_frac"] == 0.0
    assert r3["keep"] is False


def test_gopher_repetition_shuffle_free(spark):
    """Scale invariant: the repetition filter is a map-only pass —
    zero exchanges even on a parquet source."""
    from tartare_spark.operators.text import gopher_repetition

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        gopher_repetition(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_span_dedup_semantics(spark):
    """Cross-doc spans count as shared; SELF-repeated spans do not."""
    from tartare_spark.operators.dedup_docs import span_dedup

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 a1 a2 a3 a4"),
            (2, "t1 t2 t3 t4 b1 b2 b3 b4"),
            (3, "c1 c2 c3 c4 c1 c2 c3 c4"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup(docs, window=4).collect()}
    assert rows[1]["n_spans"] == 2 and rows[1]["n_shared"] == 1
    assert rows[1]["shared_frac"] == 0.5 and rows[1]["keep"] is False
    assert rows[2]["n_spans"] == 2 and rows[2]["n_shared"] == 1
    # doc 3's duplicated span is self-only: not cross-doc shared
    assert rows[3]["n_spans"] == 2 and rows[3]["n_shared"] == 0
    assert rows[3]["keep"] is True


def test_span_dedup_two_exchanges_no_join(spark):
    """Scale invariant: shared-span detection is min!=max over one
    fp-partitioned window + one per-doc rollup — exactly two exchanges,
    no join, and the shuffle never carries the text column."""
    from tartare_spark.operators.dedup_docs import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = span_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan
    # both shuffles key on the long columns; the text column is projected
    # away before the fp exchange (the Generate's output is (doc_id, fp))
    assert "Exchange hashpartitioning(fp" in plan, plan
    assert "Exchange hashpartitioning(doc_id" in plan, plan


def test_semantic_dedup_greedy_keep_smallest(spark):
    """n_cells=1 makes the pair set exact: identical and near-identical
    vectors are dropped with dup_of = the smallest partner id."""
    from tartare_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
            (5, [0.9, 0.1, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, threshold=0.95, n_cells=1, n_iters=1).collect()}
    assert out[1]["keep"] is True and out[3]["keep"] is True and out[4]["keep"] is True
    assert out[2]["keep"] is False and out[2]["dup_of"] == 1
    assert out[2]["max_cos"] == 1.0
    assert out[5]["keep"] is False and out[5]["dup_of"] == 1
    assert out[1]["dup_of"] is None and out[1]["max_cos"] is None


def test_semantic_dedup_no_cartesian(spark):
    """Scale invariant: the pair comparison is a shuffled equi-join on
    the cell key (sum-over-cells O(c^2)), never a cartesian product;
    the only nested-loop is the broadcast centroid assignment."""
    from tartare_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        semantic_dedup(emb, threshold=0.3, n_cells=8, n_iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_unigram_logprob_semantics(spark):
    """Hand-mirrored formula on a 3-doc corpus: head-token docs score
    high, a rare-token gibberish doc scores low and is dropped."""
    import math

    from tartare_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "zq xv qqj")],
        "doc_id long, text string",
    )
    # corpus counts: a=3 b=1 c=1 zq=1 xv=1 qqj=1, N=8
    def score(counts):
        s = sum(round(math.log(c), 6) for c in counts)
        return round(s / len(counts) - round(math.log(8), 6), 4)

    rows = {r["doc_id"]: r for r in
            unigram_logprob(docs, min_logprob=-1.8).collect()}
    assert rows[1]["n_tok"] == 3
    assert rows[1]["mean_logprob"] == score([3, 3, 1])
    assert rows[2]["mean_logprob"] == score([3, 1])
    assert rows[3]["mean_logprob"] == score([1, 1, 1])
    assert rows[1]["keep"] is True and rows[2]["keep"] is True
    assert rows[3]["keep"] is False  # pure-gibberish doc: -2.0794


def test_unigram_logprob_distinct_pair_join(spark):
    """Scale invariant: the vocab join runs on DISTINCT (doc,tok) pairs
    (an aggregate feeds the join), never on raw occurrences, and the
    1-row corpus total arrives by broadcast, not a cartesian."""
    from tartare_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        unigram_logprob(docs)._jdf.queryExecution().executedPlan().toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row total
    # the equi-join's streamed side is the (doc_id, tok) aggregate:
    # both shuffles upstream of the join key on (doc_id, tok) / (tok)
    import re

    assert re.search(r"Exchange hashpartitioning\(tok#", plan), plan
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, tok#", plan), plan


def test_mixture_weights_semantics(spark):
    """Two groups, hand-counted tokens: shares, uniform target, and the
    target-dict override."""
    from tartare_spark.operators.text import mixture_weights

    docs = spark.createDataFrame(
        [(1, "w w w", "a"), (2, "w", "a"), (3, "w w w w", "b")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in mixture_weights(docs).collect()}
    assert rows["a"]["n_docs"] == 2 and rows["a"]["group_tokens"] == 4
    assert rows["b"]["group_tokens"] == 4
    assert rows["a"]["token_share"] == 0.5 and rows["a"]["target_share"] == 0.5
    assert rows["a"]["sample_weight"] == 1.0 and rows["b"]["sample_weight"] == 1.0

    skew = {r["source"]: r for r in
            mixture_weights(docs, target={"a": 0.75, "b": 0.25}).collect()}
    assert skew["a"]["target_share"] == 0.75
    assert skew["a"]["sample_weight"] == 1.5
    assert skew["b"]["sample_weight"] == 0.5

    # a group absent from the target dict gets weight 0 (dropped)
    part = {r["source"]: r for r in
            mixture_weights(docs, target={"a": 1.0}).collect()}
    assert part["b"]["target_share"] == 0.0 and part["b"]["sample_weight"] == 0.0


def test_curate_corpus_stage_order(spark):
    """Exact dedup runs BEFORE the cross-doc stages: a doc with an
    exact copy must still survive (one copy kept) — running span dedup
    on the raw corpus would flag every span of both copies as shared
    and discard all copies. Planted drops for each stage verify the
    composition."""
    from tartare_spark.operators.curation import curate_corpus

    diverse = " ".join(f"word{i}" for i in range(25))
    shared = " ".join(f"sharedtok{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb aaaa bbbb aaaa bbbb", "s"),  # gopher: repetitive
            (2, diverse, "s"),                           # the survivor
            (3, diverse, "s"),                           # exact copy of 2
            (4, shared + " " + " ".join(f"uniqa{i}" for i in range(8)), "s"),
            (5, shared + " " + " ".join(f"uniqb{i}" for i in range(8)), "s"),
            # 4/5: 24 tokens, 3 spans, 2 cross-doc-shared -> span drop
        ],
        "doc_id long, text string, source string",
    )
    rows = curate_corpus(docs, min_logprob=-99.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 5
    assert r["n_kept"] == 1, r   # doc 2 survives its exact copy
    assert r["tokens_kept"] == 25
    assert r["kept_frac"] == 0.2


def test_curate_corpus_no_cartesian(spark):
    """Scale invariant: the composed pipeline joins stages on doc_id —
    no cartesian anywhere; the only NLJ is the broadcast 1-row corpus
    total from the LM stage."""
    from tartare_spark.operators.curation import curate_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        curate_corpus(docs)._jdf.queryExecution().executedPlan().toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan


def test_gopher_repetition_null_text_is_dropped(spark):
    """A NULL-text doc must get keep=False (total verdict), never
    keep=NULL — NULL vanishes from both filter(keep) and filter(~keep)."""
    from tartare_spark.operators.text import gopher_repetition

    docs = spark.createDataFrame(
        [(1, None), (2, " ".join(f"word{i}" for i in range(25)))],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    assert rows[1]["keep"] is False
    assert rows[2]["keep"] is True


def test_mixture_weights_absent_target_key(spark):
    """A target key with no corpus docs still gets a row: n_docs=0,
    token_share=0, sample_weight=NULL — the unrealizable share must be
    loud, not a silently missing row."""
    from tartare_spark.operators.text import mixture_weights

    docs = spark.createDataFrame(
        [(1, "w w", "web")], "doc_id long, text string, source string"
    )
    rows = {r["source"]: r for r in
            mixture_weights(docs, target={"web": 0.5, "code": 0.5}).collect()}
    assert set(rows) == {"web", "code"}
    c = rows["code"]
    assert c["n_docs"] == 0 and c["group_tokens"] == 0
    assert c["token_share"] == 0.0 and c["target_share"] == 0.5
    assert c["sample_weight"] is None
    assert rows["web"]["sample_weight"] == 0.5  # 0.5 target / 1.0 share


def test_span_dedup_stride1_catches_misaligned_copy(spark):
    """The default grid (stride=window) misses a copied passage shifted
    by one token; stride=1 fingerprints every window-gram and catches
    it regardless of alignment."""
    from tartare_spark.operators.dedup_docs import span_dedup

    body = " ".join(f"tok{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, body), (2, "intro " + body)],
        "doc_id long, text string",
    )
    grid = {r["doc_id"]: r for r in span_dedup(docs, window=8).collect()}
    assert grid[1]["n_shared"] == 0 and grid[2]["n_shared"] == 0  # blind spot
    roll = {r["doc_id"]: r for r in
            span_dedup(docs, window=8, stride=1).collect()}
    assert roll[1]["n_shared"] == roll[1]["n_spans"]  # every gram shared
    assert roll[1]["keep"] is False and roll[2]["keep"] is False


def test_semantic_dedup_assignment_is_map_side(spark):
    """Scale invariant (review fix): cell assignment is a literal
    argmax PROJECTION — no window, no crossJoin/NLJ anywhere in the
    plan; the only joins are the cell equi-join and the dup rollback
    join."""
    from tartare_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        semantic_dedup(emb, threshold=0.3, n_cells=8, n_iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sq8_topk_near_exact_recall(spark):
    """SQ8 quantization error is tiny (8 bits/dim): top-5 per query
    must match the exact brute force on the test corpus; a zero vector
    encodes without dividing by zero."""
    from tartare_spark.operators.similarity import brute_force_topk, sq8_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vs = emb.filter(F.col("vec_id") >= 5)
    exact = {(r["q_id"], r["vec_id"]) for r in
             brute_force_topk(vs, qs, k=5).collect()}
    got = {(r["q_id"], r["vec_id"]) for r in
           sq8_topk(vs, qs, k=5, n_candidates=20).collect()}
    assert len(exact & got) / len(exact) >= 0.9, (exact, got)

    dim = 64
    zero = spark.createDataFrame(
        [(999, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    out = sq8_topk(
        vs.select("vec_id", "embedding").unionByName(zero), qs, k=5,
        n_candidates=20,
    ).collect()
    assert len(out) == 25  # no crash, zero vector just never ranks


def test_pq_topk_finds_planted_duplicate(spark):
    """PQ-ADC sanity on a clustered corpus: an exact duplicate of the
    query must come back at rank 1 with cosine 1.0 (it shares the
    query's codes, so ADC puts it in the candidate set)."""
    from tartare_spark.operators.similarity import pq_topk

    base = [1.0, 0.0, 0.0, 0.0] * 4  # dim 16
    other = [0.0, 1.0, 0.0, 0.0] * 4
    vecs = [(i, [x + 0.01 * i for x in other]) for i in range(10, 40)]
    vecs.append((99, base))  # the planted duplicate
    vs = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qs = spark.createDataFrame(
        [(1, base)], "q_id long, q_vec array<float>"
    )
    out = pq_topk(vs, qs, k=3, m=4, k_cent=4, n_iters=1, n_candidates=5).collect()
    top = [r for r in out if r["rk"] == 1][0]
    assert top["vec_id"] == 99 and top["cos"] == 1.0


def test_pq_codebooks_match_duckdb(spark):
    """pq_topk's per-subspace codebooks are cross-engine exact: train
    kmeans on two 32-dim slices in Spark and via two PREFIXED
    _ivf_cents_sql chains in DuckDB (the multi-codebook oracle shape),
    compare centroids bit-for-bit after 9-sig-digit normalization."""
    import duckdb

    from tartare_spark.demos import _ivf_cents_sql
    from tartare_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    spark_cents = {}
    for j in range(2):
        sub = emb.select(
            "vec_id",
            F.slice(
                F.transform("embedding", lambda x: x.cast("double")),
                j * 32 + 1, 32,
            ).alias("embedding"),
        )
        cj = kmeans_centroids(sub, 4, n_iters=1, seed=42)
        spark_cents[j] = {
            r["cell"]: [f"{x:.9g}" for x in r["c_vec"]] for r in cj.collect()
        }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    chains = ", ".join(
        f"sv{j} AS (SELECT vec_id, v[{j*32+1}:{(j+1)*32}] AS v FROM e), "
        + _ivf_cents_sql(4, n_iters=1, seed=42, prefix=f"s{j}_", src=f"sv{j}")
        for j in range(2)
    )
    sql = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings), {chains}
    SELECT 0 AS sub, cell, cv FROM s0_cents
    UNION ALL SELECT 1, cell, cv FROM s1_cents
    """
    duck = {}
    for sub_j, cell, cv in con.execute(sql).fetchall():
        duck.setdefault(sub_j, {})[cell] = [f"{x:.9g}" for x in cv]
    assert duck == spark_cents


def test_sq8_zero_vector_in_candidate_set(spark):
    """Review repro: a zero vector that REACHES the rerank candidate
    set must not crash (ANSI DIVIDE_BY_ZERO in cosine) — its cosine is
    NULL and it ranks last."""
    from tartare_spark.operators.similarity import sq8_topk

    vs = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.9, 0.1, 0.0, 0.0]),
         (12, [0.0, 1.0, 0.0, 0.0]), (13, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "q_id long, q_vec array<float>"
    )
    rows = sorted(sq8_topk(vs, qs, k=4, n_candidates=20).collect(),
                  key=lambda r: r["rk"])
    assert [r["vec_id"] for r in rows] == [10, 11, 12, 13]
    assert rows[-1]["cos"] is None  # the zero vector, ranked last


def test_frame_schedule_semantics(spark):
    """Hand-computed schedules: short blob samples every frame, long
    blob strides to exactly max_frames, zero-length blob yields an
    empty schedule (no sequence error)."""
    from tartare_spark.operators.multimodal import frame_schedule

    meta = spark.createDataFrame(
        [(1, 1, 10), (2, 10, 30), (3, 0, 30)],
        "doc_id long, duration_s long, fps long",
    )
    rows = {r["doc_id"]: r for r in frame_schedule(meta, max_frames=16).collect()}
    r1 = rows[1]  # 10 frames < 16 -> stride 1, all frames
    assert r1["n_frames"] == 10 and r1["stride"] == 1
    assert r1["frame_idx"] == list(range(10)) and r1["n_sampled"] == 10
    r2 = rows[2]  # 300 frames -> stride 18, capped at 16 indices
    assert r2["n_frames"] == 300 and r2["stride"] == 18
    assert r2["n_sampled"] == 16
    assert r2["frame_idx"] == [i * 18 for i in range(16)]
    r3 = rows[3]
    assert r3["n_frames"] == 0 and r3["frame_idx"] == [] and r3["n_sampled"] == 0


def test_frame_schedule_shuffle_free(spark):
    """Scale invariant: the schedule is a map-only pass — zero
    exchanges on a parquet source."""
    from tartare_spark.operators.multimodal import frame_schedule

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        ((F.col("doc_id") % 300) + 1).cast("long").alias("duration_s"),
        F.lit(30).cast("long").alias("fps"),
    )
    plan = frame_schedule(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_canonical_url_dedup_semantics(spark):
    """All noise variants of one logical URL collapse to a single
    canonical group; distinct pages / hosts stay apart; the group row
    carries the min-id keeper and the member count."""
    from tartare_spark.operators.dedup_docs import canonical_url_dedup

    rows = [
        # five spellings of the same logical URL
        (1, "https://www.Example.com/a/b?utm_source=x"),
        (2, "http://example.com/a/b/"),
        (3, "HTTPS://EXAMPLE.COM/a/b#frag"),
        (4, "  https://www.example.com/a/b  "),
        (5, "example.com/a/b"),  # scheme-less crawl record
        # different page on the same host — its own group (singleton)
        (6, "https://example.com/a/c"),
        # different host, same path — singleton
        (7, "https://other.com/a/b"),
        # www embedded mid-host must NOT be stripped
        (8, "https://notwww.example.com/a/b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["canon_url"]: (r["n_dups"], r["keep_id"])
        for r in canonical_url_dedup(docs).collect()
    }
    assert out == {"example.com/a/b": (5, 1)}


def test_canonical_url_dedup_single_shuffle(spark):
    """One exchange total (the hash groupBy); canonicalization is a
    codegen'd projection on the scan side."""
    from tartare_spark.operators.dedup_docs import canonical_url_dedup

    docs = spark.createDataFrame(
        [(1, "https://a.com/x"), (2, "http://a.com/x/")],
        "doc_id long, url string",
    )
    plan = (
        canonical_url_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange") <= 1, plan


def test_apply_mixture_semantics(spark):
    """Weight > 1 caps at rate 1 (whole group kept); NULL weight and
    absent groups are dropped; rate_scale scales every group's rate."""
    from tartare_spark.operators.sampling import apply_mixture, hash_u

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4]) for i in range(400)],
        "doc_id long, source string",
    )
    weights = spark.createDataFrame(
        [("a", 5.0), ("b", 0.5), ("c", None)],  # 'd' absent
        "source string, sample_weight double",
    )
    out = apply_mixture(docs, weights).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    # capped at 1.0: every 'a' row survives
    assert len(by_src["a"]) == 100
    # NULL weight and absent group: dropped entirely
    assert "c" not in by_src and "d" not in by_src
    # 'b' at 0.5: exactly the rows whose deterministic draw is < 0.5
    u_rows = docs.filter(F.col("source") == "b").select(
        "doc_id", hash_u("doc_id").alias("u")
    ).collect()
    want_b = {r["doc_id"] for r in u_rows if r["u"] < 0.5}
    assert by_src["b"] == want_b and 0 < len(want_b) < 100

    # rate_scale halves every rate: 'a' now sampled at 5*0.1=0.5 capped
    # by its own draw, 'b' at 0.05
    scaled = apply_mixture(docs, weights, rate_scale=0.1).collect()
    a_scaled = {r["doc_id"] for r in scaled if r["source"] == "a"}
    assert a_scaled < by_src["a"] and len(a_scaled) > 0


def test_apply_mixture_no_corpus_shuffle(spark):
    """The corpus side must not shuffle: broadcast join + codegen'd
    draw only — zero hash-partitioning exchanges in the plan."""
    from tartare_spark.operators.sampling import apply_mixture

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string"
    )
    weights = spark.createDataFrame(
        [("a", 1.0), ("b", 0.25)], "source string, sample_weight double"
    )
    plan = (
        apply_mixture(docs, weights)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_canonical_url_idempotent_and_noise_invariant(spark):
    """Canonicalization is a projection onto its own image: applying it
    twice equals applying it once, and every synthesized noise variant
    of a base URL canonicalizes to the base's canonical form. Batched:
    one generated frame, column-wise asserts — no per-example jobs."""
    from tartare_spark.operators.dedup_docs import canonical_url

    hosts = ["example.com", "sub.domain.org", "x-y.net", "wwwx.com"]
    paths = ["", "/a", "/a/b-c", "/a/b/c.html", "/trailing/"]
    base = [f"{h}{p}" for h in hosts for p in paths]
    variants = []
    for i, b in enumerate(base):
        variants += [
            (i, b),
            (i, f"https://{b}"),
            (i, f"HTTP://{b.upper()}"),
            (i, f"https://www.{b}"),
            (i, f"{b}?q=1&utm=2"),
            (i, f"https://www.{b}#frag"),
            (i, f"  {b}/  "),
        ]
    df = spark.createDataFrame(variants, "gid int, url string")
    out = df.select(
        "gid",
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        # idempotence
        assert r["c2"] == r["c1"], r
        # noise variants of one base collapse to one canonical form
        assert r["c1"] == canonical_pure(base[r["gid"]]), r


def canonical_pure(u: str) -> str:
    """Python mirror of the expected canonical form for the generated
    cases (lowercase, no scheme/www./query/fragment/trailing slash)."""
    import re

    c = u.strip().lower()
    c = re.sub(r"^https?://", "", c)
    c = re.sub(r"^www\.", "", c)
    c = re.sub(r"[?#].*$", "", c)
    return re.sub(r"/+$", "", c)


def test_global_ntile_matches_sql_ntile(spark):
    """Two-phase global NTILE equals the naive single-partition
    ``F.ntile`` exactly — including the uneven-tail arithmetic (T % n
    != 0), n > T (every row its own tile), and n = 1 — and its plan
    never collapses to a SinglePartition window."""
    from pyspark.sql import Window

    from tartare_spark.operators.sort import global_ntile

    docs = _docs(spark)
    bucket = F.floor(F.col("n_chars") / 50)
    total = docs.count()
    for n in (1, 3, 7, 10, total - 1, total, total + 13):
        got_df = global_ntile(docs, bucket, ["n_chars", "doc_id"], n=n)
        got = {r["doc_id"]: r["tile"] for r in got_df.collect()}
        naive = {
            r["doc_id"]: r["tile"]
            for r in docs.withColumn(
                "tile",
                F.ntile(n).over(Window.orderBy("n_chars", "doc_id")),
            ).collect()
        }
        assert got == naive, f"n={n}"
    plan = (
        global_ntile(docs, bucket, ["n_chars", "doc_id"], n=10)
        ._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "SinglePartition" not in plan, plan
    with pytest.raises(ValueError):
        global_ntile(docs, bucket, ["n_chars", "doc_id"], n=0)


def test_backfill_ranges_partitions_key_space(spark):
    """O6 invariants: chunk sizes differ by ≤1 and sum to the table;
    ranges are contiguous and non-overlapping in composite key order
    (chunk k's hi < chunk k+1's lo); every row falls inside exactly the
    chunk whose [lo, hi] bounds contain its key; no SinglePartition."""
    from tartare_spark.operators.sort import backfill_ranges

    docs = _docs(spark).select("doc_id", "n_chars")
    total = docs.count()
    plan_df = backfill_ranges(
        docs,
        bucket=F.floor(F.col("n_chars") / 50),
        order_cols=["n_chars", "doc_id"],
        n_chunks=7,
    )
    chunks = sorted(plan_df.collect(), key=lambda r: r["chunk_id"])
    assert [c["chunk_id"] for c in chunks] == list(range(1, 8))
    sizes = [c["n_rows"] for c in chunks]
    assert sum(sizes) == total and max(sizes) - min(sizes) <= 1
    # contiguous, ordered, non-overlapping in (n_chars, doc_id) order
    for a, b in zip(chunks, chunks[1:]):
        assert (a["hi_n_chars"], a["hi_doc_id"]) < (b["lo_n_chars"], b["lo_doc_id"])
    # membership: count rows inside each chunk's inclusive bounds
    rows = sorted((r["n_chars"], r["doc_id"]) for r in docs.collect())
    for c in chunks:
        lo, hi = (c["lo_n_chars"], c["lo_doc_id"]), (c["hi_n_chars"], c["hi_doc_id"])
        assert sum(1 for k in rows if lo <= k <= hi) == c["n_rows"]
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "SinglePartition" not in plan, plan
    with pytest.raises(ValueError):
        backfill_ranges(docs, F.lit(0), ["doc_id"], n_chunks=0)


def test_leakage_safe_split_coassigns_dup_groups(spark):
    """Every exact-dup group gets exactly ONE split (the leakage-safety
    contract), the representative is the group's min id, and the split
    frequencies match the per-doc hash_split shares."""
    from tartare_spark.operators.sampling import leakage_safe_split

    d = _docs(spark).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    tagged = leakage_safe_split(d.unionAll(copies))
    rows = tagged.select("doc_id", "rep_id", "split").collect()
    by_rep: dict = {}
    for r in rows:
        by_rep.setdefault(r["rep_id"], []).append(r)
    for rep, members in by_rep.items():
        assert len({m["split"] for m in members}) == 1, members
        assert rep == min(m["doc_id"] for m in members), members
    # the synthesized copies landed in existing groups, not their own
    n_multi = sum(1 for ms in by_rep.values() if len(ms) > 1)
    assert n_multi == copies.count() > 0
    # split shares ~ (0.9, 0.05, 0.05) over GROUPS (the draw unit)
    n_groups = len(by_rep)
    n_train = sum(1 for ms in by_rep.values() if ms[0]["split"] == "train")
    assert 0.8 < n_train / n_groups < 0.97


def test_sessionize_gap_boundary(spark):
    """A gap of EXACTLY gap_seconds continues the session (strict >,
    microsecond-exact); one microsecond more starts a new one. The
    per-session rollup reuses the window's shuffle (exactly one
    Exchange in the whole plan)."""
    from tartare_spark.operators.sessions import session_rollup, sessionize

    rows = [
        # user 1: t0, +gap exactly (same session), then +gap+1us (new)
        (1, "2024-01-01 00:00:00.000000", 1),
        (1, "2024-01-01 01:00:00.000000", 2),
        (1, "2024-01-01 02:00:00.000001", 3),
        # user 2: single event
        (2, "2024-01-01 12:00:00.000000", 4),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts string, event_id int")
    ev = ev.withColumn("ts", F.to_timestamp("ts"))
    s = sessionize(ev, "user_id", "ts", gap_seconds=3600,
                   order_cols=["ts", "event_id"])
    got = {r["event_id"]: r["session_idx"] for r in s.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}

    roll = session_rollup(
        ev, "user_id", "ts", 3600, order_cols=["ts", "event_id"],
        agg={"event_id": "max"},
    )
    rolled = {(r["user_id"], r["session_idx"]): r for r in roll.collect()}
    assert rolled[(1, 1)]["n_events"] == 2
    assert rolled[(1, 2)]["n_events"] == 1
    assert rolled[(2, 1)]["max_event_id"] == 4
    plan = (
        roll._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Exchange") == 1, plan


def test_quality_tiers_partition_and_order(spark):
    """Tiles are equal-size (±1), the tile sequence is non-decreasing
    along the (score DESC, doc_id) total order — i.e. the split is the
    exact corpus-wide NTILE — and the plan never collapses to a
    SinglePartition window."""
    from tartare_spark.operators.text import quality_tiers

    docs = _docs(spark)
    tiled = quality_tiers(docs, n_tiers=4)
    rows = tiled.select("doc_id", "mean_logprob", "tile").collect()
    assert len(rows) == docs.count()
    ordered = sorted(rows, key=lambda r: (-r["mean_logprob"], r["doc_id"]))
    tiles = [r["tile"] for r in ordered]
    assert tiles == sorted(tiles)
    sizes = [tiles.count(t) for t in sorted(set(tiles))]
    assert sorted(set(tiles)) == [1, 2, 3, 4]
    assert max(sizes) - min(sizes) <= 1
    # tx13's 1-row corpus total is a legitimate SinglePartition final
    # AGGREGATE; what must never appear is a SinglePartition exchange
    # feeding the tiering WINDOW/SORT (the whole-table-in-one-task
    # hazard). Exchange consumers print on the line above in the tree.
    plan = (
        tiled._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            # walk past AQE wrapper nodes to the real consumer
            j = i - 1
            while j >= 0 and (
                "QueryStage" in lines[j] or "AQEShuffleRead" in lines[j]
            ):
                j -= 1
            assert j >= 0 and "Aggregate" in lines[j], plan


def test_span_remove_first_occurrence_and_reconstruction(spark):
    """dd12 semantics: the globally-first copy of a span survives, every
    later copy is cut, the text is rebuilt in span order (tail spans
    shorter than the window included), and a doc reduced to nothing
    keeps an empty clean_text row rather than vanishing."""
    from tartare_spark.operators.dedup_docs import span_remove

    w = "a b c d"  # window=4 spans below
    docs = spark.createDataFrame(
        [
            (1, w + " e f g h tail one"),  # spans: [a b c d][e f g h][tail one]
            (2, w + " x y z w"),           # first span duplicates doc 1's
            (3, w),                        # whole doc duplicates doc 1's span
            (4, ""),                       # empty doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in span_remove(docs, window=4).collect()
    }
    assert out[1]["clean_text"] == "a b c d e f g h tail one"
    assert (out[1]["n_spans"], out[1]["n_removed"]) == (3, 0)
    assert out[2]["clean_text"] == "x y z w"
    assert (out[2]["n_spans"], out[2]["n_removed"]) == (2, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_spans"], out[3]["n_removed"]) == (1, 1)
    assert out[4]["clean_text"] == ""
    assert (out[4]["n_spans"], out[4]["n_removed"]) == (0, 0)


def test_span_remove_window_shuffle_is_text_free(spark):
    """dd12 scale invariant: the first-occurrence window partitions on
    xxhash64(span) over (doc_id, pos, fp, k) longs only — the fp
    exchange must not carry the span text (span and flag rows each
    repartition by doc_id once, so the flag join and the final
    groupBy add no further exchange — subset rule)."""
    import io
    from contextlib import redirect_stdout

    from tartare_spark.operators.dedup_docs import span_remove

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = span_remove(docs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the formatted plan lists each node's Input columns: the Exchange
    # that hash-partitions on fp must consume (doc_id, pos, fp, _k)
    # longs only — no span column rides the first-occurrence shuffle
    fp_blocks = [
        b
        for b in plan.split("\n\n")
        if "Exchange" in b and "hashpartitioning(fp" in b
    ]
    assert fp_blocks, plan
    for b in fp_blocks:
        assert "span#" not in b, b
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_table_checksum_validates_replicas(spark):
    """s16 semantics: a replica with identical content checksums
    identically under ANY partitioning/row order; a corrupted value
    flips exactly its bucket; a missing row is caught by n_rows even
    where XOR could cancel."""
    from tartare_spark.operators.checksum import checksum_diff, table_checksum

    rows = [(i, f"val_{i}", i * 10) for i in range(200)]
    src = spark.createDataFrame(rows, "id long, name string, amount long")
    cs = lambda df: table_checksum(  # noqa: E731
        df, key_cols=["id"], val_cols=["name", "amount"], num_buckets=8
    )
    # replica = same content, different partitioning and order
    replica = src.repartition(7, "name").sortWithinPartitions("amount")
    assert checksum_diff(cs(src), cs(replica)).count() == 0

    # one corrupted value -> exactly one dirty bucket, equal row counts
    bad = spark.createDataFrame(
        [(i, f"val_{i}", i * 10 if i != 137 else -1) for i in range(200)],
        "id long, name string, amount long",
    )
    d = checksum_diff(cs(src), cs(bad)).collect()
    assert len(d) == 1 and d[0]["src_rows"] == d[0]["rep_rows"]
    assert d[0]["src_sum"] != d[0]["rep_sum"]

    # one missing row -> dirty bucket with differing n_rows
    short = src.filter(F.col("id") != 42)
    d2 = checksum_diff(cs(src), cs(short)).collect()
    assert len(d2) == 1 and d2[0]["src_rows"] == d2[0]["rep_rows"] + 1

    # NULL value is distinct from empty string (chr(0) sentinel)
    a = spark.createDataFrame([(1, None, 5)], "id long, name string, amount long")
    b = spark.createDataFrame([(1, "", 5)], "id long, name string, amount long")
    assert checksum_diff(cs(a), cs(b)).count() == 1


def test_cell_diff_semantics(spark):
    """U4: op classification, null-safe column comparison (NULL↔NULL
    equal, NULL↔value a change), unchanged keys absent, changed_cols
    order = caller's cols order."""
    from tartare_spark.operators.diff import cell_diff

    old = spark.createDataFrame(
        [("a", 1, None), ("b", 2, "x"), ("c", 3, "y"), ("d", 4, None)],
        "k string, v int, s string",
    )
    new = spark.createDataFrame(
        [("a", 1, None),            # unchanged (NULL <=> NULL)
         ("b", 9, None),            # v and s both change (x -> NULL)
         ("d", 4, "z"),             # s changes (NULL -> z)
         ("e", 5, "w")],            # insert
        "k string, v int, s string",
    )
    rows = {r["k"]: r for r in cell_diff(old, new, ["k"], ["v", "s"]).collect()}
    assert set(rows) == {"b", "c", "d", "e"}
    assert rows["b"]["op"] == "update" and rows["b"]["changed_cols"] == ["v", "s"]
    assert rows["c"]["op"] == "delete" and rows["c"]["changed_cols"] == []
    assert rows["d"]["op"] == "update" and rows["d"]["changed_cols"] == ["s"]
    assert rows["e"]["op"] == "insert" and rows["e"]["changed_cols"] == []


def test_publish_incremental(spark, tmp_path):
    """S19: full export, then incremental publishes that rewrite ONLY
    dirty partitions (untouched partition files byte-stable on disk),
    noop when nothing changed, exact equality with the snapshot after
    every publish, and a full rebuild when the recorded version has
    been expired."""
    import os

    import pandas as pd

    from tartare_spark.fixtures import UNIT, generate_change_events
    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.publish import (
        publish_incremental,
        read_incremental_export,
    )

    ev = pd.DataFrame(generate_change_events(UNIT))
    cut = int(ev["lsn"].quantile(0.7))
    first = spark.createDataFrame(ev[ev["lsn"] <= cut])
    rest = spark.createDataFrame(ev[ev["lsn"] > cut])
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, first, num_chunks=2)

    out = str(tmp_path / "export")

    def _assert_export_matches():
        exp = lake.snapshot(spark)
        got = read_incremental_export(spark, out).select(*exp.columns)
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0

    rep = publish_incremental(spark, lake, out, num_parts=16)
    assert rep["mode"] == "full"
    _assert_export_matches()

    # nothing changed → noop, no files touched
    def _file_mtimes():
        out_files = {}
        for root, _, files in os.walk(out):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(root, fn)
                    out_files[p] = os.path.getmtime(p)
        return out_files

    before = _file_mtimes()
    assert publish_incremental(spark, lake, out, num_parts=16)["mode"] == "noop"
    assert _file_mtimes() == before

    # apply a NARROW update (one repo) → incremental publish rewrites
    # only its partitions; clean partitions' files stay byte-stable
    narrow = ev[(ev["lsn"] > cut) & (ev["repo"] == "repo_0003")]
    # 4 keys dirty ≤4 of 16 partitions — the clean ones must survive
    one_repo = narrow[narrow["path"].isin(sorted(narrow["path"].unique())[:4])]
    replay_batches(
        spark, lake, spark.createDataFrame(one_repo), num_chunks=1,
        start_batch_id=2,
    )
    rep = publish_incremental(spark, lake, out, num_parts=16)
    assert rep["mode"] == "incremental" and 0 < rep["dirty_partitions"] < 16
    _assert_export_matches()
    after = _file_mtimes()
    survivors = set(before) & set(after)
    assert survivors, "expected at least one clean partition to survive"
    assert all(before[p] == after[p] for p in survivors)

    # layout mismatch is refused loudly
    with pytest.raises(ValueError, match="num_parts"):
        publish_incremental(spark, lake, out, num_parts=8)

    # expired recorded version → the full-rebuild fallback, exactly
    replay_batches(spark, lake, rest, num_chunks=2, start_batch_id=10)
    lake.expire_snapshots(keep_last=1)
    rep = publish_incremental(spark, lake, out, num_parts=16)
    assert rep["mode"] == "full_rebuild"
    _assert_export_matches()


def test_publish_incremental_clears_all_deleted_partition(spark, tmp_path):
    """A dirty partition whose keys are ALL tombstoned must vanish from
    the export (dynamic overwrite alone would leave its old files)."""
    from pyspark.sql import functions as F

    from tartare_spark.lake.table import LakeTable
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.publish import (
        publish_incremental,
        read_incremental_export,
    )

    def ev_df(rows):
        return spark.createDataFrame(
            [
                (lsn, op, repo, path, f"c{lsn}", None, content,
                 __import__("datetime").datetime(2024, 1, 1, 0, 0, lsn % 60))
                for (lsn, op, repo, path, content) in rows
            ],
            "lsn long, op string, repo string, path string, commit string, "
            "lang string, content string, ts timestamp",
        )

    keys = [("r1", "a"), ("r2", "b"), ("r3", "c")]
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=4)
    replay_batches(
        spark, lake,
        ev_df([(i + 1, "update", r, p, f"v{i}") for i, (r, p) in enumerate(keys)]),
        num_chunks=1,
    )
    out = str(tmp_path / "export")
    publish_incremental(spark, lake, out, num_parts=64)
    # find the victim key's partition and require it exclusive (64
    # parts / 3 keys: collisions are possible in principle — pick a
    # victim whose partition holds only itself)
    parts = {
        (r["repo"], r["path"]): r["p"]
        for r in lake.snapshot(spark)
        .select("repo", "path",
                F.pmod(F.xxhash64("repo", "path"), F.lit(64)).cast("int").alias("p"))
        .collect()
    }
    from collections import Counter

    counts = Counter(parts.values())
    victim = next(k for k, p in parts.items() if counts[p] == 1)
    import os

    victim_dir = os.path.join(out, f"_pub_part={parts[victim]}")
    assert os.path.isdir(victim_dir)
    replay_batches(
        spark, lake,
        ev_df([(100, "delete", victim[0], victim[1], "")]),
        num_chunks=1, start_batch_id=1,
    )
    rep = publish_incremental(spark, lake, out, num_parts=64)
    assert rep["mode"] == "incremental"
    assert not os.path.exists(victim_dir), "all-deleted partition must be cleared"
    exp = lake.snapshot(spark)
    got = read_incremental_export(spark, out).select(*exp.columns)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_publish_incremental_crash_before_meta_heals_on_retry(
    spark, tmp_path, monkeypatch
):
    """The docstring's crash contract, pinned: a crash AFTER the dirty
    partitions are rewritten but BEFORE the meta records the new
    version leaves the export readable; the retry re-publishes the
    same dirty set (idempotent overwrite) and converges."""
    import pandas as pd

    import tartare_spark.operators.publish as pub_mod
    from tartare_spark.fixtures import UNIT, generate_change_events
    from tartare_spark.lake.table import LakeTable, _atomic_write_json
    from tartare_spark.operators.apply import replay_batches
    from tartare_spark.operators.publish import (
        publish_incremental,
        read_incremental_export,
    )

    ev = pd.DataFrame(generate_change_events(UNIT))
    cut = int(ev["lsn"].quantile(0.7))
    lake = LakeTable.create(str(tmp_path / "lake"), num_buckets=8)
    replay_batches(spark, lake, spark.createDataFrame(ev[ev["lsn"] <= cut]), num_chunks=1)
    out = str(tmp_path / "export")
    assert publish_incremental(spark, lake, out, num_parts=16)["mode"] == "full"
    replay_batches(
        spark, lake, spark.createDataFrame(ev[ev["lsn"] > cut]),
        num_chunks=1, start_batch_id=1,
    )

    state = {"calls": 0}
    real = _atomic_write_json

    def crashing(path, payload):
        if path.endswith("_publish_meta.json") and state["calls"] == 0:
            state["calls"] += 1
            raise RuntimeError("injected crash before meta write")
        return real(path, payload)

    monkeypatch.setattr("tartare_spark.lake.table._atomic_write_json", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        publish_incremental(spark, lake, out, num_parts=16)
    # meta still points at the OLD version; retry must re-publish
    rep = publish_incremental(spark, lake, out, num_parts=16)
    assert rep["mode"] == "incremental"
    exp = lake.snapshot(spark)
    got = read_incremental_export(spark, out).select(*exp.columns)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
