"""Round-2 additions: EDA-operation recommendation, popular-parameters
with registry defaults, and lockstep pins for the hash-based operators
under both hashers (VERDICT r1 #9: the xxhash64 production hasher,
which no SQL oracle can reproduce, stays pinned to the md5 hasher that
the value-exact oracle rows run)."""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import ann, dedup, pipelines as P, text
from kglids_spark.operators.eda import recommend_eda_operations
from kglids_spark.sources import eda_fixture as EF


# ---------------------------------------------------------------------------
# EDA operations

def test_eda_recommendations_fixture_semantics(spark):
    ops, kcols, qcols = EF.load_eda_tables(spark)

    uni = recommend_eda_operations(
        ops, kcols, qcols, EF.SIMILAR_COLUMN_ID, EF.MAIN_COLUMN_NAME, "univariate"
    ).collect()
    # e1/e2 attached to price; e8 (qty-only) excluded
    assert {(r.eda_id, r.chart_type) for r in uni} == {("e1", "histogram"), ("e2", "boxplot")}
    assert all(r.matched_column is None for r in uni)

    bi = recommend_eda_operations(
        ops, kcols, qcols, EF.SIMILAR_COLUMN_ID, EF.MAIN_COLUMN_NAME, "bivariate"
    ).collect()
    got = {(r.eda_id, r.secondary_column_id, r.matched_column) for r in bi}
    # e3: qty → nearest int column that isn't 'amount' is 'units';
    # e5: region → nearest string is 'city'; e4 (day) has no date
    # column in the query table → dropped
    assert got == {
        ("e3", "kg.sales.qty", "units"),
        ("e5", "kg.sales.region", "city"),
    }

    multi = recommend_eda_operations(
        ops, kcols, qcols, EF.SIMILAR_COLUMN_ID, EF.MAIN_COLUMN_NAME, "multivariate"
    ).collect()
    by_id = {}
    for r in multi:
        by_id.setdefault(r.eda_id, set()).add((r.secondary_column_id, r.matched_column))
    # heatmap (e6) is whole-table: kept with NULL matches
    assert by_id["e6"] == {(None, None)}
    # bubble (e7) matches each other column independently
    assert by_id["e7"] == {("kg.sales.qty", "units"), ("kg.sales.region", "city")}


# ---------------------------------------------------------------------------
# popular parameters with defaults

def test_most_popular_parameters_includes_defaults(spark):
    from kglids_spark.sources.pipelines_fixture import load_pipelines

    _, stmts = load_pipelines(spark)
    got = {
        (r.Parameter, r.Value): r.Usage
        for r in P.most_popular_parameters(
            stmts, "RandomForestClassifier", "sklearn.ensemble"
        ).collect()
    }
    # p1 sets n_estimators=100, max_depth=8, random_state=42 explicitly
    assert got[("n_estimators", "100")] == 1
    assert got[("max_depth", "8")] == 1
    assert got[("random_state", "42")] == 1
    # unset registry params contribute their public defaults
    assert got[("criterion", "'gini'")] == 1
    assert got[("min_samples_split", "2")] == 1
    assert got[("min_samples_leaf", "1")] == 1
    # the explicit max_depth suppresses the default None
    assert ("max_depth", "None") not in got


def test_most_popular_parameters_unregistered_call(spark):
    from kglids_spark.sources.pipelines_fixture import load_pipelines

    _, stmts = load_pipelines(spark)
    got = {
        (r.Parameter, r.Value)
        for r in P.most_popular_parameters(
            stmts, "LogisticRegression", "sklearn.linear_model"
        ).collect()
    }
    assert ("C", "0.5") in got            # explicit overrides default C=1.0
    assert ("C", "1.0") not in got
    assert ("penalty", "'l2'") in got     # defaulted


# ---------------------------------------------------------------------------
# hasher lockstep: xxhash64 (production) and md5 (oracle-exact)

@pytest.fixture(scope="module")
def clone_docs(spark):
    """30 documents with entirely disjoint vocabularies plus 3 planted
    exact clones — the definite cases every hash family must agree on:
    clone pairs are found (signature match = 1.0, Hamming = 0), and
    disjoint-vocabulary docs can never be 0.5-similar."""
    rows = []
    for i in range(30):
        words = " ".join(f"w{i}x{j}" for j in range(40))
        rows.append((i, words))
    for src, dst in [(0, 100), (1, 101), (2, 102)]:
        rows.append((dst, rows[src][1]))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


CLONE_PAIRS = {(0, 100), (1, 101), (2, 102)}


HASHERS = ["xxhash64", "md5"]


@pytest.mark.parametrize("hasher", HASHERS)
def test_minhash_twin_lockstep(clone_docs, hasher):
    got = dedup.minhash_lsh_pairs(
        clone_docs, num_perm=8, bands=4, threshold=0.5, hasher=hasher
    )
    assert {(r.id1, r.id2): r.est_jaccard for r in got.collect()} == {
        p: 1.0 for p in CLONE_PAIRS
    }


def test_hash_operators_reject_unknown_hasher(clone_docs):
    with pytest.raises(ValueError, match="hasher"):
        dedup.minhash_lsh_pairs(clone_docs, num_perm=8, bands=4, hasher="sha1")
    with pytest.raises(ValueError, match="hasher"):
        dedup.simhash_pairs(clone_docs, hasher="sha1")
    with pytest.raises(ValueError, match="hasher"):
        text.fingerprint_expr("text", hasher="sha1")


def test_split_leakage_twin_lockstep(clone_docs):
    """Under split seed 0, clone pair (0, 100) straddles val/train
    while (1, 101) and (2, 102) are train/train — the audit must keep
    exactly the straddler and drop same-split near-dups, under BOTH
    hashers, with splits matching sampling.split_assignment."""
    from kglids_spark.operators.sampling import split_assignment

    for hasher in HASHERS:
        got = dedup.split_leakage_pairs(
            clone_docs, num_perm=8, bands=4, threshold=0.5, hasher=hasher
        ).collect()
        assert {(r.id1, r.id2) for r in got} == {(0, 100)}
        (r,) = got
        assert (r.split1, r.split2, r.est_jaccard) == ("val", "train", 1.0)
    # the map-side split CASE agrees with the assignment-table operator
    assigned = {
        r.doc_id: r.split
        for r in split_assignment(clone_docs, ["doc_id"]).collect()
    }
    assert (assigned[0], assigned[100]) == ("val", "train")
    assert assigned[1] == assigned[101] == "train"


def test_near_dup_group_matrix(clone_docs):
    """The source matrix counts each clone pair under its unordered
    source pair: ids 0/1/2 -> srcA, clones 100/101 -> srcB, 102 ->
    srcA, giving {(srcA, srcB): 2, (srcA, srcA): 1} under both
    hashers."""
    withsrc = clone_docs.withColumn(
        "source",
        F.when(F.col("doc_id").isin(100, 101), "srcB").otherwise("srcA"),
    )
    for hasher in HASHERS:
        got = {
            (r.group_a, r.group_b): r.n_pairs
            for r in dedup.near_dup_group_matrix(
                withsrc, num_perm=8, bands=4, threshold=0.5, hasher=hasher
            ).collect()
        }
        assert got == {("srcA", "srcB"): 2, ("srcA", "srcA"): 1}


def test_cli_leakage_gate(clone_docs, tmp_path, capsys):
    """`cli leakage` reports the straddling pair, exits 2 under
    --fail-on-leakage, and rejects malformed --splits up front."""
    import json

    from kglids_spark.cli import main

    src = str(tmp_path / "docs")
    clone_docs.write.parquet(src)
    out = str(tmp_path / "pairs")
    rc = main([
        "leakage", "--input", src, "--num-perm", "8", "--bands", "4",
        "--out", out,
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_leakage_pairs"] == 1
    assert summary["by_splits"] == {"val->train": 1}
    got = clone_docs.sparkSession.read.parquet(out).collect()
    assert [(r.id1, r.id2, r.split1, r.split2) for r in got] == [
        (0, 100, "val", "train")
    ]
    assert main([
        "leakage", "--input", src, "--num-perm", "8", "--bands", "4",
        "--fail-on-leakage",
    ]) == 2
    capsys.readouterr()
    with pytest.raises(SystemExit, match="name=frac"):
        main(["leakage", "--input", src, "--splits", "bogus"])
    with pytest.raises(SystemExit, match="multiple of"):
        main(["leakage", "--input", src, "--num-perm", "10", "--bands", "4"])


@pytest.mark.parametrize("hasher", HASHERS)
def test_simhash_twin_lockstep(clone_docs, hasher):
    got = {
        (r.id1, r.id2): r.hamming
        for r in dedup.simhash_pairs(
            clone_docs, max_hamming=3, hasher=hasher
        ).collect()
    }
    assert all(got[p] == 0 for p in CLONE_PAIRS)
    if hasher == "xxhash64":
        # 64 bits: disjoint vocabularies can't land within Hamming 3,
        # so the result is EXACTLY the clones
        assert set(got) == CLONE_PAIRS
    # md5 votes 16 bits: random collisions are possible by design


@pytest.mark.parametrize("hasher", HASHERS)
def test_fingerprint_twin_lockstep(clone_docs, hasher):
    fps = {
        r.doc_id: r.fp
        for r in clone_docs.select(
            "doc_id", text.fingerprint_expr("text", hasher=hasher).alias("fp")
        ).collect()
    }
    # grouping by fingerprint yields exactly the clone groups
    by_fp = {}
    for k, v in fps.items():
        by_fp.setdefault(v, set()).add(k)
    assert {frozenset(g) for g in by_fp.values() if len(g) > 1} == {
        frozenset(p) for p in CLONE_PAIRS
    }


@pytest.mark.parametrize("method", ["expr", "pandas"])
def test_ann_lsh_twin_lockstep(spark, method):
    import math

    dim = 8
    rows = [
        (i, [math.sin(0.7 * (i + 1) * (j + 1)) for j in range(dim)], 0) for i in range(40)
    ]
    rows.append((999, rows[5][1], 0))  # exact duplicate of vec 5
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = corpus.filter(F.col("vec_id").isin(5, 999)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    df = ann.lsh_knn_join(queries, corpus, k=3, n_planes=4, dim=dim, method=method)
    top1 = {r.q_id: (r.c_id, r.cosine) for r in df.filter(F.col("rank") == 1).collect()}
    # the planted duplicate is each other's nearest neighbour at cosine
    # 1.0 on both bucket paths (same bucket, same re-rank)
    assert top1[5][0] == 999 and top1[5][1] == pytest.approx(1.0)
    assert top1[999][0] == 5 and top1[999][1] == pytest.approx(1.0)


def test_ivf_assign_pandas_matches_expr(spark):
    """The Arrow/numpy IVF assignment (scale path) must agree with the
    Catalyst expression path (oracle path) everywhere off exact ties."""
    import math

    from kglids_spark.operators.ann import ivf_assign

    dim = 16
    vecs = spark.createDataFrame(
        [
            (i, [math.sin(0.31 * (i + 1) * (j + 1)) for j in range(dim)])
            for i in range(500)
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [[math.cos(0.17 * (c + 1) * (j + 1)) for j in range(dim)] for c in range(12)]
    a = {r.vec_id: r.ivf_list for r in ivf_assign(vecs, cents, method="expr").collect()}
    b = {r.vec_id: r.ivf_list for r in ivf_assign(vecs, cents, method="pandas").collect()}
    assert a == b


def test_lsh_bucket_pandas_matches_expr(spark):
    """The Arrow/numpy LSH bucket (production path) must agree with the
    literal-expression path everywhere off exact hyperplane ties; the
    two differ only in float summation order (~1e-15)."""
    import math

    from pyspark.sql import functions as F

    from kglids_spark.operators.ann import (
        gaussian_planes,
        lsh_bucket_pandas_udf,
        lsh_bucket_planes_expr,
    )

    dim = 64
    vecs = spark.createDataFrame(
        [
            (i, [math.sin(0.23 * (i + 1) * (j + 1)) for j in range(dim)])
            for i in range(400)
        ],
        "vec_id long, embedding array<double>",
    )
    planes = gaussian_planes(8, dim, 42)
    a = {
        r.vec_id: r.b
        for r in vecs.select(
            "vec_id", lsh_bucket_planes_expr(F.col("embedding"), planes).alias("b")
        ).collect()
    }
    b = {
        r.vec_id: r.b
        for r in vecs.select(
            "vec_id", lsh_bucket_pandas_udf(planes)(F.col("embedding")).alias("b")
        ).collect()
    }
    assert a == b


def test_kmeans_assign_pandas_matches_expr(spark):
    from kglids_spark.operators.ann import kmeans_assign

    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: (F.pmod(F.xxhash64("id", j), F.lit(1000)) - 500) / 250.0,
        ).alias("embedding"),
    )
    cents = [[float((i * 7 + j) % 5 - 2) for j in range(8)] for i in range(6)]
    a = {r.vec_id: r.km_list for r in kmeans_assign(vecs, cents, method="expr").collect()}
    b = {r.vec_id: r.km_list for r in kmeans_assign(vecs, cents, method="pandas").collect()}
    assert a == b and len(a) == 200


def test_ivf_train_recovers_separated_clusters(spark):
    """Lloyd's on four well-separated blobs must converge so each
    trained centroid sits inside one blob and assignments are pure."""
    import numpy as np

    from kglids_spark.operators.ann import ivf_train, kmeans_assign

    import hashlib

    rng_centers = [[10.0, 0.0], [-10.0, 0.0], [0.0, 10.0], [0.0, -10.0]]
    # blob membership follows the trainer's md5 init order, so the 4
    # seeds land in 4 DISTINCT blobs — plain Lloyd's only guarantees a
    # local optimum, and an arbitrary vid%4 layout can (and did) seed
    # two centroids in one blob and merge two others
    order = sorted(range(400), key=lambda v: hashlib.md5(str(v).encode()).hexdigest())
    blob_of = {vid: i % 4 for i, vid in enumerate(order)}
    rows = []
    for vid in range(400):
        c = rng_centers[blob_of[vid]]
        # deterministic jitter in [-1, 1]
        jx = ((vid * 2654435761) % 2000) / 1000.0 - 1.0
        jy = ((vid * 40503) % 2000) / 1000.0 - 1.0
        rows.append((vid, [c[0] + jx, c[1] + jy], blob_of[vid]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, blob int")
    centroids = ivf_train(df, k=4, iters=8)
    # each trained centroid must be within jitter range of one true center
    matched = set()
    for c in centroids:
        best = min(
            range(4),
            key=lambda i: (c[0] - rng_centers[i][0]) ** 2 + (c[1] - rng_centers[i][1]) ** 2,
        )
        assert (c[0] - rng_centers[best][0]) ** 2 + (c[1] - rng_centers[best][1]) ** 2 < 2.0
        matched.add(best)
    assert matched == {0, 1, 2, 3}  # one centroid per blob
    # assignment purity: every vector lands with its blob's centroid
    assigned = kmeans_assign(df, centroids).collect()
    by_blob = {}
    for r in assigned:
        by_blob.setdefault(r.blob, set()).add(r.km_list)
    assert all(len(lists) == 1 for lists in by_blob.values())


def test_ivf_train_keeps_centroid_for_empty_list(spark):
    """A centroid that captures no points must survive unchanged (the
    Lloyd's convention), not collapse to zeros."""
    from kglids_spark.operators.ann import ivf_train

    # 3 distinct points, k=3 -> init picks all three; then duplicate
    # mass pulls everything to two of them, leaving one list empty at
    # iteration 2
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [10.1, 10.1])]
    rows += [(i, [0.05, 0.05]) for i in range(3, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = ivf_train(df, k=3, iters=4)
    assert len(centroids) == 3
    assert all(len(c) == 2 and all(v == v for v in c) for c in centroids)  # no NaNs
