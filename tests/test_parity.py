"""token_equality_diff: the per-row token-array byte-equality invariant
(BASELINE north star) made checkable across two tokenized tables."""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import parity


@pytest.fixture(scope="module")
def pair(spark):
    left = spark.createDataFrame(
        [
            ("a", [1, 2, 3]),       # match
            ("b", [1, 2, 3]),       # element diff at pos 2
            ("c", [1, 2]),          # right longer: diff at pos 3
            ("d", [1, 2, 3]),       # left longer: diff at pos 3
            ("e", None),            # NULL vs NULL -> match
            ("f", [5]),             # NULL on right -> mismatch, pos NULL
            ("g", [7, 8]),          # left_only
            ("i", [None, 4]),       # NULL elements equal nullsafe -> match
        ],
        "doc_id string, tokens array<int>",
    )
    right = spark.createDataFrame(
        [
            ("a", [1, 2, 3]),
            ("b", [1, 9, 3]),
            ("c", [1, 2, 9]),
            ("d", [1, 2]),
            ("e", None),
            ("f", None),
            ("h", [9]),             # right_only
            ("i", [None, 4]),
        ],
        "doc_id string, tokens array<int>",
    )
    return left, right


def test_verdicts_and_first_diff_pos(pair):
    left, right = pair
    rows = {
        r.doc_id: (r.verdict, r.first_diff_pos, r.n_tok_left, r.n_tok_right)
        for r in parity.token_equality_diff(left, right).collect()
    }
    assert rows["a"] == ("match", None, 3, 3)
    assert rows["b"] == ("mismatch", 2, 3, 3)
    assert rows["c"] == ("mismatch", 3, 2, 3)   # length diff at min(len)+1
    assert rows["d"] == ("mismatch", 3, 3, 2)
    assert rows["e"] == ("match", None, None, None)
    assert rows["f"] == ("mismatch", None, 1, None)
    assert rows["g"] == ("left_only", None, 2, None)
    assert rows["h"] == ("right_only", None, None, 1)
    assert rows["i"] == ("match", None, 2, 2)
    assert len(rows) == 9


def test_summary_counts(pair):
    left, right = pair
    d = parity.token_equality_diff(left, right)
    s = {r.verdict: r.n_rows for r in parity.token_equality_summary(d).collect()}
    assert s == {"match": 3, "mismatch": 4, "left_only": 1, "right_only": 1}


def test_identical_tables_all_match(spark):
    df = spark.range(200).select(
        F.format_string("doc-%04d", F.col("id")).alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), (F.pmod("id", F.lit(7))).cast("int")),
            lambda p: F.pmod(F.xxhash64("id", p), F.lit(1000)).cast("int"),
        ).alias("tokens"),
    )
    s = {
        r.verdict: r.n_rows
        for r in parity.token_equality_summary(
            parity.token_equality_diff(df, df)
        ).collect()
    }
    assert s == {"match": 200}


def test_partition_invariance(pair):
    """The diff is a set: repartitioning either side must not change it."""
    left, right = pair
    a = sorted(map(tuple, parity.token_equality_diff(left, right).collect()))
    b = sorted(
        map(
            tuple,
            parity.token_equality_diff(
                left.repartition(7), right.repartition(3)
            ).collect(),
        )
    )
    assert a == b


def test_cli_diff_and_element_range(tmp_path, spark, capsys):
    """spark-submit surfaces: `diff` exits 2 on --fail-on-diff with
    perturbations and 0 on identical tables; --element-range rides the
    validate suite and flags the tightened vocabulary bound."""
    import json as J

    from kglids_spark.cli import main

    def run(*argv):
        rc = main(list(argv))
        return rc, J.loads(capsys.readouterr().out.strip().splitlines()[-1])

    a = str(tmp_path / "tA")
    assert run("generate", "--rows", "5000", "--out", a,
               "--no-violations")[0] == 0

    b = str(tmp_path / "tB")
    df = spark.read.parquet(a)
    from pyspark.sql import functions as F2
    df.withColumn(
        "tokens",
        F2.when(
            F2.xxhash64("doc_id") % 25 == 1,
            F2.concat("tokens", F2.array(F2.lit(1))),
        ).otherwise(F2.col("tokens")),
    ).write.mode("overwrite").parquet(b)

    out_dir = str(tmp_path / "dd")
    rc, res = run("diff", "--left", a, "--right", b, "--out", out_dir,
                  "--fail-on-diff", "--cpus", "4")
    assert rc == 2, res
    assert res["verdicts"]["mismatch"] > 0
    assert res["verdicts"]["match"] + res["verdicts"]["mismatch"] == 5000
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()[0]
    assert n == res["n_non_match"]

    rc, res = run("diff", "--left", a, "--right", a, "--fail-on-diff", "--cpus", "4")
    assert rc == 0
    assert res["verdicts"] == {"match": 5000}

    rc, res = run("validate", "--input", a, "--cpus", "4", "--no-violation-rows",
                  "--element-range", "tokens 0 49000")
    assert rc == 0
    verd = res["verdict_summary"]
    assert verd["element_range(tokens)"]["passed"] is False

    with pytest.raises(SystemExit, match="--element-range"):
        main(["validate", "--input", a, "--cpus", "4", "--no-violation-rows",
              "--element-range", "tokens zero 49000"])
