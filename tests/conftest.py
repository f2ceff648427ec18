import pytest

from kglids_spark.session import get_spark
from kglids_spark.sources.tokens import generate_tokens

N_FIXTURE_ROWS = 30000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kglids_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tokens_df(spark):
    df = generate_tokens(spark, N_FIXTURE_ROWS, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tokens_path(tokens_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("data") / "tokens_parquet")
    tokens_df.write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="session")
def duck(tokens_path):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW tokens AS SELECT * FROM read_parquet('{tokens_path}/*.parquet')"
    )
    return con


def _indicator_histogram(values, spec) -> list[int]:
    """Pure-Python reference of the equi-width histogram's cell
    semantics: cell 0 counts v < lo; bin i (cell i+1) counts
    lo + i*width <= v < lo + (i+1)*width, the last bin closed at hi;
    the last cell counts v > hi and NaN (Spark orders NaN above
    +inf); NULL (None) counts nowhere."""
    w = spec.width
    cells = [0] * spec.n_cells
    for v in values:
        if v is None:
            continue
        if v < spec.lo:
            cells[0] += 1
        if v > spec.hi or v != v:
            cells[-1] += 1
        for i in range(spec.nbins):
            e = spec.lo + i * w
            if i == spec.nbins - 1:
                inside = e <= v <= spec.hi
            else:
                inside = e <= v < spec.lo + (i + 1) * w
            cells[i + 1] += inside
    return cells


@pytest.fixture(scope="session")
def indicator_histogram():
    return _indicator_histogram
