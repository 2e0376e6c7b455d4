"""Replicates the driver's correctness gate locally: every query in
the catalog runs on Spark AND its oracle SQL runs in DuckDB on the
same parquet tables; row sets must match exactly (sorted compare)."""

import math

import duckdb
import pandas as pd
import pytest

from tests.conftest import SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(spark_df, oracle_df, name):
    a = _normalize(spark_df)
    b = _normalize(oracle_df)
    assert list(a.columns) == list(b.columns), (
        name, list(a.columns), list(b.columns)
    )
    assert len(a) == len(b), (name, len(a), len(b))
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f":
            # ulp-noise tolerance for closed-form oracles (e.g. the
            # curve_measures pi-based values); still 10^6x stricter
            # than the driver's round(6) compare
            for i, (x, y) in enumerate(zip(av, bv)):
                ok = (
                    (x == y)
                    or (math.isnan(x) and math.isnan(y))
                    or math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12)
                )
                assert ok, (name, c, i, x, y)
        else:
            mism = (av != bv)
            assert not mism.any(), (
                name, c, av[mism][:5], bv[mism][:5]
            )


@pytest.fixture(scope="module")
def catalog():
    from geos_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    return QUERIES, ORACLES


def test_all_queries_match_oracle(spark, catalog):
    queries, oracles = catalog
    con = _duck(SF_DIR)
    failures = []
    for name, fn in queries.items():
        if name not in oracles:
            continue
        # a row whose query or oracle cannot be built is one failure,
        # not the end of the test: every later row is still compared
        try:
            got = fn(spark, SF_DIR).toPandas()
            exp = con.execute(oracles[name]).df()
            _compare(got, exp, name)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"{type(e).__name__}: {str(e)[:500]}"))
    assert not failures, (
        f"{len(failures)} rows fail: {[n for n, _ in failures]}\n"
        + "\n".join(f"{n}: {e}" for n, e in failures)
    )
