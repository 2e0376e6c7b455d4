"""The xt_* oracles are DuckDB ``VALUES`` tables built from the GEOS
reference corpus. SQL has no empty ``VALUES`` list, so a case list
with nothing in it must fail with the missing corpus named, not with
SQL that fails to parse."""

import re

import duckdb
import pytest

from geos_spark import fixtures as FX
from geos_spark.queries import _fixture_oracles


def test_values_oracle_rejects_empty_case_list():
    with pytest.raises(ValueError, match=r"fixtures\.BASE"):
        FX.values_oracle([])


@pytest.mark.parametrize("build", [FX.oracle_for, FX.oracle_all_match])
def test_case_oracles_reject_no_cases(build):
    with pytest.raises(ValueError, match=r"fixtures\.BASE"):
        build([])


def test_values_oracle_runs_in_duckdb():
    sql = FX.values_oracle([("a.xml#1:intersects", "it's"), ("b:op", "true")])
    rows = duckdb.connect().execute(sql + " ORDER BY case_id").fetchall()
    assert rows == [("a.xml#1:intersects", "it's"), ("b:op", "true")]


def test_catalog_oracle_names_the_missing_corpus(monkeypatch, tmp_path):
    monkeypatch.setattr(FX, "BASE", str(tmp_path))
    FX.predicate_cases.cache_clear()
    try:
        with pytest.raises(ValueError, match=re.escape(str(tmp_path))):
            _fixture_oracles()["xt_predicates"]()
    finally:
        FX.predicate_cases.cache_clear()
