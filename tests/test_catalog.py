"""The catalog and the documents and tools around it agree: every
query has one oracle, CATALOG.md, PLANS.md and the entry point's
docstring describe the catalog as it stands."""

import ast
import importlib.util
import os
import re
import subprocess
import sys

from geos_spark.queries import ORACLES, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(name: str) -> str:
    with open(os.path.join(ROOT, name)) as f:
        return f.read()


def test_every_query_has_one_oracle():
    # keys only: building the xt_* oracles needs the reference corpus
    assert set(QUERIES) == set(ORACLES.keys())


def test_catalog_md_is_generated_from_the_catalog(tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_catalog.py")],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr
    assert f"({len(QUERIES)} queries)" in r.stdout
    assert (tmp_path / "CATALOG.md").read_text() == _read("CATALOG.md")


def test_plans_md_sections_are_the_audited_rows():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(ROOT, "tools", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    audited = [name for name, _ in mod.AUDITED]
    assert set(audited) <= set(QUERIES)
    assert re.findall(r"^## (\S+)$", _read("PLANS.md"), re.M) == audited


def test_entry_docstring_counts_the_catalog():
    doc = ast.get_docstring(ast.parse(_read("__spark_entry__.py")))
    m = re.search(r"QUERIES;\s*(\d+)\s+queries", doc)
    assert m, doc[:300]
    assert int(m.group(1)) == len(QUERIES)
