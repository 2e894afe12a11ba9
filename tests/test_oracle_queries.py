"""Every registered query must match its DuckDB oracle at sf0.01 — the local
twin of the driver's correctness gate."""

from __future__ import annotations

import pytest

from xarray_sql_spark.queries import REGISTRY
from tests.oracle_harness import compare
from tests.conftest import SF_MED

ORACLED = [name for name, spec in REGISTRY.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_MED)
    compare(df, spec.oracle, SF_MED)


def test_every_query_is_value_oracled():
    """Since cc01 gained its recursive-CTE closure oracle (round 7) every
    registry entry carries DuckDB oracle SQL; a new rows-only entry would
    silently weaken the driver's correctness gate, so adding one must be
    a deliberate decision made here."""
    assert [n for n, s in REGISTRY.items() if s.oracle is None] == []


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 20


def test_priority_window_is_exactly_50_and_short_keys_unique():
    """The driver hashes only the FIRST 50 registry entries, and bench.py's
    archived-tail 'qc' map keys every benched query by its short prefix —
    both contracts break silently if a rename collides or the window
    over/underfills."""
    import xarray_sql_spark.queries as q

    assert len(q._PRIORITY) == 50
    assert len(set(q._PRIORITY)) == 50
    window = list(REGISTRY)[:50]
    assert window == [n for n in q._PRIORITY if n in REGISTRY]
    benched = [n for n, s in REGISTRY.items() if s.bench]
    prefixes = [n.split("_")[0] for n in benched]
    assert len(prefixes) == len(set(prefixes))


@pytest.mark.parametrize(
    "first_import",
    [
        "xarray_sql_spark.operators.multimodal",
        "xarray_sql_spark.operators.components",
        "xarray_sql_spark.operators.skew",
    ],
)
def test_priority_window_is_import_order_independent(first_import):
    """Operator modules OUTSIDE the queries package register queries too;
    when one of them was a process's FIRST import, the registry's old
    home inside the queries package (since removed) made queries/__init__'s
    circular ``from operators import <mod>`` return the partially-initialized
    module, so the first-50 reorder ran BEFORE that module's
    registrations — silently dropping its entries from the driver
    window. Pin, in a fresh interpreter per adversarial first-import,
    that the window still equals the priority list."""
    import subprocess
    import sys

    code = (
        f"import {first_import}\n"
        "import xarray_sql_spark.queries as q\n"
        "from xarray_sql_spark.queries import REGISTRY\n"
        "assert list(REGISTRY)[:50] == [n for n in q._PRIORITY"
        " if n in REGISTRY], 'window corrupted'\n"
        "assert len(REGISTRY) >= 191\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_next_window_planner_contract():
    """scripts/next_window.py is how round 9+ windows get computed; pin
    that it emits exactly 50 unique registered names, leads with the
    never-driver-checked set, honors CLI-named changed queries, and
    rejects unknown names."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/next_window.py", "q01_pricing_summary"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-1000:]
    lines = [l for l in r.stdout.splitlines() if "(last driver row" in l]
    names = [l.split()[0] for l in lines]
    assert len(names) == 50 and len(set(names)) == 50
    assert all(n in REGISTRY for n in names)
    assert "q01_pricing_summary" in names  # CLI-named query made the window
    # never-checked entries (no driver row in any CORRECTNESS file) come first
    import glob
    import json

    seen = set()
    for fp in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        with open(fp) as f:
            seen.update(k for k, v in json.load(f).items() if isinstance(v, dict))
    never = [n for n in REGISTRY if n not in seen]
    assert names[: len(never)] == never[:50]
    bad = subprocess.run(
        [sys.executable, "scripts/next_window.py", "no_such_query"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert bad.returncode != 0 and "no_such_query" in bad.stderr + bad.stdout
