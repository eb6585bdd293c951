"""Replicates the driver's three gates locally: smoke entry(), every
queries() entry runs, and every oracle_sql() matches via the DuckDB
comparison harness (at a small SF by default for speed; set
OAMAP_SPARK_TEST_SF=/root/testdata/sf0.01 for the driver-exact SF).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
from oamap_spark import session
from oamap_spark.plans.verify import compare_query
from oamap_spark.queries import registry
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_oracle_keys_subset_of_queries():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_queries_follow_registration_order():
    """Every view of the registry iterates in registration order, and
    that order is the same in a fresh interpreter."""
    names = list(registry._REGISTRY)
    assert list(entrymod.queries()) == list(registry.all_specs()) == names
    oracle_names = list(entrymod.oracle_sql())
    with_oracle = set(oracle_names)
    assert oracle_names == [n for n in names if n in with_oracle]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, __spark_entry__\n"
            "print(json.dumps(list(__spark_entry__.queries())))",
        ],
        capture_output=True,
        text=True,
        cwd=root,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == names


@pytest.mark.parametrize("bad", ["abc", "0", "-2", "2.5", ""])
def test_spark_graft_cpus_rejects_non_positive_int(monkeypatch, bad):
    """A malformed $SPARK_GRAFT_CPUS raises a ValueError naming the
    variable before any session builder is touched."""

    class NoBuilder:
        def __getattr__(self, attr):
            raise AssertionError(f"session built with a bad core count: {attr}")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    monkeypatch.setattr(session, "SparkSession", NoBuilder())
    with pytest.raises(ValueError, match=r"^\$SPARK_GRAFT_CPUS must be a positive"):
        session.get_spark("bad-cpus")


@pytest.mark.parametrize("bad", ["abc", "0", "-3", "2.5", ""])
def test_positive_int_env_rejects_non_positive_int(monkeypatch, bad):
    """The one positive-integer env check raises a ValueError naming
    the variable for anything but a positive integer."""
    monkeypatch.setenv("SPARK_GRAFT_TEST_INT", bad)
    with pytest.raises(
        ValueError, match=r"^\$SPARK_GRAFT_TEST_INT must be a positive integer"
    ):
        session.positive_int_env("SPARK_GRAFT_TEST_INT", "1", "test value")


def test_bench_headline_set_covers_round4_plan_families():
    """VERDICT r4 ask #8: the bench must time the window-group-limit,
    session-window, and foreachBatch plan families."""
    bench = set(registry.bench_queries())
    for name in (
        "lateral_top3_orders_per_customer",
        "batch_session_window_stats",
        "stream_foreachbatch_upsert_latest",
    ):
        assert name in bench, name


def test_smoke_tier_nodeids_exist():
    """The smoke tier (conftest.SMOKE_NODEIDS, VERDICT r11 'Next round
    #6') is matched by nodeid at collection time, so a renamed test or
    a dropped query would silently shrink the tier instead of failing
    it. Pin that every entry still resolves: the file exists, the
    function is defined in it, and a parametrized oracle entry names a
    declared query."""
    import ast
    import os

    from tests.conftest import SMOKE_NODEIDS

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    declared = set(registry.queries())
    funcs_by_file: dict[str, set[str]] = {}
    for nodeid in sorted(SMOKE_NODEIDS):
        fname, rest = nodeid.split("::", 1)
        func = rest.split("[", 1)[0]
        path = os.path.join(tests_dir, fname)
        assert os.path.exists(path), f"smoke tier names missing file {fname}"
        if fname not in funcs_by_file:
            tree = ast.parse(open(path).read())
            funcs_by_file[fname] = {
                n.name
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            }
        assert func in funcs_by_file[fname], (
            f"smoke tier names missing test {fname}::{func}"
        )
        if "[" in rest:
            param = rest.split("[", 1)[1].rstrip("]")
            assert param in declared, (
                f"smoke tier oracle replay names undeclared query {param!r}"
            )


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_against_oracle(spark, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        # rows-only check, mirroring the driver's weaker gate
        df = q(spark, SF_ORACLE)
        assert df.count() >= 0
        return
    errs = compare_query(spark, SF_ORACLE, q, sql)
    assert not errs, f"{name} @ {SF_ORACLE}:\n" + "\n".join(errs)


def test_entry_smoke_sf_smoke_dir(spark):
    # driver smoke runs at sf0.001 explicitly
    df = entrymod.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    assert df.count() > 0


# The driver scores at sf0.01; the fast replay above defaults to
# sf0.001, where group counts / percentile interpolation points /
# window contents all differ (VERDICT r3 "What's wrong #3"). This
# slow-marked replay runs every oracle-gated query at the driver's
# exact SF so "local green ⇒ driver green" holds at the driver's
# actual scale. Skip with -m 'not slow'.
SF_DRIVER = "/root/testdata/sf0.01"


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_against_oracle_at_driver_sf(spark, name):
    if SF_ORACLE == SF_DRIVER:
        pytest.skip("fast replay already ran at the driver SF")
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    errs = compare_query(spark, SF_DRIVER, q, sql)
    assert not errs, f"{name} @ {SF_DRIVER}:\n" + "\n".join(errs)
