"""Redirect-fixpoint property tests (SURVEY.md §5.3).

Invariants from the reference (``/root/reference/dbfy.py:108-121,155-176``):
every resolvable title maps to its chain-end body id; cycles and dangling
targets produce no row; long chains resolve within the depth bound.
"""

from __future__ import annotations

import pytest

from wiki_mysql_spark.operators import redirects as redirects_mod
from wiki_mysql_spark.operators.redirects import resolve_redirects


def _run(spark, edges, articles, **kw):
    redirects = spark.createDataFrame(
        [(t, d, i) for i, (t, d) in enumerate(edges)], ["title", "target", "aid"]
    )
    targets = spark.createDataFrame(articles, ["title", "body_id"])
    # run both physical strategies — the driver walk the size gate picks on
    # these tiny fixtures (its mapping is a local relation) and the
    # pointer-doubling loop (the gate's bound at 0) — and require them to
    # agree on every case
    fast_df = resolve_redirects(redirects, targets, **kw)
    fast = fast_df.collect()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(redirects_mod, "_SMALL_EDGES_BYTES", 0)
        dist_df = resolve_redirects(redirects, targets, **kw)
        dist = dist_df.collect()
    plans = [
        df._jdf.queryExecution().optimizedPlan().toString()
        for df in (fast_df, dist_df)
    ]
    assert ["LocalRelation" in p for p in plans] == [True, False], plans
    as_map = lambda rows: {r["title"]: r["body_id"] for r in rows}  # noqa: E731
    assert as_map(fast) == as_map(dist), "fast/distributed paths disagree"
    return as_map(fast)


def test_single_hop(spark):
    got = _run(spark, [("A", "B")], [("B", 1)])
    assert got == {"A": 1}


def test_chain(spark):
    got = _run(spark, [("A", "B"), ("B", "C"), ("C", "D")], [("D", 7)])
    assert got == {"A": 7, "B": 7, "C": 7}


def test_cycle_dropped(spark):
    got = _run(spark, [("X", "Y"), ("Y", "X"), ("A", "B")], [("B", 2)])
    assert got == {"A": 2}


def test_self_loop_dropped(spark):
    got = _run(spark, [("X", "X")], [("B", 2)])
    assert got == {}


def test_dangling_dropped(spark):
    got = _run(spark, [("A", "Missing"), ("B", "C")], [("C", 3)])
    assert got == {"B": 3}


def test_chain_into_cycle_dropped(spark):
    got = _run(spark, [("A", "B"), ("B", "C"), ("C", "B")], [("Z", 9)])
    assert got == {}


def test_deep_chain_within_bound(spark):
    n = 60
    edges = [(f"T{i}", f"T{i+1}") for i in range(n)]
    got = _run(spark, edges, [(f"T{n}", 42)], max_depth=64)
    assert got == {f"T{i}": 42 for i in range(n)}


def test_chain_beyond_bound_dropped(spark):
    edges = [(f"T{i}", f"T{i+1}") for i in range(10)]
    got = _run(spark, edges, [("T10", 1)], max_depth=4)
    # depth bound 4 -> ceil(log2(4)) = 2 doubling rounds -> 4 hops covered;
    # heads more than 4 hops away are dropped, near-tail ones resolve
    assert got.get("T9") == 1 and got.get("T6") == 1
    assert "T0" not in got


def test_carries_extra_columns(spark):
    redirects = spark.createDataFrame([("A", "B", 99)], ["title", "target", "aid"])
    targets = spark.createDataFrame([("B", 5)], ["title", "body_id"])
    row = resolve_redirects(redirects, targets).collect()[0]
    assert row["aid"] == 99 and row["body_id"] == 5 and row["title"] == "A"
