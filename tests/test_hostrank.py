"""Host-graph PageRank: differential vs the scalar ground truth,
conservation/teleport sanity, host-family parity with the URL
synthesizer, and the plan-shape contract."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from openccnet_spark.operators.hostrank import (
    host_rank,
    host_rank_py,
    synth_host_edges,
)


def _rank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["host"]: r["rank"] for r in host_rank(df, **kw).collect()}


def test_differential_random_graph(spark):
    """120 random edges over 25 nodes; Spark must equal the plain-Python
    integer recursion exactly (order-free integer sums)."""
    rng = random.Random(3)
    nodes = [f"h{i}" for i in range(25)]
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)}
    edges = sorted((s, d) for s, d in edges if s != d)
    assert _rank(spark, edges) == host_rank_py(edges)


def test_hub_accumulates_rank(spark):
    """A star graph: every leaf points at the hub; the hub must end far
    above the teleport floor and every leaf exactly at it."""
    edges = [(f"leaf{i}", "hub") for i in range(10)]
    got = _rank(spark, edges, n_rounds=2)
    floor = min(got.values())
    assert got["hub"] > 5 * floor
    assert all(v == floor for h, v in got.items() if h != "hub")


def test_dangling_mass_drops_total_monotone(spark):
    """With dangling nodes the total mass shrinks each round but every
    rank keeps the teleport floor (the documented sparse rule)."""
    edges = [("a", "b"), ("b", "c")]  # c dangles
    got = _rank(spark, edges, n_rounds=3)
    from openccnet_spark.operators.hostrank import DAMPING_PCT, RANK_SCALE

    base = (RANK_SCALE * (100 - DAMPING_PCT)) // (100 * 3)
    assert all(v >= base for v in got.values())
    assert sum(got.values()) < RANK_SCALE


def test_synth_edges_match_url_host_family(spark):
    """The edge synthesizer's src host must equal what urls.host_col
    extracts from the full synthesized URL of the same doc — the rank
    output joins the URL gate on this equality."""
    from openccnet_spark.operators.urls import host_col, synth_url_col

    docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    via_url = docs.select(
        host_col(synth_url_col("doc_id")).alias("h")
    ).distinct()
    via_edges = synth_host_edges(docs).select(F.col("src").alias("h")).distinct()
    assert via_edges.exceptAll(via_url).count() == 0


def test_plan_edges_persist_and_partial_sums(spark):
    """The degree-annotated edge list must persist through handles
    (house rule: operator persists surface via the handles channel) and
    every round's contribution sum must be a two-phase aggregate."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    handles: list = []
    df = host_rank(edges, n_rounds=2, persist=True, handles=handles)
    assert len(handles) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan
    assert "Window" not in plan
    for h in handles:
        h.unpersist()


def test_apportion_differential_and_exact_total(spark):
    """120 random-weight hosts at several budgets: Spark must equal the
    scalar largest-remainder ground truth and the total must be the
    budget bit-exactly (including heavy remainder ties)."""
    from openccnet_spark.operators.hostrank import (
        apportion_budget,
        apportion_budget_py,
    )

    rng = random.Random(17)
    weights = [(f"h{i:03d}", rng.randrange(1, 50) * 10) for i in range(120)]
    df = spark.createDataFrame(weights, "host string, rank long")
    for budget in (7, 1000, 999_983):
        got = {
            r["host"]: r["quota"]
            for r in apportion_budget(df, budget).collect()
        }
        assert got == apportion_budget_py(weights, budget)
        assert sum(got.values()) == budget


def test_apportion_zero_leftover_path(spark):
    """Equal weights dividing the budget exactly exercise the
    no-boundary early return."""
    from openccnet_spark.operators.hostrank import apportion_budget

    df = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 5), ("d", 5)], "host string, rank long"
    )
    got = {r["host"]: r["quota"] for r in apportion_budget(df, 100).collect()}
    assert got == {"a": 25, "b": 25, "c": 25, "d": 25}


def test_apportion_guards(spark):
    from openccnet_spark.operators.hostrank import apportion_budget

    zero = spark.createDataFrame([("a", 0)], "host string, rank long")
    try:
        apportion_budget(zero, 10)
        assert False, "expected ValueError on zero total weight"
    except ValueError:
        pass


def test_apportion_bucket_overflow_guard(spark):
    """``rem * n_buckets`` must fit int64: W * n_buckets > 2^62 is
    refused, while a total exactly at the bound still apportions
    exactly."""
    from openccnet_spark.operators.hostrank import (
        apportion_budget,
        apportion_budget_py,
    )

    huge = [("a", 1 << 52), ("b", 1 << 52)]  # W * 4096 = 2^65
    df = spark.createDataFrame(huge, "host string, rank long")
    with pytest.raises(ValueError, match="n_buckets"):
        apportion_budget(df, 1)

    edge = [("a", 1 << 49), ("b", (1 << 49) - 7), ("c", 7)]  # W * 4096 = 2^62
    df = spark.createDataFrame(edge, "host string, rank long")
    got = {r["host"]: r["quota"] for r in apportion_budget(df, 3).collect()}
    assert got == apportion_budget_py(edge, 3)
