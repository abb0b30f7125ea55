"""Host-graph PageRank for crawl prioritization (integer, fixed rounds).

Production crawl pipelines (Common Crawl's harmonic-centrality ranks,
C4/RefinedWeb domain weighting) rank HOSTS, not pages: the host graph is
~10^8 nodes where the page graph is ~10^11, so the rank job is a small
side-computation whose output broadcasts into the URL gate. This module
computes a fixed-round power iteration of PageRank with INTEGER
arithmetic so the result is bit-identical at any partitioning and
replayable by the DuckDB oracle:

    rank_0(v)   = SCALE DIV n
    rank_i+1(v) = (SCALE * (100-D)) DIV (100 * n)
                  + SUM over edges u->v of (rank_i(u) * D) DIV (100 * out(u))

with D = damping in percent (85) and SCALE = 10^12. Sums of integers
are order-free (the float-aggregation rule from CLAUDE.md), every DIV
floors in both engines, and dangling mass is deliberately dropped (the
standard sparse simplification; deterministic, documented).

Plan shape (the 100 TB story):
- the edge list joins its out-degree ONCE and persists (surfaced
  through ``handles`` per the house rule) — the per-round cost is then
  one NODE-sized shuffle of the ranks to the edge partitioning plus one
  groupBy(dst) with map-side partial sums, never a re-shuffle of the
  edge list;
- n (node count) is the only driver-side scalar;
- rounds are a fixed small constant (rank stabilizes in O(10) rounds;
  the oracle replays the same constant), so the lineage stays bounded
  without checkpointing.

The reference repo (laisuk/OpenccNet) has no counterpart; this is part
of the URL-curation family (``operators/urls.py``) the brief adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .urls import N_HOSTS, PAGE_GROUP, _CDN_EVERY

__all__ = [
    "RANK_SCALE",
    "DAMPING_PCT",
    "sql_page_host",
    "synth_host_edges",
    "sql_synth_host_edges",
    "host_rank",
    "apportion_budget",
    "sql_apportion_budget",
    "apportion_budget_py",
]

#: fixed-point scale of the rank values (sum over nodes ~= SCALE)
RANK_SCALE = 10**12
#: damping factor in percent (the classic 0.85)
DAMPING_PCT = 85


def sql_page_host(p_expr: str, dialect: str = "duckdb") -> str:
    """Canonical host serving page ``p`` — the same host family
    ``urls.sql_synth_url`` spreads its URLs over (lowercase form; the
    URL's capitalization/www variants normalize back to this via
    ``urls.host_col``, pinned in pytest)."""
    vc = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        f"(CASE WHEN ({p_expr}) % {_CDN_EVERY} = 0 THEN 'cdn.' ELSE '' END || "
        f"'d' || CAST(({p_expr}) % {N_HOSTS} AS {vc}) || '.example.com')"
    )


def _edges_sql(id_expr: str, dialect: str) -> tuple[str, str, str]:
    """(page_expr, src_expr, dst pair) building blocks shared by both
    engines: page p links forward to p+1's host (a crawl-order ring) and
    up to p DIV 2's host (a hub funnel, so low-numbered hosts accumulate
    rank and the distribution is non-uniform)."""
    div = "DIV" if dialect == "spark" else "//"
    page = f"(({id_expr}) {div} {PAGE_GROUP})"
    return page, sql_page_host(page, dialect), div


def synth_host_edges(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic host-link graph from the documents table:
    DISTINCT (src, dst) host pairs, self-loops dropped."""
    page, src, div = _edges_sql(id_col, "spark")
    dst_ring = sql_page_host(f"{page} + 1", "spark")
    dst_hub = sql_page_host(f"{page} {div} 2", "spark")
    pages = docs.select(F.expr(src).alias("src"), F.expr(dst_ring).alias("d1"),
                        F.expr(dst_hub).alias("d2"))
    edges = pages.select("src", F.explode(F.array("d1", "d2")).alias("dst"))
    return edges.filter(F.col("src") != F.col("dst")).distinct()


def sql_synth_host_edges(table: str = "documents", id_expr: str = "doc_id") -> str:
    """DuckDB twin of ``synth_host_edges`` (a relation, not a query)."""
    page, src, div = _edges_sql(id_expr, "duckdb")
    dst_ring = sql_page_host(f"{page} + 1", "duckdb")
    dst_hub = sql_page_host(f"{page} {div} 2", "duckdb")
    return f"""(
SELECT DISTINCT src, dst FROM (
  SELECT {src} AS src, {dst_ring} AS dst FROM {table}
  UNION ALL
  SELECT {src} AS src, {dst_hub} AS dst FROM {table}
) WHERE src <> dst)"""


def host_rank(
    edges: DataFrame,
    n_rounds: int = 3,
    damping_pct: int = DAMPING_PCT,
    scale: int = RANK_SCALE,
    persist: bool = False,
    handles: list | None = None,
) -> DataFrame:
    """Integer PageRank over a distinct (src, dst) edge list.

    Output: ``(host, rank)`` — one row per node, ``rank`` a BIGINT fixed
    at ``scale`` total initial mass. ``persist`` materializes the
    degree-annotated edge list (reused every round) and appends it to
    ``handles`` for the caller to unpersist.
    """
    # ONE explode pass over edges (a union of two projections would
    # reference — and for an un-persisted input, re-execute — the edge
    # subtree twice; same fix as components.connected_components).
    # NB: persisting edges/nodes themselves was tried and A/B'd SLOWER
    # (interleaved, min-of-3: 1.83 vs 2.20 s) — the cache materialization
    # jobs cost more than the cheap synth-edge re-evaluations they save;
    # only the round-reused degree-annotated edge list pays for a persist.
    nodes = (
        edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("host")
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out"))
    edges_deg = edges.join(deg, "src")
    if persist and handles is not None:
        edges_deg = edges_deg.persist()
        handles.append(edges_deg)
    n = nodes.count()
    base = (scale * (100 - damping_pct)) // (100 * n)
    ranks = nodes.select("host", F.lit(scale // n).cast("long").alias("rank"))
    for _ in range(n_rounds):
        contrib = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["host"])
            .select(
                F.col("dst"),
                F.expr(f"(rank * {damping_pct}) DIV (100 * out)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes["host"] == contrib["dst"], "left").select(
            "host",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("rank"),
        )
    return ranks


def sql_host_rank(
    edges_rel: str,
    n_rounds: int = 3,
    damping_pct: int = DAMPING_PCT,
    scale: int = RANK_SCALE,
) -> str:
    """DuckDB oracle: the identical integer recursion as chained CTEs.
    DuckDB ``sum(BIGINT)`` widens to HUGEINT (pandas float) — the outer
    ``::BIGINT`` is mandatory (CLAUDE.md)."""
    d = damping_pct
    ctes = [
        f"e AS (SELECT src, dst FROM {edges_rel})",
        "deg AS (SELECT src, count(*)::BIGINT AS out FROM e GROUP BY src)",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*)::BIGINT AS n FROM nodes)",
        f"r0 AS (SELECT host, ({scale} // n)::BIGINT AS rank FROM nodes, nn)",
    ]
    prev = "r0"
    for i in range(1, n_rounds + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT nodes.host,
         (({scale} * {100 - d}) // (100 * n)
          + coalesce((SELECT sum((p.rank * {d}) // (100 * deg.out))
                      FROM e JOIN {prev} p ON p.host = e.src
                             JOIN deg ON deg.src = e.src
                      WHERE e.dst = nodes.host), 0))::BIGINT AS rank
  FROM nodes, nn)"""
        )
        prev = f"r{i}"
    return "WITH " + ",\n".join(ctes) + f"\nSELECT host, rank FROM {prev}"


def host_rank_py(edges, n_rounds: int = 3, damping_pct: int = DAMPING_PCT,
                 scale: int = RANK_SCALE):
    """Scalar ground truth: the same integer recursion in plain Python.
    ``edges`` = iterable of (src, dst), assumed distinct, no self-loops.
    Returns {host: rank}."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    base = (scale * (100 - damping_pct)) // (100 * n)
    ranks = {v: scale // n for v in nodes}
    for _ in range(n_rounds):
        nxt = {v: base for v in nodes}
        for s, dst in edges:
            nxt[dst] += (ranks[s] * damping_pct) // (100 * out[s])
        ranks = nxt
    return ranks


# ------------------------------------------------------- budget apportionment


def apportion_budget(
    weights: DataFrame,
    budget: int,
    host_col: str = "host",
    weight_col: str = "rank",
    n_buckets: int = 4096,
    persist: bool = False,
    handles: list | None = None,
) -> DataFrame:
    """Allocate an integer crawl budget over hosts by weight — the
    largest-remainder (Hamilton) method, exactly:

        base_i = (B * w_i) DIV W,   rem_i = (B * w_i) % W
        leftover L = B - sum(base); the L largest (rem, host ASC) get +1

    so ``sum(quota) == budget`` exactly, deterministic at any
    partitioning. Feeds the crawl frontier from ``host_rank`` output
    (or any rank*quality weight).

    Scale shape: the remainder domain is unbounded (0..W-1), so the
    top-L selection uses the histogram-cutoff decomposition
    (``curation.top_fraction_select``'s shape): remainders bucket by
    integer DIV into ``n_buckets`` ranges (a <= n_buckets-row map-side
    combined histogram finds the cutoff bucket), hosts in strictly
    higher buckets take +1 via a broadcast-filter, and ONLY the
    boundary bucket pays an exact (rem DESC, host ASC) window. W and L
    are the only driver scalars.

    Output: ``(host_col, weight_col, quota)``.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    w = weights.select(
        F.col(host_col), F.col(weight_col).cast("long").alias("w")
    )
    if persist and handles is not None:
        # the weights subtree is consumed by TWO driver aggregates (W/mx,
        # sum(base)) plus the three output branches — when it is an
        # un-materialized rank DAG (crawl_budget's 3-round PageRank) each
        # consumer re-executed the whole DAG (~5 evaluations measured).
        # Persist only with a release channel (the house `handles` rule).
        w = w.persist()
        handles.append(w)
    tot = w.agg(F.sum("w").alias("W"), F.max("w").alias("mx")).first()
    W, mx = tot["W"], tot["mx"]
    if not W or W <= 0:
        raise ValueError("total weight must be > 0")
    if budget * mx > (1 << 62):
        raise ValueError("budget * max(weight) would overflow int64; rescale weights")
    if W * n_buckets > (1 << 62):
        raise ValueError("total weight * n_buckets would overflow int64; rescale weights")
    placed = w.select(
        host_col,
        F.col("w"),
        F.expr(f"(w * {budget}) DIV {W}").alias("base"),
        F.expr(f"(w * {budget}) % {W}").alias("rem"),
    ).withColumn("bucket", F.expr(f"rem * {n_buckets} DIV {W}"))
    sums = placed.agg(F.sum("base").alias("sb")).first()
    leftover = budget - (sums["sb"] or 0)
    if not leftover:
        return placed.select(
            host_col, F.col("w").alias(weight_col), F.col("base").alias("quota")
        )

    hist = placed.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w_above = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cut = (
        hist.withColumn("above", F.coalesce(F.sum("cnt").over(w_above), F.lit(0)))
        .filter(
            (F.col("above") < leftover)
            & (F.col("above") + F.col("cnt") >= leftover)
        )
        .select(
            F.col("bucket").alias("cut_bucket"),
            (F.lit(leftover) - F.col("above")).alias("tie_quota"),
        )
    )
    tagged = placed.join(F.broadcast(cut), how="cross")
    above = tagged.filter(F.col("bucket") > F.col("cut_bucket")).select(
        host_col, "w", (F.col("base") + 1).alias("quota")
    )
    w_tie = Window.orderBy(F.col("rem").desc(), F.col(host_col).asc())
    boundary = (
        tagged.filter(F.col("bucket") == F.col("cut_bucket"))
        .withColumn("rn", F.row_number().over(w_tie))
        .select(
            host_col,
            "w",
            (F.col("base") + F.when(F.col("rn") <= F.col("tie_quota"), 1).otherwise(0)).alias("quota"),
        )
    )
    below = tagged.filter(F.col("bucket") < F.col("cut_bucket")).select(
        host_col, "w", F.col("base").alias("quota")
    )
    return (
        above.unionByName(boundary)
        .unionByName(below)
        .select(host_col, F.col("w").alias(weight_col), "quota")
    )


def sql_apportion_budget(
    weights_rel: str, budget: int, host_col: str = "host", weight_col: str = "rank"
) -> str:
    """DuckDB oracle: the NAIVE global-rank form of the same rule."""
    return f"""
WITH w AS (SELECT {host_col} AS host, {weight_col}::BIGINT AS w FROM {weights_rel}),
t AS (SELECT sum(w)::BIGINT AS totw, count(*)::BIGINT AS n FROM w),
p AS (
  SELECT host, w,
         (w * {budget}) // totw AS base,
         (w * {budget}) % totw AS rem,
         row_number() OVER (ORDER BY (w * {budget}) % totw DESC, host ASC) AS rn
  FROM w, t
),
l AS (SELECT {budget} - sum(base)::BIGINT AS leftover FROM p)
SELECT host AS {host_col}, w AS {weight_col},
       (base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END)::BIGINT AS quota
FROM p, l
"""


def apportion_budget_py(weights, budget: int):
    """Scalar ground truth for ``apportion_budget``; ``weights`` =
    [(host, w)]. Returns {host: quota}."""
    W = sum(w for _, w in weights)
    base = {h: (w * budget) // W for h, w in weights}
    rem = {h: (w * budget) % W for h, w in weights}
    leftover = budget - sum(base.values())
    order = sorted(weights, key=lambda hw: (-rem[hw[0]], hw[0]))
    plus = {h for h, _ in order[:leftover]}
    return {h: base[h] + (1 if h in plus else 0) for h, _ in weights}
