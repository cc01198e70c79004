"""Third reference for q_label_propagation: a pure-Python replay of the
semi-synchronous deterministic LPA (most-frequent neighbor label, ties
to the smallest, customers then suppliers per superstep) — independent
of both engines' shared step shape — plus the loop-discipline pins
(budget counts updating supersteps, exhaustion raises)."""

from __future__ import annotations

from collections import Counter, defaultdict

import duckdb
import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.operators.graph import (
    PR_SUPP_OFFSET,
    lpa_communities,
)

registry.load_all()


def _nation_edges(sf_dir: str) -> list[tuple[int, int]]:
    return duckdb.sql(
        f"""
        SELECT DISTINCT p.c, p.s + {PR_SUPP_OFFSET} FROM (
            SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
            FROM '{sf_dir}/orders.parquet' o
            JOIN '{sf_dir}/lineitem.parquet' l
              ON l.l_orderkey = o.o_orderkey) p
        JOIN '{sf_dir}/customer.parquet' cu ON cu.c_custkey = p.c
        JOIN '{sf_dir}/supplier.parquet' su ON su.s_suppkey = p.s
        WHERE cu.c_nationkey = su.s_nationkey
        """
    ).fetchall()


def _python_lpa(edges: list[tuple[int, int]], budget: int = 64):
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    lbl = {u: u for u in adj}
    for _ in range(budget + 1):
        before = dict(lbl)
        for side_lo in (True, False):
            nxt = dict(lbl)
            for u, ns in adj.items():
                if (u < PR_SUPP_OFFSET) != side_lo:
                    continue
                freq = Counter(lbl[v] for v in ns)
                top = max(freq.values())
                nxt[u] = min(l for l, c in freq.items() if c == top)
            lbl = nxt
        if lbl == before:
            return lbl
    raise AssertionError("python LPA did not converge")


def test_lpa_matches_pure_python_reference(spark, sf_small):
    edges = _nation_edges(sf_small)
    exp = _python_lpa(edges)
    got = {
        r.node: r.community
        for r in registry.QUERIES["q_label_propagation"](
            spark, sf_small
        ).collect()
    }
    assert got == exp
    # non-degenerate: several communities, and none labeled by its own
    # min node id (the frequency fixpoint is NOT connected components)
    by_comm = defaultdict(list)
    for n, c in got.items():
        by_comm[c].append(n)
    assert len(by_comm) > 1
    assert all(min(ns) != c for c, ns in by_comm.items())


def test_lpa_convergence_telemetry_and_determinism(spark, sf_small):
    from pyspark.sql import functions as F

    rows = _nation_edges(sf_small)
    fwd = spark.createDataFrame(rows, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    stats: dict = {}
    a = {r.node: r.lbl for r in lpa_communities(edges, stats=stats).collect()}
    assert stats["moved"][-1] == 0, stats
    assert stats["rounds"] <= 6, stats  # sf0.001 converges in 1
    b = {r.node: r.lbl for r in lpa_communities(edges).collect()}
    assert a == b  # rerun is bit-identical: no random tie-breaks


def test_lpa_budget_counts_updates_and_raises(spark):
    """P7 path entirely on the customer side never updates (no
    customer↔supplier alternation) — use a bipartite path instead:
    0—(10M+1)—2—(10M+3)—4 needs 2 updating supersteps; budget 2 must
    succeed, budget 1 must raise."""
    from pyspark.sql import functions as F

    O = PR_SUPP_OFFSET
    path = [(0, O + 1), (2, O + 1), (2, O + 3), (4, O + 3)]
    fwd = spark.createDataFrame(path, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    stats: dict = {}
    out = lpa_communities(edges, max_supersteps=2, stats=stats)
    assert len({r.lbl for r in out.collect()}) == 1  # one path community
    with pytest.raises(RuntimeError, match="did not converge"):
        lpa_communities(edges, max_supersteps=0)


def test_lpa_label_zero_encode_exact(spark):
    """r14 ADVICE regression: the single-BIGINT (count, −label)
    priority must be exact for label 0 — the unshifted encode
    ``cnt*PRI - lbl`` decoded label 0 to LPA_PRI, silently corrupting
    communities. A low-side triangle {0,1,2} makes label 0 actually
    compete in the argmax (node 1's first half-step aggregates node
    0's label): everyone must converge to community 0, not LPA_PRI."""
    from pyspark.sql import functions as F

    tri = [(0, 1), (0, 2), (1, 2)]
    fwd = spark.createDataFrame(tri, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    got = {r.node: r.lbl for r in lpa_communities(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0}
    # and the SQL step text agrees (shared lpa_step_sql, one half-step)
    import duckdb as _dd

    from nyc_landmarks_datalake_spark.operators.graph import lpa_step_sql

    con = _dd.connect()
    con.execute(
        "CREATE TABLE e(src BIGINT, dst BIGINT);"
        "INSERT INTO e VALUES (0,1),(1,0),(0,2),(2,0),(1,2),(2,1);"
        "CREATE TABLE lp0 AS SELECT DISTINCT src AS node, "
        "CAST(src AS BIGINT) AS lbl FROM e"
    )
    step1 = dict(
        con.execute(
            "SELECT node, lbl FROM (" + lpa_step_sql("lp0", "cust", "e") + ")"
        ).fetchall()
    )
    assert step1 == {0: 1, 1: 0, 2: 0}  # min-neighbor, label 0 exact


def test_lpa_node_range_guard_raises(spark):
    """Ids at/above LPA_PRI (or negative) collide across counts in the
    BIGINT priority — the helper must refuse them loudly."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.graph import LPA_PRI

    bad = [(1, LPA_PRI + 5)]
    fwd = spark.createDataFrame(bad, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    with pytest.raises(ValueError, match="requires node ids"):
        lpa_communities(edges)
