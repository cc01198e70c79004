"""Third reference for q_harmonic_centrality: a pure-Python BFS from
the same md5-selected pivots, plus the loop-discipline pins (exhausted
budget raises; rerun is deterministic)."""

from __future__ import annotations

import hashlib
from collections import defaultdict, deque

import duckdb
import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.operators.graph import (
    HC_PIVOTS,
    PR_SUPP_OFFSET,
    harmonic_sketch,
)

registry.load_all()


def _purchase_edges(sf_dir: str) -> list[tuple[int, int]]:
    return duckdb.sql(
        f"""
        SELECT DISTINCT o.o_custkey, l.l_suppkey + {PR_SUPP_OFFSET}
        FROM '{sf_dir}/orders.parquet' o
        JOIN '{sf_dir}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()


def _md5_60bit(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _python_harmonic(edges) -> dict[int, tuple[int, int]]:
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    pivots = sorted(adj, key=lambda n: (_md5_60bit(f"{n}:pivot"), n))[
        :HC_PIVOTS
    ]
    reached: dict[int, int] = defaultdict(int)
    hsum: dict[int, int] = defaultdict(int)
    for p in pivots:
        dist = {p: 0}
        q = deque([p])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d > 0:
                reached[v] += 1
                hsum[v] += 1_000_000 // d
    return {n: (reached[n], hsum[n]) for n in adj}


def test_harmonic_matches_pure_python_reference(spark, sf_small):
    edges = _purchase_edges(sf_small)
    exp = _python_harmonic(edges)
    got = {
        r.node: (r.n_reached, r.harmonic_ppm)
        for r in registry.QUERIES["q_harmonic_centrality"](
            spark, sf_small
        ).collect()
    }
    assert got == exp
    # the sketch is not degenerate: pivots reach everything here, and
    # the harmonic scores separate hubs from leaves
    assert len({v[1] for v in got.values()}) > 3


def test_harmonic_budget_counts_growing_rounds(spark):
    """max_rounds budgets GROWING rounds with a zero-growth confirming
    round on top (the kcore/LPA discipline): on a 6-path with a single
    pivot whose eccentricity is e, max_rounds=e must succeed and
    max_rounds=e-1 must raise."""
    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(5)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    pivot = min(range(6), key=lambda n: (_md5_60bit(f"{n}:pivot"), n))
    ecc = max(abs(pivot - i) for i in range(6))
    stats: dict = {}
    out = harmonic_sketch(edges, n_pivots=1, max_rounds=ecc, stats=stats)
    assert out.count() == 6
    assert stats["rounds"] == ecc + 1 and stats["moved"][-1] == 0, stats
    with pytest.raises(RuntimeError, match="masks still growing"):
        harmonic_sketch(edges, n_pivots=1, max_rounds=ecc - 1)


def _python_betweenness(edges) -> dict[int, int]:
    """Pivot-sampled Brandes with the same per-(u,v) truncating
    fixed-point accumulation as the engines."""
    from nyc_landmarks_datalake_spark.operators.graph import BW_PIVOTS

    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    pivots = sorted(
        adj, key=lambda n: (_md5_60bit(f"{n}:bwpivot"), n)
    )[:BW_PIVOTS]
    out: dict[int, int] = defaultdict(int)
    for p in pivots:
        dist = {p: 0}
        sigma = {p: 1}
        order = [p]
        q = deque([p])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    sigma[v] = 0
                    q.append(v)
                    order.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
        delta: dict[int, int] = defaultdict(int)
        for u in sorted(order, key=lambda x: -dist[x]):
            s = 0
            for v in adj[u]:
                if dist.get(v) == dist[u] + 1:
                    s += sigma[u] * (1_000_000 + delta[v]) // sigma[v]
            delta[u] = s
            if u != p:
                out[u] += s
    return {n: out.get(n, 0) for n in adj}


def test_betweenness_matches_pure_python_reference(spark, sf_small):
    edges = _purchase_edges(sf_small)
    exp = _python_betweenness(edges)
    got = {
        r.node: r.betweenness_ppm
        for r in registry.QUERIES["q_betweenness_sketch"](
            spark, sf_small
        ).collect()
    }
    assert got == exp
    # hubs separate from leaves; some vertices genuinely sit on no
    # pivot shortest path
    assert max(got.values()) > 0
    assert len({v for v in got.values()}) > 3


def test_betweenness_budget_raises(spark):
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.graph import (
        betweenness_sketch,
    )

    chain = [(i, i + 1) for i in range(5)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    stats: dict = {}
    out = betweenness_sketch(edges, n_pivots=1, max_rounds=5, stats=stats)
    assert out.count() == 6
    assert stats["moved"][-1] == 0, stats
    with pytest.raises(RuntimeError, match="frontier still growing"):
        betweenness_sketch(edges, n_pivots=1, max_rounds=2)


def _python_closeness(edges) -> dict[int, tuple[int, int, int, int]]:
    """Independent BFS reference for q_closeness_eccentricity: per node
    (n_reached, dist_sum, eccentricity, closeness_ppm) over the same
    md5-selected pivots, distances ≥ 1 only (self never accrues)."""
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    pivots = sorted(adj, key=lambda n: (_md5_60bit(f"{n}:pivot"), n))[
        :HC_PIVOTS
    ]
    reached: dict[int, int] = defaultdict(int)
    dsum: dict[int, int] = defaultdict(int)
    ecc: dict[int, int] = defaultdict(int)
    for p in pivots:
        dist = {p: 0}
        q = deque([p])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d > 0:
                reached[v] += 1
                dsum[v] += d
                ecc[v] = max(ecc[v], d)
    return {
        n: (
            reached[n],
            dsum[n],
            ecc[n],
            reached[n] * 1_000_000 // dsum[n] if dsum[n] else 0,
        )
        for n in adj
    }


def test_closeness_matches_pure_python_reference(spark, sf_small):
    edges = _purchase_edges(sf_small)
    exp = _python_closeness(edges)
    got = {
        r.node: (r.n_reached, r.dist_sum, r.eccentricity, r.closeness_ppm)
        for r in registry.QUERIES["q_closeness_eccentricity"](
            spark, sf_small
        ).collect()
    }
    assert got == exp
    # non-degenerate: closeness separates hubs from leaves, and
    # eccentricity spans more than one level
    assert len({v[3] for v in got.values()}) > 3
    assert len({v[2] for v in got.values()}) > 1


def test_closeness_budget_and_determinism(spark):
    """Same budget discipline as harmonic: on a path with one pivot of
    eccentricity e, max_rounds=e succeeds (e growing rounds + one
    confirming), e-1 raises; rerun is bit-identical."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.graph import (
        closeness_sketch,
    )

    chain = [(i, i + 1) for i in range(5)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    pivot = min(range(6), key=lambda n: (_md5_60bit(f"{n}:pivot"), n))
    ecc = max(abs(pivot - i) for i in range(6))
    stats: dict = {}
    out = closeness_sketch(edges, n_pivots=1, max_rounds=ecc, stats=stats)
    rows_a = {r.node: (r.dist_sum, r.eccentricity) for r in out.collect()}
    assert stats["rounds"] == ecc + 1 and stats["moved"][-1] == 0, stats
    # the pivot's own row: reached by no OTHER pivot (n_pivots=1)
    assert rows_a[pivot] == (0, 0)
    # the far end of the path sits at exactly distance ecc
    far = max(range(6), key=lambda n: abs(pivot - n))
    assert rows_a[far] == (ecc, ecc)
    rows_b = {
        r.node: (r.dist_sum, r.eccentricity)
        for r in closeness_sketch(
            edges, n_pivots=1, max_rounds=ecc
        ).collect()
    }
    assert rows_a == rows_b
    with pytest.raises(RuntimeError, match="masks still growing"):
        closeness_sketch(edges, n_pivots=1, max_rounds=ecc - 1)


def _python_distance_distribution(edges) -> dict[int, tuple[int, int, int]]:
    """Independent BFS reference for q_distance_distribution: per
    distance (n_pairs, cum_pairs, cum_ppm) over the md5 pivots."""
    adj: dict[int, list[int]] = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    pivots = sorted(adj, key=lambda n: (_md5_60bit(f"{n}:pivot"), n))[
        :HC_PIVOTS
    ]
    per_d: dict[int, int] = defaultdict(int)
    for p in pivots:
        dist = {p: 0}
        q = deque([p])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d > 0:
                per_d[d] += 1
    total = sum(per_d.values())
    out = {}
    cum = 0
    for d in sorted(per_d):
        cum += per_d[d]
        out[d] = (per_d[d], cum, cum * 1_000_000 // total)
    return out


def test_distance_distribution_matches_pure_python(spark, sf_small):
    edges = _purchase_edges(sf_small)
    exp = _python_distance_distribution(edges)
    got = {
        r.distance: (r.n_pairs, r.cum_pairs, r.cum_ppm)
        for r in registry.QUERIES["q_distance_distribution"](
            spark, sf_small
        ).collect()
    }
    assert got == exp
    # the ECDF ends at exactly 1e6 ppm and is monotone
    dists = sorted(got)
    assert got[dists[-1]][2] == 1_000_000
    assert all(
        got[a][1] < got[b][1] for a, b in zip(dists, dists[1:])
    )


def test_distance_distribution_budget_raises(spark):
    """Same budget discipline as harmonic/closeness: a path needing e
    rounds succeeds at max_rounds=e and raises at e-1; the profile of
    a single-pivot path is one pair per distance 1..e."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.graph import (
        distance_profile,
    )

    chain = [(i, i + 1) for i in range(5)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    pivot = min(range(6), key=lambda n: (_md5_60bit(f"{n}:pivot"), n))
    ecc = max(abs(pivot - i) for i in range(6))
    got = {
        r.distance: r.n_pairs
        for r in distance_profile(
            edges, n_pivots=1, max_rounds=ecc
        ).collect()
    }
    # pivot 0 or 5 → one node per distance; interior pivot → two per
    # distance until one side runs out
    exp: dict[int, int] = defaultdict(int)
    for n in range(6):
        if n != pivot:
            exp[abs(n - pivot)] += 1
    assert got == dict(exp)
    with pytest.raises(RuntimeError, match="masks still growing"):
        distance_profile(edges, n_pivots=1, max_rounds=ecc - 1)
