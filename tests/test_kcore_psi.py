"""Third references for the r13 additions: k-core decomposition
(operators/graph.py::coreness) against the classical Batagelj-Zaversnik
peeling — a genuinely different algorithm, so the test proves the
H-index fixpoint IS coreness, not just that two copies of one formula
agree — and the PSI drift monitor (operators/agreement.py::q_psi_drift)
against (a) a pure-Python integer replay of the fixed-point trajectory
and (b) the float PSI it approximates.
"""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.operators.agreement import (
    PSI_BIN_WIDTH,
    PSI_BINS,
    _LN2_PPM,
)
from nyc_landmarks_datalake_spark.operators.graph import (
    PR_SUPP_OFFSET,
    coreness,
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


def _peel_coreness(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Batagelj-Zaversnik: repeatedly remove a minimum-degree vertex;
    its coreness is the running maximum of the min degree seen."""
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    deg = {u: len(ns) for u, ns in adj.items()}
    core: dict[int, int] = {}
    k = 0
    # bucket queue over degrees — O(E) peel order
    buckets: dict[int, set[int]] = defaultdict(set)
    for u, d in deg.items():
        buckets[d].add(u)
    removed: set[int] = set()
    for _ in range(len(adj)):
        d = min(b for b in buckets if buckets[b])
        u = buckets[d].pop()
        k = max(k, d)
        core[u] = k
        removed.add(u)
        for v in adj[u]:
            if v in removed:
                continue
            buckets[deg[v]].discard(v)
            deg[v] -= 1
            buckets[deg[v]].add(v)
    return core


def test_kcore_matches_peeling_reference(spark, sf_small):
    exp = _peel_coreness(_purchase_edges(sf_small))
    got = {
        r.node: r.coreness
        for r in registry.QUERIES["q_kcore_decomposition"](
            spark, sf_small
        ).collect()
    }
    assert got == exp


def test_kcore_convergence_telemetry(spark, sf_small):
    from pyspark.sql import functions as F

    rows = _purchase_edges(sf_small)
    fwd = spark.createDataFrame(rows, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    stats: dict = {}
    out = coreness(edges, stats=stats)
    assert out.count() > 0
    assert stats["moved"][-1] == 0, stats
    assert stats["rounds"] <= 8, stats  # sf0.001 converges in 2


def test_kcore_unconverged_raises(spark):
    """A budget too small to reach the fixpoint must raise, never
    return silently-wrong cores (a 6-chain needs >1 H-index round)."""
    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(6)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    with pytest.raises(RuntimeError, match="did not converge"):
        coreness(edges, max_iters=1)


def _psi_python(sf_dir: str) -> dict[str, tuple[int, int, int]]:
    """Integer replay of the committed fixed-point trajectory (all
    quantities nonnegative, so Python // == truncating division)."""
    rows = duckdb.sql(
        f"""
        SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT)
        FROM '{sf_dir}/events.parquet'
        """
    ).fetchall()
    t0 = min(r[2] for r in rows)
    t1 = max(r[2] for r in rows)
    ref: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    cur: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    for et, v, us in rows:
        b = min(PSI_BINS - 1, max(0, math.floor(v / float(PSI_BIN_WIDTH))))
        (ref if us * 2 < t0 + t1 else cur)[et][b] += 1
    out = {}
    for et in set(ref) | set(cur):
        rn, cn = sum(ref[et]), sum(cur[et])
        psi = 0
        for i in range(PSI_BINS):
            p = max(((ref[et][i] + 1) * 10**6) // (rn + PSI_BINS), 1)
            q = max(((cur[et][i] + 1) * 10**6) // (cn + PSI_BINS), 1)
            hi, lo = max(p, q), min(p, q)
            r = (hi * 10**6) // lo
            k = (r // 10**6).bit_length() - 1
            m = r // (1 << k)
            z = ((m - 10**6) * 10**6) // (m + 10**6)
            z2 = (z * z) // 10**6
            z3 = (z2 * z) // 10**6
            z4 = (z2 * z2) // 10**6
            z5 = (z4 * z) // 10**6
            z7 = (z4 * z3) // 10**6
            z9 = ((z4 * z4) // 10**6 * z) // 10**6
            ln_r = k * _LN2_PPM + 2 * (z + z3 // 3 + z5 // 5 + z7 // 7 + z9 // 9)
            psi += (hi - lo) * ln_r
        out[et] = (rn, cn, psi)
    return out


def test_psi_matches_pure_python_reference(spark, sf_small):
    exp = _psi_python(sf_small)
    got = {
        r.event_type: (r.n_ref, r.n_cur, r.psi_e12)
        for r in registry.QUERIES["q_psi_drift"](spark, sf_small).collect()
    }
    assert got == exp


def test_psi_fixed_point_tracks_float_psi(sf_small):
    """The committed integer trajectory approximates the real PSI to
    ~6 significant digits — the surrogate measures the statistic it
    claims to, not merely itself."""
    rows = duckdb.sql(
        f"""
        SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT)
        FROM '{sf_small}/events.parquet'
        """
    ).fetchall()
    t0 = min(r[2] for r in rows)
    t1 = max(r[2] for r in rows)
    ref: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    cur: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    for et, v, us in rows:
        b = min(PSI_BINS - 1, max(0, math.floor(v / float(PSI_BIN_WIDTH))))
        (ref if us * 2 < t0 + t1 else cur)[et][b] += 1
    fp = _psi_python(sf_small)
    for et in fp:
        rn, cn = sum(ref[et]), sum(cur[et])
        psi = 0.0
        for i in range(PSI_BINS):
            p = (ref[et][i] + 1) / (rn + PSI_BINS)
            q = (cur[et][i] + 1) / (cn + PSI_BINS)
            psi += (p - q) * math.log(p / q)
        assert fp[et][2] / 1e12 == pytest.approx(psi, rel=1e-4)


def _lnfp(num: int, den: int) -> int:
    """Signed fixed-point ln(num/den) — integer replay of _lnfp_steps."""
    hi, lo = max(num, den), min(num, den)
    sg = 1 if num >= den else -1
    r = (hi * 10**6) // lo
    k = (r // 10**6).bit_length() - 1
    m = r // (1 << k)
    z = ((m - 10**6) * 10**6) // (m + 10**6)
    z2 = (z * z) // 10**6
    z3 = (z2 * z) // 10**6
    z4 = (z2 * z2) // 10**6
    z5 = (z4 * z) // 10**6
    z7 = (z4 * z3) // 10**6
    z9 = ((z4 * z4) // 10**6 * z) // 10**6
    return sg * (
        k * _LN2_PPM + 2 * (z + z3 // 3 + z5 // 5 + z7 // 7 + z9 // 9)
    )


def _binned_counts(sf_dir: str):
    rows = duckdb.sql(
        f"""
        SELECT event_type, value, CAST(epoch_us(ts) AS BIGINT)
        FROM '{sf_dir}/events.parquet'
        """
    ).fetchall()
    t0 = min(r[2] for r in rows)
    t1 = max(r[2] for r in rows)
    ref: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    cur: dict[str, list[int]] = defaultdict(lambda: [0] * PSI_BINS)
    for et, v, us in rows:
        b = min(PSI_BINS - 1, max(0, math.floor(v / float(PSI_BIN_WIDTH))))
        (ref if us * 2 < t0 + t1 else cur)[et][b] += 1
    return ref, cur


def test_js_matches_pure_python_reference(spark, sf_small):
    ref, cur = _binned_counts(sf_small)
    exp = {}
    for et in set(ref) | set(cur):
        rn, cn = sum(ref[et]), sum(cur[et])
        s = 0
        for i in range(PSI_BINS):
            p = max(((ref[et][i] + 1) * 10**6) // (rn + PSI_BINS), 1)
            q = max(((cur[et][i] + 1) * 10**6) // (cn + PSI_BINS), 1)
            s += p * _lnfp(2 * p, p + q) + q * _lnfp(2 * q, p + q)
        exp[et] = (rn, cn, s // 2)
    got = {
        r.event_type: (r.n_ref, r.n_cur, r.js_e12)
        for r in registry.QUERIES["q_js_drift"](spark, sf_small).collect()
    }
    assert got == exp


def test_js_fixed_point_tracks_float_js(sf_small):
    """JS in [0, ln 2]; the integer trajectory approximates the float
    statistic to ~5 significant digits on the smoothed census."""
    ref, cur = _binned_counts(sf_small)
    for et in ref:
        rn, cn = sum(ref[et]), sum(cur[et])
        s = 0
        js = 0.0
        for i in range(PSI_BINS):
            pi = max(((ref[et][i] + 1) * 10**6) // (rn + PSI_BINS), 1)
            qi = max(((cur[et][i] + 1) * 10**6) // (cn + PSI_BINS), 1)
            s += pi * _lnfp(2 * pi, pi + qi) + qi * _lnfp(2 * qi, pi + qi)
            p = (ref[et][i] + 1) / (rn + PSI_BINS)
            q = (cur[et][i] + 1) / (cn + PSI_BINS)
            m = (p + q) / 2
            js += (p * math.log(p / m) + q * math.log(q / m)) / 2
        fp = (s // 2) / 1e12
        assert 0 <= fp <= math.log(2) + 1e-9
        assert fp == pytest.approx(js, rel=2e-3, abs=2e-7)


def test_psi_frac_clamp_empty_bin_large_window(spark):
    """r13 ADVICE (medium): above ~1e6 rows/window the smoothed
    (c+1)/(n+B) truncates to 0 ppm for an empty bin and the ln chain
    divides by zero — Spark (ANSI) raises, DuckDB returns NULL and SUM
    silently drops the largest drift term. The GREATEST(…, 1) floor in
    psi_frac_exprs must keep both engines finite, identical, and alarmed
    under strong drift into a previously-empty bin."""
    from nyc_landmarks_datalake_spark.operators.agreement import (
        PSI_ALARM_E12,
        _psi_trajectory,
        psi_frac_exprs,
    )

    # one empty reference bin receiving 20% of the current window,
    # window sizes 2e6 — exactly the regime the advice describes
    rows = [
        (0, 0, 400_000, 2_000_000, 2_000_000),
        (1, 2_000_000, 1_600_000, 2_000_000, 2_000_000),
    ]
    cols = ["bin", "ref_c", "cur_c", "ref_n", "cur_n"]

    sdf = spark.createDataFrame(rows, cols)
    from pyspark.sql import functions as F

    for name, expr in psi_frac_exprs("div") + _psi_trajectory(
        "div", "shiftleft(CAST(1 AS BIGINT), {k})"
    ):
        sdf = sdf.withColumn(name, F.expr(expr))
    got_spark = {
        r["bin"]: (r["p_ppm"], r["q_ppm"], r["contrib_e12"])
        for r in sdf.collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE census(bin INT, ref_c BIGINT, cur_c BIGINT,"
                " ref_n BIGINT, cur_n BIGINT)")
    con.executemany("INSERT INTO census VALUES (?,?,?,?,?)", rows)
    sql = "SELECT * FROM census"
    for name, expr in psi_frac_exprs("//") + _psi_trajectory(
        "//", "(CAST(1 AS BIGINT) << {k})"
    ):
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    got_duck = {
        r[0]: (r[5], r[6], r[-1])
        for r in con.execute(sql).fetchall()
    }
    con.close()

    assert got_spark == got_duck
    # the empty bin is clamped to the 1-ppm floor, not dropped
    assert got_spark[0][0] == 1
    assert all(c is not None for _, _, c in got_spark.values())
    # ...and it carries the dominant drift term: the alarm must fire
    assert sum(c for _, _, c in got_spark.values()) > PSI_ALARM_E12


def test_kcore_budget_counts_updates(spark):
    """max_iters budgets UPDATES (matching KCORE_ORACLE_ITERS), with the
    zero-change confirmation run on top: a path P7 needs exactly 3
    H-index updates, so max_iters=3 must succeed and max_iters=2 must
    raise (r13 ADVICE: the two engines' budgets meant different counts)."""
    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(6)]
    fwd = spark.createDataFrame(chain, ["src", "dst"])
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src")))
    stats: dict = {}
    out = coreness(edges, max_iters=3, stats=stats)
    assert {r.core for r in out.collect()} == {1}
    assert stats["moved"] == [2, 2, 1, 0], stats
    with pytest.raises(RuntimeError, match="did not converge"):
        coreness(edges, max_iters=2)


def test_kl_matches_pure_python_reference(spark, sf_small):
    ref, cur = _binned_counts(sf_small)
    exp = {}
    for et in set(ref) | set(cur):
        rn, cn = sum(ref[et]), sum(cur[et])
        fwd = rev = 0
        for i in range(PSI_BINS):
            p = max(((ref[et][i] + 1) * 10**6) // (rn + PSI_BINS), 1)
            q = max(((cur[et][i] + 1) * 10**6) // (cn + PSI_BINS), 1)
            fwd += q * _lnfp(q, p)
            rev += p * _lnfp(p, q)
        exp[et] = (rn, cn, fwd, rev)
    got = {
        r.event_type: (r.n_ref, r.n_cur, r.kl_cur_ref_e12, r.kl_ref_cur_e12)
        for r in registry.QUERIES["q_kl_drift"](spark, sf_small).collect()
    }
    assert got == exp


def test_kl_directions_sum_to_psi_exactly(spark, sf_small):
    """PSI ≡ KL(cur‖ref) + KL(ref‖cur) holds EXACTLY in the integer
    trajectories (both use the same hi/lo ln chain, so q·sg·L + p·(−sg)
    ·L = |q−p|·L bin-for-bin) — a three-way internal consistency check
    across q_psi_drift and q_kl_drift that fails if either chain
    drifts."""
    psi = {
        r.event_type: r.psi_e12
        for r in registry.QUERIES["q_psi_drift"](spark, sf_small).collect()
    }
    kl = {
        r.event_type: r.kl_cur_ref_e12 + r.kl_ref_cur_e12
        for r in registry.QUERIES["q_kl_drift"](spark, sf_small).collect()
    }
    assert psi == kl


def test_kl_fixed_point_tracks_float_kl(sf_small):
    """The forward trajectory approximates float KL(cur‖ref) on the
    smoothed census; both directions are nonnegative up to fixed-point
    granularity."""
    ref, cur = _binned_counts(sf_small)
    for et in ref:
        rn, cn = sum(ref[et]), sum(cur[et])
        fwd = 0
        kl = 0.0
        for i in range(PSI_BINS):
            pi = max(((ref[et][i] + 1) * 10**6) // (rn + PSI_BINS), 1)
            qi = max(((cur[et][i] + 1) * 10**6) // (cn + PSI_BINS), 1)
            fwd += qi * _lnfp(qi, pi)
            p = (ref[et][i] + 1) / (rn + PSI_BINS)
            q = (cur[et][i] + 1) / (cn + PSI_BINS)
            kl += q * math.log(q / p)
        assert fwd / 1e12 == pytest.approx(kl, rel=2e-3, abs=2e-7)
        assert fwd >= -10**6  # nonneg up to per-bin ppm truncation
