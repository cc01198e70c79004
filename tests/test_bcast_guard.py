"""The r17 broadcast size-guards: forcing every gated hint OVER its
threshold must (a) change nothing about the results and (b) actually
exercise the shuffle-join fallback branch (no BroadcastHashJoin where
the hint would have forced one). This pins the 100 TB degradation path
the guards exist for — at test sf the gates always broadcast, so
without these tests the fallback branch would ship unexecuted."""

from __future__ import annotations

import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.functions import bcast as bcast_mod
from nyc_landmarks_datalake_spark.operators import graph as graph_mod
from nyc_landmarks_datalake_spark.operators import linkage as linkage_mod

registry.load_all()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _force_over_threshold(monkeypatch) -> None:
    """Push every r17 gate below any real row count."""
    monkeypatch.setattr(bcast_mod, "BCAST_MAX_ROWS", 0)
    monkeypatch.setattr(linkage_mod, "_GAMMA_BCAST_ROWS", 0)
    monkeypatch.setattr(graph_mod, "LP_BCAST_EDGES", 0)


def chunked_link_prediction(spark, sf_dir):
    """One chunk of the native-scale link-prediction path, whose
    chunk-filtered anti-join side has its own gate."""
    return graph_mod.link_prediction_frame(spark, sf_dir, chunk=(1, 3))


@pytest.mark.parametrize(
    "build",
    [
        *(
            registry.QUERIES[name]
            for name in (
                "q_triangle_count",
                "q_degree_assortativity",
                "q_link_prediction",
                "q_soft_dedup_weights",
                "q_linkage_weights",
                "q_record_linkage",
            )
        ),
        chunked_link_prediction,
    ],
    ids=lambda build: build.__name__,
)
def test_over_threshold_fallback_matches(spark, sf_small, monkeypatch, build):
    ref = _rows(build(spark, sf_small))
    assert ref
    _force_over_threshold(monkeypatch)
    assert _rows(build(spark, sf_small)) == ref


def test_over_threshold_actually_degrades_to_shuffle_join(
    spark, sf_small, monkeypatch
):
    """The assortativity degree joins are the cleanest probe: with the
    gate forced to 0 the V-row build sides lose their hint and the
    pre-aggregation joins must plan as shuffle joins, not broadcasts."""
    _force_over_threshold(monkeypatch)
    df = registry.QUERIES["q_degree_assortativity"](spark, sf_small)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_under_threshold_keeps_broadcast(spark, sf_small):
    """Unpatched (test sf is far under every gate) the hint fires: the
    assortativity plan carries the broadcast joins the r16 optimization
    installed — the guard must not cost the small-side fast path."""
    df = registry.QUERIES["q_degree_assortativity"](spark, sf_small)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bcast_if_over_threshold_is_identity():
    """One past the limit the frame is returned unwrapped — the
    cheapest possible over-threshold check, no Spark needed."""

    class _Probe:
        pass

    probe = _Probe()
    assert bcast_mod.bcast_if(probe, 5, limit=4) is probe  # type: ignore[arg-type]
