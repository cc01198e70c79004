"""bench.py output contract: per-query chunk lines first, the short
value-bearing headline LAST on stdout, the full record in BENCH.json."""

from __future__ import annotations

import importlib.util
import json
import os

_BENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")


def _bench_module():
    spec = importlib.util.spec_from_file_location("bench_contract", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_emit_headline_last_and_full_record_in_file(tmp_path, capsys):
    bench = _bench_module()
    # more entries than one chunk holds, so the chunking is exercised
    timings = {f"q{i:02d}": round(0.1 * (i + 1), 3) for i in range(60)}
    path = tmp_path / "BENCH.json"
    bench._emit(timings, 0.1, str(path))

    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln.strip()]
    head = json.loads(lines[-1])
    assert head["metric"] == "headline_query_wall_clock"
    assert head["value"] == round(sum(timings.values()), 3)
    assert head["n_queries"] == len(timings)
    assert "queries" not in head  # the short line stays short

    chunks = [json.loads(ln) for ln in lines[:-1]]
    assert [c["chunk"] for c in chunks] == list(range(len(chunks)))
    merged = {k: v for c in chunks for k, v in c["queries"].items()}
    assert merged == timings
    assert all("value" not in c for c in chunks)

    record = json.loads(path.read_text())
    assert record["queries"] == timings
    assert record["value"] == head["value"]
    assert record["sf"] == 0.1
