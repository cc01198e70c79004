"""Lakehouse benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench/`` in the checkout, sets up the Spark session
several times (``setup_s`` is the median), measures for ``--seconds``
seconds, checks every output, and prints one line per metric followed
by a last line holding one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics and the tracing
overhead, and writes the spans to ``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nyc_landmarks_datalake_spark"
SETUPS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def purge_package() -> None:
    for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[m]


def setup(wl, spark, i: int) -> tuple[object, dict]:
    """One set-up: (re)build the session, import every query module,
    warm up. The first one in a process also starts the JVM."""
    if spark is not None:
        spark.stop()
    purge_package()
    t0 = time.perf_counter()
    # progress bars would interleave with the metric lines
    spark = importlib.import_module(f"{PKG}.session").get_spark(
        extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    t1 = time.perf_counter()
    importlib.import_module(f"{PKG}.registry").load_all()
    t2 = time.perf_counter()
    wl.bind(spark)
    wl.warmup(i)
    t3 = time.perf_counter()
    return spark, {
        "session.get_spark_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def step(wl, i: int) -> None:
    """One operation; an operation that raises counts as failed and the
    loop goes on."""
    try:
        wl.step(i)
    except Exception as e:  # noqa: BLE001 - the loop must keep running
        traceback.print_exc()
        wl.fail(f"operation {i} raised {e!r}")


def measure(wl, seconds: float, alternate: bool) -> tuple[float, list[bool]]:
    """Closed loop. One untimed, untraced warm-up pass (its outputs are
    still checked, its samples dropped), then ops until ``seconds`` have
    passed and the last pass is complete. With ``alternate``, passes run
    traced and untraced in turn, at least one of each; the tracing
    overhead is the difference between the two."""
    traced_run = wl.tracer.enabled
    wl.tracer.enabled = False
    for i in range(wl.pass_len):
        step(wl, i)
    wl.samples.clear()
    first = i = wl.pass_len
    min_ops = (2 if alternate else 1) * wl.pass_len
    traced: list[bool] = []  # per latency sample
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while True:
        if alternate:
            wl.tracer.enabled = (i // wl.pass_len) % 2 == 1
        n = len(wl.latencies)
        step(wl, i)
        traced += [wl.tracer.enabled] * (len(wl.latencies) - n)
        i += 1
        if (time.perf_counter() >= deadline and i % wl.pass_len == 0
                and i - first >= min_ops):
            break
    wl.tracer.enabled = traced_run
    return time.perf_counter() - t0, traced


#: (name, unit) of the end-to-end metrics, reported with ``--trace 0``
E2E_METRICS = {
    "setup_s": "s",
    "latency_s": "s",
    "ops_per_s": "1/s",
    "mb_per_s": "MB/s",
}
#: (name, unit) of the per-layer metrics every workload has, reported
#: with ``--trace 1``; ``spark.*`` are stage totals per operation
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "session.warmup_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_rows": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "tracing.overhead_s": "s",
}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def report(e2e: dict, layer: dict | None, lines, problems, attempted: int,
           failed: int) -> str:
    """The run's standard output: one ``name value unit`` line per
    metric, then the failures, then — last — the JSON result line."""
    reported = E2E_METRICS if layer is None else LAYER_METRICS
    metrics = e2e if layer is None else layer
    if set(metrics) != set(reported):
        raise ValueError(f"metrics {sorted(metrics)} != {sorted(reported)}")
    out = [f"{k} {v} {E2E_METRICS[k]}" for k, v in e2e.items()]
    out += [f"{k} {v} {u}" for k, v, u in lines]
    if layer is not None:
        out += [f"{k} {v} {LAYER_METRICS[k]}" for k, v in layer.items()]
    out += [f"FAILED {p}" for p in problems]
    out.append(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": reported[k]} for k, v in metrics.items()},
    }))
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG} not found beside {HERE}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from stats import median, tail
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)  # spark-warehouse and other stray files land here

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    wl.prepare()

    # set-up is never traced: it is measured the same way in both modes
    spark, setups = None, []
    tracer.enabled = False
    for i in range(SETUPS):
        spark, s = setup(wl, spark, i)
        setups.append(s)
    tracer.enabled = bool(args.trace)
    wl.start()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    elapsed, traced = measure(wl, args.seconds, alternate=bool(args.trace))
    wl.check()
    headline = wl.summary(elapsed, cores())
    peak = rss_mb(os.getpid()) + rss_mb(jvm_pid)
    stop_jvm(spark)
    if args.trace:
        tracer.write(os.path.join(scratch, f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    lat = wl.latencies
    tail_v, tail_p, tail_n = tail(lat)
    e2e = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "latency_s": headline,
        "ops_per_s": len(lat) / elapsed,
        "mb_per_s": sum(wl.samples["user_bytes"]) / 1e6 / sum(lat),
    }
    lines = [
        # Peak RSS and the tail spread too widely between runs to be
        # bounded; with 16-32 samples a run the tail is at most ~p70.
        ("peak_rss_mb", peak, "MB"),
        ("latency_tail_s", tail_v, "s"),
        ("latency_tail_percentile", tail_p, "%"),
        ("latency_samples", tail_n, "count"),
        ("failed_fraction", wl.failed / wl.attempted, "fraction"),
        *wl.lines,
    ]
    layer = None
    if args.trace:
        layer = {k: median([s[k] for s in setups]) for k in
                 ("session.get_spark_s", "registry.load_all_s", "session.warmup_s")}
        layer.update({f"spark.{k}": v for k, v in wl.stage_means(wl.op_span, cores()).items()
                      if f"spark.{k}" in LAYER_METRICS})
        on = [x for x, t in zip(lat, traced) if t]
        off = [x for x, t in zip(lat, traced) if not t]
        layer["tracing.overhead_s"] = median(on) - median(off)
        lines += [(k, v, unit_of(k)) for k, v in wl.layer.items()]
    print(report(e2e, layer, lines, wl.problems, wl.attempted, wl.failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
