"""Interleaved same-session A/B of the commit layer (``sources/txtable.py``).

Loads ``sources/txtable.py`` from two checkout roots into ONE Spark
session and runs both arms on the ``silver_upserts`` operation shape
(the inputs come from ``perfbench/gen.py``): a 200k-row table, then per
round one 2k-row correction batch MERGEd by ``merge_upsert_tx``, a
borough-filtered ``read_snapshot`` count, and every 8th round
``optimize`` + ``vacuum``. Each round runs both arms on the same batch,
the order reversed every round, so drift of the box hits both arms
alike. Everything else the arms import (``operators.merge`` …) is this
checkout's.

    python tools/ab.py --a /path/to/parent/checkout [--b .] [--rounds 48]

Prints merge, read, maintenance and per-operation (merge + read) p50
and IQR per arm, and how many rounds B's operation beat A's. Exits 1 if
the arms' final ``(rows, crc32-sum)`` checksums differ.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil
import sys
import tempfile
import time

import numpy as np

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "perfbench"))

import gen  # noqa: E402  (perfbench/gen.py: the silver_upserts inputs)

BASE_ROWS, BATCH_ROWS, INSERT_SHARE = 200_000, 2_000, 0.2
KEYS = ["LP_NUMBER"]
#: merges between optimize + vacuum, as in one silver_upserts pass
PASS_LEN = 8


def load_txtable(root: str, arm: str):
    path = os.path.join(root, "nyc_landmarks_datalake_spark", "sources", "txtable.py")
    spec = importlib.util.spec_from_file_location(f"ab_txtable_{arm}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def checksum(df) -> tuple[int, int]:
    """(rows, sum of crc32 over each row's text), as perfbench checks it."""
    from pyspark.sql import functions as F

    text = F.concat_ws("|", *[F.col(c).cast("string") for c in gen.CHECKSUM_COLS])
    r = df.agg(F.count(F.lit(1)), F.sum(F.crc32(text))).first()
    return r[0], r[1]


def timed(thunk) -> float:
    t0 = time.perf_counter()
    thunk()
    return time.perf_counter() - t0


def fmt(xs: list[float]) -> str:
    q1, q2, q3 = np.percentile(xs, [25, 50, 75]) * 1e3
    return f"p50 {q2:7.1f} ms  iqr {q3 - q1:6.1f} ms"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="checkout root of arm A (the control)")
    ap.add_argument("--b", default=_REPO, help="checkout root of arm B (default: this one)")
    ap.add_argument("--rounds", type=int, default=48)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.session import get_spark

    arms = {"A": load_txtable(args.a, "A"), "B": load_txtable(args.b, "B")}
    work = tempfile.mkdtemp(prefix="txtable_ab_")
    spark = get_spark("txtable_ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        base_path = os.path.join(work, "base.parquet")
        gen.write_parquet(gen.silver_base(args.seed, BASE_ROWS), base_path)
        batch_paths = []
        for k, b in enumerate(gen.correction_batches(
                args.seed, BASE_ROWS, args.rounds + 1, BATCH_ROWS, INSERT_SHARE)):
            batch_paths.append(os.path.join(work, f"b{k:05d}.parquet"))
            gen.write_parquet(b, batch_paths[-1])

        tables = {arm: os.path.join(work, f"t_{arm}") for arm in arms}
        for arm, tx in arms.items():
            # untimed warm-up: a throwaway table per arm, then the real one
            warm = os.path.join(work, f"warm_{arm}")
            tx.commit(spark, warm, spark.read.parquet(batch_paths[0]), "create")
            tx.merge_upsert_tx(spark, warm, spark.read.parquet(batch_paths[0]), KEYS)
            tx.commit(spark, tables[arm], spark.read.parquet(base_path), "create")

        samples = {arm: {"merge": [], "read": [], "maint": [], "op": []} for arm in arms}
        for i in range(args.rounds):
            updates = spark.read.parquet(batch_paths[i + 1])
            boro = gen.BOROUGHS[i % len(gen.BOROUGHS)]
            for arm in ("AB" if i % 2 == 0 else "BA"):
                tx, tbl, s = arms[arm], tables[arm], samples[arm]
                s["merge"].append(timed(lambda: tx.merge_upsert_tx(spark, tbl, updates, KEYS)))
                s["read"].append(timed(lambda: tx.read_snapshot(spark, tbl)
                                       .filter(F.col("BOROUGH") == boro).count()))
                s["op"].append(s["merge"][-1] + s["read"][-1])
                if (i + 1) % PASS_LEN == 0:
                    s["maint"].append(timed(lambda: (tx.optimize(spark, tbl, 4),
                                                     tx.vacuum(tbl, 2))))

        for arm, root in (("A", args.a), ("B", args.b)):
            print(f"arm {arm}: {root}")
            for what in ("merge", "read", "maint", "op"):
                if samples[arm][what]:
                    print(f"  {what:<6} {fmt(samples[arm][what])}  (n={len(samples[arm][what])})")
        wins = sum(b < a for a, b in zip(samples["A"]["op"], samples["B"]["op"]))
        print(f"B faster per operation in {wins}/{args.rounds} rounds")

        sums = {arm: checksum(arms[arm].read_snapshot(spark, tables[arm])) for arm in arms}
        print(f"final (rows, crc32-sum): A {sums['A']}  B {sums['B']}")
        if sums["A"] != sums["B"]:
            print("FAILED: the arms' final snapshots differ")
            return 1
        return 0
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
