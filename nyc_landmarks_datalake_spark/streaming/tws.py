"""transformWithStateInPandas — the Spark 4 arbitrary-stateful API
(successor to applyInPandasWithState: named state variables, timers,
TTL, composite state types, state-schema evolution).

SANDBOX SEAM: the TWS Python runner transports state-server messages
over protobuf, and ``google.protobuf`` is not installed in this
container (verified: the streaming runner crashes in initialization
with ``ImportError: cannot import name 'descriptor'``). The operator
below is therefore fully wired — processor, state schema, RocksDB
provider conf (TWS requires the RocksDB state store in OSS Spark),
micro-batch replay harness — but executable only where protobuf
exists; :func:`tws_available` gates it, tests skip cleanly, and the
equivalent applyInPandasWithState operator (streaming/stateful.py,
driver-checked green) covers the semantics in-container.

Cross-check story once runnable: ``replay_user_stats`` runs through the
same ``guard.replay`` kernel as stateful.replay_user_profiles (one
staged file per micro-batch, update mode, latest row per user), and
the processor computes the same integer-exact per-user aggregate — so
its oracle is the identical plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nyc_landmarks_datalake_spark.operators.merge import keep_latest
from nyc_landmarks_datalake_spark.scratch import scratch_dir
from nyc_landmarks_datalake_spark.streaming.guard import replay, stage


def tws_available() -> bool:
    """True iff the TWS Python runner's transport dependency exists."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micros", T.LongType()),
        T.StructField("min_value_micros", T.LongType()),
        T.StructField("max_value_micros", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micros", T.LongType()),
        T.StructField("min_value_micros", T.LongType()),
        T.StructField("max_value_micros", T.LongType()),
    ]
)

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _make_processor():
    """Build the StatefulProcessor lazily (the import itself is fine;
    only query execution needs protobuf)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        """Running per-user count/sum/min/max in exact int64 micros,
        kept in a named ValueState and re-emitted on every batch that
        touches the key (update mode)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("user_stats", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                n, total, vmin, vmax = self._state.get()
            else:
                n, total, vmin, vmax = 0, 0, None, None
            for pdf in rows:
                n += len(pdf)
                total += int(pdf["value_micros"].sum())
                bmin = int(pdf["value_micros"].min())
                bmax = int(pdf["value_micros"].max())
                vmin = bmin if vmin is None else min(vmin, bmin)
                vmax = bmax if vmax is None else max(vmax, bmax)
            self._state.update((n, total, vmin, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value_micros": [total],
                    "min_value_micros": [vmin],
                    "max_value_micros": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return UserStats()


def replay_user_stats(
    spark, events: DataFrame, n_source_files: int = 4, timeout_s: int = 300
) -> DataFrame:
    """Replay ``events`` (user_id, value_micros int64) file-by-file
    through transformWithStateInPandas and return final per-user rows.

    Raises RuntimeError with the documented seam message when the
    protobuf transport is unavailable. Temporarily sets the RocksDB
    state-store provider (a TWS requirement in OSS Spark) and restores
    the previous value — safe here because replays are the only
    streaming queries the engine starts and they run serially.
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf for its "
            "state-server transport; not installed in this sandbox "
            "(see streaming/tws.py docstring)"
        )
    base = scratch_dir(prefix="tws_stats_")
    feed = stage(events, base, "src", n_source_files)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB)
    try:
        out = replay(
            spark,
            base,
            [feed],
            lambda stream: stream.groupBy("user_id").transformWithStateInPandas(
                _make_processor(),
                outputStructType=OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            ),
            "tws_stats",
            timeout_s,
            output_mode="update",
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return keep_latest(spark.read.parquet(out), ["user_id"], ["n_events"])
