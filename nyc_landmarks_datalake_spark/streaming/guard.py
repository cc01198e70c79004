"""The one replay kernel for finite streaming replays.

Every registered streaming query replays a finite batch input through
the real Structured Streaming engine, one staged file per micro-batch
— the file-arrival unit of the reference's ingest. :func:`replay` is
that protocol, written once: each staged ``(path, schema)`` feed is
read with ``maxFilesPerTrigger=1``, the caller's ``build`` turns the
streams into the query under test, a ``foreachBatch`` sink writes each
micro-batch to ``<base>/out`` (or the caller's own sink), and an
``availableNow`` trigger drains the input and stops.

Completion goes through :func:`finish_replay`, the single raise path:
``awaitTermination(timeout)`` returns ``False`` on timeout with the
query still RUNNING, and reading the sink then would return a partial
mid-replay result (or nothing) — a silently-wrong answer. A hung
replay is stopped and raises instead.

:func:`replay_session` hands out the cached low-partition session
clone that stateful replays run on; :func:`stage` writes a batch input
as the ``n_files`` parquet parts a replay walks.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql.types import StructType

#: one cached clone per (application, partition count) — replays used
#: to call ``newSession()`` per invocation, leaking a SessionState (and
#: its listener/conf machinery) each time a replay query ran. Keyed on
#: applicationId (not ``id(sparkContext)``: CPython reuses id() after
#: GC, so a restarted context could collide with a dead clone's key)
#: and validated for liveness before reuse.
_REPLAY_SESSIONS: dict[tuple[str, int], object] = {}


def replay_session(spark, shuffle_partitions: int = 8):
    """A cloned session with a low shuffle-partition count for finite
    replays.

    A stateful streaming query materializes one state-store instance
    per shuffle partition per stateful operator per micro-batch — at
    local replay scale (a few thousand rows) the parent session's 32
    partitions are pure store-provider overhead (the stream-stream
    outer join spent ~9% of the whole bench on it). Cloning
    (``newSession``: shared SparkContext, own SessionState) lets the
    replay run with few state partitions WITHOUT mutating the shared
    session's conf mid-query (the r9 rule). On a real cluster the
    caller passes a partition count sized to executor count × state
    volume instead.

    The replay's sink writes plain parquet, so the caller's session
    reads the result back with its own conf — cross-session handoff
    through the filesystem, no session-state coupling.

    The clone is CACHED per (SparkContext, partition count) and reused
    across replays: each replay runs to completion before the next
    starts (finish_replay blocks) and leaves no state behind — sinks
    are per-call tmp dirs and no temp views are registered — so a
    fresh SessionState per invocation bought nothing and accumulated
    one leaked clone per replayed query for the life of the JVM.
    """
    key = (spark.sparkContext.applicationId, shuffle_partitions)
    sess = _REPLAY_SESSIONS.get(key)
    if sess is not None:
        # a cached clone can outlive its context (stop() + new session
        # in tests): hand back only a clone that shares the CALLER's
        # live context, else rebuild.
        try:
            alive = (
                sess.sparkContext is spark.sparkContext
                and not sess.sparkContext._jsc.sc().isStopped()
            )
        except Exception:
            alive = False
        if not alive:
            _REPLAY_SESSIONS.pop(key, None)
            sess = None
    if sess is None:
        sess = spark.newSession()
        sess.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        _REPLAY_SESSIONS[key] = sess
    return sess


def finish_replay(q, timeout_s: int, zone: str) -> None:
    """Block until the streaming query ``q`` terminates; raise on timeout."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming replay ({zone}) did not finish within "
            f"{timeout_s}s; refusing to read a partial result"
        )


def stage(df, base: str, name: str, n_files: int) -> tuple[str, StructType]:
    """Write ``df`` as ``n_files`` parquet parts under ``<base>/<name>``;
    return the ``(path, schema)`` feed :func:`replay` reads."""
    path = os.path.join(base, name)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return path, df.schema


def replay(
    sess,
    base: str,
    feeds,
    build,
    zone: str,
    timeout_s: int,
    output_mode: str = "append",
    sink=None,
) -> str:
    """Replay staged ``feeds`` file-by-file through ``build`` and block
    until the input is drained; return ``<base>/out``.

    Each ``(path, schema)`` feed becomes a ``sess`` stream with
    ``maxFilesPerTrigger=1``; ``build(*streams)`` is the streaming
    query, written through ``foreachBatch`` in ``output_mode`` with its
    checkpoint at ``<base>/ckpt`` and an ``availableNow`` trigger. The
    default sink writes each micro-batch to ``<base>/out`` — overwriting
    in complete mode (the last snapshot is the result), appending
    otherwise. ``sink(batch_df, batch_id)`` replaces it for replays
    that commit elsewhere.
    """
    out = os.path.join(base, "out")
    streams = [
        sess.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
        for path, schema in feeds
    ]
    if sink is None:
        mode = "overwrite" if output_mode == "complete" else "append"

        def sink(batch_df, _batch_id: int) -> None:
            batch_df.write.mode(mode).parquet(out)

    q = (
        build(*streams)
        .writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    finish_replay(q, timeout_s, zone)
    return out
