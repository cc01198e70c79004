"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation is
issued only after the previous one returned. ``prepare`` writes the
seeded inputs before any timing; ``warmup`` is the workload's share of
set-up; ``step`` runs one operation and records it; ``check`` compares
what the program produced with the models in ``gen``.

Layer calls go through ``self.call``: untraced it only times the call,
traced it also opens a span and a job group and keeps the call's Spark
stage totals on the span.
"""

from __future__ import annotations

import collections
import importlib
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from stats import geomean, median
from tracing import STAGE_FIELDS, StageCollector, Tracer

PKG = "nyc_landmarks_datalake_spark"


def mod(name: str):
    """The package module as currently imported (set-up re-imports the
    package, so modules are looked up at use, never cached)."""
    return importlib.import_module(f"{PKG}.{name}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; writer marker files excluded."""
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dp, f))
            files += 1
    return total, files


class Workload:
    name = ""
    #: operations per pass; a run ends only at a pass boundary
    pass_len = 1
    #: span name of the workload's operation (per-operation stage totals)
    op_span = ""

    def __init__(self, work: str, seed: int, tracer: Tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.stages: StageCollector | None = None
        #: per-operation samples by name; cleared after the warm-up pass
        self.samples: dict[str, list] = collections.defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.lines: list[tuple[str, float, str]] = []
        self.layer: dict[str, float] = {}

    @property
    def latencies(self) -> list[float]:
        return self.samples["latency"]

    # -- harness hooks -------------------------------------------------
    def bind(self, spark) -> None:
        self.spark = spark
        self.stages = StageCollector(spark, self.tracer.run_id)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def call(self, layer: str, thunk, **attrs):
        """Run ``thunk()`` as one call into ``layer``; returns (result,
        seconds). Traced, the call gets its own job group and its span
        carries the Spark stage totals of the jobs it ran."""
        if not self.tracer.enabled:
            t0 = time.perf_counter()
            out = thunk()
            return out, time.perf_counter() - t0
        with self.tracer.span(layer, **attrs) as rec, self.stages.group(layer) as gid:
            t0 = time.perf_counter()
            out = thunk()
            dt = time.perf_counter() - t0
        rec.update(self.stages.totals(self.stages.job_ids(gid)))
        rec["wall_s"] = dt
        return out, dt

    def stage_means(self, span_name: str, cores: int) -> dict[str, float]:
        """Stage totals per call, averaged over the spans named
        ``span_name``, plus the driver gap: wall − executor run ÷ cores."""
        spans = [s for s in self.tracer.spans if s["name"] == span_name]
        n = len(spans)
        out = {k: sum(s[k] for s in spans) / n for k in ("jobs", "stages", *STAGE_FIELDS)}
        wall = sum(s["wall_s"] for s in spans)
        out["driver_gap_s"] = (wall - out["executor_run_s"] * n / cores) / n
        return out

    def stage_layer(self, prefix: str, span_name: str, cores: int) -> None:
        for k, v in self.stage_means(span_name, cores).items():
            self.layer[f"{prefix}.{k}"] = v

    def mean_span(self, name: str) -> float:
        d = self.tracer.durations(name)
        return sum(d) / len(d) if d else 0.0

    def prepare(self) -> None: ...
    def warmup(self, i: int) -> None: ...
    def start(self) -> None: ...
    def step(self, i: int) -> None: ...
    def check(self) -> None: ...
    def summary(self, elapsed: float, cores: int) -> float:
        """Fill ``lines`` (and ``layer`` when traced); return the
        workload's headline latency."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# landmarks_ingest
# ---------------------------------------------------------------------------


class LandmarksIngest(Workload):
    """Landmark CSV objects land one at a time (Lambda-style) and go
    through ``ingest_csv`` into a BOROUGH-partitioned silver zone; after
    each pass the three ``pipelines`` queries run over all of it."""

    name = "landmarks_ingest"
    op_span = "ingest.csv_ingest.ingest_csv"
    # One cycle: fifteen drops of 0.5k-5k rows, dominated by fixed
    # per-object cost, and one 100k-row re-export, dominated by CSV
    # parse, geometry regex and parquet write. Sizes are fixed so every
    # seed sees the same shape; the seed sets content and arrival order.
    CYCLE = [round(500 * 10 ** (k / 14)) for k in range(15)] + [100_000]

    def prepare(self) -> None:
        objs = gen.landmark_stream(self.seed, os.path.join(self.work, "bronze"), self.CYCLE)
        order = np.random.default_rng([self.seed, 5]).permutation(len(objs))
        self.objs = [objs[i] for i in order]
        # the silver queries run once a cycle, after its last object
        self.pass_len = len(self.objs)
        self.warm_obj = gen.write_landmark_object(
            np.random.default_rng([self.seed, 6]), 99_999, 500,
            os.path.join(self.work, "warm_bronze"),
        )
        self.silver = os.path.join(self.work, "silver")
        self.ingested: list[gen.LandmarkObject] = []
        self.audits: dict[str, object] = {}

    def warmup(self, i: int) -> None:
        dest = os.path.join(self.work, "warm_silver", str(i))
        mod("ingest.csv_ingest").ingest_csv(
            self.spark, self.warm_obj.csv_path, self.warm_obj.sidecar_path, dest,
            geometry_mode="encode",
        )

    def start(self) -> None:
        if not self.tracer.enabled:
            return
        # sidecar spans: ingest_csv resolves these names in its own module
        ing = mod("ingest.csv_ingest")
        for fname in ("load_sidecar", "validate_header"):
            orig = getattr(ing, fname)

            def wrapped(*a, __orig=orig, __span=f"schema.sidecar.{fname}", **kw):
                with self.tracer.span(__span):
                    return __orig(*a, **kw)

            setattr(ing, fname, wrapped)

    def _split(self, obj: gen.LandmarkObject) -> None:
        """Ingest split, from public functions on the same object: read to
        a noop sink, then read plus geometry encode to a noop sink. With
        the full ingest, the differences give read, massage and write."""
        ing = mod("ingest.csv_ingest")
        geo = mod("functions.geometry")

        def read(encode: bool):
            df, _ = ing.read_csv_with_sidecar(self.spark, obj.csv_path, obj.sidecar_path)
            if encode:
                df = df.withColumn("the_geom", geo.wkt_colon_encode(F.col("the_geom")))
            df.write.format("noop").mode("overwrite").save()

        self.call("ingest.split.read", lambda: read(False))
        self.call("ingest.split.read_encode", lambda: read(True))

    def step(self, i: int) -> None:
        obj = self.objs[i % len(self.objs)]
        dest = os.path.join(self.silver, f"src={i}")
        ing = mod("ingest.csv_ingest")
        if self.tracer.enabled:
            self._split(obj)
        self.attempted += 1
        _, dt = self.call(
            self.op_span,
            lambda: ing.ingest_csv(self.spark, obj.csv_path, obj.sidecar_path, dest,
                                   geometry_mode="encode"),
        )
        self.ingested.append(obj)
        nbytes, nfiles = dir_bytes(dest)
        self.samples["latency"].append(dt)
        self.samples["user_bytes"].append(obj.bytes)
        self.samples["written"].append(nbytes)
        self.samples["files"].append(nfiles)
        if (i + 1) % self.pass_len == 0:
            self._silver_queries()

    def _model(self):
        boro: collections.Counter = collections.Counter()
        years: collections.Counter = collections.Counter()
        top: list = []
        for o in self.ingested:
            boro.update(o.boroughs)
            years.update(o.years)
            top.extend(o.top)
        top.sort(key=lambda r: (-r[0], r[1]))
        return boro, years, top[:10]

    def _silver_queries(self) -> None:
        pl = mod("pipelines")
        boro, years, top = self._model()
        silver = self.spark.read.parquet(self.silver)
        checks = [
            ("landmarks_per_borough", pl.landmarks_per_borough,
             lambda rows: {r["BOROUGH"]: r["n_landmarks"] for r in rows} == dict(boro)),
            ("designations_per_year", pl.designations_per_year,
             lambda rows: {r["desig_year"]: r["n"] for r in rows} == dict(years)),
            ("largest_landmarks", pl.largest_landmarks,
             lambda rows: [(r["shape_area"], r["LP_NUMBER"], r["AREA_NAME"], r["BOROUGH"])
                           for r in rows] == top),
        ]
        for qname, fn, ok in checks:
            self.attempted += 1

            def run():
                df = fn(silver)
                if self.tracer.enabled:
                    with self.tracer.span("plans.executed_plan", query=qname):
                        df._jdf.queryExecution().executedPlan()
                return df, df.collect()

            (df, rows), dt = self.call("operators.query", run, query=qname)
            self.samples[f"query:{qname}"].append(dt)
            if self.tracer.enabled and qname not in self.audits:
                self.audits[qname] = mod("plans.audit").audit(df)
            if not ok(rows):
                self.fail(f"{qname} after {len(self.ingested)} objects")

    def check(self) -> None:
        want: collections.Counter = collections.Counter()
        for o in self.ingested:
            want.update(o.geom_crc)
        rows = (
            self.spark.read.parquet(self.silver)
            .groupBy("BOROUGH").agg(F.sum(F.crc32("the_geom")).alias("c")).collect()
        )
        self.attempted += 1
        if {r["BOROUGH"]: r["c"] for r in rows} != dict(want):
            self.fail("encoded geometry differs from the model")

    def summary(self, elapsed: float, cores: int) -> float:
        S = self.samples
        user = sum(S["user_bytes"])
        qmed = [median(v) for k, v in S.items() if k.startswith("query:")]
        self.lines += [
            ("object_latency_p50_s", median(self.latencies), "s"),
            ("bytes_written_per_user_byte", sum(S["written"]) / user, "ratio"),
            ("query_latency_geomean_s", geomean(qmed), "s"),
        ]
        if self.tracer.enabled:
            L = self.layer
            L["schema.sidecar.load_s"] = self.mean_span("schema.sidecar.load_sidecar")
            L["schema.sidecar.validate_s"] = self.mean_span("schema.sidecar.validate_header")
            read = self.mean_span("ingest.split.read")
            enc = self.mean_span("ingest.split.read_encode")
            L["ingest.csv_ingest.read_s"] = read
            L["functions.geometry.encode_s"] = enc - read
            L["ingest.csv_ingest.write_s"] = self.mean_span("ingest.csv_ingest.ingest_csv") - enc
            L["ingest.csv_ingest.files_per_object"] = sum(S["files"]) / len(S["files"])
            self.stage_layer("ingest.csv_ingest", self.op_span, cores)
            L["ingest.csv_ingest.jobs_per_object"] = L.pop("ingest.csv_ingest.jobs")
            L["ingest.csv_ingest.tasks_per_object"] = L.pop("ingest.csv_ingest.tasks")
            # the silver queries: operator stage totals and plan audit
            self.stage_layer("operators", "operators.query", cores)
            L["operators.plan_s"] = self.mean_span("plans.executed_plan")
            audits = list(self.audits.values())
            for key, attr in (("bhj", "broadcast_hash_joins"), ("smj", "sort_merge_joins"),
                              ("exchanges", "exchanges"), ("python_eval", "has_python_eval")):
                L[f"plans.audit.{key}"] = sum(getattr(a, attr) for a in audits) / len(audits)
        return median(self.latencies)


# ---------------------------------------------------------------------------
# silver_upserts
# ---------------------------------------------------------------------------


class SilverUpserts(Workload):
    """Correction batches MERGE into a transactional silver table
    (``sources.txtable``), each followed by a snapshot filter read;
    ``optimize`` and ``vacuum`` end each pass of a few commits. In traced
    runs the first batches also stream through both upsert sinks, whose
    tables must agree with each other and with the last-write-wins
    model; untraced runs skip them, as they are outside the timed loop."""

    name = "silver_upserts"
    op_span = "sources.txtable.merge_upsert_tx"
    BASE_ROWS = 200_000
    BATCH_ROWS = 2_000
    INSERT_SHARE = 0.2
    N_BATCHES = 100
    # a pass: this many commits, then optimize and vacuum
    pass_len = 8
    STREAM_BATCHES = 2
    KEYS = ["LP_NUMBER"]

    def prepare(self) -> None:
        self.base = gen.silver_base(self.seed, self.BASE_ROWS)
        self.base_path = os.path.join(self.work, "base", "base.parquet")
        gen.write_parquet(self.base, self.base_path)
        self.batches = gen.correction_batches(
            self.seed, self.BASE_ROWS, self.N_BATCHES, self.BATCH_ROWS, self.INSERT_SHARE
        )
        self.batch_paths = []
        for k, b in enumerate(self.batches):
            p = os.path.join(self.work, "batches", f"b{k:05d}.parquet")
            gen.write_parquet(b, p)
            self.batch_paths.append(p)
        self.model = gen.UpsertModel()
        self.model.apply(self.base)
        self.table = os.path.join(self.work, "silver_tx")
        self.commit_calls = 0
        self.retries = 0
        self.stream_batches: list[tuple[str, float]] = []  # (sink layer, seconds)

    def warmup(self, i: int) -> None:
        tx = mod("sources.txtable")
        path = os.path.join(self.work, "warm_tx", str(i))
        df = self.spark.read.parquet(self.batch_paths[0])
        tx.commit(self.spark, path, df, "create")
        tx.merge_upsert_tx(self.spark, path, df, self.KEYS)

    def start(self) -> None:
        tx = mod("sources.txtable")
        tx.commit(self.spark, self.table, self.spark.read.parquet(self.base_path), "create")
        if self.tracer.enabled:
            # retries: commit attempts beyond the first in one merge
            orig = tx.commit

            def counted(*a, **kw):
                self.commit_calls += 1
                return orig(*a, **kw)

            tx.commit = counted

    def step(self, i: int) -> None:
        if i >= len(self.batch_paths):
            raise RuntimeError("ran out of generated correction batches")
        tx = mod("sources.txtable")
        data = os.path.join(self.table, "data")
        before, _ = dir_bytes(data)
        self.attempted += 1
        updates = self.spark.read.parquet(self.batch_paths[i])
        commits = self.commit_calls
        _, dt = self.call(self.op_span,
                          lambda: tx.merge_upsert_tx(self.spark, self.table, updates, self.KEYS))
        self.retries += max(0, self.commit_calls - commits - 1)
        self.samples["latency"].append(dt)
        self.samples["commit_bytes"].append(dir_bytes(data)[0] - before)
        self.samples["user_bytes"].append(os.path.getsize(self.batch_paths[i]))
        self.model.apply(self.batches[i])

        boro = gen.BOROUGHS[i % len(gen.BOROUGHS)]
        self.attempted += 1
        n, dt = self.call(
            "sources.txtable.read_snapshot",
            lambda: tx.read_snapshot(self.spark, self.table)
            .filter(F.col("BOROUGH") == boro).count(),
        )
        self.samples["read"].append(dt)
        if n != self.model.boroughs[boro]:
            self.fail(f"snapshot after batch {i}: {boro} has {n} rows")

        if (i + 1) % self.pass_len == 0:
            self.call("sources.txtable.optimize", lambda: tx.optimize(self.spark, self.table, 4))
            before, _ = dir_bytes(data)
            self.call("sources.txtable.vacuum", lambda: tx.vacuum(self.table, 2))
            self.samples["vacuum_bytes"].append(before - dir_bytes(data)[0])

    def _rows(self, df) -> set:
        return {tuple(r) for r in df.select(*gen.SILVER_SCHEMA.names).collect()}

    def _checksum(self, df) -> tuple[int, int]:
        """(rows, sum of crc32 over each row's text) — compared with
        ``UpsertModel.checksum`` without collecting the table."""
        text = F.concat_ws("|", *[F.col(c).cast("string") for c in gen.CHECKSUM_COLS])
        r = df.agg(F.count(F.lit(1)), F.sum(F.crc32(text))).first()
        return r[0], r[1]

    def _stream(self) -> tuple[set, set]:
        """Stream the first batches through both sinks, one file per
        micro-batch in batch order, each sink starting from an empty
        table."""
        tx = mod("sources.txtable")
        pipe = mod("streaming.pipeline")
        src = os.path.join(self.work, "stream_src")
        os.makedirs(src)
        # the file source orders files by modification time
        for k, p in enumerate(self.batch_paths[: self.STREAM_BATCHES]):
            dst = shutil.copy(p, src)
            os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
        schema = self.spark.read.parquet(self.batch_paths[0]).schema
        swap_dir = os.path.join(self.work, "sink_swap")
        tx_dir = os.path.join(self.work, "sink_tx")
        tx.commit(self.spark, tx_dir, self.spark.createDataFrame([], schema), "create")

        def source():
            return (self.spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(src))

        q_swap = pipe.stream_upsert_sink(
            source(), swap_dir, os.path.join(self.work, "ck_swap"), self.KEYS, ["rev"]
        )
        q_swap.awaitTermination()
        q_tx = (
            source().writeStream
            .foreachBatch(tx.streaming_upsert_sink(self.spark, tx_dir, self.KEYS))
            .option("checkpointLocation", os.path.join(self.work, "ck_tx"))
            .trigger(availableNow=True).start()
        )
        q_tx.awaitTermination()
        for q, layer in ((q_swap, "streaming.pipeline"), (q_tx, "sources.txtable.streaming")):
            for prog in q.recentProgress:
                if prog["numInputRows"]:
                    self.stream_batches.append(
                        (layer, prog["durationMs"]["triggerExecution"] / 1e3)
                    )
        return (self._rows(self.spark.read.parquet(swap_dir)),
                self._rows(tx.read_snapshot(self.spark, tx_dir)))

    def check(self) -> None:
        tx = mod("sources.txtable")
        self.attempted += 1
        if self._checksum(tx.read_snapshot(self.spark, self.table)) != self.model.checksum():
            self.fail("final snapshot differs from the last-write-wins model")
        if not self.tracer.enabled:
            return
        want = gen.UpsertModel()
        for b in self.batches[: self.STREAM_BATCHES]:
            want.apply(b)
        swap_rows, tx_rows = self._stream()
        self.attempted += 1
        if not (swap_rows == tx_rows == set(want.rows.values())):
            self.fail("streaming sinks disagree with each other or the model")

    def summary(self, elapsed: float, cores: int) -> float:
        S = self.samples
        self.lines += [
            ("commit_latency_p50_s", median(self.latencies), "s"),
            ("snapshot_read_p50_s", median(S["read"]), "s"),
            ("bytes_written_per_user_byte", sum(S["commit_bytes"]) / sum(S["user_bytes"]),
             "ratio"),
        ]
        if self.tracer.enabled:
            tx = mod("sources.txtable")
            L = self.layer
            self.stage_layer("sources.txtable.commit", self.op_span, cores)
            L["sources.txtable.merge_s"] = self.mean_span(self.op_span)
            L["sources.txtable.commit_jobs"] = L.pop("sources.txtable.commit.jobs")
            L["sources.txtable.bytes_written_per_commit"] = (
                sum(S["commit_bytes"]) / len(S["commit_bytes"]))
            L["sources.txtable.files_per_version"] = len(
                tx.read_snapshot(self.spark, self.table).inputFiles())
            L["sources.txtable.retries"] = self.retries
            L["sources.txtable.read_snapshot_s"] = self.mean_span("sources.txtable.read_snapshot")
            L["sources.txtable.optimize_s"] = self.mean_span("sources.txtable.optimize")
            L["sources.txtable.vacuum_s"] = self.mean_span("sources.txtable.vacuum")
            L["sources.txtable.vacuum_bytes_deleted"] = (
                sum(S["vacuum_bytes"]) / len(S["vacuum_bytes"]))
            for layer in ("streaming.pipeline", "sources.txtable.streaming"):
                L[f"{layer}.batch_s"] = median(
                    [t for name, t in self.stream_batches if name == layer])
        return median(self.latencies)


WORKLOADS = {w.name: w for w in (LandmarksIngest, SilverUpserts)}
