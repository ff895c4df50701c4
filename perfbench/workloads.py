"""The benchmark's workloads: how each builds its inputs, runs one pass
against eel_spark, traces it and checks its outputs.

A pass is one closed-loop sweep by a single client: each operation is
submitted only after the previous one returned.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
import host
import oracle
import trace

OLAP_SLOTS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_volume_customers",
    "q19_disjunctive_revenue", "q9_product_profit", "ops_asof_join",
    "ops_window_frames",
]
OLAP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events"]
DOC_SCHEMA = "doc_id long, text string"
MAX_HAMMING = 3
# per-layer counts of the store layers; a workload without a store
# reports them as 0
STORE_COUNTS = (
    "streaming.batches", "streaming.jobs_per_batch", "streaming.stages_per_batch",
    "maintenance.compactions", "maintenance.bytes_rewritten", "sources.store_files",
    "sources.store_dirs", "sources.store_bytes", "sources.store_bytes_per_input_byte",
)


@dataclass
class Context:
    spark: object
    tracer: trace.Tracer
    status: trace.StatusReader | None
    seed: int
    cores: int
    work: str
    inputs: str


@dataclass
class PassResult:
    wall_s: float
    span: int | None = None
    units: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0
    steal_s: float = 0.0


class StorageSampler:
    """Polls persisted-RDD count and cached MB while a traced pass runs
    (peaks inside an operation are invisible at its boundaries)."""

    def __init__(self, status: trace.StatusReader, period_s: float = 0.2):
        self.status, self.period_s = status, period_s
        self.pins_peak, self.mb_peak = 0, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def _sample(self):
        pins, mb = self.status.storage()
        self.pins_peak, self.mb_peak = max(self.pins_peak, pins), max(self.mb_peak, mb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def _first_line(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).strip().splitlines()[0][:200] if str(e).strip() else ''}"


def _group_jobs(jobs: list[dict], test) -> list[dict]:
    return [j for j in jobs if test(j.get("jobGroup") or "")]


def _common_layers(ctx: Context, jobs: list[dict], stages: list[dict],
                   wall_s: float, sampler: StorageSampler) -> dict[str, float]:
    out = trace.exec_totals(jobs, stages, wall_s, ctx.cores)
    sql = ctx.status.sql_operator_totals({j["jobId"] for j in jobs})
    out.update({f"sqlop.{k}": v for k, v in sql.items()})
    out["caching.pins_peak"] = sampler.pins_peak
    out["caching.storage_mb_peak"] = sampler.mb_peak
    out["jvm.peak_rss_mb"] = ctx.status.peak_rss_mb()
    return out


class OlapTpch:
    """Nine read-only TPC-H-shaped slots over generated parquet tables,
    each run as a noop-sink write; the seed permutes the slot order of
    every pass."""

    name = "olap_tpch"
    steady_passes = 2

    def __init__(self, tiny: bool):
        self.sf = 0.001 if tiny else 0.01
        from eel_spark.queries import ORACLE, QUERIES, UNGATED_ORACLE, UNGATED_QUERIES

        self.fns = {n: {**UNGATED_QUERIES, **QUERIES}[n] for n in OLAP_SLOTS}
        self.sql = {n: {**UNGATED_ORACLE, **ORACLE}[n] for n in OLAP_SLOTS}

    def make_inputs(self, out_dir: str, seed: int) -> None:
        datagen.tpch_tables(out_dir, seed, self.sf)

    def run_pass(self, ctx: Context, pass_no: int, parent: int | None,
                 collect: bool = False) -> PassResult:
        order = list(OLAP_SLOTS)
        random.Random(ctx.seed * 1009 + pass_no).shuffle(order)
        traced = ctx.tracer.enabled
        sc = ctx.spark.sparkContext
        res = PassResult(wall_s=0.0)
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        build_s = 0.0
        sampler = StorageSampler(ctx.status) if traced else None
        t_pass, c_pass, st_pass = time.perf_counter(), host.tree_cpu_s(), host.steal_s()
        with ctx.tracer.span("pass", f"pass {pass_no}", parent) as pid, \
                (sampler or nullcontext()):
            for name in order:
                ctx.spark.catalog.clearCache()
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("unit", name, pid) as uid:
                        if traced:
                            sc.setJobGroup(f"pb{pass_no}:{name}:build", name)
                        with ctx.tracer.span("build", name, uid):
                            tb = time.perf_counter()
                            df = self.fns[name](ctx.spark, ctx.inputs)
                            build_s += time.perf_counter() - tb
                        if traced:
                            sc.setJobGroup(f"pb{pass_no}:{name}:action", name)
                        with ctx.tracer.span("action", name, uid):
                            if collect:
                                res.outputs[name] = (df.toArrow(), dict(df.dtypes))
                            else:
                                df.write.format("noop").mode("overwrite").save()
                    if traced:
                        for k, v in trace.phases_s(_planned(df)).items():
                            phases[k] += v
                except Exception as e:  # noqa: BLE001 - a failed slot is counted, the pass goes on
                    res.errors.append(f"{name}: {_first_line(e)}")
                    continue
                res.units.append((name, time.perf_counter() - t0))
        res.wall_s, res.span = time.perf_counter() - t_pass, pid
        res.cpu_s, res.steal_s = host.tree_cpu_s() - c_pass, host.steal_s() - st_pass
        if traced:
            sc.setJobGroup("perfbench:idle", "")
        if traced and not res.errors:
            jobs = _group_jobs(ctx.status.jobs(), lambda g: g.startswith(f"pb{pass_no}:"))
            stages = ctx.status.stages()
            for span in ctx.tracer.spans:
                if span["layer"] == "unit" and span["parent"] == pid:
                    mine = _group_jobs(jobs, lambda g, n=span["name"]: g.split(":")[1] == n)
                    kids = [s for s in ctx.tracer.spans if s["parent"] == span["id"]]
                    for kid in kids:
                        trace.add_job_spans(ctx.tracer, kid["id"], _group_jobs(
                            mine, lambda g, k=kid["layer"]: g.endswith(":" + k)), stages)
            res.layers = _common_layers(ctx, jobs, stages, res.wall_s, sampler)
            res.layers.update({
                "queries.build_s": build_s,
                "queries.build_jobs": len(_group_jobs(jobs, lambda g: g.endswith(":build"))),
                **{f"catalyst.{k}_s": v for k, v in phases.items()},
                **{k: 0 for k in STORE_COUNTS},
            })
            res.extra = {f"queries.{n}.s": s for n, s in res.units}
        return res

    def check(self, ctx: Context, first: PassResult) -> tuple[int, list[str]]:
        """Compare every slot of the collected first pass with its oracle."""
        con = oracle.connect(ctx.inputs, OLAP_TABLES)
        failures = []
        try:
            for name in OLAP_SLOTS:
                if name not in first.outputs:
                    failures.append(f"{name}: no output to check")
                    continue
                table, types = first.outputs[name]
                why = oracle.mismatch(table, types, con, self.sql[name])
                if why:
                    failures.append(f"{name}: {why}")
        finally:
            con.close()
        return len(OLAP_SLOTS), failures


class StoreIngest:
    """The seeded documents split into wave files, drained by
    ``incremental_near_dedup_sink`` into a fresh store each pass, one
    file per micro-batch; ``maintain_every=1`` with ``max_batches=0``
    makes every micro-batch after the first compact the store
    (``operators.maintenance``) before it appends."""

    name = "store_ingest"
    steady_passes = 1

    def __init__(self, tiny: bool):
        self.n_docs, self.waves = (50, 2) if tiny else (100, 2)
        self._survivors: list[list[int]] = []

    def make_inputs(self, out_dir: str, seed: int) -> None:
        docs = datagen.documents(self.n_docs, self.waves, seed)
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
        datagen.wave_files(docs, os.path.join(out_dir, "waves"), seed)

    def _store(self, ctx: Context, pass_no: int) -> str:
        return os.path.join(ctx.work, "store", f"p{pass_no}")

    def run_pass(self, ctx: Context, pass_no: int, parent: int | None,
                 collect: bool = False) -> PassResult:
        from eel_spark.streaming import incremental_near_dedup_sink

        root = self._store(ctx, pass_no)
        shutil.rmtree(root, ignore_errors=True)
        surv = os.path.join(root, "survivors")
        traced = ctx.tracer.enabled
        sc = ctx.spark.sparkContext
        res = PassResult(wall_s=0.0)
        sampler = StorageSampler(ctx.status) if traced else None
        t_pass, c_pass, st_pass = time.perf_counter(), host.tree_cpu_s(), host.steal_s()
        query = None
        with ctx.tracer.span("pass", f"pass {pass_no}", parent) as pid, \
                (sampler or nullcontext()):
            try:
                if traced:
                    sc.setJobGroup(f"pb{pass_no}:store:build", "store")
                with ctx.tracer.span("build", "start stream", pid):
                    tb = time.perf_counter()
                    stream = (ctx.spark.readStream.schema(DOC_SCHEMA)
                              .option("maxFilesPerTrigger", 1)
                              .parquet(os.path.join(ctx.inputs, "waves")))
                    query = incremental_near_dedup_sink(
                        stream, surv, os.path.join(root, "checkpoint"),
                        max_hamming=MAX_HAMMING, maintain_every=1,
                        maintain_kwargs={"max_batches": 0},
                    )
                    build_s = time.perf_counter() - tb
                with ctx.tracer.span("action", "drain", pid):
                    query.awaitTermination()
            except Exception as e:  # noqa: BLE001 - counted as a failed batch
                res.errors.append(f"stream: {_first_line(e)}")
        res.wall_s, res.span = time.perf_counter() - t_pass, pid
        res.cpu_s, res.steal_s = host.tree_cpu_s() - c_pass, host.steal_s() - st_pass
        progress = [p for p in (query.recentProgress if query else [])
                    if p.get("numInputRows", 0) > 0]
        res.attempted = max(len(progress), self.waves)
        res.units = [(f"batch {p['batchId']}", p["durationMs"]["triggerExecution"] / 1e3)
                     for p in progress]
        if not res.errors and len(progress) != self.waves:
            res.errors.append(f"stream: {len(progress)} batches for {self.waves} waves")
        try:
            self._survivors.append(sorted(
                r[0] for r in ctx.spark.read.parquet(surv).select("doc_id").collect()))
        except Exception as e:  # noqa: BLE001 - an unreadable store fails the pass
            res.errors.append(f"survivors: {_first_line(e)}")
        if traced:
            sc.setJobGroup("perfbench:idle", "")
        if traced and not res.errors:
            self._trace_pass(ctx, pass_no, pid, query, stream, progress, res,
                             build_s, sampler, root)
        return res

    def _trace_pass(self, ctx, pass_no, pid, query, stream, progress, res,
                    build_s, sampler, root):
        run_id = str(query.runId)
        jobs = _group_jobs(ctx.status.jobs(),
                           lambda g: g == run_id or g.startswith(f"pb{pass_no}:"))
        stages = ctx.status.stages()
        stream_jobs = _group_jobs(jobs, lambda g: g == run_id)
        action = next(s for s in ctx.tracer.spans
                      if s["parent"] == pid and s["layer"] == "action")
        by_batch: dict[int, list[dict]] = {}
        for j in stream_jobs:
            m = re.search(r"batch = (\d+)", j.get("description") or "")
            by_batch.setdefault(int(m.group(1)) if m else -1, []).append(j)
        dur = {k: 0.0 for k in ("addBatch", "queryPlanning", "getBatch",
                                "latestOffset", "walCommit", "commitOffsets")}
        for p in progress:
            d = p["durationMs"]
            for k in dur:
                dur[k] += d.get(k, 0) / 1e3
            start = _iso_epoch(p["timestamp"])
            uid = ctx.tracer.add("unit", f"batch {p['batchId']}", start,
                                 start + d["triggerExecution"] / 1e3, action["id"])
            pre = sum(d.get(k, 0) for k in ("latestOffset", "walCommit",
                                              "getBatch", "queryPlanning")) / 1e3
            ctx.tracer.add("build", "plan batch", start, start + pre, uid)
            aid = ctx.tracer.add("action", "addBatch", start + pre,
                                 start + pre + d.get("addBatch", 0) / 1e3, uid)
            trace.add_job_spans(ctx.tracer, aid, by_batch.get(p["batchId"], []), stages)
        build_span = next(s for s in ctx.tracer.spans
                          if s["parent"] == pid and s["layer"] == "build")
        trace.add_job_spans(ctx.tracer, build_span["id"],
                            _group_jobs(jobs, lambda g: g.endswith(":build")), stages)
        n = max(len(progress), 1)
        ran = {s["stageId"] for s in stages if s["status"] == "COMPLETE"}
        stream_stages = sum(len(set(j["stageIds"]) & ran) for j in stream_jobs)
        phases = trace.phases_s(stream._jdf.queryExecution())
        last = trace.phases_s(query._jsq.streamingQuery().lastExecution())
        phases["optimization"], phases["planning"] = last["optimization"], last["planning"]
        files, dirs, nbytes, compacted = _tree(root, ("survivors", "survivors__bands"))
        in_bytes = sum(os.path.getsize(os.path.join(ctx.inputs, "waves", f))
                       for f in os.listdir(os.path.join(ctx.inputs, "waves")))
        res.layers = _common_layers(ctx, jobs, stages, res.wall_s, sampler)
        res.layers.update({
            "queries.build_s": build_s,
            "queries.build_jobs": len(_group_jobs(jobs, lambda g: g.endswith(":build"))),
            **{f"catalyst.{k}_s": v for k, v in phases.items()},
            "streaming.batches": len(progress),
            "streaming.jobs_per_batch": len(stream_jobs) / n,
            "streaming.stages_per_batch": stream_stages / n,
            "maintenance.compactions": int(compacted > 0),
            "maintenance.bytes_rewritten": compacted,
            "sources.store_files": files,
            "sources.store_dirs": dirs,
            "sources.store_bytes": nbytes,
            "sources.store_bytes_per_input_byte": nbytes / in_bytes,
        })
        cadence = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress
                   if p["batchId"] > 0]
        res.extra = {
            **{f"streaming.{_snake(k)}_s": v for k, v in dur.items()},
            "maintenance.batch_s": statistics.median(cadence) if cadence else 0.0,
        }

    def check(self, ctx: Context, first: PassResult) -> tuple[int, list[str]]:
        """Four invariants: on the last pass's store, survivor ids are
        unique, no two survivors are near-duplicates (batch
        ``simhash_near_duplicates``), every input document is a survivor
        or within ``MAX_HAMMING`` of one; and the survivor sets of all
        passes of the run are equal."""
        from eel_spark.functions import hashes
        from eel_spark.operators.dedup import simhash_near_duplicates

        if not self._survivors:
            return 4, ["no readable store"]
        failures = []
        ids = self._survivors[-1]
        kept_ids = set(ids)
        if len(ids) != len(kept_ids):
            failures.append(f"survivor ids not unique: {len(ids)} rows, {len(kept_ids)} ids")
        docs = ctx.spark.read.parquet(os.path.join(ctx.inputs, "documents.parquet"))
        kept = docs.join(ctx.spark.createDataFrame([(i,) for i in kept_ids], "doc_id long"),
                         "doc_id")
        n_pairs = simhash_near_duplicates(kept, "text", "doc_id",
                                          max_hamming=MAX_HAMMING).count()
        if n_pairs:
            failures.append(f"{n_pairs} survivor pairs within hamming {MAX_HAMMING}")
        fps = dict(docs.select("doc_id", hashes.simhash64("text").alias("fp")).collect())
        keep = np.array([fps[i] for i in kept_ids], dtype=np.int64).view(np.uint64)
        orphans = 0
        for doc_id, fp in fps.items():
            if doc_id in kept_ids:
                continue
            x = np.bitwise_xor(keep, np.uint64(fp & 0xFFFFFFFFFFFFFFFF))
            dist = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            orphans += int(dist.size == 0 or dist.min() > MAX_HAMMING)
        if orphans:
            failures.append(f"{orphans} input docs neither survivors nor near one")
        if any(s != self._survivors[0] for s in self._survivors):
            failures.append("survivor sets differ between passes")
        return 4, failures


def _tree(root: str, tables: tuple[str, ...]) -> tuple[int, int, int, int]:
    """(files, directories, bytes, bytes under batch_id=-1) of the store
    tables below ``root``."""
    files = dirs = nbytes = compacted = 0
    for t in tables:
        for d, subdirs, names in os.walk(os.path.join(root, t)):
            dirs += 1
            for f in names:
                size = os.path.getsize(os.path.join(d, f))
                files += 1
                nbytes += size
                if "batch_id=-1" in d:
                    compacted += size
    return files, dirs, nbytes, compacted


def _snake(k: str) -> str:
    return re.sub(r"(?<!^)([A-Z])", r"_\1", k).lower()


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _planned(df):
    """The DataFrame's own QueryExecution, optimized and planned."""
    jqe = df._jdf.queryExecution()
    jqe.executedPlan()
    return jqe


WORKLOADS = {w.name: w for w in (OlapTpch, StoreIngest)}
