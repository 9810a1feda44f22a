"""Spans around the calls into engine layers, for the traced run.

Everything is measured from outside the engine:

- each wrapped call runs inside a span that tags its Spark jobs with a
  job group of its own, and materializes (persists and counts) the
  DataFrame it returns, so the work it planned is done inside its span;
- jobs and stages per span come from ``statusTracker()``;
- shuffle bytes and records per stage come from the local status REST
  API (the UI is enabled for traced runs only);
- Python UDF time comes from the ``perf`` UDF profiler, flushed to the
  innermost open span at every span boundary.

A layer's numbers are the sums over its spans' self parts: a span's
wall minus the walls of the spans it opened, and the jobs tagged while
it was the innermost span.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from entity_resolution_engine_spark.sources.catalog import ParquetSnapshotCatalog

BASE = ("wall_s", "jobs", "stages", "shuffle_bytes", "shuffle_records", "rows_out")
# layer → extra metrics, in the order BENCHMARK.json lists them
LAYERS = {
    "normalize_stage": ("udf_s",),
    "blocking": ("udf_s", "candidates", "blocks_split"),
    "scoring": ("udf_s",),
    "router": ("approved", "gray", "rejected"),
    "cluster": ("sync_points", "star_rounds", "final_edges"),
    "merge": (),
    "metrics": (),
    "catalog": ("write_s", "read_s", "bytes_written"),
    "dedup.minhash": ("udf_s",),
    "dedup.ngram": ("udf_s",),
}
# pipeline_resume figures with no end-to-end slot: the contract asks
# every workload for every end-to-end metric, and doc_dedup has neither
# (metric → the iteration's timing key)
PLAN = {
    "pipeline.full_s": "full_s",
    "pipeline.resume_s": "resume_s",
    "catalog.bytes_per_input_byte": "catalog_bytes_per_input_byte",
}
TOTALS = ("iteration.jobs", "trace.overhead_s", "trace.layer_sum_frac")


def metric_names() -> list[str]:
    names = [f"{l}.{m}" for l, extra in LAYERS.items() for m in BASE + extra]
    return names + list(PLAN) + list(TOTALS)


def metric_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_frac") or name.endswith("_per_input_byte"):
        return "ratio"
    return "count"


def _materialize(out, span: dict):
    """Persist and count the DataFrame(s) a layer returned, inside its
    span.  Returns the persisted value in place of the lazy one."""
    if isinstance(out, DataFrame):
        out = out.persist()
        span["rows_out"] += out.count()
        return out
    if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
        return (_materialize(out[0], span),) + tuple(out[1:])
    return out


class Tracer:
    """Keeps spans in memory; ``layer_metrics`` folds them per layer."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._after: list = []  # counters read once the traced iteration ended

    # -- spans ---------------------------------------------------------------
    def _flush_udf(self) -> None:
        results = self.spark._profiler_collector._perf_profile_results  # noqa: SLF001
        if not results:
            return
        secs = sum(s.total_tt for s in results.values())
        self.spark.profile.clear(type="perf")
        if self._stack:
            self._stack[-1]["udf_s"] += secs

    @contextmanager
    def span(self, name: str):
        self._flush_udf()
        sp = {
            "name": name,
            "group": f"erperf-{len(self.spans)}",
            "child_s": 0.0,
            "udf_s": 0.0,
            "rows_out": 0,
            "extra": {},
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            self._flush_udf()
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += sp["end"] - sp["start"]
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("erperf-untraced", "untraced")

    def wrap(self, layer: str, fn, after=None, stats_kw: str | None = None):
        """``fn`` run in a ``layer`` span with its output materialized.
        ``after(out, span)`` is queued to read counters once the traced
        iteration ended; ``stats_kw`` names a dict argument the wrapper
        passes so the call reports its own ledger into the span."""

        def wrapped(*args, **kwargs):
            with self.span(layer) as sp:
                if stats_kw and kwargs.get(stats_kw) is None:
                    kwargs[stats_kw] = sp["extra"]
                out = _materialize(fn(*args, **kwargs), sp)
            if after is not None:
                self._after.append(lambda: after(out, sp))
            return out

        return wrapped

    def run_after(self) -> None:
        for f in self._after:
            f()
        self._after.clear()

    # -- folding -------------------------------------------------------------
    def _stage_rest(self) -> dict[int, dict]:
        """stage id → its REST record (all attempts summed)."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as r:
            rows = json.load(r)
        out: dict[int, dict] = {}
        for s in rows:
            d = out.setdefault(
                s["stageId"], {"status": s["status"], "bytes": 0, "records": 0}
            )
            d["bytes"] += s.get("shuffleWriteBytes", 0)
            d["records"] += s.get("shuffleWriteRecords", 0)
            if s["status"] != "SKIPPED":
                d["status"] = s["status"]
        return out

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _wait_listener(self, job_ids: list[int], stage_ids: set[int]) -> dict[int, dict]:
        """The status store is fed asynchronously: wait until it has
        every job finished and every stage recorded."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 30
        while True:
            rest = self._stage_rest()
            jobs_done = all(
                (tracker.getJobInfo(j) is not None)
                and tracker.getJobInfo(j).status != "RUNNING"
                for j in job_ids
            )
            if jobs_done and stage_ids <= rest.keys() and all(
                rest[s]["status"] not in ("ACTIVE", "PENDING") for s in stage_ids
            ):
                return rest
            if time.monotonic() > deadline:
                raise RuntimeError("Spark status store did not settle within 30 s")
            time.sleep(0.2)

    def layer_metrics(self) -> tuple[dict[str, float], float]:
        """Per-layer sums over all spans; returns
        (metrics, sum of layer self walls)."""
        tracker = self.sc.statusTracker()
        job_ids = {sp["group"]: self._jobs(sp["group"]) for sp in self.spans}
        all_jobs = [j for js in job_ids.values() for j in js]
        stages_of = {j: set(tracker.getJobInfo(j).stageIds) for j in all_jobs}
        rest = self._wait_listener(all_jobs, set().union(*stages_of.values()) if stages_of else set())
        m: dict[str, float] = {}
        for layer, extra in LAYERS.items():
            for k in BASE + extra:
                m[f"{layer}.{k}"] = 0.0
        layer_wall = 0.0
        for sp in self.spans:
            layer = sp["name"]
            if layer not in LAYERS:  # the root span: glue between layer calls
                continue
            stages = set()
            for j in job_ids[sp["group"]]:
                stages |= {s for s in stages_of[j] if rest[s]["status"] != "SKIPPED"}
            self_s = (sp["end"] - sp["start"]) - sp["child_s"]
            layer_wall += self_s
            m[f"{layer}.wall_s"] += self_s
            m[f"{layer}.jobs"] += len(job_ids[sp["group"]])
            m[f"{layer}.stages"] += len(stages)
            m[f"{layer}.shuffle_bytes"] += sum(rest[s]["bytes"] for s in stages)
            m[f"{layer}.shuffle_records"] += sum(rest[s]["records"] for s in stages)
            m[f"{layer}.rows_out"] += sp["rows_out"]
            if "udf_s" in LAYERS[layer]:
                m[f"{layer}.udf_s"] += sp["udf_s"]
            for k, v in sp["extra"].items():
                key = f"{layer}.{k}"
                if key in m:
                    m[key] += v
        m["iteration.jobs"] = float(len(all_jobs))
        return m, layer_wall


class TracedCatalog(ParquetSnapshotCatalog):
    """The engine's parquet snapshot catalog with every write and read
    in a ``catalog`` span; writes also count the bytes and rows they
    committed.  ``write_s`` includes the read an append does inside."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def write(self, name: str, df: DataFrame, mode: str = "overwrite") -> None:
        with self.tracer.span("catalog") as sp:
            t0 = time.perf_counter()
            super().write(name, df, mode)
            snap = os.path.join(self._tdir(name), f"snap-{self._load_manifest(name)['current']}")
            files = [os.path.join(snap, f) for f in os.listdir(snap)]
            sp["extra"]["bytes_written"] = sum(os.path.getsize(f) for f in files)
            sp["rows_out"] += sum(
                pq.read_metadata(f).num_rows for f in files if f.endswith(".parquet")
            )
            sp["extra"]["write_s"] = time.perf_counter() - t0

    def read(self, name: str) -> DataFrame:
        with self.tracer.span("catalog") as sp:
            t0 = time.perf_counter()
            out = super().read(name)
            sp["extra"]["read_s"] = time.perf_counter() - t0
        return out

    def file_row_counts(self, name: str) -> list[int]:
        with self.tracer.span("catalog"):
            return super().file_row_counts(name)
