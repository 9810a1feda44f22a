"""The benchmark's workloads: inputs, the timed iteration, output checks.

Each workload object is built once per run.  ``iteration(tracer)`` is
the timed unit: from reading the input parquet to the materialized
result, run through the engine's public functions.  ``check(result)``
runs after the timer stops and returns the list of failed checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import corpus as C
from entity_resolution_engine_spark.operators import dedup
from entity_resolution_engine_spark.operators import metrics as M
from entity_resolution_engine_spark.plans import pipeline as P
from entity_resolution_engine_spark.sources.catalog import ParquetSnapshotCatalog
from spans import TracedCatalog


def table_hash(table: pa.Table, sort_keys: list[str]) -> str:
    t = table.sort_by([(k, "ascending") for k in sort_keys])
    return C.content_hash(t)


def pair_f1(tp: float, pred: float, true: float) -> float:
    p = tp / pred if pred else 1.0
    r = tp / true if true else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


def cluster_f1(pred: dict[str, str], truth: dict[str, int]) -> float:
    """Pairwise F1 of co-assignment: TP = sum C(n_uv, 2) over
    (true, predicted) cells, against the same sums per side."""
    c2 = lambda n: n * (n - 1) / 2  # noqa: E731
    cells = Counter((truth[u], c) for u, c in pred.items())
    tp = sum(c2(n) for n in cells.values())
    pp = sum(c2(n) for n in Counter(pred.values()).values())
    tt = sum(c2(n) for n in Counter(truth.values()).values())
    return pair_f1(tp, pp, tt)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, scale: float):
        self.spark = None  # set by register(), after the corpus is written
        self.work = work
        self.seed = seed
        self.scale = scale
        self.ref: dict | None = None  # first checked result of the run

    def corpus_path(self, n: int, *params) -> str:
        """Cache path of this run's corpus, keyed by seed, size, the
        generator's other parameters and its source."""
        d = os.path.join(self.work, "corpus")
        os.makedirs(d, exist_ok=True)
        with open(C.__file__, "rb") as f:
            key = hashlib.sha256(f.read() + repr(params).encode())
        return os.path.join(d, f"{self.name}-s{self.seed}-n{n}-{key.hexdigest()[:12]}")

    def count_input(self) -> None:
        n = self.spark.read.parquet(self.corpus.path).count()
        if n != self.corpus.n_rows:
            raise RuntimeError(f"{self.corpus.path}: Spark reads {n} rows, pyarrow wrote {self.corpus.n_rows}")

    def compare_ref(self, got: dict, fails: list[str]) -> None:
        """Result hash and F1 must equal the run's first result."""
        if self.ref is None:
            self.ref = got
            return
        for k in ("hash", "pairwise_f1"):
            if got[k] != self.ref[k]:
                fails.append(f"{k} {got[k]} differs from the first iteration's {self.ref[k]}")


class PipelineResume(Workload):
    """``Pipeline.run`` over a parquet snapshot catalog: a full run, then
    a resume with the run state cut back to {normalize, block, score}."""

    name = "pipeline_resume"
    PAGES = 500
    RUN_ID = "bench"
    APPENDED = (
        "run_metrics",
        "anomaly_events",
        "anomaly_triage_reports",
        "quality_gate_results",
        "quality_reports",
    )
    AFTER_SCORE = ("routed", "reviews", "clusters", "entities", "source_lineage")

    def prepare(self) -> C.Corpus:
        n = int(self.PAGES * self.scale)
        base = self.corpus_path(n)
        path, lab_path = base + ".parquet", base + ".labels.parquet"
        if not (os.path.exists(path) and os.path.exists(lab_path)):
            pages, labels = C.crawl_pages(n, self.seed)
            C.write_once(lab_path, labels)
            C.write_once(path, pages)
        pages = pq.read_table(path)
        labels = pq.read_table(lab_path)
        truth = dict(zip(labels.column("url").to_pylist(), labels.column("cluster").to_pylist()))
        self.corpus = C.Corpus(path, pages.num_rows, os.path.getsize(path), C.content_hash(pages), truth)
        return self.corpus

    def register(self, spark) -> None:
        """Input registration: the page count, and the fixed run history
        every iteration's catalog starts from."""
        self.spark = spark
        self.count_input()
        self.template = os.path.join(self.work, "catalog-template")
        shutil.rmtree(self.template, ignore_errors=True)
        cat = ParquetSnapshotCatalog(self.spark, self.template)
        cat.write("run_metrics", self.spark.createDataFrame(self._history(), M.RUN_METRICS_SCHEMA))
        self.template_snaps = {t: cat.snapshots(t)[-1]["id"] for t in self.APPENDED if cat.exists(t)}
        self.root = os.path.join(self.work, "catalog")

    def _history(self) -> list[tuple]:
        """Router counters of six earlier runs, seeded and plausible, so
        the anomaly baseline has history to compare against."""
        rng = np.random.default_rng([self.seed, 3])
        rows = []
        for r in range(6):
            total = float(int(self.corpus.n_rows * rng.uniform(0.5, 0.7)))
            gray = float(int(total * rng.uniform(0.02, 0.05)))
            rej = float(int(total * rng.uniform(0.05, 0.1)))
            for metric, v in (
                ("total_pairs", total),
                ("auto_approved", total - gray - rej),
                ("auto_rejected", rej),
                ("gray_zone", gray),
                ("mean_score", float(rng.uniform(0.8, 0.9))),
            ):
                rows.append((f"history{r}", "router", metric, v, None, r + 1))
            rows.append((f"history{r}", "normalize", "row_count", float(self.corpus.n_rows), None, r + 1))
        return rows

    def _catalog(self, tracer):
        if tracer is None:
            return ParquetSnapshotCatalog(self.spark, self.root)
        return TracedCatalog(self.spark, self.root, tracer)

    def _run(self, tracer):
        """One ``Pipeline.run`` (full or resumed, as the run state says),
        timed from reading the input parquet to the committed snapshots."""
        t0 = time.perf_counter()
        with tracer.span("iteration") if tracer else nullcontext():
            pages = self.spark.read.parquet(self.corpus.path)
            pipe = P.Pipeline(self.spark, self.root, catalog=self._catalog(tracer))
            res = pipe.run(pages, self.RUN_ID)
        return res, time.perf_counter() - t0

    def _cut_back(self) -> None:
        """Leave the catalog as a run that failed right after ``score``
        would: run state {normalize, block, score}, the later stage
        tables gone, appended tables back at their template snapshot."""
        cat = ParquetSnapshotCatalog(self.spark, self.root)
        for t in self.AFTER_SCORE:
            cat.drop(self._table(t))
        for t in self.APPENDED:
            if t in self.template_snaps:
                cat.rollback(t, self.template_snaps[t])
            else:
                cat.drop(t)
        state = P.RunState(self.root, self.RUN_ID)
        os.remove(state.path)
        for s in ("normalize", "block", "score"):
            state.mark(s)

    def _table(self, name: str) -> str:
        return f"run_{self.RUN_ID}_{name}"  # plans.pipeline's run-scoped name

    def _outputs(self) -> dict:
        """The committed clusters and entities snapshots, read with
        pyarrow from the catalog's documented layout
        (``<table>/manifest.json`` naming the current ``snap-<id>``)
        rather than by more Spark jobs."""
        out = {}
        for name, cols in (("clusters", None), ("entities", ["cluster_id", "member_count"])):
            tdir = os.path.join(self.root, self._table(name))
            with open(os.path.join(tdir, "manifest.json")) as f:
                snap = json.load(f)["current"]
            out[name] = pq.read_table(os.path.join(tdir, f"snap-{snap}"), columns=cols)
        return out

    def iteration(self, tracer=None) -> tuple[dict, dict]:
        """A full run on a fresh copy of the template catalog, then a
        resume after ``score``.  Catalog copies, cut-back and output reads
        are not timed."""
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.template, self.root)
        with self._traced_pipeline(tracer):
            _, full_s = self._run(tracer)
            catalog_bytes = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.root) for f in fs
            )
            full = self._outputs()
            self._cut_back()
            res, resume_s = self._run(tracer)
        times = {
            "resolve_s": full_s + resume_s,
            "full_s": full_s,
            "resume_s": resume_s,
            "catalog_bytes_per_input_byte": catalog_bytes / self.corpus.input_bytes,
        }
        result = {
            "full": full,
            "resumed": self._outputs(),
            "resume_stages": (res.stages_skipped, res.stages_run),
        }
        return times, result

    @contextmanager
    def _traced_pipeline(self, tracer):
        """Route ``plans.pipeline``'s calls into the operator modules
        through ``tracer`` spans, restoring the names afterwards."""
        if tracer is None:
            yield
            return
        decisions = lambda out, sp: sp["extra"].update(  # noqa: E731
            {r["decision"]: r["n"] for r in out.groupBy("decision").agg(F.count("*").alias("n")).collect()}
        )
        split = lambda out, sp: sp["extra"].update(  # noqa: E731
            candidates=sp["rows_out"], blocks_split=out[1].count()
        )
        patches = [
            (P, "normalize_pages", "normalize_stage", {}),
            (P, "candidate_pairs", "blocking", {"after": split}),
            (P, "score_pairs", "scoring", {}),
            (P, "route_pairs", "router", {"after": decisions}),
            (P, "review_items", "router", {}),
            (P, "router_metrics", "router", {}),
            (P, "connected_components", "cluster", {"stats_kw": "stats_out"}),
            (P, "merge_entities", "merge", {}),
            (P, "source_lineage", "merge", {}),
        ] + [
            (M, name, "metrics", {})
            for name in (
                "stage_metrics_rows",
                "derive_run_rates",
                "detect_anomalies",
                "triage_report_rows",
                "evaluate_quality_gates",
                "build_quality_report_rows",
            )
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _, _ in patches]
        try:
            for mod, name, layer, kw in patches:
                setattr(mod, name, tracer.wrap(layer, getattr(mod, name), **kw))
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def check(self, result: dict) -> tuple[list[str], dict]:
        """Checks on one full run + resume.  ``finished_seq`` (wall-clock
        derived) is in neither checked table."""
        fails: list[str] = []
        full, resumed = result["full"], result["resumed"]
        clusters = full["clusters"]
        urls = clusters.column("url").to_pylist()
        cids = clusters.column("cluster_id").to_pylist()
        if len(urls) != len(set(urls)) or set(urls) != set(self.corpus.labels):
            fails.append("clusters do not assign every input url exactly once")
        size = Counter(cids)
        ent = full["entities"]
        got = dict(zip(ent.column("cluster_id").to_pylist(), ent.column("member_count").to_pylist()))
        if got != dict(size):
            fails.append("entities.member_count differs from the cluster sizes")
        h = table_hash(clusters, ["url"]) + table_hash(ent, ["cluster_id"])
        h2 = table_hash(resumed["clusters"], ["url"]) + table_hash(resumed["entities"], ["cluster_id"])
        if h2 != h:
            fails.append("resumed clusters/entities snapshots differ from the full run's")
        if result["resume_stages"] != (["normalize", "block", "score"], ["route", "cluster", "merge", "observe"]):
            fails.append(f"resume ran/skipped the wrong stages: {result['resume_stages']}")
        f1 = cluster_f1(dict(zip(urls, cids)), self.corpus.labels) if not fails else 0.0
        got = {"hash": hashlib.sha256(h.encode()).hexdigest(), "pairwise_f1": f1}
        self.compare_ref(got, fails)
        return fails, got


class DocDedup(Workload):
    """``minhash_verified_near_duplicates`` and ``ngram_jaccard_pairs``
    over boilerplate families whose LSH buckets overflow."""

    name = "doc_dedup"
    DOCS = 2000
    FAMILY = 20
    MAX_BUCKET = 16  # below the family size, so the hot-bucket splitter runs
    OPS = {"minhash": (2, 0.8), "ngram": (3, 0.4)}  # the operators' default k and tau
    CALLS = {"minhash": dedup.minhash_verified_near_duplicates, "ngram": dedup.ngram_jaccard_pairs}

    def prepare(self) -> C.Corpus:
        n = int(self.DOCS * self.scale)
        base = self.corpus_path(n, self.FAMILY, self.OPS)
        path, truth_path = base + ".parquet", base + ".truth.parquet"
        if not (os.path.exists(path) and os.path.exists(truth_path)):
            docs, truth = C.documents(n, self.seed, self.FAMILY, self.OPS)
            rows = [(op, a, b) for op, ps in truth.items() for a, b in sorted(ps)]
            C.write_once(truth_path, pa.table({
                "op": pa.array([r[0] for r in rows], pa.string()),
                "id_a": pa.array([r[1] for r in rows], pa.int64()),
                "id_b": pa.array([r[2] for r in rows], pa.int64()),
            }))
            C.write_once(path, docs)
        docs = pq.read_table(path)
        t = pq.read_table(truth_path).to_pydict()
        truth = {op: set() for op in self.OPS}
        for op, a, b in zip(t["op"], t["id_a"], t["id_b"]):
            truth[op].add((a, b))
        self.corpus = C.Corpus(path, docs.num_rows, os.path.getsize(path), C.content_hash(docs), truth)
        return self.corpus

    def register(self, spark) -> None:
        self.spark = spark
        self.count_input()

    def iteration(self, tracer=None) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        out = {}
        with tracer.span("iteration") if tracer else nullcontext():
            docs = self.spark.read.parquet(self.corpus.path)
            for op, fn in self.CALLS.items():
                if tracer is not None:
                    fn = tracer.wrap(f"dedup.{op}", fn)
                out[op] = fn(docs, max_bucket_size=self.MAX_BUCKET).toArrow()
        return {"resolve_s": time.perf_counter() - t0}, out

    def check(self, result: dict) -> tuple[list[str], dict]:
        """Pairs ordered and unique, every pair a planted near-duplicate
        (both operators verify exact Jaccard, so precision is 1), and the
        F1 over both operators' pairs together."""
        fails: list[str] = []
        tp = pred = true = 0
        hashes = []
        for op, table in result.items():
            pairs = list(zip(table.column("id_a").to_pylist(), table.column("id_b").to_pylist()))
            if any(a >= b for a, b in pairs):
                fails.append(f"{op}: a pair is not ordered id_a < id_b")
            if len(pairs) != len(set(pairs)):
                fails.append(f"{op}: duplicate pairs")
            found = set(pairs)
            extra = found - self.corpus.labels[op]
            if extra:
                fails.append(f"{op}: {len(extra)} pairs are not planted near-duplicates")
            tp += len(found & self.corpus.labels[op])
            pred += len(found)
            true += len(self.corpus.labels[op])
            hashes.append(table_hash(table.select(["id_a", "id_b"]), ["id_a", "id_b"]))
        got = {
            "hash": hashlib.sha256("".join(hashes).encode()).hexdigest(),
            "pairwise_f1": pair_f1(tp, pred, true) if not fails else 0.0,
        }
        self.compare_ref(got, fails)
        return fails, got


WORKLOADS = {w.name: w for w in (PipelineResume, DocDedup)}
