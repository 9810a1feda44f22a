"""The benchmark's own tests.

    python3 -m pytest erperf/test_erperf.py -q            # checks only, seconds
    ERPERF_SLOW=1 python3 -m pytest erperf/test_erperf.py -q   # + two Spark runs

The fast tests feed each workload's checks one correct and one corrupted
result and expect the corrupted one to count as a failed iteration.  The
slow ones run the benchmark itself.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus as C  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

slow = pytest.mark.skipif(not os.environ.get("ERPERF_SLOW"), reason="set ERPERF_SLOW=1")


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


def _stub(cls, result, truth):
    """A workload whose iteration returns ``result`` without Spark."""
    wl = cls("unused", seed=0, scale=1.0)
    wl.spark = _Spark()
    wl.corpus = C.Corpus("unused", 0, 1, "", truth)
    wl.iteration = lambda tracer=None: ({"resolve_s": 1.0}, result)
    return wl


def _pipeline_result(assign: dict[str, str]):
    sizes: dict[str, int] = {}
    for c in assign.values():
        sizes[c] = sizes.get(c, 0) + 1
    out = {
        "clusters": pa.table({"url": list(assign), "cluster_id": list(assign.values())}),
        "entities": pa.table({"cluster_id": list(sizes), "member_count": list(sizes.values())}),
    }
    return {
        "full": out,
        "resumed": dict(out),
        "resume_stages": (["normalize", "block", "score"], ["route", "cluster", "merge", "observe"]),
    }


def _pairs(pairs):
    return pa.table({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs], "jaccard": [1.0] * len(pairs)})


TRUTH_PAGES = {"u1": 1, "u2": 1, "u3": 2}
GOOD_ASSIGN = {"u1": "u1", "u2": "u1", "u3": "u3"}
TRUTH_PAIRS = {"minhash": {(1, 2), (3, 4)}, "ngram": {(1, 2)}}


def _corrupt_pipeline():
    bad = []
    r = _pipeline_result(GOOD_ASSIGN)  # a url missing from the clusters
    r["full"] = dict(r["full"], clusters=r["full"]["clusters"].slice(0, 2))
    bad.append(r)
    r = _pipeline_result(GOOD_ASSIGN)  # member_count off by one
    r["full"] = dict(r["full"], entities=pa.table({"cluster_id": ["u1", "u3"], "member_count": [3, 1]}))
    bad.append(r)
    r = _pipeline_result(GOOD_ASSIGN)  # the resume assigned differently
    r["resumed"] = _pipeline_result({"u1": "u1", "u2": "u2", "u3": "u3"})["full"]
    bad.append(r)
    return bad


def _corrupt_dedup():
    good = {"minhash": _pairs(sorted(TRUTH_PAIRS["minhash"])), "ngram": _pairs([(1, 2)])}
    return [
        dict(good, minhash=_pairs([(2, 1), (3, 4)])),  # not ordered
        dict(good, ngram=_pairs([(1, 2), (1, 2)])),  # not unique
        dict(good, ngram=_pairs([(1, 2), (5, 6)])),  # not a planted pair
    ]


CASES = [
    (W.PipelineResume, TRUTH_PAGES, _pipeline_result(GOOD_ASSIGN), _corrupt_pipeline()),
    (
        W.DocDedup,
        TRUTH_PAIRS,
        {"minhash": _pairs(sorted(TRUTH_PAIRS["minhash"])), "ngram": _pairs([(1, 2)])},
        _corrupt_dedup(),
    ),
]


@pytest.mark.parametrize("cls,truth,good,bad", CASES, ids=[c[0].name for c in CASES])
def test_corrupted_result_counts_as_failed(cls, truth, good, bad):
    ok = run.measure(_stub(cls, good, truth), seconds=0, min_iterations=1)
    assert (ok.attempted, ok.failed, ok.failures) == (1, 0, [])
    assert ok.samples["pairwise_f1"] == [1.0]
    for result in bad:
        loop = run.measure(_stub(cls, result, truth), seconds=0, min_iterations=1)
        assert (loop.attempted, loop.failed) == (1, 1), loop.failures
        assert loop.samples == {}


@pytest.mark.parametrize("cls,truth,good,bad", CASES, ids=[c[0].name for c in CASES])
def test_result_must_match_the_first_iteration(cls, truth, good, bad):
    wl = _stub(cls, good, truth)
    assert run.measure(wl, seconds=0, min_iterations=1).failed == 0
    wl.ref = dict(wl.ref, hash="0" * 64)
    assert run.measure(wl, seconds=0, min_iterations=1).failed == 1


def test_engine_exception_counts_as_failed():
    wl = _stub(W.DocDedup, {}, TRUTH_PAIRS)

    def boom(tracer=None):
        raise RuntimeError("engine failure")

    wl.iteration = boom
    loop = run.measure(wl, seconds=0, min_iterations=2)
    assert (loop.attempted, loop.failed) == (2, 2)
    assert "engine failure" in loop.failures[0]


def test_corpora_repeat_per_seed():
    a, la = C.crawl_pages(200, seed=5)
    b, lb = C.crawl_pages(200, seed=5)
    c, _ = C.crawl_pages(200, seed=6)
    assert C.content_hash(a) == C.content_hash(b) != C.content_hash(c)
    assert la.equals(lb) and a.num_rows == 200
    d1, t1 = C.documents(300, 5, 20, W.DocDedup.OPS)
    d2, t2 = C.documents(300, 5, 20, W.DocDedup.OPS)
    assert C.content_hash(d1) == C.content_hash(d2) and t1 == t2
    assert t1["minhash"] and t1["ngram"]


def _run(args, cwd):
    p = subprocess.run(
        [sys.executable, "erperf/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    return p


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "erperf", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "doc_dedup", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0 and p.stdout == ""
    assert "cannot import the engine" in p.stderr


@slow
def test_peak_rss_rises_with_doubled_input():
    peaks = []
    for scale in ("1", "2"):
        p = _run(["--workload", "doc_dedup", "--seed", "3", "--seconds", "1", "--trace", "0", "--scale", scale], ROOT)
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["correct"], p.stdout
        peaks.append(out["metrics"]["peak_rss_mb"]["value"])
    assert peaks[1] > peaks[0], peaks
