"""Entity-resolution benchmark: one workload per run, closed loop.

    python3 erperf/run.py --workload pipeline_resume --seed 1 --seconds 1 --trace 0

One client runs timed iterations back to back until ``--seconds`` have
passed (at least one).  Each iteration's outputs are checked after its
timer stops, and from the second iteration on also against the first.
An iteration of either workload outlasts the one second BENCHMARK.json
asks for, so each run times one iteration: the first run of the
engine's plans in a fresh process, as a batch job meets them.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` two untraced iterations run, then a traced one, and
the last line carries the per-layer metrics instead.  The line before
it is the run record: samples per metric, corpus hash, host facts.  Everything the run writes goes under ``.erperf_work/`` beside
this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erperf_work")
# local[2]: on a 4-core host it resolved as fast as local[4], and it
# leaves cores for JVM GC and JIT, the Spark driver and the memory sampler
MASTER_CPUS = "2"
DRIVER_MEM = "2g"


def fail(msg: str) -> None:
    print(f"erperf: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_env() -> None:
    """Workers find the engine through PYTHONPATH, whatever the launch
    directory; temp files, Spark's local dirs and the session sizing
    stay inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = MASTER_CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")


def start_spark(trace: bool):
    from entity_resolution_engine_spark.session import get_spark

    conf = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark(app_name="erperf", extra_conf=conf)
    # fail loudly here, not inside the first UDF, if workers cannot import the engine
    name = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("entity_resolution_engine_spark").__name__)
        .collect()
    )
    if name != ["entity_resolution_engine_spark"]:
        raise RuntimeError(f"Python workers cannot import the engine: {name}")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM
    and every Python worker it started have ended."""
    from pyspark import SparkContext

    from host import tree_pids

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF from its parent
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {tree_pids(os.getpid())[1:]}")
        time.sleep(0.1)


def one_iteration(wl, tracer=None) -> tuple[dict | None, list[str]]:
    try:
        times, result = wl.iteration(tracer)
        fails, got = wl.check(result)
    except Exception:  # an engine failure counts the iteration as failed
        return None, [traceback.format_exc(limit=4)]
    finally:
        wl.spark.catalog.clearCache()
    times["pairwise_f1"] = got["pairwise_f1"]
    return times, fails


class Loop:
    """Closed-loop tallies: attempted and failed iterations, the failed
    checks, and the samples of the iterations that passed."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.attempted = self.failed = 0

    def add(self, times: dict | None, fails: list[str], keep: bool = True) -> None:
        self.attempted += 1
        self.failed += bool(fails)
        self.failures += fails
        if keep and not fails:
            for k, v in times.items():
                self.samples.setdefault(k, []).append(v)


def measure(wl, seconds: float, min_iterations: int) -> Loop:
    """Iterations back to back until ``seconds`` have passed and at
    least ``min_iterations`` ran."""
    loop = Loop()
    t0 = time.perf_counter()
    while loop.attempted < min_iterations or time.perf_counter() - t0 < seconds:
        loop.add(*one_iteration(wl))
    return loop


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests)")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import entity_resolution_engine_spark  # noqa: F401
    except ImportError as e:
        fail(f"cannot import the engine from {ROOT}: {e}")
    spark_env()
    from host import HostRecord, PssSampler
    from spans import PLAN, Tracer, metric_names, metric_unit
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    host = HostRecord()
    wl = WORKLOADS[args.workload](WORK, args.seed, args.scale)
    t0 = time.perf_counter()
    corpus = wl.prepare()
    gen_s = time.perf_counter() - t0

    layer: dict[str, float] = {}
    with PssSampler() as pss:
        t0 = time.perf_counter()
        spark = start_spark(bool(args.trace))
        try:
            wl.register(spark)
            setup_s = time.perf_counter() - t0
            # a traced run times two untraced iterations first, so the
            # traced one is compared with an equally warm untraced one
            loop = measure(wl, args.seconds, 1 + args.trace)
            if args.trace:
                tracer = Tracer(spark)
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                times, fails = one_iteration(wl, tracer)
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
                loop.add(times, fails, keep=False)
                if not fails and loop.samples:
                    tracer.run_after()
                    layer, layer_wall = tracer.layer_metrics()
                    for k, key in PLAN.items():
                        layer[k] = times.get(key, 0.0)
                    layer["trace.overhead_s"] = times["resolve_s"] - loop.samples["resolve_s"][-1]
                    layer["trace.layer_sum_frac"] = layer_wall / times["resolve_s"]
        finally:
            stop_spark(spark)
    samples = loop.samples
    ok = samples.get("resolve_s", [])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "corpus_rows": corpus.n_rows,
        "corpus_sha256": corpus.sha256,
        "input_bytes": corpus.input_bytes,
        "gen_s": gen_s,
        "setup_s": setup_s,
        "peak_rss_mb": pss.peak_mb,
        "samples": samples,
        "sample_counts": {
            **{k: len(v) for k, v in samples.items()},
            "setup_s": 1,
            "peak_rss_mb": 1,
        },
        "failures": loop.failures,
        "host": host.finish(),
    }
    print(json.dumps({"record": record}))
    if args.trace:
        names = metric_names()
        metrics = {n: {"value": layer.get(n, 0.0), "unit": metric_unit(n)} for n in names} if layer else {}
    elif ok:
        metrics = {
            "resolve_s": {"value": statistics.median(ok), "unit": "s"},
            "pairwise_f1": {"value": statistics.median(samples["pairwise_f1"]), "unit": "ratio"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": pss.peak_mb, "unit": "MB"},
        }
    else:
        metrics = {}
    print(
        json.dumps(
            {
                "correct": not loop.failures and bool(metrics),
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
