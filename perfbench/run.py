"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 14 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the full report (environment,
every metric, tail percentile and sample count, input sizes), also
written under ``perfbench/.work/``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter
from contextlib import nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 2  # measured passes even when --seconds runs out first
# unmeasured passes after set-up: the first pass in a new JVM takes about
# twice as long as later ones (Python workers start, the JIT warms up)
WARMUP_PASSES = 1
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def pin_environment(work: str) -> dict:
    """Environment for the session and its workers; must run before
    pyspark is imported. Shuffle partitions follow SPARK_GRAFT_CPUS."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    driver_mb = min(1024, mem_mb // 4)  # a capped heap keeps peak memory steady
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    return {"nproc": cpus, "mem_total_mb": mem_mb, "driver_mem_mb": driver_mb,
            "python": platform.python_version()}


def session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def tail(lat: list[float]) -> tuple[float | None, float | None, int]:
    """(latency, percentile, sample count): the latency at the highest
    percentile that leaves at least TAIL_BEYOND samples beyond it; no
    latency or percentile with TAIL_BEYOND samples or fewer."""
    s, n = sorted(lat), len(lat)
    if n <= TAIL_BEYOND:
        return None, None, n
    k = n - TAIL_BEYOND
    return s[k - 1], 100.0 * k / n, n


def use_checkpoint_root(root: str) -> None:
    """Point the engine's scratch checkpoint helper at ``root`` (inside
    the checkout, fresh per pass). The engine itself puts these
    checkpoints on /dev/shm; the benchmark keeps every write inside the
    checkout, so its drains checkpoint to local disk instead."""
    from docetl_spark.streaming import events

    events.scratch_checkpoint_dir = lambda prefix="ckpt_": tempfile.mkdtemp(prefix=prefix, dir=root)


def stop_jvm(spark) -> None:
    """Stop ``spark`` and the JVM behind it and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class PassContext:
    """What a pass hands its items: the input directory, the semantic
    pipeline file and the pass's backend (fresh namespace and cache
    directory per pass)."""

    def __init__(self, data_dir: str, backend=None):
        self.data_dir = data_dir
        self.pipeline_yaml = os.path.join(data_dir, "pipeline.yaml")
        self.backend = backend


class Bench:
    """One workload in one session: set-up, then passes over its items."""

    def __init__(self, wl, data_dir: str, work: str, seconds: float, tracer):
        self.wl, self.data_dir, self.work = wl, data_dir, work
        self.seconds, self.tracer = seconds, tracer
        self.spark = None
        self.rss = None
        self.cursors = ()  # job and SQL cursors, made at the first traced pass
        self.passes = self.attempted = self.failed = 0

    def setup(self) -> tuple[float, float]:
        """One cold set-up, from get_spark (which starts the JVM) to the
        first completed job. Returns (set-up, get_spark) seconds."""
        from docetl_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench", extra_conf=session_conf(self.work))
        t1 = time.perf_counter()
        with self.tracer.span("sources"):
            self.wl.first_job(self.spark, self.data_dir)
        return time.perf_counter() - t0, t1 - t0

    def _backend(self):
        """(ResilientBackend, BenchBackend, BackendMetrics) for one pass."""
        from docetl_spark import BackendMetrics, ResilientBackend

        from perfbench.backend import BenchBackend
        from perfbench.gen import ALL_SURFACES

        sc = self.spark.sparkContext
        inner, metrics = BenchBackend(sc, ALL_SURFACES), BackendMetrics(sc)
        cache = os.path.join(self.work, "cache", f"pass{self.passes}")
        return (ResilientBackend(inner, namespace=f"pass{self.passes}", cache_dir=cache,
                                 metrics=metrics), inner, metrics)

    def _item(self, item, ctx, traced: bool, counters: Counter) -> float:
        """Build and collect one item, then check it outside the timed
        region. Returns its latency; a failed item is charged at least
        ``seconds``, so a failure never shortens a pass."""
        from scripts.check_oracle import table_hash

        from perfbench.probes import StreamProbe

        span = self.tracer.span
        tracker = None
        if traced and self.wl.uses_backend:
            from docetl_spark.progress import ProgressTracker, set_active_tracker

            tracker = ProgressTracker()
            set_active_tracker(tracker)
        rows = df = None
        t0 = t1 = time.perf_counter()
        with span(f"item:{item.name}"), (StreamProbe(self.tracer) if traced else nullcontext()) as probe:
            try:
                with span("frame.build"):
                    df = item.build(self.spark, ctx)
                t1 = time.perf_counter()
                with span("exec.action"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failing item is a result, not a crash
                print(f"item {item.name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            t2 = time.perf_counter()
            if tracker is not None:
                set_active_tracker(None)
                to_perf = time.perf_counter() - time.time()  # tracker stamps wall-clock time
                for op in tracker.snapshot().ops:
                    if op.end_t is not None:
                        self.tracer.add(f"op:{op.name}", op.start_t + to_perf, op.end_t + to_perf,
                                        parent="frame.build")
                        counters[f"op.{op.name}.wall_s"] += op.end_t - op.start_t
                        counters[f"op.{op.name}.rows_out"] += op.out_count or 0
                        counters["semantic_ops_s"] += op.end_t - op.start_t
            with span("verify"):
                ok = False
                if rows is not None:
                    got = (sorted(df.columns), len(rows), table_hash([tuple(r) for r in rows], df.columns))
                    ok = got == item.expect
                    if not ok:
                        print(f"item {item.name}: wrong output {got[:2]} != {item.expect[:2]}",
                              file=sys.stderr)
            if probe is not None:
                counters.update(probe.take())
        counters["frame.build_s"] += t1 - t0
        counters["exec.action_s"] += t2 - t1
        counters["verify_s"] += time.perf_counter() - t2
        self.attempted += 1
        self.failed += not ok
        return t2 - t0 if ok else max(t2 - t0, self.seconds)

    def run_pass(self, traced: bool) -> dict:
        """Run every item once; returns wall time, latencies, counters
        and the peak RSS of the pass."""
        from perfbench.probes import JobCursor, SqlCursor

        self.passes += 1
        os.makedirs(os.path.join(self.work, "ckpt"), exist_ok=True)
        use_checkpoint_root(tempfile.mkdtemp(prefix=f"pass{self.passes}-", dir=os.path.join(self.work, "ckpt")))
        backend, inner, metrics = self._backend() if self.wl.uses_backend else (None, None, None)
        ctx = PassContext(self.data_dir, backend)
        counters, lat = Counter(), []
        self.tracer.enabled = traced
        if traced and not self.cursors:
            self.cursors = (JobCursor(self.spark.sparkContext), SqlCursor(self.spark))
        jobs = self.cursors if traced else ()
        for cursor in jobs:
            cursor.skip()
        self.rss.reset()
        with self.tracer.span("pass"):
            for item in self.wl.items:
                self.spark.catalog.clearCache()
                lat.append(self._item(item, ctx, traced, counters))
                with self.tracer.span("probe.counters"):
                    for cursor in jobs:
                        counters.update(cursor.take())
        self.tracer.enabled = False
        if metrics is not None:
            snap = metrics.snapshot()
            for k, v in snap.items():
                counters[f"backend.{k}"] += v
            counts = inner.counts()
            counters["backend.busy_s"] += inner.busy_s.value
            for op, kind in (("resolve", "same"), ("equijoin", "match")):
                counters[f"{op}.compare_calls"] += counts[kind][0]
                counters[f"{op}.matches"] += counts[kind][1]
        return {"wall": sum(lat), "lat": lat, "counters": counters, "rss_mb": self.rss.reset()}

    def run_for(self, seconds: float) -> list[dict]:
        """Untraced passes until ``seconds`` have passed, at least MIN_PASSES."""
        out, t_end = [], time.perf_counter() + seconds
        while len(out) < MIN_PASSES or time.perf_counter() < t_end:
            out.append(self.run_pass(traced=False))
        return out


def median_counters(passes: list[dict]) -> dict:
    keys = set().union(*(p["counters"] for p in passes))
    return {k: statistics.median(p["counters"].get(k, 0) for p in passes) for k in keys}


def model_counts(c: dict) -> dict:
    return {"model_calls": c.get("backend.calls", 0),
            "model_tokens": c.get("backend.prompt_tokens", 0) + c.get("backend.completion_tokens", 0)}


def end_to_end(passes: list[dict], setup: float, failed_frac: float) -> dict:
    """Every end-to-end metric as ``{name: (value, unit)}``; the tail's
    percentile and sample count go in ``item_tail_pct`` and
    ``item_tail_samples``."""
    lat = [x for p in passes for x in p["lat"]]
    value, pct, n = tail(lat)
    c = median_counters(passes)
    return {
        "setup_s": (setup, "s"),
        "wall_s": (statistics.median(p["wall"] for p in passes), "s"),
        "item_p50_s": (statistics.median(lat), "s"),
        "item_tail_s": (value, "s"),
        "item_tail_pct": (pct, "%"),
        "item_tail_samples": (n, "count"),
        "failed_frac": (failed_frac, "ratio"),
        **{k: (v, "count") for k, v in model_counts(c).items()},
        "peak_rss_mb": (statistics.median(p["rss_mb"] for p in passes), "MiB"),
    }


def per_layer(traced: list[dict], untraced: list[dict], start: float) -> dict:
    c = median_counters(traced)
    out = {k: v for k, v in c.items() if not k.endswith(".matches") and k != "semantic_ops_s"}
    calls, hits = c.get("backend.calls", 0), c.get("backend.cache_hits", 0)
    out["backend.hit_ratio"] = hits / (hits + calls) if hits + calls else 0.0
    out["backend.overlap"] = c.get("backend.busy_s", 0) / c["semantic_ops_s"] if c.get("semantic_ops_s") else 0.0
    for op in ("resolve", "equijoin"):
        n = c.get(f"{op}.compare_calls", 0)
        out[f"{op}.match_ratio"] = c.get(f"{op}.matches", 0) / n if n else 0.0
    out["session.start_s"] = start
    out["trace.overhead"] = (statistics.median(p["wall"] for p in traced)
                             / statistics.median(p["wall"] for p in untraced))
    out.update(model_counts(c))
    return out


def declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(HERE, ".work")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    bench = None
    try:
        import pyspark

        from perfbench import workloads
        from perfbench.probes import RssSampler, Tracer

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        env["pyspark"] = pyspark.__version__
        wl = workloads.WORKLOADS[args.workload]()
        data_dir = os.path.join(work, "data")
        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        bench = Bench(wl, data_dir, work, args.seconds, tracer)
        phases = {"start": time.perf_counter() - T_START}
        inputs = workloads.prepare(wl, args.seed, data_dir)
        phases["prepare"] = time.perf_counter() - T_START
        tracer.enabled = bool(args.trace)
        setup, start = bench.setup()
        phases["setup"] = time.perf_counter() - T_START
        bench.rss = RssSampler(bench.spark._jvm.java.lang.ProcessHandle.current().pid())
        bench.rss.start()
        for _ in range(WARMUP_PASSES):
            bench.run_pass(traced=False)
        bench.attempted = bench.failed = 0
        phases["warm_up"] = time.perf_counter() - T_START
        if args.trace:  # alternate, so warming and drift hit both sides alike
            untraced, traced, t_end = [], [], time.perf_counter() + args.seconds
            while not traced or time.perf_counter() < t_end:
                untraced.append(bench.run_pass(traced=False))
                traced.append(bench.run_pass(traced=True))
        else:
            untraced = bench.run_for(args.seconds)
        phases["measure"] = time.perf_counter() - T_START
        bench.rss.stop()
        e2e = end_to_end(untraced, setup, bench.failed / bench.attempted)
        metrics = {k: v for k, (v, _) in e2e.items()}
        layers = per_layer(traced, untraced, start) if args.trace else {}
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}")
        if args.trace:
            tracer.dump(stem + "-spans.json")
        report = {"workload": args.workload, "seed": args.seed, "env": env, "inputs": inputs,
                  "phases_s": phases,
                  "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
                  "item_s": {item.name: statistics.median(p["lat"][i] for p in untraced)
                             for i, item in enumerate(wl.items)},
                  "pass_walls_s": [p["wall"] for p in untraced],
                  "pass_rss_mb": [p["rss_mb"] for p in untraced],
                  "per_layer": layers, "self_s": tracer.self_times()}
        with open(stem + "-report.json", "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    finally:
        if bench is not None and bench.rss is not None:
            bench.rss.stop()
        if bench is not None and bench.spark is not None:
            stop_jvm(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    chosen = declared("per_layer" if args.trace else "end_to_end")
    values = layers if args.trace else metrics
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
