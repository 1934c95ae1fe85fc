"""Lakehouse benchmark: one command for every workload.

    python3 perfbench/run.py --workload taxi_refresh --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--workload all`` runs every workload in
turn, each in its own process. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Exits 1 if any output check failed. Work files, traces
and a log line per run go under ``.perfbench/`` in the current
directory; see ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
PACKAGE = "lakehouse_platform_nyc_taxi_spark"

#: Spark settings every run uses; the client count is per workload.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

#: Per-layer metrics, each reported by every traced run (0 where the
#: workload does not exercise the layer).
PER_LAYER = {
    "session.start_s": "s",
    "warmup_s": "s",
    "op_p90_s": "s",
    "failed_op_ratio": "ratio",
    "peak_rss_mb": "MB",
    "sources.ingest.s": "s",
    "sources.ingest.rows": "count",
    "sources.ingest.bytes_written": "bytes",
    "models.staging.s": "s",
    "models.intermediate.s": "s",
    "models.marts.s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.spark_tasks": "count",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.write_amp": "ratio",
    "quality.s": "s",
    "quality.spark_jobs": "count",
    "quality.checks_failed": "count",
    "catalog.register_s": "s",
    "harness.build_ms": "ms",
    "harness.exec_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "operators.text.s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.lsh_precision": "ratio",
    "operators.similarity.ivf_build_s": "s",
    "operators.similarity.probe_ms": "ms",
    "operators.similarity.recall_at_10": "ratio",
    "host.load_1m": "load",
    "host.steal": "ratio",
    "host.probe_s": "s",
    "trace.overhead_ratio": "ratio",
}

#: Per-layer metrics that are medians over calls rather than per-op means.
_MEDIAN_OF_CALLS = {"harness.build_ms", "harness.exec_ms"}


class Bench:
    """Run state shared by the workload and the measurement loop."""

    def __init__(self, spark, work: str, seed: int, trace: bool):
        from instrument import JobCounter, Tracer

        self.spark, self.work, self.seed, self.trace = spark, work, seed, trace
        self.tracer = Tracer(trace)
        self.counter = JobCounter(spark) if trace else None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def note(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)
        with self._lock:
            self.notes.append(msg)

    def record(self, name: str, value: float) -> None:
        with self._lock:
            self.samples[name].append(float(value))

    @contextmanager
    def layer(self, name: str, traced: bool, op: int | None = None, count: bool = True, **attrs):
        """A span around one call into the program; in traced operations
        also the Spark jobs, stages and tasks the call ran."""
        if not traced:
            yield None
            return
        counting = self.counter.group() if count else nullcontext(None)
        with self.tracer.span(name, op, **attrs) as span, counting as work:
            yield span
        if work is not None:
            self.record(f"{name}.spark_jobs", work.jobs)
            self.record(f"{name}.spark_tasks", work.tasks)
            span.attrs.update(jobs=work.jobs, stages=work.stages, tasks=work.tasks)


def _start_spark(work: str):
    from lakehouse_platform_nyc_taxi_spark.session import get_spark

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp  # py4j connection files, Python temp files
    tempfile.tempdir = None
    # JVMs write /tmp/hsperfdata_<user> unless perf data is off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.sql.warehouse.dir": f"{work}/catalog",
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (it
    takes its Python worker processes with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)


def _probe(spark) -> float:
    """bench.py's fixed CPU probe, over 20 M rows instead of 200 M."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr(
        "avg(xxhash64(id) % 1000000007)", "avg(id * 1.0001)"
    ).collect()
    return time.perf_counter() - t0


def _loop(wl, b: Bench, seconds: float, clients: int) -> list[tuple[float, bool]]:
    """Closed loop: each client starts its next operation when the last
    one returns, until ``seconds`` have passed and ``wl.min_ops``
    operations have started. Returns (latency, ok) per operation."""
    results: list[tuple[float, bool]] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    counter = iter(range(1 << 30))

    def client() -> None:
        while True:
            with lock:
                i = next(counter)
            if time.perf_counter() >= deadline and i >= wl.min_ops:
                return
            t0 = time.perf_counter()
            try:
                seconds, ok = wl.op(i, b.trace)
            except Exception:
                b.note(f"operation {i} raised:\n{traceback.format_exc()}")
                seconds, ok = time.perf_counter() - t0, False
            with lock:
                results.append((seconds, ok))

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def _per_layer(b: Bench, n_ops: int) -> dict[str, float]:
    """Per-operation means of the traced samples; medians over calls for
    the per-query harness split; 0 for layers the workload never called."""
    out = {}
    s = b.samples
    for name in PER_LAYER:
        vals = s.get(name, [])
        if not vals:
            out[name] = 0.0
        elif name in _MEDIAN_OF_CALLS:
            out[name] = statistics.median(vals)
        elif PER_LAYER[name] == "ratio" or name.endswith("_per_query"):
            out[name] = statistics.fmean(vals)
        else:
            out[name] = sum(vals) / n_ops
    return out


def _source_digest() -> str:
    """Hash of the benchmark's and the package's Python sources, so runs
    of different code are never compared in the log."""
    h = hashlib.sha256()
    for top in (HERE, os.path.join(ROOT, PACKAGE)):
        for dirpath, dirs, files in os.walk(top):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def _untraced_p50(log_path: str, key: dict) -> float | None:
    """op_p50_s of the last untraced run logged with the same workload,
    seed, seconds and sources as ``key``; None if there is none."""
    found = None
    if os.path.exists(log_path):
        with open(log_path) as f:
            for line in f:
                e = json.loads(line)
                if not e["trace"] and all(e.get(k) == v for k, v in key.items()):
                    found = e["op_p50_s"]
    return found


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from instrument import cpu_times, peak_rss_mb, quantile, steal_share
    from workloads import WORKLOADS

    log_path = os.path.join(OUT, "runs.jsonl")
    key = {"workload": workload, "seed": seed, "seconds": seconds, "source": _source_digest()}
    baseline = _untraced_p50(log_path, key) if trace else None
    load_1m = os.getloadavg()[0]
    cpu_start = cpu_times()
    work = os.path.join(OUT, f"work-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    b = Bench(spark, work, seed, trace)
    wl = WORKLOADS[workload](b)
    try:
        # inputs and expected outputs: the benchmark's own work, untimed
        t0 = time.perf_counter()
        wl.prepare(f"{work}/input")
        prepare_s = time.perf_counter() - t0
        # state built through the program before the first operation
        t0 = time.perf_counter()
        wl.build()
        setup_s = session_s + time.perf_counter() - t0

        t0 = time.perf_counter()
        warm_ops, warm_failed = wl.warm()
        warmup_s = time.perf_counter() - t0
        b.note(f"setup {setup_s:.1f} s, inputs {prepare_s:.1f} s, warm-up {warmup_s:.1f} s")

        t0 = time.perf_counter()
        results = _loop(wl, b, seconds, wl.clients)
        loop_s = time.perf_counter() - t0
        b.note(f"{len(results)} operations in {loop_s:.1f} s")
        if trace and baseline is None:
            b.note("no untraced run of this seed, --seconds and code is logged: "
                   "trace.overhead_ratio reads 0")
        wl.finish()
        probe_s = _probe(spark)
        steal = steal_share(cpu_start, cpu_times())
        rss = peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        if trace:
            b.tracer.write(os.path.join(OUT, f"trace-{workload}-{seed}.json"))
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    latencies = [lat for lat, _ in results]
    op_p50_s = statistics.median(latencies)
    attempted = len(results) + warm_ops
    failed = sum(1 for _, ok in results if not ok) + warm_failed
    if trace:
        metrics = _per_layer(b, len(results))
        metrics.update(
            {
                "session.start_s": session_s,
                "warmup_s": warmup_s,
                "op_p90_s": quantile(latencies, 0.9),
                "failed_op_ratio": failed / attempted,
                "peak_rss_mb": rss,
                "host.load_1m": load_1m,
                "host.steal": steal,
                "host.probe_s": probe_s,
                "trace.overhead_ratio": op_p50_s / baseline if baseline else 0.0,
            }
        )
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": op_p50_s,
            # closed loop without think time: throughput = clients / mean latency
            "ops_per_s": wl.clients * len(results) / sum(latencies),
        }
        units = END_TO_END
    with open(log_path, "a") as f:
        entry = {
            **key,
            "trace": trace,
            "master": MASTER,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "clients": wl.clients,
            "ops": len(results),
            "op_p50_s": op_p50_s,
            "setup_s": setup_s,
            "session_s": session_s,
            "prepare_s": prepare_s,
            "peak_rss_mb": rss,
            "host.load_1m": load_1m,
            "host.steal": steal,
            "host.probe_s": probe_s,
            "notes": b.notes,
        }
        f.write(json.dumps(entry) + "\n")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    os.makedirs(OUT, exist_ok=True)
    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            argv = [sys.executable, os.path.abspath(__file__), "--workload", name,
                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(args.trace)]
            out = subprocess.run(argv, stdout=subprocess.PIPE, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            print(f"{name}: {last}", flush=True)
            rc = rc or out.returncode
        return rc
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
