"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout of this repository. With ``--trace 0``
the result carries the end-to-end metrics; with ``--trace 1`` the package's
layer functions are wrapped, Spark's event log is on, and the result
carries the per-layer metrics (spans go to ``.perfbench_out/``). All
scratch files live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "distributedvectordatabase_spark"

sys.path.insert(0, ROOT)
from perfbench import memory  # noqa: E402

# per workload: request kinds behind request_p50_ms, and behind
# cpu_ms_per_item and throughput_per_s (process-tree CPU per item answered,
# and items answered per second of their time)
PRIMARY = {"search": ("lsh", "exact", "ivf"), "curate": ("curate",)}
THROUGHPUT = {"search": ("batch",), "curate": ("curate",)}
INGEST_KINDS = ("append", "fresh", "compact", "delete", "ingest_stats", "reopen")
SPARK_OPS = {
    "search_single": ("lsh", "exact", "ivf"),
    "fresh_search": ("fresh",),
    "search_batch": ("batch",),
    "stats": ("stats",),
    "append": ("append",),
    "delete": ("delete",),
    "compact": ("compact",),
    "curate": ("curate",),
}


class Run:
    FAILED = object()

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.setup = {}
        self.lat = defaultdict(list)       # kind -> ms
        self.build = defaultdict(list)     # kind -> ms until the lazy plan returned
        self.exec = defaultdict(list)      # kind -> ms of the action
        self.cpu = defaultdict(float)      # kind -> process-tree CPU seconds
        self.items = defaultdict(int)
        self.scored = defaultdict(lambda: [0, 0])
        self.calls = defaultdict(int)
        self.timing = True                 # False while warming up
        self.setup_end = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = time.perf_counter() - t0

    def request(self, kind: str, build, act=None, items: int = 1, timed: bool = True):
        """One operation: ``build()`` then ``act`` on its result. Returns
        the result, or FAILED after counting the exception."""
        self.attempted += 1
        # warm-up calls get their own job groups, so no per-kind record sees them
        op_kind = kind if self.timing else f"warmup-{kind}"
        group = f"{op_kind}:{self.calls[op_kind]}"
        self.calls[op_kind] += 1
        op = self.tracer.operation(group) if self.tracer else nullcontext()
        try:
            with op:
                c0 = memory.tree_cpu_s(os.getpid())
                t0 = time.perf_counter()
                out = build()
                t1 = time.perf_counter()
                if act is not None:
                    if self.tracer:
                        with self.tracer.span("spark.action"):
                            out = act(out)
                    else:
                        out = act(out)
                t2 = time.perf_counter()
                c1 = memory.tree_cpu_s(os.getpid())
        except Exception as e:  # a failed operation is data, not a crash
            self.fail(kind, f"{type(e).__name__}: {e}")
            return Run.FAILED
        if timed and self.timing:
            self.lat[kind].append((t2 - t0) * 1e3)
            self.build[kind].append((t1 - t0) * 1e3)
            self.exec[kind].append((t2 - t1) * 1e3)
            self.cpu[kind] += c1 - c0
            self.items[kind] += items
        return out

    def check(self, kind: str, err: str | None) -> None:
        if err:
            self.fail(kind, err)

    def fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: {kind} failed: {msg[:500]}", file=sys.stderr, flush=True)

    def rows_scored(self, kind: str, scored: int, returned: int) -> None:
        if not self.timing:
            return
        self.scored[kind][0] += scored
        self.scored[kind][1] += returned

    def end_setup(self) -> None:
        self.setup_end = time.perf_counter()

    def warm_up(self, kinds, do) -> None:
        """Untimed requests, outputs still checked, so timed requests do not
        pay for cold code paths, a JVM still compiling hot methods, and
        empty plan caches."""
        self.timing = False
        try:
            for kind in kinds:
                do(kind)
        finally:
            self.timing = True

    def loop(self, cycle: list, do) -> None:
        """Requests in a fixed cycle for ``seconds``: a request is started
        only if, at its kind's previous latency, it ends in time (the first
        one always starts), so no run overshoots by a long request."""
        start = time.perf_counter()
        last: dict = {}
        for i in itertools.count():
            kind = cycle[i % len(cycle)]
            t0 = time.perf_counter()
            if i and t0 - start + last.get(kind, 0.0) > self.seconds:
                break
            do(kind)
            last[kind] = time.perf_counter() - t0


# -- metrics -----------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the median when that percentile would be lower."""
    import numpy as np

    n = len(xs)
    if n < 20:
        return median(xs), 50.0
    pct = 100.0 * (n - 10) / n
    return float(np.percentile(xs, pct)), pct


def throughput(run: Run, workload: str) -> float:
    busy = sum(x for k in THROUGHPUT[workload] for x in run.lat[k]) / 1e3
    items = sum(run.items[k] for k in THROUGHPUT[workload])
    return items / busy if busy else 0.0


def end_to_end(run: Run, workload: str, setup_s: float, peak_mb: float) -> dict:
    cpu = sum(run.cpu[k] for k in THROUGHPUT[workload])
    items = sum(run.items[k] for k in THROUGHPUT[workload])
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_item": (cpu * 1e3 / items if items else 0.0, "ms"),
        "peak_pss_mb": (peak_mb, "MB"),
    }


def per_layer(run: Run, workload: str, tracer, groups: dict, extra: dict,
              e2e: dict, session_s: float) -> dict:
    from perfbench import trace

    def mean(xs):
        return float(sum(xs) / len(xs)) if xs else 0.0

    single = PRIMARY["search"]
    n_single = sum(len(run.lat[k]) for k in single)
    n_batch = len(run.lat["batch"])
    lat = [x for k in PRIMARY[workload] for x in run.lat[k]]
    tail_ms, tail_pct = tail(lat)
    scored = [sum(v[i] for v in run.scored.values()) for i in (0, 1)]
    writes = ("append", "delete", "compact")
    out_bytes = sum(
        rec.get("output_bytes", 0.0) for g, rec in groups.items() if g.split(":")[0] in writes
    )
    m = {
        "session.start_s": (session_s, "s"),
        "vector_store.write_s": (run.setup.get("vector_store.write", 0.0), "s"),
        "ivf_store.build_s": (run.setup.get("ivf_store.build", 0.0), "s"),
        "lsh.candidate_shards_ms": (
            mean(tracer.span_ms("lsh.candidate_shards", "lsh")
                 + tracer.span_ms("lsh.candidate_shards", "batch")), "ms"),
        "lsh.shards_probed_frac": (mean(tracer.candidate_fracs), "ratio"),
        "knn.collect_ms": (
            sum(sum(tracer.span_ms("knn.collect_query_batch", k)) for k in single)
            / max(n_single, 1), "ms"),
        "knn.query_relation_ms": (
            sum(tracer.span_ms("knn.local_query_relation", "batch")) / max(n_batch, 1), "ms"),
        "knn.build_ms": (median([x for k in single for x in run.build[k]]), "ms"),
        "knn.exec_ms": (median([x for k in single for x in run.exec[k]]), "ms"),
        "knn.batch_build_ms": (median(run.build["batch"]), "ms"),
        "knn.batch_exec_ms": (median(run.exec["batch"]), "ms"),
        "knn.rows_scored_per_result": (scored[0] / scored[1] if scored[1] else 0.0, "ratio"),
        "ivf_store.knn_ms": (median(run.lat["ivf"]), "ms"),
        "scan_cache.hit_ratio": (tracer.scan_hit_ratio(SPARK_OPS["search_single"]
                                                      + ("batch", "stats")), "ratio"),
        "scan_cache.ingest_hit_ratio": (tracer.scan_hit_ratio(INGEST_KINDS), "ratio"),
        "fresh_search_p50_ms": (median(run.lat["fresh"]), "ms"),
        "ingest_rows_per_s": (
            run.items["append"] / (sum(x for k in writes for x in run.lat[k]) / 1e3)
            if run.lat["append"] else 0.0, "1/s"),
        "vector_store.append_ms": (median(run.lat["append"]), "ms"),
        "vector_store.delete_ms": (median(run.lat["delete"]), "ms"),
        "vector_store.compact_s": (median(run.lat["compact"]) / 1e3, "s"),
        "vector_store.data_files": (extra.get("vector_store.data_files", 0.0), "count"),
        "vector_store.bytes_written_per_user_byte": (
            out_bytes / extra["user_bytes_appended"]
            if extra.get("user_bytes_appended") else 0.0, "ratio"),
        "tombstones.rows": (extra.get("tombstones.rows", 0.0), "count"),
        "recall_at_10": (extra.get("recall_at_10", 0.0), "ratio"),
        "space_amp": (extra.get("space_amp", 0.0), "ratio"),
        "stats_p50_ms": (median(run.lat["stats"]), "ms"),
        "throughput_per_s": (throughput(run, workload), "1/s"),
        "request_p50_ms": (median(lat), "ms"),
        "request_tail_ms": (tail_ms, "ms"),
        "request_tail_pct": (tail_pct, "pct"),
        "request_samples": (float(len(lat)), "count"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_run_ms": "ms",
             "scheduler_delay_ms": "ms", "input_bytes": "bytes",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "failed_tasks": "count"}
    for op, kinds in SPARK_OPS.items():
        rec = trace.per_op(groups, kinds)
        for field in trace.SPARK_FIELDS:
            m[f"spark.{op}.{field}"] = (rec[field], units[field])
    for stage, ms in trace.per_stage(groups, "curate").items():
        m[f"curation.{stage}.task_run_ms"] = (ms, "ms")
    for name in ("setup_s", "cpu_ms_per_item"):
        m[f"traced.{name}"] = e2e[name]
    return m


# -- process lifetime --------------------------------------------------------


def start_spark(work: str, trace_on: bool):
    from distributedvectordatabase_spark import session

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a pre-touched fixed heap keeps GC timing out of peak_pss_mb
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g -XX:+AlwaysPreTouch"
        ),
    }
    if trace_on:
        from perfbench import trace

        conf.update(trace.event_log_conf(os.path.join(work, "eventlog")))
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    from perfbench.memory import descendants

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    from perfbench import workloads

    spark = None
    try:
        with memory.PeakPSS() as peak:
            t0 = time.perf_counter()
            spark = start_spark(work, bool(args.trace))
            session_s = time.perf_counter() - t0
            tracer = None
            if args.trace:
                from perfbench import trace

                tracer = trace.Tracer(spark)
                tracer.install()
            run = Run(spark, args.seed, args.seconds, work, tracer)
            extra = workloads.WORKLOADS[args.workload](run)
            setup_s = run.setup_end - t0
        e2e = end_to_end(run, args.workload, setup_s, peak.peak_mb)
        if args.trace:
            tracer.uninstall()
            tracer.set_group("bench")
            stop_spark(spark)
            spark = None
            groups = trace.read_event_log(os.path.join(work, "eventlog"))
            metrics = per_layer(run, args.workload, tracer, groups, extra, e2e, session_s)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"spans-{args.workload}-seed{args.seed}.json"),
                {"job_groups": groups, "metrics": metrics},
            )
        else:
            metrics = e2e
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench: setup " + json.dumps({k: round(v, 3) for k, v in run.setup.items()})
          + f" session {session_s:.3f}; requests (ms) "
          + json.dumps({k: [round(x) for x in v] for k, v in run.lat.items() if v}),
          file=sys.stderr, flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
