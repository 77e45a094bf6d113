"""Tracing from outside the package, for the traced run only.

Two sources, both observed from the benchmark's own files:

- Spans. ``Tracer.install`` replaces the package's public layer functions
  with timing wrappers (in every loaded package module that imported
  them), so each call records name, start, end, parent span and the
  operation it served. Spans stay in memory and are written as JSON when
  the run ends.
- Spark's event log. Every benchmark operation runs under its own job
  group (``setJobGroup``), so the jobs, stages and task metrics that the
  event log records can be summed per operation and per curation stage.

Self time of a span is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "distributedvectordatabase_spark"

# (module, attribute, span name); "Class.method" patches the class.
LAYER_FUNCTIONS = [
    ("functions.lsh", "SignLSH.candidate_shards", "lsh.candidate_shards"),
    ("functions.lsh", "SignLSH.assign", "lsh.assign"),
    ("operators.knn", "collect_query_batch", "knn.collect_query_batch"),
    ("operators.knn", "local_query_relation", "knn.local_query_relation"),
    ("operators.knn", "knn", "knn.knn"),
    ("operators.knn", "knn_pruned", "knn.knn_pruned"),
    ("sources.scan_cache", "cached_parquet", "scan_cache.cached_parquet"),
    ("sources.tombstones", "append_tombstones", "tombstones.append_tombstones"),
    ("sources.tombstones", "filter_live", "tombstones.filter_live"),
    ("sources.vector_store", "VectorStore.write", "vector_store.write"),
    ("sources.vector_store", "VectorStore.append", "vector_store.append"),
    ("sources.vector_store", "VectorStore.delete", "vector_store.delete"),
    ("sources.vector_store", "VectorStore.compact", "vector_store.compact"),
    ("sources.vector_store", "VectorStore.knn", "vector_store.knn"),
    ("sources.vector_store", "VectorStore.system_stats", "vector_store.system_stats"),
    ("sources.ivf_store", "IVFStore.build", "ivf_store.build"),
    ("sources.ivf_store", "IVFStore.knn", "ivf_store.knn"),
    ("operators.curation", "curate_corpus", "curation.curate_corpus"),
]

# curation stage -> the public functions curate_corpus calls for it
CURATION_STAGES = [
    ("gopher", "operators.gopher", "gopher_filter"),
    ("substring", "operators.substring_dedup", "substring_trim"),
    ("minhash", "operators.dedup", "minhash_neardup_pairs"),
    ("components", "operators.components", "connected_components"),
    ("dsir", "operators.dsir", "dsir_weights"),
    ("dsir", "operators.dsir", "dsir_select"),
    ("mix", "operators.mixing", "mix_corpus"),
    ("pack", "operators.chunking", "pack_documents"),
    ("export", "sources.export", "export_shards"),
]
STAGE_NAMES = ["tokenize", "gopher", "substring", "minhash", "components",
               "dsir", "mix", "pack", "export"]

SPARK_FIELDS = ["jobs", "stages", "tasks", "task_run_ms", "scheduler_delay_ms",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []
        self.op = None            # job group / id of the running operation
        self.scan = defaultdict(lambda: [0, 0])   # op kind -> [calls, hits]
        self._scan_last: dict = {}
        self.candidate_fracs: list = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def operation(self, group: str):
        """One benchmark operation: its own job group and root span."""
        self.op = group
        self.set_group(group)
        try:
            with self.span("op." + group.split(":")[0]):
                yield
        finally:
            self.set_group("bench")
            self.op = None

    # -- wrapping ----------------------------------------------------------

    def _replace(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, orig, new) -> None:
        """Replace ``orig`` in every loaded package module, so callers
        that imported it by name see the wrapper too."""
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._replace(mod, attr, new)

    def _wrap(self, fn, span_name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            after = {
                "scan_cache.cached_parquet": self._after_scan,
                "lsh.candidate_shards": self._after_candidates,
            }.get(span_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._replace(cls, meth, self._wrap(getattr(cls, meth), span_name, after))
            else:
                orig = getattr(mod, attr)
                self._patch_everywhere(orig, self._wrap(orig, span_name, after))
        for stage, mod_name, attr in CURATION_STAGES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            self._patch_everywhere(orig, self._stage_wrapper(orig, stage))
        # stage 0 (tokenize) runs inline at the top of curate_corpus
        from distributedvectordatabase_spark.operators import curation

        curate = curation.curate_corpus
        tracer = self

        @functools.wraps(curate)
        def curate_entry(*args, **kwargs):
            tracer.set_group(f"{tracer.op}:tokenize")
            try:
                return curate(*args, **kwargs)
            finally:
                tracer.set_group(tracer.op or "bench")

        self._patch_everywhere(curate, curate_entry)

    def _stage_wrapper(self, fn, stage: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.set_group(f"{tracer.op}:{stage}")
            try:
                with tracer.span(f"curation.{stage}"):
                    return fn(*args, **kwargs)
            finally:
                tracer.set_group(f"{tracer.op}:other")

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _after_scan(self, args, kwargs, df) -> None:
        if self.op is None:
            return
        path = args[1] if len(args) > 1 else kwargs.get("path")
        rec = self.scan[self.op.split(":")[0]]
        rec[0] += 1
        if self._scan_last.get(path) is df:
            rec[1] += 1
        self._scan_last[path] = df

    def scan_hit_ratio(self, kinds) -> float:
        calls = sum(self.scan[k][0] for k in kinds if k in self.scan)
        hits = sum(self.scan[k][1] for k in kinds if k in self.scan)
        return hits / calls if calls else 0.0

    def _after_candidates(self, args, kwargs, out) -> None:
        if self.op is None:
            return
        lsh = args[0]
        self.candidate_fracs.append(len(out) / lsh.num_tables)

    # -- reports -----------------------------------------------------------

    def span_ms(self, name: str, op_prefix: str | None = None) -> list:
        """Durations (ms) of every span called ``name``, optionally only
        those serving operations whose group starts with ``op_prefix``."""
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (op_prefix is None or (s["op"] or "").startswith(op_prefix))
        ]

    def self_times(self) -> dict:
        """Total self time (ms) per span name."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"] - covered[s["id"]]) * 1e3
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times(), **extra}, f)


# -- Spark event log -------------------------------------------------------


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Per job group: the fields in SPARK_FIELDS summed over its jobs.
    A stage belongs to the first job that lists it (later jobs skip it)."""
    # a rolling log is a directory of events_<n>_<app> files
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    stage_group: dict = {}
    groups: dict = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    ran_stages: dict = defaultdict(set)
    for fn in files:
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "none")
                    rec = groups[g]
                    ran_stages[g].add((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    if info.get("Failed"):
                        rec["failed_tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    rec["task_run_ms"] += run
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    getting = info.get("Getting Result Time", 0)
                    getting = info.get("Finish Time", 0) - getting if getting else 0
                    rec["scheduler_delay_ms"] += max(
                        0,
                        dur - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0) - getting,
                    )
                    rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    rec.setdefault("output_bytes", 0.0)
                    rec["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for g, st in ran_stages.items():
        groups[g]["stages"] = float(len(st))
    return dict(groups)


def per_op(groups: dict, kinds) -> dict:
    """SPARK_FIELDS per call of the request ``kinds``: job groups are
    ``<kind>:<n>[:<stage>]``."""
    calls = {tuple(g.split(":")[:2]) for g in groups if g.split(":")[0] in kinds}
    tot = dict.fromkeys(SPARK_FIELDS + ["output_bytes"], 0.0)
    for g, rec in groups.items():
        if g.split(":")[0] in kinds:
            for k in tot:
                tot[k] += rec.get(k, 0.0)
    n = max(len(calls), 1)
    return {k: v / n for k, v in tot.items()}


def per_stage(groups: dict, op: str) -> dict:
    """Task run time (ms) per curation stage, per ``op`` call."""
    out = dict.fromkeys(STAGE_NAMES, 0.0)
    calls = set()
    for g, rec in groups.items():
        parts = g.split(":")
        if parts[0] == op and len(parts) == 3:
            calls.add(parts[1])
            if parts[2] in out:
                out[parts[2]] += rec["task_run_ms"]
    n = max(len(calls), 1)
    return {k: v / n for k, v in out.items()}
