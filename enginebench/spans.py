"""Tracing from outside the package: in-memory spans around calls into the
package's public functions, and Spark's own counters read after each
operation (status tracker, loopback REST API, QueryPlanningTracker).

Nothing here edits the package. ``install`` swaps module attributes for
tracing wrappers for the length of one traced pass and ``uninstall`` puts
the originals back, so untraced passes run the unmodified functions.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import json
import re
import sys
import time
import urllib.request
from dataclasses import dataclass, field

PKG = "bigdata_googleplaystore_spark"

# module -> layer whose public functions are wrapped
TRACED_MODULES = {
    f"{PKG}.sources": "sources",
    f"{PKG}.sources.manifest_cdf_stream": "sources",
    f"{PKG}.streaming": "streaming",
    f"{PKG}.streaming.manifest": "streaming",
    f"{PKG}.playstore": "playstore",
    **{
        f"{PKG}.operators.{m}": "operators"
        for m in (
            "asof", "bpe", "codecs", "dedup", "frequency", "graph", "incremental", "layout",
            "multimodal", "pq", "quality", "rangejoin", "sampling", "similarity", "sketches", "skew",
        )
    },
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


class _Open:
    __slots__ = ("tracer", "index")

    def __init__(self, tracer: Tracer, index: int):
        self.tracer, self.index = tracer, index

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.index)
        return False


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()


@dataclass
class Tracer:
    """Spans of one process, kept in memory. Disabled, ``span`` returns a
    shared no-op context, so untraced code pays one attribute test."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    def span(self, layer: str, name: str):
        if not self.enabled:
            return _NULL
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return _Open(self, len(self.spans) - 1)

    def close(self, index: int) -> None:
        self.spans[index].end = time.perf_counter()
        self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] = self.counters.get(key, 0) + n


def self_times(spans: list[Span], lo: int = 0) -> list[float]:
    """Self time of each span from index ``lo``: its duration minus the
    part covered by its direct children (children never overlap: one
    thread)."""
    out = [s.end - s.start for s in spans[lo:]]
    for i, s in enumerate(spans[lo:]):
        if s.parent is not None and s.parent >= lo:
            out[s.parent - lo] -= s.end - s.start
    return out


def covered(spans: list[Span], lo: int = 0) -> float:
    """Wall time covered by the top-level spans from index ``lo``."""
    return sum(s.end - s.start for s in spans[lo:] if s.parent is None or s.parent < lo)


def _unwrap(fn):
    return fn


class _Traced:
    """A traced stand-in for a package function. Pickles as the original
    function, so a stand-in captured by a UDF closure never ships the
    tracer to a Python worker."""

    def __init__(self, fn, tracer: Tracer, layer: str, name: str, hook=None):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._layer, self._name, self._hook = fn, tracer, layer, name, hook

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._name):
            out = self._fn(*args, **kwargs)
        if self._hook is not None:
            self._hook(self._tracer, args, kwargs, out)
        return out

    def __reduce__(self):
        return (_unwrap, (self._fn,))


class _MemoHook:
    """Counts calls of a memoizing package function and the calls that hit
    its memo: a hit leaves the module's memo dict (``memo``) no larger."""

    def __init__(self, module, memo: str, key: str):
        self.module, self.memo, self.key = module, memo, key
        self.size = len(getattr(module, memo))

    def __call__(self, tracer, args, kwargs, out):
        size = len(getattr(self.module, self.memo))
        tracer.count(f"{self.key}.calls")
        if size == self.size:
            tracer.count(f"{self.key}.hits")
        self.size = size


class Patches:
    """Tracing wrappers over every public function of TRACED_MODULES,
    swapped into every package module that refers to them."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        wrappers = {}
        for mod_name, layer in TRACED_MODULES.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.removeprefix(f"{PKG}.")
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not callable(fn) or not hasattr(fn, "__code__"):
                    continue
                if getattr(fn, "__module__", None) != mod_name or isinstance(fn, _Traced):
                    continue
                hook = None
                if mod_name == f"{PKG}.sources" and attr == "load_table":
                    hook = _MemoHook(mod, "_TABLE_MEMO", "sources.load_memo")
                elif mod_name == f"{PKG}.playstore" and attr == "read_playstore_csv":
                    hook = _MemoHook(mod, "_CSV_SCHEMA_MEMO", "playstore.csv_memo")
                wrappers[id(fn)] = _Traced(fn, self.tracer, layer, f"{short}.{attr}", hook)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and w._fn is val:
                    setattr(mod, attr, w)
                    self._undo.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._undo):
            setattr(mod, attr, val)
        self._undo.clear()


# --- Spark-side counters -------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """Total of a SQL metric as the REST API prints it: "1,234",
    "12.5 MiB", or "total (min, med, max ...)\\n12.5 MiB (...)"."""
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=dt.timezone.utc).timestamp()


class SparkProbe:
    """Reads the engine's counters from outside: job groups through the
    status tracker, persisted RDDs through the SparkContext, Catalyst phase
    times through QueryPlanningTracker, and per-job, per-stage and per-plan
    metrics through the loopback REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.cores = self.sc.defaultParallelism
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def persisted(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()

    @staticmethod
    def plan_s(df) -> float:
        phases = df._jdf.queryExecution().tracker().phases()
        ms = 0
        for name in ("parsing", "analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                ms += opt.get().durationMs()
        return ms / 1000.0

    def pass_metrics(self, groups) -> dict:
        """Spark counters of the jobs whose group is in ``groups``, summed
        over the pass."""
        for _ in range(50):  # the listener bus delivers asynchronously
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" and "completionTime" in j for j in jobs):
                break
            time.sleep(0.1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("stages?status=complete&withSummaries=true&quantiles=0.5,1.0")
            if s["stageId"] in stage_ids
        ]
        job_ids = {j["jobId"] for j in jobs}
        execs = self._get(f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=1000000")
        self._sql_seen += len(execs)
        exec_s = sum(_epoch(j["completionTime"]) - _epoch(j["submissionTime"]) for j in jobs)
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        skew = 1.0
        for s in stages:
            q = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
            if s["numTasks"] >= 3 and q and q[0] >= 1:
                skew = max(skew, q[1] / q[0])
        out = {
            "spark.exec_s": exec_s,
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "spark.task_skew": skew,
            "spark.core_busy_frac": run_s / (exec_s * self.cores) if exec_s else 0.0,
            "sources.scan_bytes": sum(s["inputBytes"] for s in stages),
            "sources.scan_rows": sum(s["inputRecords"] for s in stages),
            "functions.python_rows": 0.0,
            "functions.python_bytes": 0.0,
        }
        for e in execs:
            if not job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                # Arrow/pandas UDF nodes; a Python data source's scan is the sources layer
                if "data sent to Python workers" in metrics and "Scan" not in node["nodeName"]:
                    out["functions.python_rows"] += _metric_value(metrics.get("number of output rows", "0"))
                    out["functions.python_bytes"] += _metric_value(metrics["data sent to Python workers"])
                    out["functions.python_bytes"] += _metric_value(
                        metrics.get("data returned from Python workers", "0")
                    )
        return out



def jvm_peak_rss_mib(spark) -> float:
    """The driver JVM's peak resident set (VmHWM)."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
