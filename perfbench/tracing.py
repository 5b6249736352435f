"""In-memory span tracer for the traced run.

Spans are recorded around the benchmark's own calls and, through
wrappers this module installs on the engine's public functions and
methods, around every call into a layer. Nothing in the engine changes:
the wrappers replace module attributes and class methods from outside.

Each span keeps its name, start, end, parent span and op id; spans stay in
memory and are written once, when the run ends. A span's self time is its
duration minus the time its child spans cover. While the benchmark checks
an op's output it pauses the tracer, so the checker's own engine calls
never count as layer cost.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict

PKG = "delta_kernel_rs_spark"


def _len_of(result) -> int:
    return len(result) if result is not None else 0


#: (module, attribute path, span name, counters taken from the result).
#: Module-level functions are replaced in every loaded engine module that
#: imported them by name; methods are replaced on their class.
ENGINE_WRAPS = [
    ("sources.storage", "LocalStorage.list_dir", "storage.list", None),
    ("sources.storage", "LocalStorage.list_from", "storage.list", None),
    ("sources.storage", "LocalStorage.list_recursive", "storage.list", None),
    ("sources.storage", "LocalStorage.read_text", "storage.read", {"storage.bytes_read": _len_of}),
    ("sources.storage", "LocalStorage.read_bytes", "storage.read", {"storage.bytes_read": _len_of}),
    ("sources.storage", "LocalStorage.put_if_absent", "storage.put", None),
    ("sources.storage", "LocalStorage.put_overwrite", "storage.put", None),
    (
        "sources.log_segment",
        "build_log_segment",
        "log_segment.build",
        {
            "log_segment.commit_files": lambda seg: len(seg.commit_files),
            "log_segment.checkpoint_parts": lambda seg: len(seg.checkpoint_parts),
        },
    ),
    ("sources.snapshot", "Snapshot.__init__", "snapshot.init", None),
    ("sources.snapshot", "_scan_commit_for_pm", "snapshot.pm_commit", None),
    ("sources.crc", "read_crc", "crc.read", {"crc.hits": lambda doc: int(doc is not None)}),
    ("sources.scan", "Scan.files", "scan.files", {"scan.live_files": _len_of}),
    ("sources.scan", "Scan.to_df", "scan.to_df", None),
    ("sources.pyreplay", "replay_commit_tail", "pyreplay.tail", None),
    ("sources.pyreplay", "live_files_arrow", "pyreplay.live_files", None),
    ("sources.cdf", "table_changes", "cdf.plan", None),
    ("sources.transaction", "Transaction.write_data", "transaction.write_data", None),
    ("sources.transaction", "Transaction.commit", "transaction.commit", None),
    ("sources.delete", "delete_with_dvs", "dml.delete_dv", None),
    ("sources.update", "update_where", "dml.update", None),
    ("sources.merge", "upsert", "dml.merge", None),
    ("sources.checkpoint", "write_checkpoint", "checkpoint.write", None),
]


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False
    _null = contextlib.nullcontext()

    def op(self, kind: str):
        return self._null

    def span(self, name: str):
        return self._null

    def paused(self):
        return self._null

    def count(self, name: str, value: float = 1) -> None:
        pass


class Tracer:
    """Tracing on: spans, counters and Spark job/task counts per op.

    One span stack for the process: the benchmarked engine paths call their
    layers from the driver's main thread only."""

    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        #: (name, start, end, parent index or -1, op id), in start order
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        #: op kind -> [jobs, tasks] summed over that kind's ops
        self.spark_by_kind: dict[str, list] = defaultdict(lambda: [0, 0])
        #: time spent in the tracer itself (span bookkeeping, job readback)
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op_id = -1
        self._installed: list[tuple] = []
        self._paused = False

    # -- recording ---------------------------------------------------------
    @contextlib.contextmanager
    def paused(self):
        """Record no span and no engine-call counter inside this block."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextlib.contextmanager
    def span(self, name: str):
        if self._paused:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(None)  # filled in when the span closes
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self._op_id)
            self.bookkeeping_s += (start - t_in) + (time.perf_counter() - end)

    @contextlib.contextmanager
    def op(self, kind: str):
        self._op_id += 1
        group = f"perfbench-op-{self._op_id}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            if sc is not None:
                t0 = time.perf_counter()
                self._count_jobs(sc, group, kind)
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.bookkeeping_s += time.perf_counter() - t0

    def _count_jobs(self, sc, group: str, kind: str) -> None:
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numTasks if sinfo else 0
        acc = self.spark_by_kind[kind]
        acc[0] += len(jobs)
        acc[1] += tasks

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] += value

    # -- engine wrappers ---------------------------------------------------
    def _wrapper(self, fn, name: str, counters: dict | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if counters:
                t0 = time.perf_counter()
                for counter, of in counters.items():
                    tracer.counters[counter] += of(result)
                tracer.bookkeeping_s += time.perf_counter() - t0
            return result

        return traced

    def install(self) -> None:
        """Wrap every target in ``ENGINE_WRAPS``; raises if one is missing,
        so a renamed engine function cannot silently drop its layer."""
        for mod_name, attr, name, counters in ENGINE_WRAPS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                original = cls.__dict__[meth]
                setattr(cls, meth, self._wrapper(original, name, counters))
                self._installed.append((cls, meth, original))
                continue
            original = getattr(mod, attr)
            wrapped = self._wrapper(original, name, counters)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith(PKG) and (
                    getattr(other, attr, None) is original
                ):
                    setattr(other, attr, wrapped)
                    self._installed.append((other, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._installed):
            setattr(owner, attr, original)
        self._installed.clear()

    # -- reduction ---------------------------------------------------------
    def durations_ms(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for name, start, end, _parent, _op in self.spans:
            out[name].append((end - start) * 1000.0)
        return out

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[tuple]] = defaultdict(list)
        for name, start, end, parent, _op in self.spans:
            if parent >= 0:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for idx, (name, start, end, _parent, _op) in enumerate(self.spans):
            covered, cursor = 0.0, start
            for c_start, c_end in sorted(children.get(idx, ())):
                c_start = max(c_start, cursor)
                if c_end > c_start:
                    covered += c_end - c_start
                    cursor = c_end
            out[name] += (end - start - covered) * 1000.0
        return out

    def write(self, path: str, extra: dict) -> None:
        """Write every span and counter once, at the end of the run."""
        durations = self.durations_ms()
        self_ms = self.self_ms()
        doc = {
            **extra,
            "spans": [
                {"name": n, "start": s, "end": e, "parent": p, "op": o}
                for n, s, e, p, o in self.spans
            ],
            "by_name": {
                n: {"calls": len(d), "total_ms": sum(d), "self_ms": self_ms.get(n, 0.0)}
                for n, d in sorted(durations.items())
            },
            "counters": dict(self.counters),
            "spark_by_op_kind": {k: {"jobs": v[0], "tasks": v[1]} for k, v in self.spark_by_kind.items()},
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
