"""Closed-loop op recorder, percentile helper and Spark lifecycle.

One client issues the workload's ops one after another (a closed loop):
the next op starts only when the previous one and its output check have
finished. Latency covers the op only; the prepare and check steps run
outside the timed region, with tracing paused, but a check's verdict
counts toward ``failed``.
"""

from __future__ import annotations

import gc
import math
import os
import shlex
import statistics
import subprocess
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

#: a tail percentile is reported only when at least this many samples lie beyond it
MIN_SAMPLES_BEYOND = 10
TAIL_QUANTILES = (0.9, 0.99, 0.999)


class CheckFailed(Exception):
    """An op returned, but its output disagrees with the generator's record."""


def expect(cond: bool, message: str) -> None:
    if not cond:
        raise CheckFailed(message)


def quantile(sorted_samples: list[float], q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    n = len(sorted_samples)
    return sorted_samples[max(0, math.ceil(q * n) - 1)]


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and every tail percentile in ``TAIL_QUANTILES``
    that has at least ``MIN_SAMPLES_BEYOND`` samples beyond it."""
    if not samples:
        return {"n": 0}
    s = sorted(samples)
    out = {"n": len(s), "p50": statistics.median(s)}
    for q in TAIL_QUANTILES:
        if len(s) - math.ceil(q * len(s)) >= MIN_SAMPLES_BEYOND:
            out[f"p{q * 100:g}"] = quantile(s, q)
    return out


@dataclass
class Op:
    """One timed operation: ``run`` does the work (and consumes any lazy
    result inside the timed region); ``check`` validates its return value
    and raises :class:`CheckFailed` on a mismatch; ``prepare`` runs just
    before, untimed (e.g. the generator appending commits). Neither
    ``prepare`` nor ``check`` is traced."""

    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None] = lambda _result: None
    prepare: Callable[[], None] | None = None


@dataclass
class Recorder:
    """Per-op-kind latencies, attempts and failures of one measured loop."""

    tracer: Any
    latencies_ms: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    #: wall time of the loop, prepare and check steps included
    elapsed_s: float = 0.0
    #: time inside the timed region of the ops that passed
    busy_s: float = 0.0

    def run(self, op: Op) -> Any:
        self.attempted += 1
        result = None
        try:
            if op.prepare is not None:
                with self.tracer.paused():
                    op.prepare()
            t0 = time.perf_counter()
            with self.tracer.op(op.kind):
                result = op.run()
            dt = time.perf_counter() - t0
            with self.tracer.paused():
                op.check(result)
        except Exception as exc:  # a failing op is counted and the loop goes on
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(
                    f"{op.kind}: {type(exc).__name__}: {exc}"[:500]
                    + ("" if isinstance(exc, CheckFailed) else "\n" + traceback.format_exc(limit=4))
                )
            return None
        self.latencies_ms.setdefault(op.kind, []).append(dt * 1000.0)
        self.busy_s += dt
        return result

    def run_cycles(self, make_cycle: Callable[[], list], seconds: float, first_cycle: list) -> None:
        """Run whole cycles of ops, ``first_cycle`` (built before the loop)
        and then new ones from ``make_cycle``, until ``seconds`` have
        elapsed; a cycle in progress always completes, so every run issues
        the same op mix."""
        t0 = time.perf_counter()
        ops = first_cycle
        while True:
            for op in ops:
                self.run(op)
            self.elapsed_s = time.perf_counter() - t0
            if self.elapsed_s >= seconds:
                break
            ops = make_cycle()

    @property
    def ok_ops(self) -> int:
        return self.attempted - self.failed

    def ops_per_s(self) -> float:
        """Passed ops per second of their own timed work: the benchmark's
        input building, prepare steps and checks are left out."""
        return self.ok_ops / self.busy_s if self.busy_s else 0.0

    def op_ms_p50(self) -> float:
        """Geometric mean over op kinds of each kind's median latency, so
        every kind weighs the same however often the cycle issues it."""
        meds = [m for m in map(statistics.median, self.latencies_ms.values()) if m > 0]
        if not meds:
            return 0.0
        return math.exp(sum(math.log(m) for m in meds) / len(meds))


def _status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith(key + ":")) / 1024.0


def reset_python_peak_rss() -> float:
    """Collect garbage, reset this process's peak-RSS mark (VmHWM) to its
    current RSS and return that RSS in MB: the base the loop's peak is
    measured against."""
    gc.collect()
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")
    return _status_mb("self", "VmRSS")


def peak_rss_mb(jvm_pid: int) -> dict:
    """Peak resident set in MB: this Python process since the last
    :func:`reset_python_peak_rss`, and the Spark driver JVM since it
    started."""
    return {"python": _status_mb("self", "VmHWM"), "jvm": _status_mb(jvm_pid, "VmHWM")}


def configure_environment(work_dir: str, repo_root: str, cpus: int, driver_mem: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    ``work_dir`` (inside the checkout), and make the engine importable by
    Spark's Python workers. Must run before pyspark starts the JVM."""
    os.makedirs(work_dir, exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM, the spark-submit launcher included: no /tmp perf data or temp files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work_dir}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
