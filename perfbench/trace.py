"""Spans around the benchmark's calls into the engine, rolled up from the
Spark event log, plus resource probes.

A span is one call into a layer's public function. Spans live in memory
and are written out once, at the end of the run. While a span is open,
its Spark jobs carry the span's own job group. Jobs submitted from a
thread that keeps its own job group, such as the streaming engine's
micro-batch thread, go to the innermost span open when they were
submitted. A span's self time is its wall time minus the time its child
spans cover.

The rollup reads the event log that Spark writes when
``spark.eventLog.enabled`` is set (see :func:`event_log_conf`), after
waiting for the listener bus to drain.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "output_bytes",
    "run_ms",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed event log under ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    iteration: int = 0
    end: float = 0.0
    warnings: list[str] = field(default_factory=list)
    rdd_lo: int = 0  # RDD ids in [rdd_lo, rdd_hi] were made in this span
    rdd_hi: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    probes: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one benchmark run. With ``enabled=False``,
    :meth:`span` records nothing, so a workload runs the same code traced
    or not."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.iteration = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._log_offsets: dict[str, int] = {}
        self._stage_span: dict[int, int] = {}  # stage id -> span id

    # --- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.sid if parent else None,
            time.time(), self.iteration,
        )
        sp.rdd_lo = sc._jsc.sc().newRddId()
        self.spans.append(sp)
        self._stack.append(sp)
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(f"perfbench-{sp.sid}", name)
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                # pyspark's collect() sockets, closed whenever GC runs
                warnings.simplefilter("ignore", ResourceWarning)
                yield sp
            sp.warnings = [f"{w.category.__name__}: {w.message}" for w in caught]
        finally:
            sp.end = time.time()
            sp.rdd_hi = sc._jsc.sc().newRddId()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            sp.probes = probe_resources(self.spark)

    def self_time(self, sp: Span) -> float:
        """Wall time minus the union of the direct children's intervals."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.sid
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.wall - covered

    def inclusive(self, sp: Span) -> dict:
        """Counters of ``sp`` plus all its descendants."""
        total = dict(sp.counters)
        for c in self.spans:
            if c.parent == sp.sid:
                for k, v in self.inclusive(c).items():
                    total[k] += v
        return total

    def innermost(self, rdd_id: int) -> Span | None:
        """The innermost span during which RDD ``rdd_id`` was made."""
        best = None
        for sp in self.spans:
            if sp.rdd_lo <= rdd_id <= sp.rdd_hi:
                if best is None or sp.rdd_lo >= best.rdd_lo:
                    best = sp
        return best

    # --- event-log rollup --------------------------------------------------

    def collect(self) -> None:
        """Attribute every job, stage and task logged so far to a span.
        Needs the session built with :func:`event_log_conf`."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        log_dir = sc.getConf().get("spark.eventLog.dir").replace("file://", "")
        app = sc.applicationId
        files = sorted(
            glob.glob(os.path.join(log_dir, f"*{app}*", "events_*"))
            + glob.glob(os.path.join(log_dir, f"{app}*"))
        )
        for path in files:
            if os.path.isdir(path):
                continue
            with open(path, "rb") as f:
                f.seek(self._log_offsets.get(path, 0))
                data = f.read()
            end = data.rfind(b"\n") + 1  # only whole lines
            self._log_offsets[path] = self._log_offsets.get(path, 0) + end
            for line in data[:end].splitlines():
                self._event(json.loads(line))

    def _span_for_job(self, group: str | None, submitted_ms: int) -> Span | None:
        if group and group.startswith("perfbench-"):
            return self.spans[int(group.split("-", 1)[1])]
        t = submitted_ms / 1000.0
        best = None
        for sp in self.spans:  # innermost span open at submission
            if sp.start <= t and (sp.end == 0.0 or t <= sp.end):
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sp = self._span_for_job(
                props.get("spark.jobGroup.id"), ev.get("Submission Time", 0)
            )
            if sp is None:
                return
            sp.counters["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                self._stage_span.setdefault(sid, sp.sid)
        elif kind == "SparkListenerStageCompleted":
            sid = self._stage_span.get(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                self.spans[sid].counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = self._stage_span.get(ev.get("Stage ID"))
            if sid is None:
                return
            c = self.spans[sid].counters
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )


def probe_resources(spark) -> dict:
    """Persisted RDDs alive right after a span, and the peak RSS (VmHWM)
    of the JVM and of the Python driver since the iteration began."""
    gc.collect()  # drop Python-side handles the span no longer needs
    return {
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "jvm_peak_rss_mb": read_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        ),
        "driver_peak_rss_mb": read_hwm_mb(os.getpid()),
    }


def read_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid``, in MB. For the
    driver this is the ``ru_maxrss`` figure, resettable per iteration."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> None:
    """Reset the peak RSS of ``pid`` to its current RSS (Linux clear_refs)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")
