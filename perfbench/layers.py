"""Per-layer measurement for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the public functions of ``api``, ``cache``, ``serving`` and
``streaming.ingest`` are wrapped for the length of the traced loop,
and each operation runs under its own Spark job group, whose stage
metrics are summed from the in-process status store (no event log,
no UI). Spans stay in memory and are written out when the run ends.

The JVM readings (process CPU, JIT and GC time) come from the JVM's
own management beans through py4j.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# stage metrics summed per job group: name -> (StageData getter, scale)
STAGE_FIELDS = {
    "task_cpu_ms": ("executorCpuTime", 1e-6),
    "gc_ms": ("jvmGcTime", 1.0),
    "deser_ms": ("executorDeserializeTime", 1.0),
    "shuffle_read_bytes": (("shuffleRemoteBytesRead", "shuffleLocalBytesRead"), 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "fetch_wait_ms": ("shuffleFetchWaitTime", 1.0),
    "tasks": ("numCompleteTasks", 1.0),
}


class Jvm:
    """Process-level readings of the Spark JVM, which in local mode
    runs the tasks too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(self.mf.getRuntimeMXBean().getPid())

    def cpu_ms(self) -> float:
        """User plus system CPU of every JVM thread (JIT and GC included)."""
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) * 1000.0 / os.sysconf("SC_CLK_TCK")

    def jit_ms(self) -> float:
        return float(self.mf.getCompilationMXBean().getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()))

    def heap_mb(self) -> float:
        """Used heap after a forced full collection."""
        jvm = self.sc._jvm
        for _ in range(2):
            jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / float(1 << 20)


class StageMetrics:
    """Sums of stage metrics over the Spark jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def collect(self, group: str) -> dict[str, float]:
        # stage completion reaches the status store through the
        # listener bus; drain it so the op's last stage is counted
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                out["stages"] += 1
                for name, (getter, scale) in STAGE_FIELDS.items():
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    out[name] += sum(float(getattr(st, g)()) for g in getters) * scale
        return out


class Tracer:
    """Spans and counters for the traced loop.

    While installed, every call of a function named in WRAPPED
    records a span (op id, layer, start, end, parent span, cache
    miss); ``uninstall`` restores the original functions."""

    WRAPPED = {
        "nucliadb_spark.api": ("find_request",),
        "nucliadb_spark.cache": ("cached_df", "cached_scalar"),
        "nucliadb_spark.serving": (
            "stream_maintained_log",
            "state_as_of",
            "vacuum_family",
            "purge_log",
        ),
        "nucliadb_spark.streaming.ingest": ("advance_live_state", "advance_text_index"),
    }

    def __init__(self, spark):
        self.spark = spark
        self.stages = StageMetrics(spark)
        self.spans: list[tuple] = []
        self.op = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        # time in begin and end: job-group switches, draining the
        # listener bus, reading the status store
        self.self_s = 0.0

    # -- spans -----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        tracer = self
        from nucliadb_spark import cache

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_id = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            tracer.spans.append(None)
            tracer._stack.append(span_id)
            inserts = cache._INSERTS
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._stack.pop()
                # a cache lookup that inserted an entry built it
                miss = layer == "cache.cached_df" and cache._INSERTS > inserts
                tracer.spans[span_id] = (tracer.op, layer, t0, t1, parent, miss)

        return wrapper

    def install(self) -> None:
        for mod_name, names in self.WRAPPED.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.rsplit(".", 1)[1]
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(f"{short}.{name}", orig)
                # modules that imported the function by name hold their
                # own reference; patch those too
                for other in list(sys.modules.values()):
                    if getattr(other, "__name__", "").startswith("nucliadb_spark") and getattr(
                        other, name, None
                    ) is orig:
                        self._saved.append((other, name, orig))
                        setattr(other, name, wrapped)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._saved):
            setattr(mod, name, orig)
        self._saved.clear()

    # -- per-op accounting -----------------------------------------------

    def begin(self, op_id: int, phase: str = "exec") -> None:
        """Tag the Spark jobs that follow with the op's own job group."""
        t0 = time.perf_counter()
        self.op = op_id
        group = f"perfbench-op-{op_id}-{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.self_s += time.perf_counter() - t0

    def end(self, op_id: int, phase: str = "exec") -> dict[str, float]:
        """Stage metrics summed over the jobs of the op's phase."""
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("perfbench-idle", "perfbench-idle")
        m = self.stages.collect(f"perfbench-op-{op_id}-{phase}")
        self.self_s += time.perf_counter() - t0
        return m

    def time_s(self, layer: str) -> float:
        """Seconds inside a layer's calls, not counting a call nested
        in another call of the same layer twice."""
        return sum(s[3] - s[2] for s in self._outermost(layer))

    def summary(self) -> dict[str, dict[str, float]]:
        """Per layer: calls and milliseconds inside them."""
        layers = sorted({s[1] for s in self.spans if s is not None})
        return {
            name: {"calls": self.calls(name), "ms": self.time_s(name) * 1000.0}
            for name in layers
        }

    def _outermost(self, layer: str, misses_only: bool = False):
        for span in self.spans:
            if span is None or span[1] != layer or (misses_only and not span[5]):
                continue
            p = span[4]
            while p is not None and self.spans[p][1] != layer:
                p = self.spans[p][4]
            if p is None:
                yield span

    def build_s(self) -> float:
        """Seconds in cache lookups that missed and built an entry
        (outermost builds only: a chained build nests earlier ones)."""
        return sum(s[3] - s[2] for s in self._outermost("cache.cached_df", True))

    def calls(self, layer: str, miss: bool | None = None) -> int:
        return sum(
            1
            for s in self.spans
            if s is not None and s[1] == layer and (miss is None or s[5] == miss)
        )
