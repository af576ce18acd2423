"""One benchmark run: set-up, the timed closed loop, the DuckDB checks
and the metrics.

The engine is driven only through its public functions:
``api.find_request`` for reads and ``serving.stream_maintained_log``,
``serving.vacuum_family`` and ``serving.purge_log`` for writes.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import resource
import sys
import time
from collections import defaultdict

from perfbench import corpus, layers, stats, twins, workloads

# the asof_cdc op log, and the content family the find path serves
# from it, share this name
LOG = "content_text"

END_TO_END = {
    "setup_s": "s",
    "first_p50_ms": "ms",
    "repeat_p50_ms": "ms",
    "repeat_tail_ms": "ms",
    "throughput_ops_s": "1/s",
    "cpu_ms_per_op": "ms",
    "heap_mb": "MB",
}

# Spark and JVM figures are per-op means, the rest totals over the
# loop; see README.md. A layer a workload does not use reads 0 (the
# serving figures on find_live). What no workload's loop produces is
# in the run's detail line instead: Spark's shuffle fetch wait, always
# 0 in local mode, and durable state reads (serving.state_as_of),
# which as-of finds without filters never make.
PER_LAYER = {
    "api.construct_ms": "ms",
    "api.construct_jobs": "count",
    "api.memo_hits": "count",
    "api.memo_misses": "count",
    "py.cpu_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.deser_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.evictions": "count",
    "cache.build_ms": "ms",
    "cache.entries": "count",
    "serving.writes": "count",
    "serving.files_written": "count",
    "serving.log_bytes": "bytes",
    "serving.write_p50_ms": "ms",
    "serving.write_tail_ms": "ms",
    "serving.drain_ms": "ms",
    "serving.vacuum_ms": "ms",
    "serving.purge_ms": "ms",
    "jvm.cpu_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms",
    "trace.throughput_ops_s": "1/s",
    "trace.bookkeeping_pct": "%",
}

SPARK_PER_OP = (
    "jobs", "stages", "tasks", "task_cpu_ms", "gc_ms", "deser_ms",
    "shuffle_read_bytes", "shuffle_write_bytes",
)


def _py_cpu_ms() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return (r.ru_utime + r.ru_stime) * 1000.0


def _steal() -> tuple[float, float]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _parquet_files(d: str) -> tuple[int, int]:
    """(count, bytes) of the parquet files under d."""
    n = size = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.wl = workloads.WORKLOADS[workload]
        # the timed ops must end within this many seconds
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.sf = corpus.write(os.path.join(work, "corpus"))
        self.ops = workloads.STREAMS[workload](seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.records: list[dict] = []  # every op run: kind, op, rows, error
        self.handles: dict = {}  # request key -> the DataFrame handle it got
        self.layer: dict[str, float] = defaultdict(float)
        self.tracer = None
        self.horizon = -1
        self.detail: dict = {"workload": workload, "seed": seed, "trace": trace}

    # --- set-up ------------------------------------------------------------

    def setup(self) -> float:
        """Session start, index prebuild and the untimed warm-up."""
        t0 = time.perf_counter()
        from nucliadb_spark.session import get_session

        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.jvm = layers.Jvm(self.spark)
        self.detail["session_s"] = time.perf_counter() - t0
        if self.wl.name == "find_live":
            for req in workloads.prebuild_requests():
                self._op({"kind": "first", "req": req})
        else:
            self._stage_tranches()
        self.detail["prebuild_s"] = time.perf_counter() - t0 - self.detail["session_s"]
        for _ in range(self.wl.warmup_ops):
            self._op(next(self.ops))
        return time.perf_counter() - t0

    def _stage_tranches(self) -> None:
        """Write the content op log once, split into the generator's
        tranches; a drain moves the next tranche into the arrivals
        directory the stream source reads."""
        from pyspark.sql import functions as F

        from nucliadb_spark.sources import tpch
        from nucliadb_spark.streaming import ingest

        self.heads = workloads.tranche_heads()
        tranche = F.lit(len(self.heads) - 1)
        for i in reversed(range(len(self.heads))):
            tranche = F.when(F.col("seq") <= self.heads[i], i).otherwise(tranche)
        self.staged = os.path.join(self.work, "tranches")
        self.arrivals = os.path.join(self.work, "arrivals")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.arrivals)
        ingest.cdc_log(tpch.fields(self.spark, self.sf)).withColumn(
            "tranche", tranche
        ).repartition("tranche").write.partitionBy("tranche").parquet(self.staged)

    # --- operations --------------------------------------------------------

    def _op(self, op: dict, op_id: int | None = None) -> None:
        """Run one op; op_id is set for timed ops."""
        rec = {"kind": op["kind"], "op": op, "rows": None, "error": None}
        t0 = time.perf_counter()
        try:
            if "req" in op or "seq" in op:
                rec["rows"] = self._find(op, op_id)
            else:
                self._write(op, op_id)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"op failed: {op}: {rec['error']}", file=sys.stderr)
        ms = (time.perf_counter() - t0) * 1000.0
        self.records.append(rec)
        if op_id is not None and rec["error"] is None:
            self.samples[op["kind"] if op["kind"] in ("first", "repeat") else "write"].append(ms)

    def _find(self, op: dict, op_id: int | None) -> list[tuple]:
        """Construct a find request's plan, then collect it."""
        from nucliadb_spark import api

        if "req" in op:
            key = json.dumps(op["req"], sort_keys=True)
            req = twins.find_request(op["req"])
        else:
            key = (op["top_k"], op["seq"])
            req = twins.asof_request(*key)
        tr = self.tracer if op_id is not None else None
        if tr:
            tr.begin(op_id, "construct")
        df = api.find_request(self.spark, self.sf, req)
        if tr:
            m = tr.end(op_id, "construct")
            self.layer["api.construct_jobs"] += m.get("jobs", 0.0)
            self._add_spark(m)
            # a memo hit hands a repeat the same DataFrame handle
            self.layer["api.memo_hits" if self.handles.get(key) is df else "api.memo_misses"] += 1
            tr.begin(op_id)
        self.handles[key] = df
        rows = [(r["id"], r["score"], list(r["matched_sources"])) for r in df.collect()]
        if tr:
            self._add_spark(tr.end(op_id))
        return rows

    def _write(self, op: dict, op_id: int | None) -> None:
        from nucliadb_spark import serving
        from nucliadb_spark.streaming import ingest

        tr = self.tracer if op_id is not None else None
        if tr:
            tr.begin(op_id)
        if op["kind"] == "drain":
            i = self.heads.index(op["upto"])
            for f in glob.glob(os.path.join(self.staged, f"tranche={i}", "*.parquet")):
                os.rename(f, os.path.join(self.arrivals, f"t{i}-" + os.path.basename(f)))
            before = _parquet_files(self._log_dir())[0] if self._log_dir() else 0
            serving.stream_maintained_log(self.spark, self.sf, LOG, self.arrivals, self.ckpt)
            if tr:
                self.layer["serving.files_written"] += _parquet_files(self._log_dir())[0] - before
        else:
            serving.vacuum_family(
                self.spark, self.sf, LOG, None, ingest.cdc_live_fields, ("rid",), op["horizon"]
            )
            serving.purge_log(self.spark, self.sf, LOG, op["horizon"])
            self.horizon = op["horizon"]
        if tr:
            self._add_spark(tr.end(op_id))

    def _log_dir(self) -> str | None:
        from nucliadb_spark import serving

        d = serving._LOG_DIRS.get(serving._key(self.spark, self.sf, LOG))
        return d and os.path.join(d, "log")

    def _add_spark(self, m: dict[str, float]) -> None:
        for k, v in m.items():
            self.layer["spark." + k] += v

    # --- the timed loop ----------------------------------------------------

    def loop(self) -> dict:
        if self.trace:
            self.tracer = layers.Tracer(self.spark)
            self.tracer.install()
        steal0 = _steal()
        jvm0 = (self.jvm.cpu_ms(), self.jvm.jit_ms(), self.jvm.gc_ms())
        py0 = _py_cpu_ms()
        t0 = time.perf_counter()
        n = self.wl.timed_ops
        for op_id in range(n):
            self._op(next(self.ops), op_id=op_id)
            if time.perf_counter() - t0 > self.seconds:
                raise RuntimeError(
                    f"the timed loop passed --seconds {self.seconds:g} after {op_id + 1} of {n} ops"
                )
        wall = time.perf_counter() - t0
        py = _py_cpu_ms() - py0
        jvm = (self.jvm.cpu_ms() - jvm0[0], self.jvm.jit_ms() - jvm0[1], self.jvm.gc_ms() - jvm0[2])
        steal1 = _steal()
        if self.tracer:
            self.tracer.uninstall()
        return {
            "ops": n,
            "wall_s": wall,
            "py_cpu_ms": py,
            "jvm_cpu_ms": jvm[0],
            "jvm_jit_ms": jvm[1],
            "jvm_gc_ms": jvm[2],
            "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1.0),
        }

    # --- checks ------------------------------------------------------------

    def check(self) -> tuple[int, int]:
        """(attempted, failed): every op run, plus every state read
        back; an op fails on an error or an output that differs from
        its DuckDB twin."""
        con = twins.connect(self.sf, os.path.join(self.work, "duckdb-tmp"))
        want: dict = {}
        failed = 0
        for rec in self.records:
            op = rec["op"]
            bad = rec["error"]
            if bad is None and rec["rows"] is not None:
                if "req" in op:
                    key, sql = json.dumps(op["req"], sort_keys=True), lambda: twins.find_sql(op["req"])
                else:
                    key, sql = (op["top_k"], op["seq"]), lambda: twins.asof_find_sql(op["top_k"], op["seq"])
                try:
                    if key not in want:
                        want[key] = con.execute(sql()).fetchall()
                    bad = twins.ranked_mismatch(rec["rows"], want[key])
                except Exception as e:  # noqa: BLE001 — a twin that cannot run fails the op
                    bad = f"{type(e).__name__}: {e}"
                if bad:
                    print(f"mismatch: {op}: {bad}", file=sys.stderr)
            failed += bad is not None
        attempted = len(self.records)
        if self.wl.name == "asof_cdc":
            seqs = sorted({r["op"]["seq"] for r in self.records if r["op"].get("seq", -1) >= self.horizon})
            attempted += len(seqs)
            failed += sum(self._state_mismatch(con, seq) for seq in seqs)
        con.close()
        return attempted, failed

    def _state_mismatch(self, con, seq: int) -> bool:
        """The content family's served state at seq against the
        full-log twin."""
        from nucliadb_spark import serving
        from nucliadb_spark.streaming import ingest

        try:
            got = serving.state_as_of(
                self.spark, self.sf, LOG, None, ingest.cdc_live_fields, ("rid",), seq
            ).select("rid", "text").collect()
            bad = twins.rows_mismatch([tuple(r) for r in got], con.execute(twins.state_sql(seq)).fetchall())
        except Exception as e:  # noqa: BLE001 — a state that cannot be read fails
            bad = f"{type(e).__name__}: {e}"
        if bad:
            print(f"state mismatch at seq {seq}: {bad}", file=sys.stderr)
        return bad is not None

    # --- metrics -----------------------------------------------------------

    def metrics(self, setup_s: float, loop: dict) -> dict:
        out = {"setup_s": setup_s}
        first, repeat = self.samples["first"], self.samples["repeat"]
        out["first_p50_ms"] = stats.percentile(first, 50)
        out["repeat_p50_ms"] = stats.percentile(repeat, 50)
        out["repeat_tail_ms"], self.detail["repeat_tail_percentile"] = stats.tail(repeat)
        self.detail["first_samples"], self.detail["repeat_samples"] = len(first), len(repeat)
        # in op order, for telling a slow run's slow ops apart
        self.detail["samples_ms"] = {k: [round(x, 1) for x in v] for k, v in self.samples.items()}
        out["throughput_ops_s"] = loop["ops"] / loop["wall_s"]
        out["cpu_ms_per_op"] = (loop["jvm_cpu_ms"] + loop["py_cpu_ms"]) / loop["ops"]
        out["heap_mb"] = self.jvm.heap_mb()
        return out

    def layer_metrics(self, loop: dict) -> dict:
        from nucliadb_spark import cache

        tr = self.tracer
        ops = loop["ops"]
        finds = tr.calls("api.find_request")
        writes = self.samples["write"]
        log_dir = self._log_dir()
        return {
            "api.construct_ms": tr.time_s("api.find_request") * 1000.0 / finds,
            "api.construct_jobs": self.layer["api.construct_jobs"] / finds,
            "api.memo_hits": self.layer["api.memo_hits"],
            "api.memo_misses": self.layer["api.memo_misses"],
            "py.cpu_ms": loop["py_cpu_ms"] / ops,
            **{f"spark.{k}": self.layer[f"spark.{k}"] / ops for k in SPARK_PER_OP},
            "cache.hits": tr.calls("cache.cached_df", miss=False),
            "cache.misses": tr.calls("cache.cached_df", miss=True),
            "cache.evictions": cache.EVICTIONS - self.evictions0,
            "cache.build_ms": tr.build_s() * 1000.0,
            "cache.entries": len(cache._CACHE),
            "serving.writes": len(writes),
            "serving.files_written": self.layer["serving.files_written"],
            "serving.log_bytes": _parquet_files(log_dir)[1] if log_dir else 0,
            "serving.write_p50_ms": stats.percentile(writes, 50) if writes else 0.0,
            "serving.write_tail_ms": stats.tail(writes)[0] if writes else 0.0,
            "serving.drain_ms": tr.time_s("serving.stream_maintained_log") * 1000.0,
            "serving.vacuum_ms": tr.time_s("serving.vacuum_family") * 1000.0,
            "serving.purge_ms": tr.time_s("serving.purge_log") * 1000.0,
            "jvm.cpu_ms": loop["jvm_cpu_ms"] / ops,
            "jvm.jit_ms": loop["jvm_jit_ms"] / ops,
            "jvm.gc_ms": loop["jvm_gc_ms"] / ops,
            "trace.throughput_ops_s": ops / loop["wall_s"],
            "trace.bookkeeping_pct": 100.0 * tr.self_s / loop["wall_s"],
        }

    # --- whole run ---------------------------------------------------------

    def execute(self) -> dict:
        from nucliadb_spark import cache

        setup_s = self.setup()
        self.evictions0 = cache.EVICTIONS
        loop = self.loop()
        if self.trace:
            metrics, units = self.layer_metrics(loop), PER_LAYER
            self.detail["spans"] = self.tracer.summary()
            self.detail["write_tail_percentile"] = (
                stats.tail_percentile(len(self.samples["write"])) if self.samples["write"] else None
            )
            self.detail["spark_fetch_wait_ms"] = self.layer["spark.fetch_wait_ms"]
        else:
            metrics, units = self.metrics(setup_s, loop), END_TO_END
        t0 = time.perf_counter()
        attempted, failed = self.check()
        self.detail["check_s"] = time.perf_counter() - t0
        sizes = [(e.size or 0, e.pinned) for e in cache._CACHE.values()]
        self.detail.update(
            loop,
            loadavg=os.getloadavg(),
            versions={
                "spark": self.spark.version,
                "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": platform.python_version(),
            },
            cache_max_bytes=cache.MAX_BYTES,
            cache_unpinned_bytes=sum(b for b, p in sizes if not p),
            cache_pinned_bytes=sum(b for b, p in sizes if p),
        )
        print(json.dumps(self.detail, sort_keys=True))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and the Python
        workers it started) to end."""
        from pyspark import SparkContext

        if not hasattr(self, "spark"):
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                proc.kill()
                proc.wait()
