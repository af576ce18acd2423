"""Optimization r14, guide §1: empirical per-query breakdown.

Runs the bench headline set exactly like bench.py (same warm-up, one
untimed warm run, one timed run) with the Spark event log enabled,
then parses the event log to attribute each timed run's wall time:

  n_jobs / n_stages / n_tasks, summed task metrics (executor run,
  deserialize, result serialization, GC, shuffle fetch wait, shuffle
  write), and the gap between wall time and stage time (= driver/
  planning/scheduling overhead).

Usage: python scripts/r14_profile.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/sparklogs_r14"
os.makedirs(EVDIR, exist_ok=True)
os.environ["SPARK_GRAFT_EVENTLOG"] = EVDIR  # picked up by session.py if wired

from pyspark.sql import SparkSession  # noqa: E402


def get_profiled_session():
    from nucliadb_spark import session as sess_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName("r14_profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVDIR)
    )
    return builder.getOrCreate()


def main() -> None:
    only = set(sys.argv[1:])
    SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from nucliadb_spark import registry

    spark = get_profiled_session()
    app_id = spark.sparkContext.applicationId
    spark.range(1).count()
    for t in ["part", "documents", "embeddings", "lineitem", "orders", "events"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").schema

    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators import ann as ann_ops
    from nucliadb_spark.operators import find as find_ops
    from nucliadb_spark.plans.queries_text import _fielded_text_index, _text_index
    from nucliadb_spark.sources import tpch

    post, stats = _text_index(spark, SF_DIR)
    post.count(), stats.count()
    tpch.relations_index(spark, SF_DIR).count()
    cached_df(
        SF_DIR, "ivf_centroids",
        lambda: ann_ops.cell_centroids(tpch.vectors(spark, SF_DIR)),
    ).count()
    find_ops.stub_embedding_sidecar(spark, SF_DIR).count()
    for ff in _fielded_text_index(spark, SF_DIR):
        ff.count()

    queries = registry.queries()
    names = [n for n in bench.HEADLINE if n in queries]
    if "stream_windowed_counts" in queries:
        names.append("stream_windowed_counts")
    if only:
        names = [n for n in names if n in only]

    walls: dict[str, float] = {}
    construct: dict[str, float] = {}
    for name in names:
        try:
            queries[name](spark, SF_DIR).collect()  # warm
            spark.sparkContext.setJobGroup(f"t_{name}", name)
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df.collect()
            walls[name] = round(time.perf_counter() - t0, 3)
            construct[name] = round(t1 - t0, 3)
        except Exception as exc:  # noqa: BLE001
            walls[name] = -1.0
            print(f"# {name} FAILED: {exc}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobGroup(None, None)

    spark.stop()  # flush event log
    time.sleep(2)

    # --- parse the event log (plain file or rolling eventlog_v2 dir) ---
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):
        cands = [f for f in os.listdir(EVDIR) if app_id in f]
        if not cands:
            print(json.dumps({"walls": walls, "construct": construct}))
            return
        path = os.path.join(EVDIR, cands[0])
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]

    def lines():
        for p in parts:
            with open(p) as f:
                yield from f
    jobs_by_group: dict[str, list[dict]] = {}
    stages: dict[int, dict] = {}
    task_metrics: dict[int, dict] = {}
    for line in lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                grp = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                jobs_by_group.setdefault(grp, []).append(
                    {
                        "job": ev["Job ID"],
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                        "t0": ev["Submission Time"],
                    }
                )
            elif e == "SparkListenerJobEnd":
                for js in jobs_by_group.values():
                    for j in js:
                        if j["job"] == ev["Job ID"]:
                            j["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "sub": si.get("Submission Time"),
                    "done": si.get("Completion Time"),
                    "ntask": si["Number of Tasks"],
                    "name": si["Stage Name"],
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                agg = task_metrics.setdefault(
                    sid,
                    {
                        "run": 0, "deser": 0, "ser": 0, "gc": 0,
                        "fetch": 0, "shwrite": 0, "cpu": 0, "n": 0,
                        "launch_gap": 0,
                    },
                )
                agg["run"] += m.get("Executor Run Time", 0)
                agg["deser"] += m.get("Executor Deserialize Time", 0)
                agg["ser"] += m.get("Result Serialization Time", 0)
                agg["gc"] += m.get("JVM GC Time", 0)
                agg["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                sr = m.get("Shuffle Read Metrics") or {}
                agg["fetch"] += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                agg["shwrite"] += sw.get("Shuffle Write Time", 0) / 1e6
                agg["n"] += 1

    out = []
    for name in names:
        jobs = jobs_by_group.get(f"t_{name}", [])
        sids = sorted({s for j in jobs for s in j["stages"]})
        exec_sids = [s for s in sids if s in stages]
        njobs = len(jobs)
        job_wall = sum((j.get("t1", j["t0"]) - j["t0"]) / 1000.0 for j in jobs)
        stage_wall = sum(
            (stages[s]["done"] - stages[s]["sub"]) / 1000.0
            for s in exec_sids
            if stages[s].get("sub") and stages[s].get("done")
        )
        ntasks = sum(stages[s]["ntask"] for s in exec_sids)
        agg = {
            k: round(sum(task_metrics.get(s, {}).get(k, 0) for s in exec_sids) / 1000.0, 3)
            for k in ("run", "deser", "ser", "gc", "fetch", "cpu", "shwrite")
        }
        out.append(
            {
                "q": name,
                "wall": walls.get(name),
                "construct": construct.get(name),
                "jobs": njobs,
                "job_wall": round(job_wall, 3),
                "stages_planned": len(sids),
                "stages_run": len(exec_sids),
                "tasks": ntasks,
                **agg,
            }
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
