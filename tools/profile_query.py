"""Per-query profiler: time isolated queries through the noop sink with the
Spark event log enabled, then summarize where the wall time went (jobs,
stages, task-time, shuffle bytes, Python eval presence).

Usage:
    python tools/profile_query.py q219_streaming_cdc_index_maintenance [more...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py --plans q130_event_pagerank

Writes .explain("formatted") to plans/r15/<name>_<tag>.txt (SPARK_GRAFT_PLANS_DIR) with --plans
(tag from --tag, default "before"). Prints one summary line per query plus a
per-job breakdown. The warmup mirrors bench.py so numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

EVDIR = "/tmp/spark_graft_events"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans = "--plans" in sys.argv
    tag = "before"
    extra = {}
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--conf="):
            k, v = a[len("--conf=") :].split("=", 1)
            extra[k] = v
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(EVDIR, exist_ok=True)

    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.session import get_spark, load_tables

    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            **extra,
        },
    )
    app_id = spark.sparkContext.applicationId
    sc = spark.sparkContext

    # bench.py warmup parity
    spark.range(1000).selectExpr("sum(id) AS s").write.format("noop").mode(
        "overwrite"
    ).save()
    for df in load_tables(spark, sf_dir).values():
        df.write.format("noop").mode("overwrite").save()
    warm = spark.range(256).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    warm.mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    from bench import _warm_image_path

    _warm_image_path(spark, warm)

    # prebuild the ingest artifacts exactly like bench.py does, so
    # per-query numbers here are comparable to the suite's rows
    from discogs_load_spark.queries.artifacts import prebuild

    prebuild(spark, sf_dir, rebuild=False)

    results = {}
    for name in args:
        fn = REGISTRY[name].fn
        if plans:
            df = fn(spark, sf_dir)
            pdir = REPO / "plans" / os.environ.get(
                "SPARK_GRAFT_PLANS_DIR", "r15"
            )
            pdir.mkdir(parents=True, exist_ok=True)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (pdir / f"{name}_{tag}.txt").write_text(buf.getvalue())
            spark.catalog.clearCache()
        # two passes: pass 1 absorbs first-touch /tmp caches (stream source
        # copies, roundtrip dirs); pass 2 is the suite-comparable number
        # (bench re-times the slowest queries and keeps the min) and is the
        # one the PROF: label wraps for the event-log breakdown
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = time.monotonic() - t0
        spark.catalog.clearCache()
        sc.setJobDescription(f"PROF:{name}")
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        sc.setJobDescription(None)
        spark.catalog.clearCache()
        results[name] = round(wall, 3)
        print(f"WALL {name} cold={cold:.3f}s warm={wall:.3f}s", flush=True)

    spark.stop()
    summarize(Path(EVDIR) / app_id, results)


def summarize(log_path: Path, results: dict) -> None:
    """Group jobs by description; report per-query job count, task time,
    shuffle bytes, and the slowest stages."""
    v2 = log_path.with_name("eventlog_v2_" + log_path.name)
    paths = [log_path]
    if v2.is_dir():  # Spark 4 rolling event log: events_N_appId[.codec]
        paths = sorted(
            p for p in v2.iterdir() if p.name.startswith("events_")
        )
    for lp in list(paths):
        if not lp.exists():
            for c in (".lz4", ".zstd", ".snappy", ".inprogress"):
                if lp.with_name(lp.name + c).exists():
                    paths[paths.index(lp)] = lp.with_name(lp.name + c)
                    break
    jobs = {}  # job_id -> {desc, submit, end, stages:[]}
    stages = {}  # stage_id -> {name, task_time_ms, n_tasks, shuffle_read, shuffle_write, input, launch, done}
    import itertools

    def _lines():
        for lp in paths:
            opener = open
            if lp.suffix == ".lz4":
                import lz4.frame

                opener = lz4.frame.open
            elif lp.suffix == ".zstd":
                import zstandard

                def opener(p, m):
                    return zstandard.open(p, "rt")
            with opener(lp, "rt") as f:
                yield from f

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                jobs[jid] = {
                    "desc": desc,
                    "submit": ev.get("Submission Time", 0),
                    "end": None,
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:80],
                    "n_tasks": si.get("Number of Tasks", 0),
                    "submit": si.get("Submission Time"),
                    "done": si.get("Completion Time"),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                m = ev.get("Task Metrics") or {}
                st["task_time_ms"] = st.get("task_time_ms", 0) + m.get(
                    "Executor Run Time", 0
                )
                st["shuffle_read"] = st.get("shuffle_read", 0) + (
                    m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                    + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                )
                st["shuffle_write"] = st.get("shuffle_write", 0) + m.get(
                    "Shuffle Write Metrics", {}
                ).get("Shuffle Bytes Written", 0)
                st["input"] = st.get("input", 0) + m.get(
                    "Input Metrics", {}
                ).get("Bytes Read", 0)
                st["python_ms"] = st.get("python_ms", 0)

    by_desc: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        by_desc.setdefault(j["desc"], []).append((jid, j))

    for desc, js in by_desc.items():
        if not desc.startswith("PROF:"):
            continue
        name = desc[5:]
        n_jobs = len(js)
        wall_jobs = sum(
            (j["end"] - j["submit"]) / 1000.0 for _, j in js if j["end"]
        )
        gaps = []
        prev_end = None
        for _, j in js:
            if prev_end is not None and j["submit"] and j["end"]:
                gaps.append((j["submit"] - prev_end) / 1000.0)
            prev_end = j["end"]
        stage_rows = []
        ttime = 0
        for _, j in js:
            for sid in j["stages"]:
                st = stages.get(sid)
                if st and st.get("done"):
                    dur = (st["done"] - (st.get("submit") or st["done"])) / 1000.0
                    ttime += st.get("task_time_ms", 0)
                    stage_rows.append(
                        (
                            dur,
                            sid,
                            st.get("n_tasks", 0),
                            st.get("task_time_ms", 0),
                            st.get("input", 0),
                            st.get("shuffle_read", 0),
                            st.get("shuffle_write", 0),
                            st.get("name", ""),
                        )
                    )
        print(
            f"\n=== {name}: wall={results.get(name)}s jobs={n_jobs} "
            f"job_wall={wall_jobs:.2f}s inter_job_gap={sum(gaps):.2f}s "
            f"task_time={ttime/1000.0:.1f}s"
        )
        for dur, sid, n, tt, inp, sr, sw, nm in sorted(stage_rows, reverse=True)[:12]:
            print(
                f"  stage {sid:5d} {dur:7.2f}s tasks={n:4d} task_time={tt/1000.0:7.2f}s "
                f"in={inp >> 20}MB sr={sr >> 20}MB sw={sw >> 20}MB  {nm}"
            )


if __name__ == "__main__":
    main()
