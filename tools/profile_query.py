"""Per-query profiler: time isolated queries through the noop sink with the
Spark event log enabled, then report where each query's time went, read
from the event log by perfbench's parser (perfbench/spans.py).

Usage:
    python tools/profile_query.py q219_streaming_cdc_index_maintenance [more...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py --plans q130_event_pagerank

--plans writes .explain("formatted") to plans/r<round>/<name>_<tag>.txt
(round from harness.bench_round; tag from --tag, default "before");
--conf=key=value adds a session conf. Each query runs twice after the
harness warm-up: the first run absorbs first-touch /tmp caches (stream
source copies, roundtrip dirs), the second is the suite-comparable
reading and the one profiled. Prints one WALL line and one summary line
per query: jobs, stages, tasks, executor run and CPU seconds, the
inter-job gap (wall not covered by any job: driver-side work), shuffle
read/write, spill, input and the bytes crossing the Python seam. A CPU
line per query splits the profiled run's process-tree CPU seconds
(perfbench's /proc readers) into the driver JVM less its JIT threads, the
Python workers (daemon and workers, exited ones included), and the
children the JVM forked and reaped (e.g. ``chmod`` when libhadoop is
missing), so a fixed cost at a process seam shows up without a profiler.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile
from pathlib import Path

from harness import REPO, bench_round, start, time_query  # puts REPO on sys.path

from perfbench.run import _comm, jit_cpu_s, proc_stats, process_tree
from perfbench.spans import Tracer, busy_seconds, find_event_log, parse_event_log

_TICK = os.sysconf("SC_CLK_TCK")


def _mb(n: float) -> str:
    return f"{n / 2**20:.1f}MB"


def cpu_split() -> dict[str, float]:
    """CPU seconds used so far by this process's descendants, by kind: the
    driver JVM's own threads less its JIT threads, the Python workers
    (with the workers the daemon has reaped), and the JVM's reaped
    children."""
    stats = proc_stats()
    out = {"jvm": -jit_cpu_s(), "py_workers": 0.0, "reaped": 0.0}
    for pid in process_tree(stats) - {os.getpid()}:
        if pid not in stats:
            continue
        f = stats[pid]
        own = (int(f[11]) + int(f[12])) / _TICK  # utime, stime
        reaped = (int(f[13]) + int(f[14])) / _TICK  # cutime, cstime
        comm = _comm(pid)
        if comm == "java":
            out["jvm"] += own
            out["reaped"] += reaped
        elif comm.startswith("python"):
            out["py_workers"] += own + reaped
    return out


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
    evdir = Path(tempfile.mkdtemp(prefix="profile_query_events_"))

    from discogs_load_spark.queries import REGISTRY

    s = start(
        "profile_query",
        [sf_dir],
        extra_conf={
            # one plain JSON-lines file, the format parse_event_log reads
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            **extra,
        },
    )
    spark, sf_dir = s.spark, s.dirs[0]
    tracer = Tracer("profile_query")
    tracer.spark = spark

    for name in args:
        if plans:
            pdir = REPO / "plans" / f"r{bench_round()}"
            pdir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                REGISTRY[name].fn(spark, sf_dir).explain("formatted")
            (pdir / f"{name}_{tag}.txt").write_text(buf.getvalue())
            spark.catalog.clearCache()
        cold, _ = time_query(spark, name, sf_dir)
        cpu0 = cpu_split()
        with tracer.span(name):
            wall, _ = time_query(spark, name, sf_dir)
        cpu = {k: v - cpu0[k] for k, v in cpu_split().items()}
        print(f"WALL {name} cold={cold:.3f}s warm={wall:.3f}s", flush=True)
        print(
            f"CPU {name} jvm_less_jit={cpu['jvm']:.2f}s "
            f"py_workers={cpu['py_workers']:.2f}s reaped={cpu['reaped']:.2f}s",
            flush=True,
        )

    spark.stop()
    log = parse_event_log(find_event_log(evdir))
    shutil.rmtree(evdir)
    for span in tracer.spans:
        jobs = log.jobs_in({span.id})
        st, n_stages = log.stats(jobs)
        gap = span.seconds - busy_seconds(jobs, span.start, span.end)
        print(
            f"=== {span.name}: wall={span.seconds:.3f}s jobs={len(jobs)} "
            f"stages={n_stages} tasks={st.tasks} run={st.run_ms / 1000:.2f}s "
            f"cpu={st.cpu_ns / 1e9:.2f}s inter_job_gap={gap:.2f}s "
            f"shuffle_read={_mb(st.shuffle_read)} "
            f"shuffle_write={_mb(st.shuffle_write)} spill={_mb(st.spill)} "
            f"input={_mb(st.input_bytes)} py_out={_mb(st.py_out)} "
            f"py_in={_mb(st.py_in)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
