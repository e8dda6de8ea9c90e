"""Per-layer metrics of a traced run: spans joined with Spark's event log
and the streaming listener's progress events.

Window metrics are per pass: totals over the timed window scaled by
(operations in one pass) / (operations the window completed).
"""

from __future__ import annotations

import json
import statistics

import metrics as M
from spans import busy_seconds, find_event_log, parse_event_log


def per_layer(run, window) -> dict[str, float]:
    t = run.tracer
    elog = parse_event_log(find_event_log(run.run_dir / "eventlog"))
    out = {name: 0.0 for name, *_ in M.PER_LAYER}
    win = t.subtree(window.id)
    done = sum(len(v) for v in run.samples.values())
    f = run.ops_per_pass / done if done else 0.0

    def named(name, within=None):
        return [s for s in t.spans if s.name == name and (within is None or s.id in within)]

    def secs(name, within=None):
        return sum(s.seconds for s in named(name, within))

    def tree(spans):
        ids = set()
        for s in spans:
            ids |= t.subtree(s.id)
        return ids

    def counted(spans, key):
        return sum(t.spans[i].counts.get(key, 0) for i in tree(spans))

    def gaps(spans):
        return sum(s.seconds - busy_seconds(elog.jobs_in(t.subtree(s.id)), s.start, s.end) for s in spans)

    out["session.get_spark_s"] = secs("session.get_spark")
    out["session.load_tables_s"] = secs("session.load_tables")
    out["session.worker_warm_s"] = secs("session.worker_warm")

    # ingest layers
    loads = named("pipeline.load_dumps", win)
    if loads:
        jobs = elog.jobs_in(tree(loads))
        st, _ = elog.stats(jobs)
        scan, _ = elog.stats(jobs, only_scans=True)
        wall = sum(s.seconds for s in loads)
        out.update({
            "sources.sniff_s": f * secs("sources.sniff", win),
            "sources.preshard_s": f * secs("sources.preshard", win),
            "sources.parse_s": f * scan.run_ms / 1000,
            "sources.input_bytes": f * scan.input_bytes,
            "sources.parse_tasks": f * scan.tasks,
            "operators.shred.construct_s": f * secs("operators.shred", win),
            "operators.shred.shuffle_write_bytes": f * st.shuffle_write,
            "operators.shred.spill_bytes": f * st.spill,
            "sinks.write_s": f * secs("sinks.write", win),
            "sinks.output_bytes": f * st.output_bytes,
            "sinks.rows": f * st.output_rows,
            "sinks.files": statistics.mean(x["files"] for x in run.lakes[1:] or run.lakes),
            "sinks.lake_bytes_per_xml_byte": statistics.mean(
                x["bytes"] for x in run.lakes[1:] or run.lakes) / run.dumps.xml_bytes,
            "pipeline.load_dumps_s": f * wall,
            "pipeline.core_util": st.run_ms / 1000 / (wall * run.cpus),
            "pipeline.driver_gap_s": f * gaps(loads),
            "pipeline.records_per_s": run.dumps.records / statistics.median(run.samples["load_dumps"]),
        })
        cache_hit_guard(run, elog, t, named("pipeline.load_dumps"))

    # query layers: every declared-query call in the window
    qops = [s for s in t.spans if s.id in win and s.name.startswith("op.q")]
    if qops:
        jobs = elog.jobs_in(tree(qops))
        st, nstages = elog.stats(jobs)
        wall = sum(s.seconds for s in qops)
        out.update({
            "queries.construct_s": f * secs("queries.construct", win),
            "queries.exec_s": f * secs("queries.exec", win),
            "queries.driver_gap_s": f * gaps(qops),
            "queries.jobs": f * len(jobs),
            "queries.stages": f * nstages,
            "queries.tasks": f * st.tasks,
            "queries.executor_run_s": f * st.run_ms / 1000,
            "queries.executor_cpu_s": f * st.cpu_ns / 1e9,
            "queries.gc_s": f * st.gc_ms / 1000,
            "queries.shuffle_read_bytes": f * st.shuffle_read,
            "queries.shuffle_write_bytes": f * st.shuffle_write,
            "queries.spill_bytes": f * st.spill,
            "queries.input_bytes": f * st.input_bytes,
            "queries.core_util": st.run_ms / 1000 / (wall * run.cpus),
            "queries.failed_tasks": f * st.failed_tasks,
            "queries.driver_actions": f * counted(qops, "driver_actions"),
            "queries.collect_rows": f * counted(qops, "collect_rows"),
            "queries.python_bytes_out": f * st.py_out,
            "queries.python_bytes_in": f * st.py_in,
        })
        for q, lat in run.samples.items():
            if f"queries.{q}.wall_s" in out:
                calls = named(f"op.{q}", win)
                out[f"queries.{q}.wall_s"] = statistics.median(lat)
                out[f"queries.{q}.jobs"] = len(elog.jobs_in(tree(calls))) / len(calls)

    # artifact builds: all of set-up, plus the window's share per pass
    setup = t.subtree(named("setup")[0].id)
    for b in M.ARTIFACT_BUILDERS:
        name = f"queries.artifact.{b}"
        out[f"{name}_s"] = secs(name, setup) + f * secs(name, win)
    out["queries.artifact.build_s"] = sum(out[f"queries.artifact.{b}_s"] for b in M.ARTIFACT_BUILDERS)

    cc = named("operators.dedup.cc", win)
    out["operators.dedup.cc_calls"] = f * len(cc)
    out["operators.dedup.cc_s"] = f * sum(s.seconds for s in cc)
    out["operators.dedup.cc_jobs"] = f * len(elog.jobs_in(tree(cc)))

    out.update(streaming_layers(run, f, [s for s in qops if s.name[3:] in M.STREAMING_QUERIES]))

    out["trace.overhead_cpu_s"] = tracing_overhead(run)
    for name in ("pass_wall_s", "op_geomean_s", "op_tail_s"):
        out[f"run.{name}"] = run.figures[name]
    out["run.jit_cpu_s"] = run.figures["pass_jit_cpu_s"]
    out["run.setup_wall_s"] = run.figures["setup_wall_s"]
    out["run.failed_op_share"] = run.failed / run.attempted if run.attempted else 0.0
    return out


def streaming_layers(run, f: float, drains) -> dict[str, float]:
    """Micro-batch metrics of the timed drains, from the listener's progress."""
    batches = [b for b in run.batches if run.op_at(b["start"]) is not None]
    if not batches:
        return {}

    def total(key):
        return f * sum(b["durations"].get(key, 0) for b in batches) / 1000

    trigger = [b["durations"].get("triggerExecution", 0) / 1000 for b in batches]
    rows = sum(b["rows"] for b in batches)
    drain_wall = sum(s.seconds for s in drains)
    return {
        "streaming.batches": f * len(batches),
        "streaming.input_rows": f * rows,
        "streaming.trigger_s": total("triggerExecution"),
        "streaming.add_batch_s": total("addBatch"),
        "streaming.get_batch_s": total("getBatch"),
        "streaming.latest_offset_s": total("latestOffset"),
        "streaming.query_planning_s": total("queryPlanning"),
        "streaming.wal_commit_s": total("walCommit"),
        "streaming.commit_offsets_s": total("commitOffsets"),
        "streaming.state_rows": max(b["state_rows"] for b in batches),
        "streaming.state_memory_bytes": max(b["state_bytes"] for b in batches),
        "streaming.state_commit_s": f * sum(b["state_commit_ms"] for b in batches) / 1000,
        "streaming.drain_overhead_s": f * (drain_wall - sum(trigger)),
        "streaming.batch_p50_s": statistics.median(trigger),
        "streaming.drain_rows_per_s": rows / drain_wall if drain_wall else 0.0,
    }


def cache_hit_guard(run, elog, t, loads) -> None:
    """Every ingest pass must re-read its whole input: the bytes its scan
    stages read may not fall below the compressed size of the dumps."""
    need = run.dumps.gz_bytes * INPUT_SHARE_MIN
    for s in loads:
        scan, _ = elog.stats(elog.jobs_in(t.subtree(s.id)), only_scans=True)
        run.attempted += 1
        if scan.input_bytes < need:
            run.fail("cache-hit guard",
                     f"an ingest pass read {scan.input_bytes} input bytes, below the dumps' {need:.0f}")


# pre-shards are re-compressed at the dump's own gzip level, so the bytes a
# real re-parse reads sit near the dump size; a cache hit reads ~none
INPUT_SHARE_MIN = 0.9


def tracing_overhead(run) -> float:
    """Traced minus untraced CPU seconds of a pass for the same workload and
    seed, when an untraced result of this checkout exists; else 0."""
    p = run.results_dir / f"{run.args.workload}-s{run.args.seed}-t0.json"
    if not p.exists():
        return 0.0
    untraced = json.loads(p.read_text())["end_to_end"]["pass_cpu_s"]
    return run.figures["pass_cpu_s"] - untraced
