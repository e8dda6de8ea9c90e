"""Reusable paired scale probe (the protocol behind SCALE_PROBES_r*.json).

Measures registered queries back-to-back at two fixture tiers in THIS
process (invoke it fresh — a pristine JVM is part of the protocol, see
bench.bench_sf1's docstring) and prints one JSON line per run:

    python tools/scale_probe.py --pair sf0.1:sf1 --repeats 2 \
        q95_embedding_dedup_groups
    python tools/scale_probe.py --pair sf1:sf10 q54_embedding_neardup

Tier names resolve through harness.resolve_tier: sf0.001/sf0.01/sf0.1 =
the driver fixtures; sf1/sf10 = /tmp-cached tiers derived from the
current sf0.1 (regenerated when the source fixtures change).

Protocol per session (the bench sf1 tier's, so readings compare): the
harness warm-up and prebuild for both tiers, every probed query
JIT-warmed at sf0.001, then per repeat: time small tier, time big tier.
A --timeout-s cap (default none) bounds the big side for known
scale-killers: a killed side is reported as ``timeout`` with the elapsed
floor — an honest "exceeds N seconds" reading. Streaming queries also
report per-micro-batch stats (``<tier>_per_batch``): a drain's wall time
is backlog-proportional by construction (more files = more batches), so
its scale_x overstates a stream's growth; the steady-state number is the
per-batch latency.
"""

from __future__ import annotations

import argparse
import json
import threading
import time

from harness import start, time_query


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--pair", default="sf0.1:sf1")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument(
        "--timeout-s",
        type=float,
        default=None,
        help="cap per big-tier side; a killed side reports 'timeout'",
    )
    args = ap.parse_args()
    small_name, big_name = args.pair.split(":")

    from discogs_load_spark.queries import REGISTRY

    for q in args.queries:
        if q not in REGISTRY:
            raise SystemExit(f"unknown query {q!r}")

    s = start(
        "discogs_load_spark_scale_probe",
        [small_name, big_name],
        jit_queries=args.queries,
    )
    spark, (small, big) = s.spark, s.dirs

    def timed(q: str, d: str, cap: float | None):
        if cap is None:
            return time_query(spark, q, d)
        # a query is one blocking action; enforce the cap from a
        # watchdog thread via Spark's job-group cancel
        spark.sparkContext.setJobGroup(q, q, interruptOnCancel=True)
        timer = threading.Timer(cap, spark.sparkContext.cancelJobGroup, [q])
        timer.start()
        t0 = time.monotonic()
        try:
            return time_query(spark, q, d)
        except Exception as e:
            # only the watchdog's own job-group cancellation counts as a
            # timeout — a genuine failure (OOM, analysis error) that
            # happens to surface after the cap must FAIL the probe, not
            # be recorded as a clean timeout floor (ADVICE r09)
            if time.monotonic() - t0 >= cap and "cancel" in str(e).lower():
                return "timeout", []
            raise
        finally:
            timer.cancel()
            # PySpark has no clearJobGroup; reset to an empty group
            spark.sparkContext.setJobGroup("", "")

    def settle() -> None:
        """Wait for cancelled jobs' tasks to actually drain: a timed-out
        query's cancellation is async, and the next measurement starting
        while its tasks wind down reads wildly inflated (observed 19x on
        q206's sf1 side in the r09 session that followed a q205
        timeout). Poll the status tracker until no job is active."""
        tracker = spark.sparkContext.statusTracker()
        t0 = time.monotonic()
        while tracker.getActiveJobsIds() and time.monotonic() - t0 < 120:
            time.sleep(1.0)
        time.sleep(2.0)  # executor-side task interrupts lag the tracker

    out: dict[str, list[dict]] = {}
    for _ in range(args.repeats):
        for q in args.queries:
            sec_s, lat_s = timed(q, small, None)
            sec_b, lat_b = timed(q, big, args.timeout_s)
            if sec_b == "timeout":
                settle()
            rec = {f"{small_name}_s": sec_s, f"{big_name}_s": sec_b}
            if isinstance(sec_b, float):
                rec["scale_x"] = round(sec_b / sec_s, 1)
            else:
                rec["scale_x_floor"] = round(args.timeout_s / sec_s, 1)
            for tier, lat in ((small_name, lat_s), (big_name, lat_b)):
                if lat:
                    rec[f"{tier}_per_batch"] = {
                        "n_batches": len(lat),
                        "mean_s": round(sum(lat) / len(lat), 3),
                        "max_s": round(max(lat), 3),
                        "last_s": round(lat[-1], 3),
                    }
            if lat_s and lat_b:
                rec["per_batch_mean_scale_x"] = round(
                    sum(lat_b) / len(lat_b) / (sum(lat_s) / len(lat_s)), 1
                )
            out.setdefault(q, []).append(rec)
    print(
        json.dumps(
            {"pairing": f"{small_name} -> {big_name}", "queries": out},
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
