"""Reusable paired scale probe (the protocol behind SCALE_PROBES_r*.json).

Measures registered queries back-to-back at two fixture tiers in THIS
process (invoke it fresh — a pristine JVM is part of the protocol, see
bench.bench_sf1's docstring) and prints one JSON line per run:

    python tools/scale_probe.py --pair sf0.1:sf1 --repeats 2 \
        q95_embedding_dedup_groups
    python tools/scale_probe.py --pair sf1:sf10 q54_embedding_neardup

Tier names resolve to: sf0.001/sf0.01/sf0.1 = the driver fixtures;
sf1/sf10 = /tmp-cached derived tiers (tools/gen_sf1.py, scale 1/10 of the
current sf0.1 — regenerated when the source fixtures' fingerprint
changes, same rule as bench.py's sf1 tier).

Protocol per session (identical to the bench sf1 tier so readings are
comparable): noop-sink + Python-worker-pool + image-path warmups, both
tiers' tables materialized (reshard + page cache), every probed query
JIT-warmed at sf0.001, then per repeat: time small tier, time big tier,
clearCache. A --timeout-s cap (default none) bounds the big side for
known scale-killers: a killed side is reported as ``timeout`` with the
elapsed floor — an honest "exceeds N seconds" reading.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for p in (str(REPO), str(REPO / "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
DERIVED = {"sf1": ("/tmp/spark_graft_sf1", 1), "sf10": ("/tmp/spark_graft_sf10", 10)}


def resolve_tier(spark, name: str) -> str:
    if name in DERIVED:
        out_dir, scale = DERIVED[name]
        _ensure_derived(spark, out_dir, scale)
        return out_dir
    d = TESTDATA / name
    if not d.is_dir():
        raise SystemExit(f"unknown tier {name!r} ({d} missing)")
    return str(d)


def _ensure_derived(spark, out_dir: str, scale: int) -> None:
    """Generate (or reuse) a derived tier; same source-fingerprint cache
    rule as bench.py so a driver fixture regeneration can't leave a probe
    tiling last round's data."""
    from gen_sf1 import GEN_VERSION

    src = str(TESTDATA / "sf0.1")
    fp = f"gen{GEN_VERSION}|" + "|".join(
        f"{n}:{os.path.getsize(p)}:{int(os.path.getmtime(p))}"
        for n in ("documents", "embeddings", "events", "lineitem")
        for p in [os.path.join(src, f"{n}.parquet")]
        if os.path.exists(p)
    )
    marker = os.path.join(out_dir, "_source_fp.txt")
    have = all(
        os.path.exists(os.path.join(out_dir, f"{n}.parquet"))
        for n in ("documents", "embeddings", "events", "lineitem")
    )
    if have and os.path.exists(marker) and open(marker).read() == fp:
        return
    from gen_sf1 import generate_sf1

    t0 = time.monotonic()
    generate_sf1(spark, src, out_dir, scale=scale)
    with open(marker, "w") as f:
        f.write(fp)
    print(
        f"# generated {out_dir} (scale={scale}) in "
        f"{time.monotonic() - t0:.0f}s",
        file=sys.stderr,
    )


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

    from bench import _materialize, _warm_image_path

    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.session import get_spark, load_tables

    for q in args.queries:
        if q not in REGISTRY:
            raise SystemExit(f"unknown query {q!r}")

    spark = get_spark(app_name="discogs_load_spark_scale_probe")
    spark.range(1000).selectExpr("sum(id) AS s").write.format("noop").mode(
        "overwrite"
    ).save()
    warm = spark.range(256).repartition(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    _materialize(warm.mapInPandas(lambda it: it, "id long"))
    _warm_image_path(spark, warm)

    small = resolve_tier(spark, small_name)
    big = resolve_tier(spark, big_name)
    for d in (small, big):
        for df in load_tables(spark, d).values():
            _materialize(df)

    # every ingest artifact (queries/artifacts.py) is built for both
    # tiers OUTSIDE the timed windows, so a probe measures the query's
    # own read shape, never re-ingest (r13's probe sessions showed the
    # FIRST query touching a tier absorbing the centroid Lloyd build).
    # The builds themselves are timed by bench.py (artifact_build_s).
    from discogs_load_spark.queries.artifacts import prebuild

    for d in (small, big):
        prebuild(spark, d, rebuild=False)

    tiny = str(TESTDATA / "sf0.001")
    if os.path.isdir(tiny):
        for q in args.queries:
            _materialize(REGISTRY[q].fn(spark, tiny))
        spark.catalog.clearCache()

    def timed(q: str, d: str, cap: float | None) -> float | str:
        if cap is not None:
            # a query is one blocking action; enforce the cap from a
            # watchdog thread via Spark's job-group cancel
            import threading

            spark.sparkContext.setJobGroup(q, q, interruptOnCancel=True)
            timer = threading.Timer(
                cap, spark.sparkContext.cancelJobGroup, [q]
            )
            timer.start()
        t0 = time.monotonic()
        try:
            _materialize(REGISTRY[q].fn(spark, d))
            return round(time.monotonic() - t0, 2)
        except Exception as e:
            # only the watchdog's own job-group cancellation counts as a
            # timeout — a genuine failure (OOM, analysis error) that
            # happens to surface after the cap must FAIL the probe, not
            # be recorded as a clean timeout floor (ADVICE r09)
            if (
                cap is not None
                and time.monotonic() - t0 >= cap
                and "cancel" in str(e).lower()
            ):
                return "timeout"
            raise
        finally:
            if cap is not None:
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

    def per_batch_stats(q: str) -> dict | None:
        """Per-micro-batch latencies for the streaming-maintenance trio
        (VERDICT r11 item 5): drain wall time is backlog-proportional by
        construction (more files = more batches), so a drain-total
        scale_x overstates a streaming query's growth; the steady-state
        number is the per-batch latency. Read from
        streaming.BATCH_LATENCIES, which each drain resets and fills."""
        from discogs_load_spark.queries import streaming

        lat = streaming.BATCH_LATENCIES.get(q)
        if not lat:
            return None
        return {
            "n_batches": len(lat),
            "mean_s": round(sum(lat) / len(lat), 3),
            "max_s": round(max(lat), 3),
            "last_s": round(lat[-1], 3),
        }

    out: dict[str, list[dict]] = {}
    for _ in range(args.repeats):
        for q in args.queries:
            s = timed(q, small, None)
            pb_small = per_batch_stats(q)
            # ADVICE r12: drop the small run's latencies BEFORE the big
            # run — if the big drain dies or times out before its
            # _timed_foreach_batch wrapper resets the list, the stale
            # small-tier latencies would masquerade as the big tier's
            # and record a phantom per_batch_mean_scale_x of ~1.0.
            from discogs_load_spark.queries import streaming as _streaming

            _streaming.BATCH_LATENCIES.pop(q, None)
            b = timed(q, big, args.timeout_s)
            if b == "timeout":
                settle()
            spark.catalog.clearCache()
            rec = {f"{small_name}_s": s, f"{big_name}_s": b}
            if isinstance(b, float):
                rec["scale_x"] = round(b / s, 1)
            else:
                rec["scale_x_floor"] = round(args.timeout_s / s, 1)
            if pb_small:
                rec[f"{small_name}_per_batch"] = pb_small
                pb_big = per_batch_stats(q)
                if pb_big:
                    rec[f"{big_name}_per_batch"] = pb_big
                    rec["per_batch_mean_scale_x"] = round(
                        pb_big["mean_s"] / pb_small["mean_s"], 1
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
