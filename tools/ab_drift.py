"""A/B attribution harness for the r12->r13 suite-timing drift
(VERDICT r13 item 4).

The question: the per-query sum rose +17% r12->r13 across UNRELATED
query families with zero gate suspects. Two candidate causes:
(a) ambient load at judging time, (b) r13's real suite changes (3 more
queries, 2 more artifact builds, heavier streaming churn) pressuring
shared state (JVM heap, codegen cache, /tmp artifacts) for everyone.

The controlled comparison: run the SAME suite loop shape as bench.py's
sf0.1 sweep (same prebuilds, sorted order, clearCache between queries,
no top-12 re-time — raw single readings, which is what drifted) twice
in fresh processes under today's shared ambient:

  arm A: exactly the r12 query set (219 names from BENCH_perquery_r12)
  arm B: exactly the r13 query set (222 names from BENCH_perquery_r13)

If the shared 219 names time the same in both arms, suite COMPOSITION
is not the mechanism and the r12->r13 shift reads as ambient; if arm B
inflates the shared names, composition pressure is real and the common
cause is named by whichever stage differs. Absolute sums vs the r12/r13
sidecars locate today's ambient band.

Usage: python tools/ab_drift.py {r12|r13} OUT.json
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    arm, out_path = sys.argv[1], sys.argv[2]
    sidecar = json.loads(
        (REPO / f"BENCH_perquery_{arm}.json").read_text()
    )
    names = sorted(sidecar["per_query"])

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.session import get_spark

    missing = [n for n in names if n not in REGISTRY]
    assert not missing, f"sidecar names not in REGISTRY: {missing}"

    spark = get_spark(app_name=f"ab_drift_{arm}")

    # the suite's prebuild (bench.py main)
    from bench import _materialize
    from discogs_load_spark.queries.artifacts import prebuild

    prebuild(spark, sf_dir, rebuild=True)

    timings: dict[str, float] = {}
    for name in names:
        t0 = time.monotonic()
        _materialize(REGISTRY[name].fn(spark, sf_dir))
        timings[name] = round(time.monotonic() - t0, 3)
        spark.catalog.clearCache()

    Path(out_path).write_text(
        json.dumps(
            {
                "arm": arm,
                "n_queries": len(timings),
                "total_s": round(sum(timings.values()), 3),
                "per_query": timings,
            },
            indent=1,
            sort_keys=True,
        )
    )
    print(f"{arm}: {len(timings)} queries, {round(sum(timings.values()), 1)} s")


if __name__ == "__main__":
    main()
