"""The one measurement harness behind ``bench.py`` and the tools here: a
session warmed the same way for every reading, one timed query run, and
the micro-batch latencies of the streams a query ran, read from Spark's
own progress events.

    from harness import start, time_query

    s = start("my_probe", ["sf0.1", "sf1"])
    for d in s.dirs:
        seconds, batch_seconds = time_query(s.spark, "q218_streaming_index_ingest", d)
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import threading
import time
from pathlib import Path
from typing import Iterable, NamedTuple

from pyspark.sql.streaming import StreamingQueryListener

REPO = Path(__file__).resolve().parent.parent
for _p in (str(REPO), str(REPO / "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
# derived tier name -> (cache dir, gen_sf1 scale); generated from sf0.1
DERIVED = {
    "sf1": (os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"), 1),
    "sf10": ("/tmp/spark_graft_sf10", 10),
}
# upper bound on the wait for a finished stream's last progress event
STREAM_EVENTS_TIMEOUT_S = 60.0


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def bench_round(repo: Path = REPO) -> int:
    """The round a bench run belongs to: ``$SPARK_GRAFT_BENCH_ROUND``, else
    one past the newest ``BENCH_r<N>.json`` (that record is written after
    the round's runs). Pin the variable when re-running a finished round:
    unpinned, the run counts itself as the next round and its gates
    compare against its own round's sidecar."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if env:
        return int(env)
    return 1 + max(
        (
            int(m.group(1))
            for p in repo.glob("BENCH_r*.json")
            for m in [re.match(r"BENCH_r(\d+)\.json$", p.name)]
            if m
        ),
        default=0,
    )


def resolve_tier(spark, tier: str) -> str:
    """A fixture directory as given; a fixture tier name under
    ``$SPARK_GRAFT_TESTDATA`` (sf0.001, sf0.01, sf0.1); or a derived tier
    (sf1, sf10), generated from the sf0.1 fixtures when missing or stale
    (``gen_sf1.ensure_tier``)."""
    if tier in DERIVED:
        from gen_sf1 import ensure_tier

        out_dir, scale = DERIVED[tier]
        ensure_tier(spark, str(TESTDATA / "sf0.1"), out_dir, scale)
        return out_dir
    d = Path(tier) if os.path.isdir(tier) else TESTDATA / tier
    if not d.is_dir():
        raise SystemExit(f"unknown tier {tier!r} ({d} missing)")
    return str(d)


def _materialize(df) -> None:
    """Full materialization through the noop sink: a bare count() would
    let Catalyst prune the computed columns and flatter the reading."""
    df.write.format("noop").mode("overwrite").save()


class Started(NamedTuple):
    spark: object
    dirs: list[str]  # the resolved fixture dirs, in the order asked
    builds: list[dict[str, float]]  # artifacts.prebuild seconds, per dir
    gen_s: float  # seconds spent generating derived tiers


def start(
    app_name: str,
    tiers: Iterable[str],
    extra_conf: dict[str, str] | None = None,
    rebuild: bool = False,
    jit_queries: Iterable[str] = (),
) -> Started:
    """A session warmed so that a reading measures the query, not one-time
    start-up: the noop sink, the Python worker pool and the image codec's
    per-worker imports (~20 s, otherwise paid by whichever image query
    runs first), then for each tier its tables read once (re-shard and
    page cache), its stream-source copies and q170's XML dump (inputs a
    production stream or ingest would find in place), and every ingest
    artifact (``artifacts.prebuild``, timed; forced with ``rebuild``).
    ``jit_queries`` run once at sf0.001 so a fresh JVM's first readings
    do not absorb the code generation of their plan shapes. The driver
    JVM keeps every JIT compiler thread it starts, as perfbench's does, so
    a reading that subtracts the JIT threads' CPU loses none to an exited
    thread (the flag joins any ``extraJavaOptions`` in ``extra_conf``)."""
    from discogs_load_spark.operators.multimodal import (
        image_ahash,
        render_procedural_bmp,
    )
    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.queries.artifacts import prebuild
    from discogs_load_spark.queries.shred import _q170_dump_path
    from discogs_load_spark.queries.streaming import prewarm_stream_sources
    from discogs_load_spark.session import get_spark, load_tables

    conf = dict(extra_conf or {})
    opts = conf.get("spark.driver.extraJavaOptions", "")
    conf["spark.driver.extraJavaOptions"] = (
        f"{opts} -XX:-UseDynamicNumberOfCompilerThreads".strip()
    )
    spark = get_spark(app_name=app_name, extra_conf=conf)
    _materialize(spark.range(1000).selectExpr("sum(id) AS s"))
    warm = spark.range(256).repartition(cpus())
    _materialize(warm.mapInPandas(lambda it: it, "id long"))
    _materialize(
        image_ahash(render_procedural_bmp(warm, 16, 16, id_col="id"), id_col="id")
    )
    t0 = time.monotonic()
    dirs = [resolve_tier(spark, t) for t in tiers]
    gen_s = time.monotonic() - t0
    for d in dirs:
        for df in load_tables(spark, d).values():
            _materialize(df)
        prewarm_stream_sources(spark, d)
        _q170_dump_path(load_tables(spark, d, ["documents"])["documents"], d)
    builds = [prebuild(spark, d, rebuild=rebuild) for d in dirs]
    tiny = TESTDATA / "sf0.001"
    if tiny.is_dir():
        for name in jit_queries:
            _materialize(REGISTRY[name].fn(spark, str(tiny)))
        spark.catalog.clearCache()
    return Started(spark, dirs, builds, gen_s)


class _BatchListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.started = 0
        self.terminated = 0
        self.batch_seconds: list[float] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        ms = event.progress.durationMs.get("addBatch")
        if ms is not None:  # triggers that found no data run no batch
            with self._cv:
                self.batch_seconds.append(ms / 1000)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()


@contextlib.contextmanager
def batch_seconds(spark):
    """Yield a list that, once the block exits, holds the ``addBatch``
    seconds of each micro-batch of the streams started inside it, in
    order (for a foreachBatch stream, the batch function's own call).
    Spark reports a stream's start before ``start()`` returns, and its
    progress and termination later, in order, from the listener bus; so
    the exit waits for as many terminations as starts, and a block that
    started no stream does not wait at all."""
    listener = _BatchListener()
    spark.streams.addListener(listener)
    try:
        yield listener.batch_seconds
    finally:
        with listener._cv:
            listener._cv.wait_for(
                lambda: listener.terminated >= listener.started,
                STREAM_EVENTS_TIMEOUT_S,
            )
        spark.streams.removeListener(listener)


def time_query(spark, name: str, sf_dir: str) -> tuple[float, list[float]]:
    """Run registered query ``name`` at ``sf_dir`` through the noop sink;
    return its wall seconds and the per-micro-batch seconds of the streams
    it ran (``[]`` when it runs none). Cached frames are dropped after:
    queries persist shared frames for the app's lifetime, and across a
    long sweep those dead caches bleed into later readings."""
    from discogs_load_spark.queries import REGISTRY

    try:
        with batch_seconds(spark) as batches:
            t0 = time.monotonic()
            _materialize(REGISTRY[name].fn(spark, sf_dir))
            seconds = round(time.monotonic() - t0, 3)
    finally:
        spark.catalog.clearCache()
    return seconds, batches
