"""The benchmark's workloads: what each runs, how it sets up and how its
outputs are checked.

Every workload is a closed loop with one client: one load, query or drain
runs at a time. The program sees only generated files: the XML dumps come
from the seed, the query fixture from a fixed seed.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter
from datetime import date, datetime
from pathlib import Path

import gen_tables
import gen_xml
import metrics as M

DRIVER_MEMORY = "2g"

# query and streaming workloads all read the fixture tables of this seed
FIXTURE_SEED = 42

# xml_ingest: releases per dump (artists/labels/masters follow the ratio)
XML_RELEASES = 20_000
# decompressed bytes per pre-shard of the releases dump: several shards, so
# the parse stage has more tasks than a 4-core box has cores
SHARD_TARGET_BYTES = 1_500_000


class CacheHitError(RuntimeError):
    """An ingest pass would be served from frames persisted by an earlier one."""


def assert_no_persisted(spark) -> None:
    """The ingest cache-hit guard: nothing may be persisted when a pass starts."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    if not live.isEmpty():
        raise CacheHitError(f"{live.size()} persisted RDD(s) alive at the start of an ingest pass")


def _mod(name: str):
    import importlib

    return importlib.import_module(f"discogs_load_spark.{name}")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- query correctness --------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _bag(cols: list[str], rows) -> Counter:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in idx) for r in rows)


def oracle_check(run, spec, columns: list[str], rows: list) -> bool | str:
    """Compare a query result with its DuckDB oracle on the workload's fixture:
    column names, row count and an order-insensitive multiset of values.
    Returns True, "unchecked" (no oracle, or its regime guard skips) or the
    reason for a mismatch."""
    import duckdb

    fixture = run.fixture
    if spec.oracle is None:
        return "unchecked"
    if spec.oracle_guard is not None and spec.oracle_guard(run.spark, fixture):
        return "unchecked"
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute("SET memory_limit='1GB'")
        for t in gen_tables.ROWS.keys() | {"region", "nation"}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
        res = con.execute(spec.oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    finally:
        con.close()
    if sorted(columns) != sorted(dcols):
        return f"columns differ: {sorted(columns)} vs oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"row count {len(rows)} vs oracle {len(drows)}"
    if _bag(columns, rows) != _bag(dcols, drows):
        return "values differ from the oracle"
    return True


class QueryOp:
    """One declared query: ``REGISTRY[name].fn(spark, fixture)``, materialized."""

    def __init__(self, name: str):
        self.name = name.split("_")[0]
        self.full = name

    def run(self, run, collect: bool):
        fn = run.registry[self.full].fn
        with run.span("queries.construct"):
            df = fn(run.spark, run.fixture)
        with run.span("queries.exec"):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            noop(df)
        return None

    def check(self, run, result):
        return oracle_check(run, run.registry[self.full], *result)


# -- workloads -----------------------------------------------------------------


class Workload:
    name = ""
    # untimed passes before the window, the first with its outputs checked:
    # the JIT keeps speeding passes up for several more, but one more pass of
    # the query workload costs ~10 s of the run budget
    warmup_passes = 1
    queries: tuple[str, ...] = ()
    # one timed pass on an idle 4-core machine, once warmed up: the end-to-end
    # figures are medians over the first --seconds / pass_s passes
    pass_s = 10.0

    def reported_passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))

    def generate(self, run, inputs: Path) -> None:
        # the tables are fixed, as the shared test fixtures are
        run.fixture = gen_tables.cached(inputs, FIXTURE_SEED)

    def setup(self, run) -> None:
        from discogs_load_spark.queries import REGISTRY
        from discogs_load_spark.session import load_tables

        run.registry = REGISTRY
        with run.span("session.load_tables"):
            load_tables(run.spark, run.fixture)
        with run.span("session.worker_warm"):
            warm = run.spark.range(256).repartition(run.cpus)
            noop(warm.mapInPandas(lambda it: it, "id long"))

    def instrument(self, run) -> None:
        t = run.tracer
        for fn, mod in M.ARTIFACT_BUILDERS.items():
            t.wrap_everywhere(_mod(mod), fn, f"queries.artifact.{fn}")
        dedup = _mod("operators.dedup")
        for fn in ("connected_components", "connected_components_star"):
            t.wrap_everywhere(dedup, fn, "operators.dedup.cc")

    def ops(self, run) -> list:
        full = {n.split("_")[0]: n for n in run.registry}
        return [QueryOp(full[q]) for q in self.queries]

    def final_check(self, run) -> None:
        pass


class XmlIngest(Workload):
    """The paper's own job; runs no query or streaming code."""

    name = "xml_ingest"
    # with one warm-up pass, a pass's CPU time fell from 14 s to ~7 s over the
    # next five passes, then drifted down more slowly
    warmup_passes = 4
    pass_s = 3.5

    def generate(self, run, inputs: Path) -> None:
        run.dumps = gen_xml.cached(inputs, run.args.seed, XML_RELEASES)
        run.fixture = None

    def setup(self, run) -> None:
        import duckdb

        run.duck = duckdb.connect()
        run.duck.execute("SET threads=2")
        run.passes = 0
        run.lakes = []  # bytes and files of each landed lake
        run.last_lake = None

    def instrument(self, run) -> None:
        t = run.tracer
        t.wrap_everywhere(_mod("pipeline"), "load_dumps", "pipeline.load_dumps")
        t.wrap_everywhere(_mod("sources.xml_source"), "sniff_root_tag", "sources.sniff")
        t.wrap_everywhere(_mod("sources.gzip_shard"), "preshard_gzip_dump", "sources.preshard")
        t.wrap_everywhere(_mod("sources.xml_source"), "read_dump", "sources.read_dump")
        t.wrap_everywhere(_mod("operators.shred"), "shred", "operators.shred")
        t.wrap_everywhere(_mod("sinks.files"), "write_parquet", "sinks.write")

    def ops(self, run) -> list:
        return [IngestPass()]

    def final_check(self, run) -> None:
        """The last timed pass's lake must be as correct as the warm-up's."""
        run.attempted += 1
        verdict = IngestPass().check(run, run.last_lake)
        if verdict is not True:
            run.fail("last pass check", str(verdict))


class IngestPass:
    name = "load_dumps"

    def run(self, run, collect: bool):
        from discogs_load_spark import pipeline

        run.spark.catalog.clearCache()
        assert_no_persisted(run.spark)
        if run.last_lake is not None and not collect:
            shutil.rmtree(run.last_lake, ignore_errors=True)  # already checked
        lake = run.tmp / "lake" / f"pass{run.passes}"
        run.passes += 1
        files = list(run.dumps.files.values())
        # shard_min_bytes = the releases dump's own size: exactly that file
        # takes the record-aligned pre-shard path a real 10 GB dump takes
        pipeline.load_dumps(
            run.spark, files, parquet_dir=str(lake),
            shard_min_bytes=os.path.getsize(run.dumps.files["releases"]),
            shard_target_bytes=SHARD_TARGET_BYTES,
        )
        if not pipeline.LAST_PRESHARD.get("releases"):
            raise RuntimeError("the releases dump did not take the pre-shard path")
        run.last_lake = lake
        run.lakes.append(lake_stats(lake))
        return lake

    def check(self, run, lake):
        bad = []
        for table, want in run.dumps.expected.items():
            got = gen_xml.lake_summary(run.duck, f"{lake}/{table}", table)
            if got != want:
                bad.append(f"{table}: {got} != expected {want}")
        return True if not bad else "; ".join(bad)


def lake_stats(lake: Path) -> dict:
    files = [p for p in lake.rglob("*.parquet")]
    return {"bytes": sum(p.stat().st_size for p in files), "files": len(files)}


class CurationStreaming(Workload):
    """Curation queries over a rebuilt index artifact, and streaming drains;
    runs no ingest code."""

    name = "curation_streaming"
    queries = M.CURATION_QUERIES + M.STREAMING_QUERIES
    rebuild = ("doc_signature_index",)

    def setup(self, run) -> None:
        super().setup(run)
        for fn in self.rebuild:
            # looked up at call time so a traced run's wrapper is used
            noop(getattr(_mod(M.ARTIFACT_BUILDERS[fn]), fn)(run.spark, run.fixture, rebuild=True))
        run.spark.catalog.clearCache()
        from discogs_load_spark.queries.streaming import prewarm_stream_sources

        with run.span("streaming.stage_sources"):
            prewarm_stream_sources(run.spark, run.fixture)


WORKLOADS = {w.name: w for w in (XmlIngest(), CurationStreaming())}
