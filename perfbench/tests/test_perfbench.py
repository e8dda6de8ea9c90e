"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
for p in (str(BENCH), str(ROOT)):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen_tables  # noqa: E402
import gen_xml  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, find_event_log, parse_event_log  # noqa: E402
from stats import tail  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_xml_generator_is_deterministic(tmp_path):
    a = gen_xml.generate(tmp_path / "a", seed=5, releases=300)
    b = gen_xml.generate(tmp_path / "b", seed=5, releases=300)
    c = gen_xml.generate(tmp_path / "c", seed=6, releases=300)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert a.expected == b.expected
    assert a.expected != c.expected
    assert set(a.expected) == set(gen_xml.TABLE_COLUMNS)


def test_xml_generator_plants_the_hard_cases(tmp_path):
    import gzip

    d = gen_xml.generate(tmp_path, seed=1, releases=3000)
    labels = gzip.open(d.files["labels"], "rt").read()
    assert "<sublabels><label>" in labels
    # duplicates are written but do not count as rows
    n = gen_xml.counts(3000)
    assert d.expected["artist"]["rows"] < n["artists"]
    assert d.expected["release"]["rows"] == n["releases"]


def test_table_generator_is_deterministic(tmp_path):
    gen_tables.generate(tmp_path / "a", seed=3)
    gen_tables.generate(tmp_path / "b", seed=3)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")


def test_tail_has_ten_samples_beyond_and_reports_them():
    xs = [float(i) for i in range(1, 31)]
    value, pct, beyond = tail(xs)
    assert beyond == 10 and value == 20.0
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(1 for x in xs if x > value) >= 10


def test_tail_steps_down_past_ties():
    xs = [1.0] * 5 + [2.0] * 20
    value, _, beyond = tail(xs)
    assert value == 1.0 and beyond == 20


def test_tail_with_too_few_samples_is_the_max_with_none_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_metric_names_match_the_allowed_pattern():
    for name, *_ in M.END_TO_END + M.PER_LAYER:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64
    names = [n for n, *_ in M.END_TO_END + M.PER_LAYER]
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_metric_tables():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in M.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in M.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    for w in spec["workloads"]:
        assert NAME.fullmatch(w["name"]) and len(w["why"]) <= 200


def test_compare_refuses_different_core_counts():
    import compare

    rec = {"workload": "curation", "machine": {"nproc": 4}, "end_to_end": {"pass_wall_s": 2.0}}
    other = {**rec, "machine": {"nproc": 8}, "end_to_end": {"pass_wall_s": 1.0}}
    with pytest.raises(ValueError, match="nproc"):
        compare.compare(rec, other)
    assert compare.compare(rec, {**rec, "end_to_end": {"pass_wall_s": 3.0}}) == [
        ("pass_wall_s", 2.0, 3.0, 0.5)
    ]


def test_reported_passes_follow_the_run_length_and_never_drop_below_two():
    xml = W.WORKLOADS["xml_ingest"]
    assert xml.reported_passes(10 * xml.pass_s) == 10
    assert xml.reported_passes(10.4 * xml.pass_s) == 10
    assert W.WORKLOADS["curation_streaming"].reported_passes(1) == 2


def test_tree_cpu_counts_a_reaped_child():
    import subprocess

    import run

    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert run.tree_cpu_s() - before >= 0.05


# -- with a Spark session --------------------------------------------------------


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    import tempfile

    from discogs_load_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    tmp = tmp_path_factory.mktemp("tmp")
    mp = pytest.MonkeyPatch()
    # the program's scratch files (pre-shards, package zip) and the JVM's
    mp.setenv("TMPDIR", str(tmp))
    mp.setenv("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    mp.setattr(tempfile, "tempdir", None)
    spark = get_spark(
        app_name="perfbench_selftest", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.driver.memory": "1g",
        },
    )
    yield spark, log_dir
    spark.stop()
    mp.undo()


def test_cache_hit_guard_trips_on_a_persisted_frame(traced_spark):
    spark, _ = traced_spark
    df = spark.range(100).persist()
    df.count()
    with pytest.raises(W.CacheHitError):
        W.assert_no_persisted(spark)
    spark.catalog.clearCache()
    W.assert_no_persisted(spark)


def test_ingest_lands_the_expected_tables(traced_spark, tmp_path):
    import duckdb

    from discogs_load_spark import pipeline

    spark, _ = traced_spark
    d = gen_xml.generate(tmp_path / "dumps", seed=2, releases=400)
    lake = tmp_path / "lake"
    pipeline.load_dumps(
        spark, list(d.files.values()), parquet_dir=str(lake),
        shard_min_bytes=Path(d.files["releases"]).stat().st_size, shard_target_bytes=20_000,
    )
    assert len(pipeline.LAST_PRESHARD["releases"]) > 1
    con = duckdb.connect()
    for table, want in d.expected.items():
        assert gen_xml.lake_summary(con, f"{lake}/{table}", table) == want, table
    spark.catalog.clearCache()


def test_driver_actions_count_once_with_their_rows(traced_spark):
    spark, _ = traced_spark
    tracer = Tracer("selftest")
    tracer.count_actions(spark)
    try:
        with tracer.span("actions") as s:
            df = spark.range(10)
            df.first()  # calls take, which calls collect: one action
            df.take(3)
            df.count()
    finally:
        tracer.uninstrument()
    assert s.counts == {"driver_actions": 3, "collect_rows": 4}
    spark.range(5).collect()  # uninstrumented: nothing more is counted
    assert s.counts == {"driver_actions": 3, "collect_rows": 4}


def test_event_log_jobs_land_on_the_innermost_span(traced_spark):
    spark, log_dir = traced_spark
    tracer = Tracer("selftest")
    tracer.spark = spark
    with tracer.span("outer") as outer:
        spark.range(10).count()
        with tracer.span("inner") as inner:
            spark.range(10).count()
            spark.range(10).count()
    spark.range(10).count()  # outside every span
    spark.stop()  # flushes the event log
    elog = parse_event_log(find_event_log(log_dir))
    k = len(elog.jobs_in({outer.id}))  # jobs per count(): 2 with AQE
    assert k >= 1 and len(elog.jobs_in({inner.id})) == 2 * k
    spans = [j.span for j in sorted(elog.jobs.values(), key=lambda j: j.id)][-4 * k:]
    assert spans == [outer.id] * k + [inner.id] * 2 * k + [None] * k
    assert len(elog.jobs_in(tracer.subtree(outer.id))) == 3 * k
    assert tracer.self_seconds(outer) == pytest.approx(outer.seconds - inner.seconds, abs=1e-6)

