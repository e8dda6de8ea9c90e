"""End-to-end pipeline test: the composed ``load_dumps`` path the CLI
drives (reference main.rs:42-107 dual) — sniff kind → parse → shred →
parquet sink → read back and query. The individual stages have their own
tests (test_shred_xml); this one pins the COMPOSITION: kind dispatch over
a mixed file set, multi-shard union of one kind, gzip + plain inputs in
the same batch, and the parquet round trip preserving schemas and rows."""

from __future__ import annotations

import gzip
import shutil
from pathlib import Path

from discogs_load_spark.pipeline import load_dumps

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def test_load_dumps_mixed_kinds_sharded_gzip(spark, tmp_path):
    # mixed batch: all four kinds at once, releases as TWO shards (one
    # gzipped) — the unsplittable-gzip scale path is "many files"
    rel_gz = tmp_path / "releases-shard2.xml.gz"
    with open(FIXTURES / "releases.xml", "rb") as f_in, gzip.open(
        rel_gz, "wb"
    ) as f_out:
        shutil.copyfileobj(f_in, f_out)
    files = [
        str(FIXTURES / "releases.xml"),
        str(rel_gz),
        str(FIXTURES / "artists.xml"),
        str(FIXTURES / "labels.xml"),
        str(FIXTURES / "masters.xml"),
    ]
    out = tmp_path / "lake"
    tables = load_dumps(spark, files, parquet_dir=str(out))

    # every dump kind produced its tables
    for expected in (
        "release",
        "release_label",
        "release_video",
        "artist",
        "label",
        "master",
        "master_artist",
    ):
        assert expected in tables, f"missing table {expected}"

    # two identical release shards union: GLOBAL first-wins dedup (the
    # engine's declared deviation from the reference's batch-scoped
    # HashMap, quirk Q7/q33) collapses them — parents AND their children
    # (a losing duplicate's labels must not leak into release_label)
    single = load_dumps(spark, [str(FIXTURES / "releases.xml")])
    assert tables["release"].count() == single["release"].count()
    assert tables["release_label"].count() == single["release_label"].count()
    assert tables["release_video"].count() == single["release_video"].count()

    # parquet round trip: row count and (name, type) schema survive the
    # sink (nullability flattens to nullable on read — Spark's standard
    # parquet behavior, not a data change)
    for name in ("release", "master", "artist", "label"):
        written = spark.read.parquet(str(out / name))
        assert written.count() == tables[name].count()
        assert [(f.name, f.dataType) for f in written.schema.fields] == [
            (f.name, f.dataType) for f in tables[name].schema.fields
        ]

    # the landed lake answers a query joining two shredded tables
    rl = spark.read.parquet(str(out / "release_label"))
    rel = spark.read.parquet(str(out / "release"))
    joined = rel.join(rl, rel.id == rl.release_id)
    assert joined.count() > 0


def test_load_dumps_releases_its_cache(spark, tmp_path):
    """The parse-once cache lives only while load_dumps writes."""
    spark.catalog.clearCache()
    files = [str(FIXTURES / f"{k}.xml") for k in ("releases", "masters")]
    load_dumps(spark, files, parquet_dir=str(tmp_path / "lake"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dump_rewritten_in_place_lands_new_records(spark, tmp_path):
    """A second load of the same path in the same session re-reads the
    file: no cached parse of the old contents may be served."""
    dump = tmp_path / "releases.xml"
    shutil.copyfile(FIXTURES / "releases.xml", dump)
    load_dumps(spark, [str(dump)], parquet_dir=str(tmp_path / "lakeA"))
    assert spark.read.parquet(str(tmp_path / "lakeA" / "release")).count() == 3

    dump.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n<releases>\n'
        '  <release id="7" status="Accepted"><title>Only</title></release>\n'
        "</releases>\n"
    )
    load_dumps(spark, [str(dump)], parquet_dir=str(tmp_path / "lakeB"))
    landed = spark.read.parquet(str(tmp_path / "lakeB" / "release"))
    assert [(r.id, r.title) for r in landed.collect()] == [(7, "Only")]


def test_cli_prints_landed_counts(spark, tmp_path, capsys):
    from discogs_load_spark.pipeline import main

    kinds = ("releases", "artists", "labels", "masters")
    main([str(FIXTURES / f"{k}.xml") for k in kinds] + ["--parquet-dir", str(tmp_path)])
    printed = dict(
        line.split(": ") for line in capsys.readouterr().out.splitlines()
    )
    assert printed == {
        "release": "3 rows",
        "release_label": "3 rows",
        "release_video": "2 rows",
        "artist": "3 rows",
        "label": "3 rows",
        "master": "2 rows",
        "master_artist": "2 rows",
    }
