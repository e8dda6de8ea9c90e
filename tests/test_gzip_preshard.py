"""Auto-sharding a MONOLITHIC gzip dump (the unsplittable-gzip limit,
ARCHITECTURE §11b): one .gz in → record-aligned .gz shards out → >1 parse
task → byte-identical parse results vs reading the original directly."""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET
from pathlib import Path

from pyspark.sql import functions as F

from discogs_load_spark.pipeline import LAST_PRESHARD, load_dumps
from discogs_load_spark.sources.gzip_shard import preshard_gzip_dump
from discogs_load_spark.sources.xml_source import read_dump


def _gen_releases_gz(path: Path, n: int) -> None:
    with gzip.open(path, "wt", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<releases>\n')
        for i in range(1, n + 1):
            f.write(
                f'<release id="{i}" status="Accepted"><title>T {i} &amp; co'
                f"</title><country>US</country><released>199{i % 10}-01-01"
                f"</released><master_id>{i // 3}</master_id>"
                f'<labels><label name="L{i % 9}" catno="C-{i}" id="{i % 9}"/>'
                f"</labels><videos><video src=\"https://x.test/v/{i}\" "
                f'duration="{60 + i % 30}"><title>V {i}</title></video>'
                f"</videos></release>\n"
            )
        f.write("</releases>\n")


def _gen_labels_gz(path: Path, n: int) -> None:
    # nested same-tag children: <label> INSIDE <sublabels> of a <label>
    # record — a naive '</label>' split would cut records in half
    with gzip.open(path, "wt", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<labels>\n')
        for i in range(1, n + 1):
            f.write(
                f"<label><id>{i}</id><name>Label {i}</name>"
                f"<sublabels><label>Sub {i}a</label><label>Sub {i}b</label>"
                f"</sublabels></label>\n"
            )
        f.write("</labels>\n")


def test_preshard_releases_roundtrip(spark, tmp_path):
    src = tmp_path / "releases.xml.gz"
    _gen_releases_gz(src, 400)
    shards = preshard_gzip_dump(
        str(src), str(tmp_path / "shards"), target_bytes=20_000
    )
    assert len(shards) > 1, "expected multiple shards"
    for p in shards:  # every shard is a well-formed standalone document
        with gzip.open(p, "rb") as f:
            root = ET.parse(f).getroot()
            assert root.tag == "releases"
            assert len(root) > 0
    direct = read_dump(spark, str(src), "releases")
    sharded = read_dump(spark, shards, "releases")
    assert sharded.rdd.getNumPartitions() > 1, "shards must parse in >1 task"

    def sig(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: long sum of 64-bit hashes overflows under ANSI
            F.sum(
                F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    assert sig(sharded) == sig(direct)


def test_preshard_nested_same_tag_records(spark, tmp_path):
    src = tmp_path / "labels.xml.gz"
    _gen_labels_gz(src, 300)
    shards = preshard_gzip_dump(
        str(src), str(tmp_path / "shards"), target_bytes=8_000
    )
    assert len(shards) > 1
    total = 0
    for p in shards:
        with gzip.open(p, "rb") as f:
            root = ET.parse(f).getroot()
        for rec in root:
            assert rec.tag == "label"
            assert rec.find("sublabels") is not None, "record was cut"
            total += 1
    assert total == 300


def test_load_dumps_auto_shards_monolithic_gz(spark, tmp_path):
    src = tmp_path / "releases.xml.gz"
    _gen_releases_gz(src, 300)
    # a threshold above the file's size reads it whole
    base = load_dumps(spark, [str(src)], shard_min_bytes=src.stat().st_size + 1)
    assert not LAST_PRESHARD
    auto = load_dumps(
        spark,
        [str(src)],
        shard_min_bytes=0,  # force the path regardless of file size
        shard_target_bytes=16_000,
    )
    assert set(base) == set(auto) == {"release", "release_label", "release_video"}
    for name in base:
        # repr-normalize rows: array columns are unhashable lists
        a = sorted(repr(r) for r in base[name].collect())
        b = sorted(repr(r) for r in auto[name].collect())
        assert a == b, f"table {name} differs between direct and auto-shard"


def test_preshard_quotes_and_comments(tmp_path):
    """ADVICE r05: spec-legal raw '>' (and '/>') inside attribute values
    must not be misread as the tag end / a self-closing record, and
    <!-- --> comments containing record tags (prologue AND between
    records) must stay depth-neutral — every shard stays well-formed and
    the record multiset is preserved."""
    src = tmp_path / "releases.xml.gz"
    with gzip.open(src, "wt", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write("<!-- sample: <release id=\"999\"></release> -->\n<releases>\n")
        for i in range(1, 201):
            f.write(
                f'<release id="{i}" note="a/&gt;b" raw="x/>y" gt="1>0">'
                f"<title>T {i}</title></release>\n"
            )
            if i % 7 == 0:
                f.write(f"<!-- between records: </release> <release id=\"{i}\"> -->\n")
            if i % 11 == 0:  # self-closing records, attr with raw '>'
                f.write(f'<release id="s{i}" empty="yes" tail="a>b"/>\n')
        f.write("</releases>\n")
    shards = preshard_gzip_dump(
        str(src), str(tmp_path / "shards"), target_bytes=4_000
    )
    assert len(shards) > 1
    ids = []
    for p in shards:
        with gzip.open(p, "rb") as fh:
            root = ET.parse(fh).getroot()  # raises if any shard is cut mid-record
        assert root.tag == "releases"
        for rec in root:
            assert rec.tag == "release"
            assert rec.get("note") == "a/>b" or rec.get("empty") == "yes"
            ids.append(rec.get("id"))
    want = [str(i) for i in range(1, 201)] + [
        f"s{i}" for i in range(11, 201, 11)
    ]
    assert sorted(ids) == sorted(want)
