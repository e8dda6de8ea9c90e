"""The sf1 bench tier is only a valid measurement if the generated data is
deterministic (same bytes every run/partitioning) and structurally faithful
to the fixtures it scales (vocab, length model, key tiling)."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import gen_sf1  # noqa: E402
from gen_sf1 import TILES, _gen_documents, _gen_events, _tile  # noqa: E402

from .conftest import SF_SMALL  # noqa: E402


def _value_hash(df):
    cols = sorted(df.columns)
    return df.agg(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]


def test_documents_generation_is_deterministic(spark):
    a = _value_hash(_gen_documents(spark, SF_SMALL))
    b = _value_hash(_gen_documents(spark, SF_SMALL).repartition(7))
    assert (a["h"], a["n"]) == (b["h"], b["n"])  # incl. partition-invariance


def test_documents_match_fixture_structure(spark):
    docs = _gen_documents(spark, SF_SMALL)
    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    vocab_src = {
        r[0] for r in src.select(F.explode(F.split("text", " "))).distinct().collect()
    }
    vocab_gen = {
        r[0]
        for r in docs.limit(2000)
        .select(F.explode(F.split("text", " ")))
        .distinct()
        .collect()
    }
    assert vocab_gen <= vocab_src  # same closed vocabulary
    stats = docs.agg(
        F.min(F.size(F.split("text", " "))).alias("lo"),
        F.max(F.size(F.split("text", " "))).alias("hi"),
    ).collect()[0]
    assert stats["lo"] >= 10 and stats["hi"] <= 100  # fixture length model
    langs = {r[0] for r in docs.select("lang").distinct().collect()}
    assert langs == {"en", "zh", "es", "fr", "de"}


def test_events_generation_is_deterministic_and_ranged(spark):
    a = _value_hash(_gen_events(spark))
    b = _value_hash(_gen_events(spark))
    assert (a["h"], a["n"]) == (b["h"], b["n"])
    ev = _gen_events(spark)
    row = ev.agg(
        F.min("value").alias("vmin"),
        F.countDistinct("event_type").alias("types"),
    ).collect()[0]
    assert row["vmin"] >= 0.0 and row["types"] == 5


def test_tile_scales_rows_and_shifts_keys(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    n = orders.count()
    span = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    tiled = _tile(orders, {"o_orderkey": span})
    assert tiled.count() == TILES * n
    # keys stay unique across replicas (the point of the shift)
    assert tiled.select("o_orderkey").distinct().count() == TILES * n
    assert tiled.columns == orders.columns


def test_documents_plant_near_dup_pairs_at_fixture_density(spark):
    """GEN_VERSION 2: every PLANT_MOD-th doc pair (base % 20 == 0, copy
    == base+1) must be an append-one-word near-copy — shingle-Jaccard
    (n-2)/(n-1) ~ 0.98, the driver fixture's planted shape and density
    (measured: 25 verified pairs / 500 docs at sf0.01). Without planted
    pairs the derived tiers run every dedup probe in a no-near-dup
    regime (r10 finding: zero banded candidates at sf1/sf10)."""
    from gen_sf1 import PLANT_MOD

    docs = _gen_documents(spark, SF_SMALL)
    base = docs.filter((F.col("doc_id") % PLANT_MOD) == 0).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("t_base")
    )
    copy = docs.filter((F.col("doc_id") % PLANT_MOD) == 1).select(
        (F.col("doc_id") - 1).alias("bid"), F.col("text").alias("t_copy")
    )
    j = base.join(copy, "bid")
    n_pairs = j.count()
    assert n_pairs == docs.count() // PLANT_MOD
    bad = j.filter(
        ~F.col("t_copy").startswith(F.concat(F.col("t_base"), F.lit(" ")))
        | (
            F.size(F.split("t_copy", " "))
            != F.size(F.split("t_base", " ")) + 1
        )
    ).count()
    assert bad == 0, f"{bad}/{n_pairs} planted copies are not append-one-word"
    # length model: bases 50..99 so copies stay inside the fixture's <=100
    stats = j.select(F.size(F.split("t_base", " ")).alias("n")).agg(
        F.min("n").alias("lo"), F.max("n").alias("hi")
    ).collect()[0]
    assert stats["lo"] >= 50 and stats["hi"] <= 99


def test_ensure_tier_regenerates_only_when_stale(tmp_path, monkeypatch):
    """A derived tier is reused while its source files (size, mtime) and
    GEN_VERSION are unchanged, and regenerated when any of them moves;
    gen_sf1's own CLI leaves the marker, so a later bench reuses its tier."""
    import os

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    for n in gen_sf1.FINGERPRINT_TABLES:
        (src / f"{n}.parquet").write_bytes(b"x")
    calls = []

    def fake_generate(spark, src_dir, out_dir, scale=1):
        calls.append(scale)
        os.makedirs(out_dir, exist_ok=True)
        for n in gen_sf1.FINGERPRINT_TABLES:
            open(os.path.join(out_dir, f"{n}.parquet"), "w").close()

    monkeypatch.setattr(gen_sf1, "generate_sf1", fake_generate)

    def ensure():
        gen_sf1.ensure_tier(None, str(src), str(out))
        return len(calls)

    assert ensure() == 1  # missing
    assert ensure() == 1  # fresh: reused
    (src / "events.parquet").write_bytes(b"xy")
    assert ensure() == 2  # size changed
    st = os.stat(src / "documents.parquet")
    os.utime(src / "documents.parquet", (st.st_atime, st.st_mtime + 10))
    assert ensure() == 3  # mtime changed
    monkeypatch.setattr(gen_sf1, "GEN_VERSION", gen_sf1.GEN_VERSION + 1)
    assert ensure() == 4  # generator changed
    assert ensure() == 4

    cli_out = tmp_path / "cli"
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(src))
    monkeypatch.setenv("SPARK_GRAFT_SF1_DIR", str(cli_out))
    import discogs_load_spark.session as session

    monkeypatch.setattr(session, "get_spark", lambda **kw: None)
    gen_sf1.main()
    assert len(calls) == 5 and (cli_out / "_source_fp.txt").exists()
    gen_sf1.ensure_tier(None, str(src), str(cli_out))
    assert len(calls) == 5
