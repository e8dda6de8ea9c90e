"""Generate sf1 fixtures (10x sf0.1) for the scaling bench.

The driver only ships sf{0.001,0.01,0.1}; every 100 TB claim needs at least
one measured scale-up, so this synthesizes an sf1 tier with the SAME
structure as the driver fixtures (measured from sf0.1, see bench notes):

- ``documents``: 10x rows from the same 31-word vocabulary with the same
  uniform 10..100 words/doc length model and lang/source mixes — dedup /
  shingle / LSH-bucket densities scale the way the driver generator's
  would (exact-dup collisions arise the same natural way: short docs over
  a tiny vocab). GEN_VERSION 2 (r10): the tier also PLANTS near-duplicate
  pairs at the driver fixture's measured density — 1 pair per 20 docs
  (sf0.01: 25 verified pairs / 500 docs; sf0.1: 256 / 5000) — as
  append-one-word copies of a 50..99-word base, giving shingle-Jaccard
  (n-2)/(n-1) ≈ 0.98, the fixture's planted J. Without this the derived
  tiers ran every dedup scale probe in a no-near-dup regime (zero banded
  candidates at sf1/sf10 — measured r10), so verify/CC/keeper stages
  were never exercised with real work at scale.
- ``embeddings``: 10x rows of i.i.d. ~N(0, 0.125^2) float32 vectors
  (measured: the fixture plants NO near-dup pairs; max off-diagonal
  cosine at sf0.01 is 0.51) — ANN/semantic-dedup candidate densities
  scale naturally.
- ``events``: 10x rows, 10x users, same 30-day window, uniform 5-type
  enum, ~Exp(50) value, '{"k": N}' props.
- TPC-H tables: 10 key-shifted replicas (orderkey/custkey/partkey/suppkey
  domains tiled; nation/region constant, as in TPC-H) — join and group
  cardinalities scale like a real sf bump, with no duplicate-key
  pathology.

Everything is xxhash64-derived (deterministic, partition-count-invariant,
no Python UDFs); generation is a few seconds on local[32].
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

DOCS_N = 50_000
EMB_N = 20_000
EVENTS_N = 1_000_000
USERS_N = 15_000
TILES = 10
# bump to invalidate cached /tmp tiers when generation semantics change
# (ensure_tier folds this into the source fingerprint)
GEN_VERSION = 2
# the source tables whose size + mtime key a derived tier
FINGERPRINT_TABLES = ("documents", "embeddings", "events", "lineitem")
# 1 planted near-dup pair per PLANT_MOD docs (doc_id % PLANT_MOD == 0 is
# the base, == 1 the append-one-word copy) — the driver fixture's density
PLANT_MOD = 20


def _h(*cols) -> F.Column:
    """Non-negative deterministic hash of the given columns/literals."""
    lits = [c if isinstance(c, F.Column) else F.lit(c) for c in cols]
    return F.pmod(F.xxhash64(*lits), F.lit(2**31))


def _gen_documents(spark: SparkSession, src_dir: str, scale: int = 1) -> DataFrame:
    vocab = sorted(
        r[0]
        for r in spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
        .select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .collect()  # bounded: fixture vocabulary is 31 words
    )
    varr = F.array([F.lit(w) for w in vocab])
    nv = len(vocab)
    base = spark.range(DOCS_N * scale).withColumnRenamed("id", "doc_id")
    # planted near-dups (GEN_VERSION 2): pair members share a base id, so
    # the copy regenerates the base's exact word sequence and appends ONE
    # word — J = (n-2)/(n-1) over 3-shingles, ~0.98 at n in 50..99 (the
    # pair base's forced length model; plain docs keep uniform 10..100)
    is_copy = (F.col("doc_id") % PLANT_MOD) == 1
    bid = F.when(is_copy, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    is_member = (F.col("doc_id") % PLANT_MOD) <= 1
    n_words = (
        F.when(is_member, F.lit(50) + _h(bid, "n") % 50)
        .otherwise(F.lit(10) + _h(F.col("doc_id"), "n") % 91)
        .cast("int")
    )
    seq = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.element_at(varr, (_h(bid, "w", j) % nv + 1).cast("int")),
    )
    seq = F.when(
        is_copy,
        F.concat(
            seq, F.array(F.element_at(varr, (_h(bid, "x") % nv + 1).cast("int")))
        ),
    ).otherwise(seq)
    text = F.array_join(seq, " ")
    lang_code = _h(F.col("doc_id"), "lang") % 100
    lang = (
        F.when(lang_code < 41, "en")
        .when(lang_code < 56, "zh")
        .when(lang_code < 71, "es")
        .when(lang_code < 86, "fr")
        .otherwise("de")
    )
    return base.select(
        F.col("doc_id"),
        text.alias("text"),
        lang.alias("lang"),
        F.concat(F.lit("src"), (_h(F.col("doc_id"), "src") % 20).cast("string")).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text").cast("int"))


def _gen_embeddings(spark: SparkSession, dim: int = 64, scale: int = 1) -> DataFrame:
    base = spark.range(EMB_N * scale).withColumnRenamed("id", "vec_id")

    def gauss(j):
        # Irwin-Hall(3), centered and scaled to sigma ~= 0.125
        u = [
            (_h(F.col("vec_id"), "e", j, k) % 10_000) / 10_000.0 for k in (1, 2, 3)
        ]
        return ((u[0] + u[1] + u[2] - F.lit(1.5)) * 0.25).cast("float")

    emb = F.transform(F.sequence(F.lit(1), F.lit(dim)), gauss)
    return base.select(
        F.col("vec_id"),
        emb.alias("embedding"),
        (_h(F.col("vec_id"), "lab") % 10).cast("int").alias("label"),
    )


def _gen_events(spark: SparkSession, scale: int = 1) -> DataFrame:
    base = spark.range(EVENTS_N * scale).withColumnRenamed("id", "event_id")
    h = _h(F.col("event_id"), "e")
    epoch_us = F.lit(1_704_067_200_000_000)  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    u = (_h(F.col("event_id"), "v") % 9_999 + 1) / 10_000.0
    types = F.array(*[F.lit(t) for t in ["click", "error", "purchase", "signup", "view"]])
    return base.select(
        "event_id",
        F.timestamp_micros(
            (epoch_us + (_h(F.col("event_id"), "t") * F.lit(977)) % span_us).cast("long")
        ).alias("ts"),
        (_h(F.col("event_id"), "u") % (USERS_N * scale)).alias("user_id"),
        F.element_at(types, (h % 5 + 1).cast("int")).alias("event_type"),
        F.round(-F.lit(50.0) * F.log(F.lit(1.0) - u), 2).alias("value"),
        F.concat(F.lit('{"k": '), (_h(F.col("event_id"), "k") % 100).cast("string"), F.lit("}")).alias(
            "props"
        ),
    )


def _tile(df: DataFrame, shifts: dict[str, int], tiles: int = TILES) -> DataFrame:
    """Union ``tiles`` key-shifted replicas; non-key columns repeat verbatim."""
    parts = []
    for k in range(tiles):
        cols = [
            (F.col(c) + k * off).alias(c) if k else F.col(c)
            for c, off in shifts.items()
        ]
        others = [c for c in df.columns if c not in shifts]
        parts.append(df.select(*cols, *others).select(df.columns))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generate_sf1(spark: SparkSession, src_dir: str, out_dir: str, scale: int = 1) -> None:
    """scale=1 tiles src 10x (the sf0.1 -> sf1 tier); scale=N multiplies
    the synthetic tables by N on top and tiles the TPC-H tables 10*N x,
    so generate_sf1(spark, sf0.1_dir, out, scale=10) is the sf10 tier
    used for third-decade spot probes."""
    os.makedirs(out_dir, exist_ok=True)
    # micros on disk, like the driver fixtures — Spark's default INT96
    # surfaces as timestamp[ns] to pyarrow and would trip the loader's
    # int64-nanos normalization path
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def key_span(table: str, col: str) -> int:
        df = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
        return int(df.agg(F.max(col)).collect()[0][0]) + 1  # bounded: 1 row

    ord_n = key_span("orders", "o_orderkey")
    cust_n = key_span("customer", "c_custkey")
    part_n = key_span("part", "p_partkey")
    supp_n = key_span("supplier", "s_suppkey")

    def src(table: str) -> DataFrame:
        return spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))

    plans = {
        "region": src("region"),
        "nation": src("nation"),
        "customer": _tile(src("customer"), {"c_custkey": cust_n}, TILES * scale),
        "supplier": _tile(src("supplier"), {"s_suppkey": supp_n}, TILES * scale),
        "part": _tile(src("part"), {"p_partkey": part_n}, TILES * scale),
        "orders": _tile(
            src("orders"),
            {"o_orderkey": ord_n, "o_custkey": cust_n},
            TILES * scale,
        ),
        "lineitem": _tile(
            src("lineitem"),
            {"l_orderkey": ord_n, "l_partkey": part_n, "l_suppkey": supp_n},
            TILES * scale,
        ),
        "documents": _gen_documents(spark, src_dir, scale),
        "embeddings": _gen_embeddings(spark, scale=scale),
        "events": _gen_events(spark, scale=scale),
    }
    for name, df in plans.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        # one parquet FILE per table, like the driver fixtures (the session
        # re-shard cache splits single-row-group files for parallel scans)
        tmp = os.path.join(out_dir, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        part_file = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part_file, path)
        shutil.rmtree(tmp)


def ensure_tier(spark: SparkSession, src_dir: str, out_dir: str, scale: int = 1) -> float:
    """Generate ``out_dir`` from ``src_dir`` unless it already holds a tier
    generated from the same source files by the same GEN_VERSION; returns
    the seconds spent generating (0.0 on reuse). The fixtures are
    regenerated between rounds and a derived tier tiles them, so a cache
    keyed on the directory alone would tile last round's data."""
    from discogs_load_spark.sinks.files import file_identity

    paths = [os.path.join(src_dir, f"{n}.parquet") for n in FINGERPRINT_TABLES]
    fp = f"gen{GEN_VERSION}|" + "|".join(
        str(file_identity(p)) for p in paths if os.path.exists(p)
    )
    marker = os.path.join(out_dir, "_source_fp.txt")
    have = all(
        os.path.exists(os.path.join(out_dir, f"{n}.parquet"))
        for n in FINGERPRINT_TABLES
    )
    if have and os.path.exists(marker) and open(marker).read() == fp:
        return 0.0
    t0 = time.monotonic()
    generate_sf1(spark, src_dir, out_dir, scale=scale)
    with open(marker, "w") as f:
        f.write(fp)
    return time.monotonic() - t0


def main() -> None:
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from discogs_load_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    ensure_tier(get_spark(app_name="gen_sf1"), src, out)
    print(f"sf1 fixtures written to {out}")


if __name__ == "__main__":
    main()
