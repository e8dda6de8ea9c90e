"""Hashed/lean signature index pins (VERDICT r10 item 3).

``SPARK_GRAFT_SIG_HASHED=1`` switches the materialized index to the
v5h layout: NO stored shingle payload (string and xxhash64 shingles
re-derive from the stored token array at read), 60-bit BIGINT minhash
slots, 16-byte content hash (queries/sig_index.py module docstring).
These tests pin what makes that safe:

1. FINAL OUTPUTS are bitwise mode-equal for every rewired operator
   shape: exact-hash groupBy, MinHash banding + Jaccard verify (hashed
   sets), SimHash/OPH folds (derived string shingles), prefix-filter and
   asymmetric-containment joins (hashed rank artifact — candidates may
   legally differ between modes, outputs may not), bloom/text consumers
   that emit shingle TEXT, and the index-contract stats rollup.
2. Each compact minhash slot is EXACTLY the 60-bit truncation of the
   string-mode min-md5 (same underlying minhash, so slot agreement is
   mode-independent modulo the documented truncation bound).
3. The hashed artifact ON DISK carries no shingle payload at all and
   int64 minhash columns — the k×-corpus payload is genuinely not
   stored.
4. The referee switch (ARTIFACTS=0) is result-neutral WITHIN the
   hashed layout, completing the four mode quadrants.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from discogs_load_spark.queries.registry import REGISTRY
from discogs_load_spark.queries import artifacts, sig_index as si

from .conftest import SF_SMALL

# one query per rewired operator shape (mirrors test_sig_index.PINNED,
# plus the shingle-TEXT consumers the derived-sh path must keep intact)
PINNED = (
    "q50_exact_dedup",
    "q51_minhash_lsh_pairs",
    "q52_jaccard_neardup",
    "q53_simhash",
    "q64_simhash_hamming_pairs",
    "q175_oph_minhash_pairs",
    "q123_prefix_filter_jaccard",
    "q215_containment_prefix_exact",
    "q142_boilerplate_ngrams",
    "q147_dup_ngram_fraction",
    "q184_bloom_membership",
    "q216_signature_index_stats",
)


def _rows(spark, name):
    return sorted(map(tuple, REGISTRY[name].fn(spark, SF_SMALL).collect()))


@pytest.mark.parametrize("name", PINNED)
def test_hashed_mode_outputs_equal_string_mode(spark, name, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "0")
    spark.catalog.clearCache()
    via_strings = _rows(spark, name)
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
    spark.catalog.clearCache()
    assert _rows(spark, name) == via_strings


def test_compact_signatures_are_the_truncated_string_minhashes(
    spark, monkeypatch
):
    """hashed-mode h{i} must be EXACTLY the first 60 bits (15 hex
    digits) of string mode's min-md5 — same underlying minhash, so two
    docs agree on a compact slot iff they agree on the string slot
    (modulo the documented ~pairs/2⁶⁰ truncation term, which this
    bitwise check would also surface on the fixtures)."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "0")
    spark.catalog.clearCache()
    a = {
        r[0]: tuple(int(h[:15], 16) for h in r[1:])
        for r in si.doc_signatures(spark, SF_SMALL).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
    spark.catalog.clearCache()
    b = {
        r[0]: tuple(r[1:])
        for r in si.doc_signatures(spark, SF_SMALL).collect()
    }
    assert a == b


def test_hashed_artifact_stores_no_shingle_payload(spark, monkeypatch):
    """The on-disk parquet must carry NO shingle payload (neither sh
    strings nor a hashed array) and compact BIGINT minhash columns —
    the size claim depends on the payload genuinely not being written.
    The DataFrame the accessor returns DOES carry derived sh/shh (from
    toks), which Catalyst prunes for consumers that never select them."""
    pa = pytest.importorskip("pyarrow.parquet")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
    df = si.doc_signature_index(spark, SF_SMALL, rebuild=True)
    assert "sh" in df.columns and "shh" in df.columns
    assert df.schema["h0"].dataType.simpleString() == "bigint"
    dest = artifacts.path("doc_signature_index", SF_SMALL)
    assert dest.startswith(si.SIG_INDEX_DIR)
    files = glob.glob(os.path.join(dest, "*.parquet"))
    assert files, f"no parquet parts under {dest}"
    schema = pa.read_schema(files[0])
    names = set(schema.names)
    assert "sh" not in names and "shh" not in names
    assert str(schema.field("h0").type) == "int64"


def test_hashed_mode_caches_separately_from_string_mode(monkeypatch):
    # the prefix-rank artifact is keyed on the signature index's
    # fingerprint, so its two layouts cache separately too
    for name in ("doc_signature_index", "doc_prefix_rank_index"):
        monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "0")
        fp_s = artifacts.fingerprint(name, SF_SMALL)
        monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
        assert artifacts.fingerprint(name, SF_SMALL) != fp_s


def test_hashed_shingle_sets_are_bigint(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
    spark.catalog.clearCache()
    sets = si.doc_shingle_sets(spark, SF_SMALL)
    el = sets.schema["shset"].dataType.elementType.simpleString()
    assert el == "bigint"
    # and the ranked artifact's element follows the mode too
    ranked = si.doc_prefix_rank_index(spark, SF_SMALL, rebuild=True)
    assert ranked.schema["sh"].dataType.simpleString() == "bigint"


@pytest.mark.parametrize(
    "name", ("q52_jaccard_neardup", "q215_containment_prefix_exact")
)
def test_hashed_referee_mode_equals_hashed_index_mode(
    spark, name, monkeypatch
):
    """The fourth mode quadrant: ARTIFACTS=0 (in-plan lineage) combined
    with SIG_HASHED=1 must equal the materialized hashed index path —
    the referee switch may never change results WITHIN a layout mode
    (the other three quadrants are pinned by test_sig_index and the
    mode-equality tests above)."""
    monkeypatch.setenv("SPARK_GRAFT_SIG_HASHED", "1")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "1")
    spark.catalog.clearCache()
    via_index = _rows(spark, name)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "0")
    spark.catalog.clearCache()
    assert _rows(spark, name) == via_index
