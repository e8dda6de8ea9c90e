"""Round-9 adaptive-parameter operators (q201/q202/q203/q204): ladder
pins, the band-nesting property, and independent plain-Python referees.

The adaptive discipline (q194/q199 generalized): a compile-time constant
becomes an integer CASE ladder over the corpus row count, read as a
broadcast scalar inside one static dual-dialect plan. These tests pin
(a) the rung the ladder picks at fixture sizes, (b) the structural
property that makes a ladder sound (wider geometry ⟹ candidate subset),
and (c) full-output equality against independent Python recomputations.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import duckdb
from pyspark.sql import functions as F

from discogs_load_spark.functions.textfns import (
    adaptive_band_rows_sql,
    adaptive_df_cap_sql,
)
from discogs_load_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from discogs_load_spark.queries import REGISTRY
from discogs_load_spark.session import load_tables

from .conftest import SF_SMALL


def _docs(spark):
    return load_tables(spark, SF_SMALL, ["documents"])["documents"]


# --- ladder rungs ----------------------------------------------------------


def test_band_ladder_rungs():
    c = duckdb.connect()
    for n, want in [(1, 3), (4096, 3), (4097, 6), (65536, 6), (65537, 12)]:
        got = c.execute(f"SELECT {adaptive_band_rows_sql(str(n))}").fetchone()[0]
        assert got == want, (n, got, want)


def test_df_cap_ladder_is_sqrt_at_rung_edges():
    c = duckdb.connect()
    for n, want in [(500, 64), (4096, 64), (4097, 256), (65536, 256),
                    (65537, 1024), (1048576, 1024), (1048577, 4096)]:
        got = c.execute(f"SELECT {adaptive_df_cap_sql(str(n))}").fetchone()[0]
        assert got == want, (n, got, want)
        if n in (4096, 65536, 1048576):
            assert want * want == n  # cap = sqrt(N) at each rung edge


def test_band_key_null_slot_nulls_key_in_both_dialects(spark):
    """A partially-null signature row must produce a NULL band key —
    dropping out of the band equi-join — not a valid key aliasing with
    the same row minus the null slot (ADVICE r11: concat_ws skips
    nulls, and lsh_candidate_pairs is a public operator over arbitrary
    signature frames, so the guard can't live only in the accessors'
    pre-filtering)."""
    from discogs_load_spark.functions.textfns import band_key_sql

    expr = band_key_sql(0, 2, "spark")
    rows = spark.sql(
        f"SELECT {expr} AS k FROM VALUES"
        " ('a', 'b'), ('a', CAST(NULL AS STRING)), (NULL, 'b')"
        " AS t(h0, h1)"
    ).collect()
    assert rows[0].k is not None
    assert rows[1].k is None and rows[2].k is None
    c = duckdb.connect()
    dk = c.execute(
        f"SELECT {band_key_sql(0, 2, 'duckdb')} AS k FROM"
        " (SELECT 'a' AS h0, CAST(NULL AS VARCHAR) AS h1)"
    ).fetchone()[0]
    assert dk is None


# --- structural property: wider bands ⟹ candidate subset -------------------


def test_band_candidates_nest_across_rungs(spark):
    """candidates(r=6) ⊆ candidates(r=3) and candidates(r=12) ⊆
    candidates(r=6) on the real fixture: each rung divides the next, so
    agreement on a wide band implies agreement on both its halves — the
    property that makes the ladder only-coarsen (same family as q199's
    prefix-of-signs)."""
    sigs = minhash_signatures(_docs(spark), "doc_id", "text")
    by_rung = {}
    for r in (3, 6, 12):
        pairs = lsh_candidate_pairs(sigs, "doc_id", bands=12 // r)
        by_rung[r] = {(x.id_a, x.id_b) for x in pairs.collect()}
    assert by_rung[6] <= by_rung[3]
    assert by_rung[12] <= by_rung[6]
    assert by_rung[3], "fixture produced no candidates at the base rung"


# --- q201 / q203: below the first rung they EQUAL their fixed twins --------


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_q201_equals_q52_below_first_rung(spark):
    """sf0.001 has 500 docs <= 4096, so the ladder sits on r=3 — exactly
    q52's fixed 4x3 geometry — and the outputs must be identical."""
    a = _rows(REGISTRY["q201_adaptive_band_neardup"].fn(spark, SF_SMALL))
    b = _rows(REGISTRY["q52_jaccard_neardup"].fn(spark, SF_SMALL))
    assert a == b
    assert a, "no verified near-dup pairs on the fixture"


def test_q203_equals_q197_below_first_rung(spark):
    """500 docs <= 4096 → cap = 64 = SLM_DF_CAP → q203 == q197."""
    a = _rows(REGISTRY["q203_adaptive_sparse_match"].fn(spark, SF_SMALL))
    b = _rows(REGISTRY["q197_sparse_best_match"].fn(spark, SF_SMALL))
    assert a == b
    assert a


# --- q202: plain-Python CDC referee ----------------------------------------


def _norm_tokens(text: str) -> list[str]:
    s = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
    return s.split(" ") if s else []


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _cdc_spans(tokens: list[str], w: int = 4) -> list[tuple[int, int]]:
    """(start, end) token offsets of each chunk."""
    bounds = [
        i + w
        for i in range(len(tokens) - w + 1)
        if _md5(" ".join(tokens[i : i + w])).startswith("0")
    ]
    starts = [0] + bounds
    ends = bounds + [len(tokens)]
    return [(s, e) for s, e in zip(starts, ends) if e > s]


def _cdc_chunks(tokens: list[str], w: int = 4) -> list[str]:
    return [_md5(" ".join(tokens[s:e])) for s, e in _cdc_spans(tokens, w)]


def test_q202_matches_python_cdc_reference(spark):
    docs = {
        r.doc_id: r.text
        # bounded: sf0.001 fixture, 500 docs, test-only
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    occurrences = defaultdict(Counter)
    for doc_id, text in docs.items():
        for h in _cdc_chunks(_norm_tokens(text)):
            occurrences[h][doc_id] += 1
    want = sorted(
        (h, len(c), sum(c.values()), min(c))
        for h, c in occurrences.items()
        if len(c) >= 2
    )
    got = _rows(REGISTRY["q202_cdc_chunk_dedup"].fn(spark, SF_SMALL))
    assert got == want
    assert want, "fixture has no shared CDC chunks (planted dups expected)"


def test_cdc_resynchronizes_after_insertion():
    """The CDC property itself: insert a token near the head of a long doc
    and the chunk sets still share every chunk after the first boundary —
    fixed-size chunking would shift every downstream chunk."""
    base = [f"w{i}" for i in range(200)]  # varied grams → ~1/16 boundaries
    edited = ["zzz", *base]
    a, b = _cdc_chunks(base), _cdc_chunks(edited)
    shared = set(a) & set(b)
    assert len(a) > 2, "fixture text produced too few chunks to test resync"
    assert shared, "no shared chunks after a head insertion"
    # every chunk after the first boundary must survive the edit
    assert set(a[1:]) <= set(b)


# --- q204: union-find + argmax referee --------------------------------------


def test_q204_matches_union_find_keepers(spark):
    docs = _docs(spark)
    chars = {
        r.doc_id: r.n_chars
        # bounded: sf0.001 fixture, 500 docs, test-only
        for r in docs.select("doc_id", "n_chars").collect()
    }
    verified = [
        (r.id_a, r.id_b)
        for r in REGISTRY["q52_jaccard_neardup"].fn(spark, SF_SMALL).collect()
    ]
    parent = {d: d for d in chars}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in verified:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = defaultdict(list)
    in_graph = {d for ab in verified for d in ab}
    for d in chars:
        groups[find(d) if d in in_graph else d].append(d)
    want = sorted(
        (
            comp,
            max(members, key=lambda d: (chars[d], -d)),
            chars[max(members, key=lambda d: (chars[d], -d))],
            len(members),
            sum(chars[d] for d in members)
            - chars[max(members, key=lambda d: (chars[d], -d))],
        )
        for comp, members in groups.items()
    )
    got = _rows(REGISTRY["q204_neardup_keepers"].fn(spark, SF_SMALL))
    assert got == want
    assert any(row[3] > 1 for row in want), "no multi-doc cluster on fixture"


# --- q205: CDC novelty vs plain-Python reference -----------------------------


def test_q205_matches_python_novelty_reference(spark):
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM

    docs = {
        r.doc_id: r.text
        # bounded: sf0.001 fixture, 500 docs, test-only
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    chunks = {d: _cdc_chunks(_norm_tokens(t)) for d, t in docs.items()}
    idx = {
        h
        for d, hs in chunks.items()
        if d % NEW_MOD != NEW_REM
        for h in hs
    }
    want = sorted(
        (
            d,
            len(hs),
            sum(h in idx for h in hs),
            (len(hs) - sum(h in idx for h in hs)) / len(hs),
        )
        for d, hs in chunks.items()
        if d % NEW_MOD == NEW_REM and hs
    )
    got = _rows(REGISTRY["q205_cdc_novelty"].fn(spark, SF_SMALL))
    assert got == want
    assert want


# --- q206: adaptive SNB window -----------------------------------------------


def test_snb_window_ladder_rungs():
    from discogs_load_spark.functions.textfns import adaptive_snb_window_sql

    c = duckdb.connect()
    for n, d, want in [
        (100, 100, 3),   # unique keys: m=1
        (200, 100, 3),   # m=2 — still the fixed-q196 geometry
        (201, 100, 16),  # m=ceil(2.01)=3
        (1600, 100, 16),  # m=16
        (1601, 100, 64),  # m=17
        (6400, 100, 64),
        (6500, 100, 256),
    ]:
        got = c.execute(
            f"SELECT {adaptive_snb_window_sql(str(n), str(d), 'duckdb')}"
        ).fetchone()[0]
        assert got == want, (n, d, got, want)


def test_q206_prefix_of_fixed_window(spark):
    """SNB neighbor sets are gap-prefix-nested: whatever rung the ladder
    picks, the gap <= SNB_WINDOW slice of q206 must EQUAL q196 exactly
    (widening w only appends larger gaps, never changes small-gap
    pairs). The sf0.001 part table has 200 rows over 62 names → m = 4 →
    the ladder's w = 16, which the max emitted gap pins."""
    from discogs_load_spark.queries.dedup import SNB_WINDOW

    a = _rows(REGISTRY["q206_adaptive_snb_window"].fn(spark, SF_SMALL))
    b = _rows(REGISTRY["q196_sorted_neighborhood"].fn(spark, SF_SMALL))
    gap_i = 4  # (id_a, id_b, name_a, name_b, gap, edit_dist)
    assert [r for r in a if r[gap_i] <= SNB_WINDOW] == b
    assert max(r[gap_i] for r in a) == 16  # m=4 rung
    assert len(a) > len(b)


def test_adaptive_snb_recovers_dense_key_duplicates(spark):
    """At name multiplicity 10 the ladder widens to w=16 and every
    same-name pair is paired; the fixed w=3 provably misses some — the
    recall loss the ladder exists to prevent."""
    from discogs_load_spark.queries.dedup import SNB_WINDOW, _snb_pairs

    rows = [
        (name_i * 10 + copy, f"name{name_i:03d}")
        for name_i in range(40)
        for copy in range(10)
    ]
    part = spark.createDataFrame(rows, "p_partkey int, p_name string")
    stats = part.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("p_name").cast("bigint").alias("n_keys"),
    )
    ordered = sorted((r[1], r[0]) for r in rows)

    def expected(w):
        out = set()
        for i, (_, id_a) in enumerate(ordered):
            for j in range(i + 1, min(i + w + 1, len(ordered))):
                out.add((id_a, ordered[j][1]))
        return out

    got = {
        (r.id_a, r.id_b)
        for r in _snb_pairs(part, stats=stats).collect()
    }
    assert got == expected(16)  # m=10 → rung w=16
    same_name_pairs = {
        (a, b)
        for _, a in ordered
        for _, b in ordered
        if a != b and a // 10 == b // 10 and a < b
    }
    # ladder recovers ALL same-entity pairs; fixed w=3 misses most
    caught_adaptive = {(a, b) for a, b in got if a // 10 == b // 10}
    assert caught_adaptive == same_name_pairs
    missed_by_fixed = same_name_pairs - {
        (a, b) for a, b in expected(SNB_WINDOW) if a // 10 == b // 10
    }
    assert missed_by_fixed, "fixture should demonstrate fixed-w recall loss"


# --- q207: containment referee ----------------------------------------------


def _shingle_set(tokens: list[str], k: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


def test_q207_matches_python_containment(spark):
    docs = {
        r.doc_id: _shingle_set(_norm_tokens(r.text))
        # bounded: sf0.001 fixture, 500 docs, test-only
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in REGISTRY["q51_minhash_lsh_pairs"].fn(spark, SF_SMALL).collect()
    }
    want = []
    for a, b in cands:
        inter = len(docs[a] & docs[b])
        for sub, sup, denom in ((a, b, len(docs[a])), (b, a, len(docs[b]))):
            c = inter / denom
            if c >= 0.9:
                want.append((sub, sup, c))
    want.sort()
    got = _rows(REGISTRY["q207_minhash_containment"].fn(spark, SF_SMALL))
    assert got == want
    assert want, "fixture's planted near-dups should contain each other"


def test_containment_catches_subset_jaccard_misses():
    """The asymmetry q207 exists for: a short doc embedded in a long one
    has containment 1.0 but Jaccard far below any near-dup threshold."""
    short = [f"w{i}" for i in range(10)]
    long_ = short + [f"x{i}" for i in range(90)]
    a, b = _shingle_set(short), _shingle_set(long_)
    assert len(a & b) / len(a) == 1.0
    assert len(a & b) / len(a | b) < 0.1


# --- q208: chunk-length profile referee --------------------------------------


def _cdc_chunk_lens(tokens: list[str], w: int = 4) -> list[int]:
    bounds = [
        i + w
        for i in range(len(tokens) - w + 1)
        if _md5(" ".join(tokens[i : i + w])).startswith("0")
    ]
    starts = [0] + bounds
    ends = bounds + [len(tokens)]
    return [e - s for s, e in zip(starts, ends) if e > s]


def test_q208_matches_python_profile(spark):
    rows = (
        _docs(spark).select("doc_id", "source", "text").collect()
        # bounded: sf0.001 fixture, 500 docs, test-only
    )
    per_source = defaultdict(list)  # source -> [(doc_id, len), ...]
    for r in rows:
        for ln in _cdc_chunk_lens(_norm_tokens(r.text)):
            per_source[r.source].append((r.doc_id, ln))
    want = []
    for src, items in per_source.items():
        lens = sorted(ln for _, ln in items)
        n = len(lens)
        p90 = next(
            ln for i, ln in enumerate(lens, start=1) if 10 * i >= 9 * n
        )
        want.append(
            (
                src,
                len({d for d, _ in items}),
                n,
                sum(lens) / n,
                max(lens),
                p90,
            )
        )
    want.sort()
    got = _rows(REGISTRY["q208_chunk_length_profile"].fn(spark, SF_SMALL))
    assert got == want
    assert want


# --- q209: adaptive CMS width ------------------------------------------------


def test_cms_width_ladder_rungs():
    from discogs_load_spark.functions.textfns import adaptive_cms_width_sql

    c = duckdb.connect()
    for n, want in [
        (1000, 64), (65536, 64), (65537, 256), (262144, 256),
        (262145, 1024), (1048576, 1024), (1048577, 4096),
    ]:
        got = c.execute(
            f"SELECT {adaptive_cms_width_sql(str(n))}"
        ).fetchone()[0]
        assert got == want, (n, got, want)
        if n in (65536, 262144, 1048576):
            assert n // want == 1024  # per-cell collision mass at edges


def test_q209_equals_q180_below_first_rung(spark):
    """sf0.001: 500 docs x ~55 tokens ≈ 27k <= 65536 → width 64 = q180's
    fixed grid, so the sketches (and their measured overcounts) are
    identical."""
    a = _rows(REGISTRY["q209_adaptive_cms_width"].fn(spark, SF_SMALL))
    b = _rows(REGISTRY["q180_countmin_heavy_hitters"].fn(spark, SF_SMALL))
    assert a == b
    assert a


# --- q210: full adaptive merge/purge ------------------------------------------


def test_q210_equals_q204_below_first_rung(spark):
    """500 docs <= 4096 → the band ladder sits on q52's geometry, so the
    adaptive pipeline's manifest equals q204's bitwise; past the rung
    only the blocking coarsens."""
    a = _rows(REGISTRY["q210_adaptive_merge_purge"].fn(spark, SF_SMALL))
    b = _rows(REGISTRY["q204_neardup_keepers"].fn(spark, SF_SMALL))
    assert a == b
    assert a


def test_q210_manifest_covers_corpus_exactly_once(spark):
    """The manifest property: every doc appears in exactly one cluster
    (n_docs sums to the corpus) and purge accounting is conservative
    (total chars = keeper chars + purged chars, summed)."""
    rows = _rows(REGISTRY["q210_adaptive_merge_purge"].fn(spark, SF_SMALL))
    docs = _docs(spark)
    n = docs.count()
    total_chars = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r[3] for r in rows) == n
    kept_plus_purged = sum(r[2] for r in rows if r[3] == 1) + sum(
        r[2] + r[4] for r in rows if r[3] > 1
    )
    assert kept_plus_purged == total_chars


# --- q211: cross-source overlap referee ---------------------------------------


def test_q211_matches_python_overlap(spark):
    rows = (
        _docs(spark).select("doc_id", "source", "text").collect()
        # bounded: sf0.001 fixture, 500 docs, test-only
    )
    pres = defaultdict(set)  # source -> {chunk_hash}
    for r in rows:
        for h in _cdc_chunks(_norm_tokens(r.text)):
            pres[r.source].add(h)
    want = []
    srcs = sorted(pres)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(pres[a] & pres[b])
            if shared:
                want.append(
                    (a, b, shared, shared / min(len(pres[a]), len(pres[b])))
                )
    want.sort()
    got = _rows(REGISTRY["q211_source_overlap_matrix"].fn(spark, SF_SMALL))
    assert got == want
    assert want, "fixture sources share no chunks (planted dups expected)"


# --- q212: CDC index write set referee ----------------------------------------


def test_q212_matches_python_index_delta(spark):
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM

    rows = (
        _docs(spark).select("doc_id", "text").collect()
        # bounded: sf0.001 fixture, 500 docs, test-only
    )
    chunks = {r.doc_id: _cdc_chunks(_norm_tokens(r.text)) for r in rows}
    idx = {
        h for d, hs in chunks.items() if d % NEW_MOD != NEW_REM for h in hs
    }
    novel = defaultdict(list)
    for d, hs in chunks.items():
        if d % NEW_MOD == NEW_REM:
            for h in hs:
                if h not in idx:
                    novel[h].append(d)
    want = sorted((h, min(ds), len(ds)) for h, ds in novel.items())
    got = _rows(REGISTRY["q212_cdc_index_delta"].fn(spark, SF_SMALL))
    assert got == want
    assert want, "the delta should contain some novel chunks"
    # consistency with q205: novel occurrence totals must agree
    q205 = _rows(REGISTRY["q205_cdc_novelty"].fn(spark, SF_SMALL))
    assert sum(n for _, _, n in want) == sum(
        r[1] - r[2] for r in q205
    ), "q212's write set and q205's novel counts disagree"


# --- q215: exact containment via asymmetric prefix filtering -----------------


def test_q215_matches_python_exact_containment(spark):
    """q215's contract is EXACTNESS (zero false negatives), so the
    referee is the plain all-pairs containment over every doc pair —
    not just LSH candidates (q207's referee scope)."""
    docs = {
        r.doc_id: _shingle_set(_norm_tokens(r.text))
        # bounded: sf0.001 fixture, 500 docs, test-only
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    ids = sorted(docs)
    want = []
    for i, a in enumerate(ids):
        if not docs[a]:
            continue
        for b in ids[i + 1 :]:
            if not docs[b]:
                continue
            inter = len(docs[a] & docs[b])
            for sub, sup, denom in (
                (a, b, len(docs[a])),
                (b, a, len(docs[b])),
            ):
                c = inter / denom
                if c >= 0.9:
                    want.append((sub, sup, c))
    want.sort()
    got = _rows(REGISTRY["q215_containment_prefix_exact"].fn(spark, SF_SMALL))
    assert got == want
    assert want, "fixture's planted near-dups should contain each other"


def test_q215_finds_quote_in_article_that_banding_misses(spark):
    """The recall theorem, pinned live (ADVICE r09): a 12-token quote
    embedded verbatim in a 200-token article has containment 1.0 but
    Jaccard ~0.05, so the Jaccard-banded MinHash blocking feeding q207
    misses the pair (no band agrees — deterministic under the md5 hash
    family) while the asymmetric prefix blocking finds it BY
    CONSTRUCTION."""
    from pyspark.sql import functions as F

    from discogs_load_spark.operators.dedup import (
        containment_prefix_pairs,
        containment_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    quote = " ".join(f"quo{i}" for i in range(12))
    article = (
        " ".join(f"pre{i}" for i in range(30))
        + " " + quote + " "
        + " ".join(f"post{i}" for i in range(160))
    )
    filler = [
        " ".join(f"f{d}x{i}" for i in range(40)) for d in range(6)
    ]
    rows = [(1, quote), (2, article)] + [
        (10 + d, t) for d, t in enumerate(filler)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(df, "doc_id", "text")
    banded = lsh_candidate_pairs(sigs, "doc_id")
    via_lsh = containment_verify(
        df, banded, "doc_id", "text", threshold=0.9
    ).collect()
    assert not any(
        {r.id_sub, r.id_super} == {1, 2} for r in via_lsh
    ), "banding unexpectedly caught the quote pair; pick a harder fixture"

    exact = containment_prefix_pairs(
        df, "doc_id", "text", threshold=0.9
    ).collect()
    hits = [r for r in exact if r.id_sub == 1 and r.id_super == 2]
    assert len(hits) == 1 and hits[0].containment == 1.0


def test_centroid_planes_ladder_rungs():
    """The centroid-table ladder targets ~4 expected centroids per
    bucket at each rung's upper edge (4·2^p thresholds) — the
    small-side sibling of adaptive_planes_sql, which starts at p=8 and
    would leave almost every probe bucket empty over a k≈8 table."""
    from discogs_load_spark.functions.vectors import centroid_planes_sql

    c = duckdb.connect()
    for k, want in [(1, 2), (16, 2), (17, 4), (64, 4), (65, 6),
                    (256, 6), (257, 8), (1024, 8), (1025, 10),
                    (4096, 10), (4097, 12)]:
        got = c.execute(
            f"SELECT {centroid_planes_sql(str(k))}"
        ).fetchone()[0]
        assert got == want, (k, got, want)
        if k in (16, 64, 256, 1024, 4096):
            assert 4 * (2 ** want) == k  # ~4 centroids/bucket at edges


def test_q221_partitions_delta_exactly_and_broadcasts_centroids(spark):
    """Every delta vector lands in EXACTLY one output row's count —
    assigned rows plus the explicit cluster = -1 bucket-miss row — and
    the centroid-side joins are broadcast (the small side is k rows; a
    shuffle join there would be a planning bug)."""
    from discogs_load_spark.plans import formatted_plan
    from discogs_load_spark.queries.dedup import NEW_MOD, NEW_REM
    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.session import load_tables

    out = REGISTRY["q221_delta_cluster_assign_lsh"].fn(spark, SF_SMALL)
    rows = out.collect()
    emb = load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]
    n_delta = emb.filter(
        (F.col("vec_id") % NEW_MOD) == NEW_REM
    ).count()
    assert sum(r.n_new for r in rows) == n_delta
    assert all(r.cluster >= -1 for r in rows)

    plan = formatted_plan(
        REGISTRY["q221_delta_cluster_assign_lsh"].fn(spark, SF_SMALL)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q222_multiprobe_dominates_single_probe(spark):
    """The multiprobe recall contract vs q221: probing a SUPERSET of
    buckets can only assign MORE vectors (unassigned set shrinks or
    holds) and never fewer — the n_new of the cluster = -1 row is the
    observable. Coverage stays a partition: both forms account for
    every delta vector exactly once."""
    from discogs_load_spark.queries.registry import REGISTRY

    one = {
        r.cluster: r.n_new
        for r in REGISTRY["q221_delta_cluster_assign_lsh"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    multi = {
        r.cluster: r.n_new
        for r in REGISTRY["q222_delta_assign_multiprobe"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert sum(one.values()) == sum(multi.values())  # same delta partition
    assert multi.get(-1, 0) <= one.get(-1, 0)


def test_q225_completes_every_assignment_via_bounded_exact_residue(spark):
    """The composed operator's three contracts (VERDICT r12 item 2):
    (a) COMPLETE — every delta vector gets a real cluster, no -1 row;
    (b) the exact-path residue is EXACTLY q222's bucket-miss set (the
    composition routes only the former cluster = -1 vectors through the
    O(k) argmax), so residue_fraction stays small by construction —
    pinned < 0.5 at fixture scale (multiprobe covers p+1 of the 2^p
    buckets, so a miss needs ALL probed buckets centroid-free);
    (c) the cheap path is a genuine approximation of the exact argmax,
    not garbage — agreement with the full q220-style exact assignment
    is pinned >= 0.6 at fixture scale (it is NOT 1.0 in general: an
    in-bucket argmax may miss the globally nearest centroid — the
    measured ~60% single-probe disagreement in q225's docstring)."""
    from pyspark.sql import functions as F

    from discogs_load_spark.functions.vectors import cosine_sql
    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.queries.similarity import (
        DIM,
        _frozen_centroid_buckets,
        _multiprobe,
    )

    out = REGISTRY["q225_delta_assign_complete"].fn(spark, SF_SMALL).collect()
    assert all(r.cluster >= 0 for r in out)  # complete: no -1 row
    n_new = sum(r.n_new for r in out)
    n_exact = sum(r.n_via_exact for r in out)

    multi = {
        r.cluster: r.n_new
        for r in REGISTRY["q222_delta_assign_multiprobe"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert sum(multi.values()) == n_new  # same delta partition
    assert n_exact == multi.get(-1, 0)  # residue == q222's miss set
    assert n_exact / n_new < 0.5

    # per-vector agreement with the exact argmax (the q220 computation)
    centb, newv = _frozen_centroid_buckets(spark, SF_SMALL)
    cos = cosine_sql("embedding", "centroid", DIM, "spark")
    exact = (
        newv.crossJoin(F.broadcast(centb.select("cluster", "centroid")))
        .select("vec_id", F.expr(cos).alias("cos"), "cluster")
        .groupBy("vec_id")
        .agg(F.max(F.struct("cos", "cluster")).alias("b"))
        .select("vec_id", F.col("b.cluster").alias("cluster"))
    )
    cheap = (
        _multiprobe(newv)
        .join(F.broadcast(centb), "bk")
        .select("vec_id", F.expr(cos).alias("cos"), "cluster")
        .groupBy("vec_id")
        .agg(F.max(F.struct("cos", "cluster")).alias("b"))
        .select("vec_id", F.col("b.cluster").alias("cluster"))
    )
    e = {r.vec_id: r.cluster for r in exact.collect()}
    c = {r.vec_id: r.cluster for r in cheap.collect()}
    # composed = cheap where assigned, exact for the residue — so its
    # per-vector agreement with exact is bounded below by the cheap
    # path's hit agreement; residue vectors agree by construction
    agree = sum(1 for v, cl in c.items() if e[v] == cl) + (len(e) - len(c))
    assert 0.6 <= agree / len(e) <= 1.0


def test_flat_regime_oracle_guard_fires_above_cutoff(spark, monkeypatch):
    """VERDICT r12 item 5: above SEM_TWO_LEVEL_MIN the delta-assignment
    oracles are invalid BY CONSTRUCTION (they unroll flat k-means; the
    engine clusters two-level). The contract layer must get a loud
    skip reason instead of a hash mismatch — and none at fixture scale."""
    from discogs_load_spark.queries import similarity as sim

    assert sim.flat_oracle_guard(spark, SF_SMALL) is None
    monkeypatch.setattr(sim, "SEM_TWO_LEVEL_MIN", 0)
    reason = sim.flat_oracle_guard(spark, SF_SMALL)
    assert reason and "two-level" in reason
