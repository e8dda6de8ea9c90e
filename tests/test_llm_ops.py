"""Behavioral tests for the LLM-pipeline operators (beyond oracle parity):
do they actually find what they should?"""

from __future__ import annotations

from pyspark.sql import functions as F

from discogs_load_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from discogs_load_spark.operators.similarity import cosine_topk, lsh_topk
from discogs_load_spark.session import load_tables

from .conftest import SF_SMALL


def _docs(spark):
    return load_tables(spark, SF_SMALL, ["documents"])["documents"]


def _emb(spark):
    return load_tables(spark, SF_SMALL, ["embeddings"])["embeddings"]


def test_exact_dedup_synthetic(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox!"),
            (2, "the QUICK  brown fox"),  # same after normalization
            (3, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    groups = exact_dedup_groups(df, "doc_id", "text").collect()
    by_keeper = {r.keeper_id: r.n_copies for r in groups}
    assert by_keeper == {1: 2, 3: 1}


def test_minhash_recovers_planted_neardups(spark):
    """The fixture corpus plants near-duplicate pairs (jaccard ~0.98); the
    LSH pipeline must surface them and the verify step must confirm."""
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    verified = jaccard_verify(docs, pairs, "doc_id", "text", threshold=0.8)
    rows = verified.collect()
    assert len(rows) > 0
    assert all(r.jaccard >= 0.8 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_simhash_hamming_separates_neardups(spark):
    """Near-duplicate docs must be closer in SimHash-Hamming space than the
    average unrelated pair."""
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "doc_id", "text")
    near = (
        jaccard_verify(
            docs, lsh_candidate_pairs(sigs, "doc_id"), "doc_id", "text", 3, 0.9
        )
        .limit(5)
        .collect()
    )
    assert near, "fixture should contain jaccard>=0.9 pairs"
    sh = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near_d = [hamming(sh[r.id_a], sh[r.id_b]) for r in near]
    ids = sorted(sh)
    far_d = [hamming(sh[ids[i]], sh[ids[i + 7]]) for i in range(0, 40, 8)]
    assert max(near_d) < 8, f"near-dup hamming too big: {near_d}"
    assert sum(far_d) / len(far_d) > 8, f"unrelated docs too close: {far_d}"


def test_bruteforce_topk_properties(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    top = cosine_topk(emb, queries, "vec_id", "embedding", 64, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        sims = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.001 <= s <= 1.001 for s in sims)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_subset_of_bruteforce_scores(spark):
    """LSH is approximate but never invents similarity: every (query,
    neighbor, cosine) it returns must equal the brute-force cosine."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 2)
    brute = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, "vec_id", "embedding", 64, k=10000).collect()
    }
    approx = lsh_topk(emb, queries, "vec_id", "embedding", 64, k=5).collect()
    for r in approx:
        assert brute[(r.query_id, r.neighbor_id)] == r.cosine


def test_salted_join_matches_plain_join(spark):
    from discogs_load_spark.operators.relational import salted_join

    orders = load_tables(spark, SF_SMALL, ["orders"])["orders"]
    customer = load_tables(spark, SF_SMALL, ["customer"])["customer"]
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey").count()
    )
    salted = (
        salted_join(orders, customer, "o_custkey", "c_custkey", n_salts=8)
        .groupBy("c_custkey").count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_sample_frames_fanout_matches_payload_size(spark):
    from discogs_load_spark.operators.multimodal import attach_payload, sample_frames

    docs = load_tables(spark, SF_SMALL, ["documents"])["documents"]
    mm = attach_payload(docs.limit(10))
    frames = sample_frames(mm, every_n_bytes=100).collect()
    sizes = {r.doc_id: r.n_bytes for r in mm.collect()}
    import math
    want = sum(math.ceil(n / 100) for n in sizes.values())
    assert len(frames) == want
    # offsets are the arithmetic progression the stub promises
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.byte_offset))
    for doc, pairs in per_doc.items():
        pairs.sort()
        assert pairs == [(i, i * 100) for i in range(len(pairs))]


def test_lsh_mega_bucket_cap(spark):
    """A planted cluster of 1,000 identical documents must NOT go quadratic
    inside one band bucket: with max_bucket_size=32 the candidate output for
    the cluster is exactly C(32,2) pairs over the 32 smallest ids, and
    unrelated docs are unaffected."""
    cluster = [(i, "spam spam spam wonderful spam baked beans and spam") for i in range(1000)]
    others = [
        (2000, "completely unrelated text about database systems design"),
        (2001, "completely unrelated text about database systems design"),
    ]
    df = spark.createDataFrame(cluster + others, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=32).collect()
    cluster_pairs = [r for r in pairs if r.id_b < 2000]
    other_pairs = [r for r in pairs if r.id_a >= 2000]
    assert len(cluster_pairs) == 32 * 31 // 2
    assert all(r.id_a < 32 and r.id_b < 32 for r in cluster_pairs)
    assert other_pairs == [(2000, 2001)] or [
        (r.id_a, r.id_b) for r in other_pairs
    ] == [(2000, 2001)]


def test_lsh_cap_disabled_matches_uncapped_semantics(spark):
    """With max_bucket_size=None (and with a cap larger than any bucket) the
    pair set is identical to the pre-cap behavior on organic data."""
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "doc_id", "text")
    uncapped = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=None).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=1024).collect()
    }
    assert uncapped == capped


def test_connected_components_transitive_chain(spark):
    """A-B, B-C, C-D must merge into ONE component labeled min(id), even
    though A-C, A-D, B-D were never pairs; disjoint E-F stays separate."""
    from discogs_load_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    from discogs_load_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_chunking_layout(spark):
    """Chunk count and window coverage: a 80-token doc at size 32 / stride
    24 yields 3 chunks (starts 0/24/48); the final window reaches the end;
    a short doc yields exactly one chunk; an empty doc one empty chunk."""
    from discogs_load_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(80))),
            (2, "only five little words here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, "doc_id", "text", size=32, stride=24).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_chunk_tokens))
    assert by_doc[1] == [(0, 32), (1, 32), (2, 32)]  # 48+32 == 80: exact cover
    assert by_doc[2] == [(0, 5)]
    assert by_doc[3] == [(0, 0)]
    # 81 tokens: a 4th chunk must appear to cover the last token
    one_more = spark.createDataFrame(
        [(4, " ".join(f"w{i}" for i in range(81)))], "doc_id long, text string"
    )
    rows4 = chunk_documents(one_more, "doc_id", "text", size=32, stride=24).collect()
    assert [(r.chunk_id, r.n_chunk_tokens) for r in sorted(rows4)] == [
        (0, 32), (1, 32), (2, 32), (3, 9),
    ]


def test_kmeans_separable_clusters(spark):
    """Two well-separated direction bundles must end up in two clusters
    with every member following its seed."""
    from discogs_load_spark.operators.clustering import kmeans

    base_a = [1.0, 0.0, 0.0, 0.0]
    base_b = [0.0, 1.0, 0.0, 0.0]
    rows = []
    for i in range(10):
        eps = 0.01 * i
        rows.append((i * 2, [v + eps * 0.1 for v in base_a]))
        rows.append((i * 2 + 1, [v + eps * 0.1 for v in base_b]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans(emb, "vec_id", "embedding", 4, 2, 3).collect()
    clusters = {r.vec_id: r.cluster for r in out}
    evens = {clusters[i] for i in range(0, 20, 2)}
    odds = {clusters[i] for i in range(1, 20, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds
    assert all(r.cos > 0.99 for r in out)


def test_lsh_bipartite_screens_only_new_side(spark):
    """Bipartite candidates: a planted near-dup straddling the split is
    found; corpus-corpus and new-new duplicates are NOT paired."""
    from discogs_load_spark.operators.dedup import (
        lsh_bipartite_candidates,
        minhash_signatures,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, text), (2, text), (3, "unrelated corpus document about spark joins")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, text), (101, text), (102, "novel content nothing like the corpus")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_bipartite_candidates(
            minhash_signatures(new, "doc_id", "text"),
            minhash_signatures(corpus, "doc_id", "text"),
            "doc_id",
        ).collect()
    }
    assert pairs == {(100, 1), (100, 2), (101, 1), (101, 2)}


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 searches a superset of nprobe=1's candidates, so its
    recall@k against the exact top-k must be >= per query — the knob must
    actually buy recall, never lose it (q129's ivf vs ivf_p2 rows)."""
    from discogs_load_spark.operators.similarity import ivf_topk
    from discogs_load_spark.queries.similarity import (
        DIM,
        IVF_CENTROID_IDS,
        TOPK,
    )

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, "vec_id", "embedding", DIM, TOPK).collect()
    }

    def hits(n_probe):
        rows = ivf_topk(
            emb, queries, "vec_id", "embedding", DIM, TOPK,
            IVF_CENTROID_IDS, n_probe=n_probe,
        ).collect()
        out = {}
        for r in rows:
            out[r.query_id] = out.get(r.query_id, 0) + (
                1 if (r.query_id, r.neighbor_id) in exact else 0
            )
        return out

    h1, h2 = hits(1), hits(2)
    assert h1 and h2
    for q in h1:
        assert h2.get(q, 0) >= h1[q], (q, h1, h2)


def test_q72_empty_payload_doc_parity(spark, duck, tmp_path):
    """A doc with EMPTY text emits zero frames: the Spark fan-out drops it
    and the oracle's WHERE n_frames > 0 must agree (VERDICT r05 latent
    edge — previously green only because no fixture doc was empty)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            # doc 3 (modality_code 0) empty; doc 4 exactly one window
            "text": ["alpha " * 50, "beta", "gamma " * 100, "", "x" * 256, "y"],
            "lang": ["en"] * 6,
            "source": ["t"] * 6,
            "n_chars": [300, 4, 600, 0, 256, 1],
        }
    )
    sf_dir = tmp_path / "sfx"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    spec = REGISTRY["q72_frame_sampling"]
    sdf = spec.fn(spark, str(sf_dir))
    srows = {tuple(r) for r in sdf.collect()}

    duck.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{sf_dir / 'documents.parquet'}'"
    )
    drows = {tuple(r) for r in duck.execute(spec.oracle).fetchall()}
    assert srows == drows
    # the empty doc's modality_code bucket (0) still exists via doc 0
    by_code = {r[0]: r for r in srows}
    assert by_code[0][2] == 1  # only doc 0; doc 3 dropped


def test_q171_bpe_merge_fold_overlap_semantics(spark, duck, tmp_path):
    """The BPE merge must be the greedy left-to-right NON-overlapping fold
    in both engines: 'aaaa' + merge (a,a) -> [aa, aa] (pairs 1-2 and 3-4),
    'aaa' -> [aa, a] — NOT the string-replace semantics, which consumes
    the shared separator and yields [aa, a, a] for 'aaaa'. A corpus of one
    repeated all-'a' word forces (a,a) as the round-1 argmax, and round 2's
    top pair then reveals which fold ran: (aa, aa) under the correct fold
    (freq = count of 'aaaa'), something else otherwise."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["aaaa " * 40, "aaaa aaa", "aaa"],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [200, 8, 3],
        }
    )
    sf_dir = tmp_path / "sfbpe"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    spec = REGISTRY["q171_bpe_merges"]
    srows = [tuple(r) for r in spec.fn(spark, str(sf_dir)).collect()]
    duck.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{sf_dir / 'documents.parquet'}'"
    )
    drows = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert srows == drows
    # corpus: 41x 'aaaa', 2x 'aaa'. round 1: (a,a) freq = 41*3 + 2*2 = 127.
    # correct fold: 'aaaa'->[aa,aa], 'aaa'->[aa,a]; round 2 argmax is
    # (aa,aa) freq 41. String-replace semantics would leave 'aaaa' as
    # [aa,a,a] and make round 2 (aa,a) freq 43 — the assert catches it.
    assert srows[0] == (1, "a", "a", 127)
    assert srows[1] == (2, "aa", "aa", 41)


def test_q172_mergeless_rounds_keep_counts(spark, duck, tmp_path):
    """A corpus whose histogram words are all single characters learns ZERO
    merges (no adjacent pairs exist). The encoder must still report
    per-source counts with n_tokens == n_chars — a merge-less round passes
    words through (LEFT JOIN ON TRUE + NULL fold) rather than annihilating
    the vocabulary frame the way a crossJoin against an empty 1-row frame
    would (review finding, r06)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b c d e", "a b a b"],
            "lang": ["en"] * 2,
            "source": ["s1", "s2"],
            "n_chars": [9, 7],
        }
    )
    sf_dir = tmp_path / "sf1ch"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    spec = REGISTRY["q172_bpe_encode"]
    srows = [tuple(r) for r in spec.fn(spark, str(sf_dir)).collect()]
    duck.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{sf_dir / 'documents.parquet'}'"
    )
    drows = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert srows == drows
    # zero merges learned: every word stays 1 char = 1 token
    assert srows == [("s1", 5, 5, 5), ("s2", 4, 4, 4)]
    # and q171 emits zero merge rows on the same corpus, in both engines
    spec171 = REGISTRY["q171_bpe_merges"]
    s171 = [tuple(r) for r in spec171.fn(spark, str(sf_dir)).collect()]
    d171 = [tuple(r) for r in duck.execute(spec171.oracle).fetchall()]
    assert s171 == d171 == []


def test_oph_minhash_recovers_planted_neardups(spark):
    """OPH signatures (1 md5/shingle + rotation densification) must
    surface the fixture's planted near-duplicate pairs through the same
    LSH banding, every signature slot must be densified (no NULLs), and a
    jaccard ~0.98 pair collides on all buckets so OPH finds at least the
    pairs the verify step confirms at >= 0.8."""
    from discogs_load_spark.operators.dedup import (
        _shingle_col,
        oph_minhash_signatures_from_shingles,
    )

    docs = _docs(spark)
    sigs = oph_minhash_signatures_from_shingles(
        _shingle_col(docs, "text", 3, "sh"), "doc_id"
    )
    null_rows = sigs.filter(
        " OR ".join(f"h{i} IS NULL" for i in range(12))
    ).count()
    assert null_rows == 0, "densification left NULL signature slots"
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    verified = jaccard_verify(docs, pairs, "doc_id", "text", threshold=0.8)
    rows = verified.collect()
    assert len(rows) > 0
    assert all(r.jaccard >= 0.8 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_oph_signatures_match_python_reference(spark):
    """Independent reference check for the OPH scheme (the DuckDB oracle
    shares the SQL formulation, so it can't catch a shared misreading):
    hashlib md5 + first-two-nibbles bucket + per-bucket min + cyclic
    borrow, implemented in plain Python over random word-salad docs, must
    reproduce the Spark signatures byte-for-byte."""
    import hashlib
    import random

    from discogs_load_spark.operators.dedup import (
        _shingle_col,
        oph_minhash_signatures_from_shingles,
    )

    rng = random.Random(20260814)
    words = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))))
        for i in range(200)
    ]
    n = 12

    def py_sig(text):
        toks = text.split()
        shingles = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        if not shingles:
            return None
        mins = {}
        for s in shingles:
            m = hashlib.md5(s.encode()).hexdigest()
            b = (int(m[0], 16) * 16 + int(m[1], 16)) % n
            if b not in mins or m < mins[b]:
                mins[b] = m
        slots = [mins.get(j) for j in range(n)]
        dens = []
        for j in range(n):
            for t in range(n):
                if slots[(j + t) % n] is not None:
                    dens.append(slots[(j + t) % n])
                    break
        return tuple(dens)

    want = {i: py_sig(t) for i, t in rows if py_sig(t) is not None}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: tuple(r[f"h{j}"] for j in range(n))
        for r in oph_minhash_signatures_from_shingles(
            _shingle_col(df, "text", 3, "sh"), "doc_id", n
        ).collect()
    }
    assert got == want


def test_q177_single_class_and_null_text_edges(spark, duck, tmp_path):
    """q177 must agree cross-engine on the two edges the review flagged:
    a single-class corpus (AUC undefined -> NULL, not an ANSI /0 crash)
    and a NULL-text row (NULL score group — Spark defaults NULLS FIRST in
    window order, DuckDB NULLS LAST; the explicit NULLS LAST pin must
    make nn_below identical)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    spec = REGISTRY["q177_feature_auc"]

    def run(docs):
        sf_dir = tmp_path / f"sf_{len(list(tmp_path.iterdir()))}"
        sf_dir.mkdir()
        pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")
        srows = [tuple(r) for r in spec.fn(spark, str(sf_dir)).collect()]
        duck.execute(
            f"CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM '{sf_dir / 'documents.parquet'}'"
        )
        drows = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
        assert srows == drows
        return srows[0]

    # single-class: every doc French -> n_pos = 0 -> auc NULL, no crash
    one_class = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["le chat et la mer", "la mer et le vent"],
            "lang": ["fr", "fr"],
            "source": ["t"] * 2,
            "n_chars": [17, 17],
        }
    )
    n_pos, n_neg, num2, auc = run(one_class)
    assert (n_pos, n_neg) == (0, 2) and auc is None

    # NULL text -> NULL score group; explicit NULLS LAST keeps parity
    with_null = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["the cat and the dog", None, "xyz qrs tuv", "the the a"],
            "lang": ["en", "en", "fr", "en"],
            "source": ["t"] * 4,
            "n_chars": [19, 0, 11, 9],
        }
    )
    n_pos, n_neg, num2, auc = run(with_null)
    assert n_pos == 3 and n_neg == 1


def test_q177_auc_matches_bruteforce_pair_counting(spark, tmp_path):
    """Independent reference for the grouped Mann-Whitney formulation:
    brute-force O(n^2) pair counting over the raw rows (1 per win, 0.5
    per tie) must equal the query's AUC exactly on a random corpus."""
    import random

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    rng = random.Random(20260815)
    words = ["the", "a", "of", "und", "der", "le", "xyz", "qrs", "data"]
    rows = []
    for i in range(120):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        rows.append((i, text, rng.choice(["en", "de", "fr"]), "t", len(text)))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = tmp_path / "sfauc"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    out = REGISTRY["q177_feature_auc"].fn(spark, str(sf_dir)).collect()[0]

    # python reference: same normalization/tokenization as the engine
    import re as _re

    def score(t):
        norm = _re.sub(r" +", " ", _re.sub(r"[^a-z0-9 ]", " ", t.lower())).strip()
        toks = norm.split(" ") if norm else []
        hits = sum(1 for w in toks if w in ("the", "a", "and", "of", "to", "in", "is"))
        return hits / max(len(toks), 1)

    pts = [(score(t), 1 if lang == "en" else 0) for _, t, lang, _, _ in rows]
    pos = [s for s, y in pts if y == 1]
    neg = [s for s, y in pts if y == 0]
    num = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert abs(out["auc"] - num / (len(pos) * len(neg))) < 1e-12


def test_q178_kneser_ney_matches_python_reference(spark, tmp_path):
    """Independent reference for the KN smoothing algebra: plain-Python
    interpolated KN over the same bigram counts must reproduce every
    emitted probability to 1e-12 (the reference DISTRIBUTES the division
    — a genuinely different association order, so agreement checks the
    math, not the expression text; the ORACLE pins the bitwise text) AND
    the emitted rows must be exactly the true top-50 selection under
    (c2 DESC, w1, w2) — parity alone can't catch an ordering-spec
    mistake because both dialects share the same ORDER BY text."""
    import random
    from collections import Counter

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(80):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 20)))
        rows.append((i, text, "en", "t", len(text)))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = tmp_path / "sfkn"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    got = REGISTRY["q178_kneser_ney"].fn(spark, str(sf_dir)).collect()

    c2 = Counter()
    for _, text, _, _, _ in rows:
        toks = text.split(" ")
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
    c1 = Counter()
    n1f = Counter()
    n1b = Counter()
    for (a, b), n in c2.items():
        c1[a] += n
        n1f[a] += 1
        n1b[b] += 1
    D = len(c2)
    for r in got:
        w1, w2 = r["w1"], r["w2"]
        assert r["c2"] == c2[(w1, w2)]
        assert r["n1f"] == n1f[w1] and r["n1b"] == n1b[w2]
        # deliberately different association: distribute the division
        want = max(c2[(w1, w2)] - 0.75, 0.0) / c1[w1] + (
            0.75 * n1f[w1] * n1b[w2]
        ) / (D * c1[w1])
        assert abs(r["p_kn"] - want) < 1e-12
    # sanity: probabilities over each emitted w1 stay in (0, 1]
    assert all(0.0 < r["p_kn"] <= 1.0 for r in got)
    # the emitted rows must be the TRUE top-50 under (c2 DESC, w1, w2)
    ref_order = sorted(c2.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    want_keys = [k for k, _ in ref_order[: len(got)]]
    assert [(r["w1"], r["w2"]) for r in got] == want_keys


def test_q179_kmv_estimates_within_error_band(spark):
    """The KMV estimate must land within the sketch's statistical band:
    stderr ~ 1/sqrt(k-1) ~ 26% at k=16, so a factor-2 assert has huge
    margin while still catching a broken estimator (wrong domain scale,
    off-by-one kth, un-merged union)."""
    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.queries.extra import KMV_K
    from .conftest import SF_SMALL

    rows = {r["scope"]: r for r in
            REGISTRY["q179_kmv_sketch"].fn(spark, SF_SMALL).collect()}
    assert "ALL" in rows
    # every SF_SMALL scope exceeds k, so the ratio path is what runs here
    # (the under-k branch gets its own fixture test below)
    for scope, r in rows.items():
        assert r["n_exact"] >= KMV_K
        assert r["n_exact"] / 2 <= r["est_kmv"] <= r["n_exact"] * 2, (
            scope, r["n_exact"], r["est_kmv"])
    # merged scope covers at least the largest shard
    assert rows["ALL"]["n_exact"] >= max(
        r["n_exact"] for s, r in rows.items() if s != "ALL")


def test_q179_kmv_under_k_scopes_report_exact(spark, duck, tmp_path):
    """A scope with fewer than k distinct hashes must report the EXACT
    count (the standard KMV rule) — exercised with a real fixture, since
    no driver-fixture scope is ever under k; cross-engine parity is
    asserted on the same corpus."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY
    from discogs_load_spark.queries.extra import KMV_K

    n_small, n_big = 5, KMV_K + 9
    rows = []
    for i in range(n_small):
        rows.append((i, f"small doc {i}", "en", "tiny", 10))
    for i in range(n_big):
        rows.append((100 + i, f"big doc {i}", "en", "big", 10))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = tmp_path / "sfkmv"
    sf_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")

    spec = REGISTRY["q179_kmv_sketch"]
    srows = [tuple(r) for r in spec.fn(spark, str(sf_dir)).collect()]
    duck.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{sf_dir / 'documents.parquet'}'"
    )
    drows = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
    assert srows == drows
    by = {r[0]: r for r in srows}
    # under-k scope: exact count, no kth hash
    assert by["tiny"][1] == n_small
    assert by["tiny"][2] is None and by["tiny"][3] == float(n_small)
    # at/over-k scope: the ratio path with a real kth
    assert by["big"][1] == n_big and by["big"][2] is not None


def test_q180_countmin_matches_python_reference(spark):
    """Independent reference for the count-min sketch (the oracle shares
    the SQL formulation, so a shared misreading of the hash/cell rule
    would slip through it): hashlib md5 + 8-hex-char prefix % WIDTH,
    grid built token-by-token in plain Python over the SAME fixture,
    must reproduce every reported estimate exactly — plus the CMS
    guarantee est >= exact on every row."""
    import hashlib
    import re
    from collections import Counter

    from discogs_load_spark.queries.extra import (
        CMS_DEPTH,
        CMS_TOP,
        CMS_WIDTH,
    )
    from discogs_load_spark.queries.registry import REGISTRY

    texts = [
        r.text
        for r in _docs(spark).select("text").collect()
        if r.text is not None
    ]
    counts: Counter[str] = Counter()
    for t in texts:
        norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", t.lower())).strip()
        if norm:
            counts.update(norm.split(" "))

    def cell(token: str, d: int) -> int:
        h = hashlib.md5(f"{token}#{d}".encode()).hexdigest()
        return int(h[:8], 16) % CMS_WIDTH

    grid: Counter[tuple[int, int]] = Counter()
    for token, c in counts.items():
        for d in range(CMS_DEPTH):
            grid[(d, cell(token, d))] += c

    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOP]
    want = {
        token: (c, min(grid[(d, cell(token, d))] for d in range(CMS_DEPTH)))
        for token, c in top
    }

    rows = REGISTRY["q180_countmin_heavy_hitters"].fn(spark, SF_SMALL).collect()
    assert len(rows) == min(CMS_TOP, len(counts))
    got = {r.token: (r.exact_count, r.est_count) for r in rows}
    assert got == want
    for r in rows:
        assert r.est_count >= r.exact_count  # CMS never underestimates
        assert r.overcount == r.est_count - r.exact_count


def test_q181_phash_groups_what_checksums_cannot(spark):
    """The q181 fixture plants near-duplicate image families (same base
    image, per-doc uniform brightness shift). The perceptual hash must
    (a) group every family despite the shift, while (b) every payload
    stays byte-distinct — the sha-based exact dedup sees nothing. Also
    pins the aHash bits against an independent pure-Python recompute of
    the closed-form pixel rule."""
    from discogs_load_spark.operators.multimodal import image_ahash, render_procedural_bmp
    from discogs_load_spark.queries.multimodal import (
        _Q181_H,
        _Q181_SEEDS,
        _Q181_SHIFTS,
        _Q181_W,
    )
    from discogs_load_spark.queries.registry import REGISTRY

    img_ids = [
        r.doc_id
        for r in _docs(spark).filter("doc_id % 3 = 1").select("doc_id").collect()
    ]

    # independent python aHash from the generation rule (no codec, no numpy)
    def py_phash(doc_id: int) -> str:
        seed, shift = doc_id % _Q181_SEEDS, doc_id % _Q181_SHIFTS
        w, h = _Q181_W, _Q181_H
        gray = [
            sum((seed * 31 + 3 * p + c) % 200 + shift for c in range(3))
            for p in range(w * h)
        ]
        blocks = [0] * 64
        for p, g in enumerate(gray):
            by, bx = (p // w) // (h // 8), (p % w) // (w // 8)
            blocks[by * 8 + bx] += g
        total = sum(gray)
        return "".join("1" if b * 64 > total else "0" for b in blocks)

    meta = (
        _docs(spark)
        .filter("doc_id % 3 = 1")
        .selectExpr(
            "doc_id",
            f"doc_id % {_Q181_SEEDS} AS seed",
            f"doc_id % {_Q181_SHIFTS} AS shift",
        )
    )
    rendered = render_procedural_bmp(
        meta, _Q181_W, _Q181_H, seed_col="seed", wrap=200, shift_col="shift"
    ).cache()
    got = {r.doc_id: r.phash for r in image_ahash(rendered).collect()}
    assert got == {i: py_phash(i) for i in img_ids}

    # (b) below doc_id lcm(40,7)*3 = 840 the (seed, shift) pair is
    # injective, so every rendered payload is byte-distinct -> exact
    # dedup silent there (bigger fixtures recycle the 280 combos and
    # legitimately contain exact duplicates too — see the q181
    # docstring; scope the assert to the provable range)
    payloads = [
        bytes(r.payload) for r in rendered.filter("doc_id < 840").collect()
    ]
    assert payloads, "fixture should have image docs below id 840"
    assert len(set(payloads)) == len(payloads)
    rendered.unpersist()

    # (a) the emitted groups cover every seed family with >= 2 members,
    # and no group mixes shifts of different base images
    from collections import Counter, defaultdict

    fam = Counter(i % _Q181_SEEDS for i in img_ids)
    rows = REGISTRY["q181_image_phash_dedup"].fn(spark, SF_SMALL).collect()
    grouped = set()
    for r in rows:
        members = [int(m) for m in r.members.split("|")]
        assert r.n_members == len(members) >= 2
        seeds = {m % _Q181_SEEDS for m in members}
        # a phash collision ACROSS seeds is possible in principle; with
        # this rule it doesn't happen, and the assert would catch a hash
        # that ignores pixel content entirely
        assert len(seeds) == 1
        grouped.update(members)
    expect = {i for i in img_ids if fam[i % _Q181_SEEDS] >= 2}
    assert grouped == expect


def test_q182_pmi_matches_python_reference(spark):
    """Independent PMI-lift recompute in plain Python over the same
    fixture: tokenize, count unigrams/bigrams, lift with the SAME
    left-associated float expression — the full top-k frame must match,
    and the planted-ngram fixture must actually surface multiword units
    (lift > 1 for every reported pair)."""
    import re
    from collections import Counter

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.queries.text import PMI_MIN_PAIR, PMI_TOP

    uni: Counter[str] = Counter()
    big: Counter[tuple[str, str]] = Counter()
    for r in _docs(spark).select("text").collect():
        if r.text is None:
            continue
        norm = re.sub(
            r" +", " ", re.sub(r"[^a-z0-9 ]", " ", r.text.lower())
        ).strip()
        toks = norm.split(" ") if norm else []
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    nu, nb = sum(uni.values()), sum(big.values())

    def lift(w1, w2, cxy):
        return float(cxy) * nu / uni[w1] / uni[w2] * nu / nb

    cand = [
        (w1, w2, c, uni[w1], uni[w2], lift(w1, w2, c))
        for (w1, w2), c in big.items()
        if c >= PMI_MIN_PAIR
    ]
    cand.sort(key=lambda t: (-t[5], t[0], t[1]))
    want = [
        t + (i + 1,) for i, t in enumerate(cand[:PMI_TOP])
    ]

    rows = REGISTRY["q182_pmi_collocations"].fn(spark, SF_SMALL).collect()
    got = [
        (r.w1, r.w2, r.pair_count, r.w1_count, r.w2_count, r.lift, r.rank)
        for r in rows
    ]
    assert got == want
    assert all(r.lift > 1.0 for r in rows)  # collocations, not anti-correlations


def test_q183_weighted_sample_properties(spark):
    """The weighted priority sample must be (a) exactly reproducible
    run-to-run, (b) k rows per source (fixture sources all have > k
    docs), (c) mergeable — the top-k of the union of two half-corpus
    top-ks equals the full top-k — and (d) actually weight-biased: the
    sampled docs' mean weight exceeds the corpus mean."""
    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.queries.sampling import WPS_K

    fn = REGISTRY["q183_weighted_priority_sample"].fn
    rows1 = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    rows2 = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    assert rows1 == rows2

    from collections import Counter

    per_source = Counter(r[0] for r in rows1)
    assert all(v == WPS_K for v in per_source.values())

    # reference weight = the SAME tokenizer the query uses
    # (functions/textfns.token_count_sql: alpha runs, digit runs, single
    # punctuation) re-expressed in Python — a whitespace split only
    # coincides on punctuation-free fixture text
    import re as _re

    weights = {
        r.doc_id: max(
            len(_re.findall(r"[a-z]+|[0-9]+|[^a-z0-9 ]", r.text.lower())), 1
        )
        for r in _docs(spark).select("doc_id", "text").collect()
    }

    # (c) shard-merge, recomputed independently in python: split the
    # corpus into two shards, take each shard's per-source k smallest
    # priorities, merge, re-take k — must equal the engine's sample
    import hashlib
    from collections import defaultdict

    src = {
        r.doc_id: r.source
        for r in _docs(spark).select("doc_id", "source").collect()
    }

    def prio(doc_id):
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) + 1
        return float(u) / weights[doc_id]

    def topk(ids):
        per = defaultdict(list)
        for i in ids:
            per[src[i]].append(i)
        out = set()
        for s, members in per.items():
            members.sort(key=lambda i: (prio(i), i))
            out.update(members[:WPS_K])
        return out

    shard_a = [i for i in src if i % 2 == 0]
    shard_b = [i for i in src if i % 2 == 1]
    merged = topk(list(topk(shard_a) | topk(shard_b)))
    assert merged == {r[1] for r in rows1}

    sampled_ids = {r[1] for r in rows1}
    mean_all = sum(weights.values()) / len(weights)
    mean_sampled = sum(weights[i] for i in sampled_ids) / len(sampled_ids)
    assert mean_sampled > mean_all


def test_q184_bloom_matches_python_reference(spark):
    """Independent Bloom recompute in plain Python (hashlib md5, int
    bit-sets) over the same fixture: every reported row must match, no
    false negatives anywhere (bloom >= true), and the fixture's fill
    factor must actually produce SOME false positives — otherwise the
    error-measurement column is untested."""
    import hashlib
    import re
    from collections import Counter, defaultdict

    from discogs_load_spark.queries.extra import (
        BLOOM_K,
        BLOOM_PROBES,
        BLOOM_WORD_BITS,
        BLOOM_WORDS,
    )
    from discogs_load_spark.queries.registry import REGISTRY

    m = BLOOM_WORDS * BLOOM_WORD_BITS
    shingle_sets: dict[str, set[str]] = defaultdict(set)
    for r in _docs(spark).select("source", "text").collect():
        if r.text is None:
            continue
        norm = re.sub(
            r" +", " ", re.sub(r"[^a-z0-9 ]", " ", r.text.lower())
        ).strip()
        toks = norm.split(" ") if norm else []
        for i in range(len(toks) - 2):
            shingle_sets[r.source].add(" ".join(toks[i : i + 3]))

    def positions(sh: str):
        # Kirsch-Mitzenmacher: the K positions are 8-hex-char slices of
        # ONE digest, matching _bloom_pos
        h = hashlib.md5(sh.encode()).hexdigest()
        return [
            int(h[8 * j : 8 * j + 8], 16) % m for j in range(BLOOM_K)
        ]

    filters = {
        s: {p for sh in shs for p in positions(sh)}
        for s, shs in shingle_sets.items()
    }
    counts = Counter(sh for shs in shingle_sets.values() for sh in shs)
    probes = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
        :BLOOM_PROBES
    ]
    want = {}
    for sh, true_n in probes:
        bloom_n = sum(
            1
            for s in filters
            if all(p in filters[s] for p in positions(sh))
        )
        want[sh] = (true_n, bloom_n, bloom_n - true_n)

    rows = REGISTRY["q184_bloom_membership"].fn(spark, SF_SMALL).collect()
    got = {
        r.shingle: (r.n_sources_true, r.n_sources_bloom, r.false_positives)
        for r in rows
    }
    assert got == want
    assert all(r.n_sources_bloom >= r.n_sources_true for r in rows)
    assert sum(r.false_positives for r in rows) > 0


def test_q185_hamilton_allocation_matches_python(spark):
    """Largest-remainder apportionment recomputed in exact-integer
    Python: every row matches, and the defining property holds —
    allocations sum to the budget exactly, with each source within
    1 of its real-valued quota (Hamilton's method satisfies quota)."""
    from collections import Counter

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.queries.sampling import LR_BUDGET

    counts = Counter(
        r.source for r in _docs(spark).select("source").collect()
    )
    n = sum(counts.values())
    quota = {
        s: (LR_BUDGET * c // n, LR_BUDGET * c % n) for s, c in counts.items()
    }
    r_left = LR_BUDGET - sum(b for b, _ in quota.values())
    order = sorted(quota, key=lambda s: (-quota[s][1], s))
    extras = set(order[:r_left])
    want = {
        s: (counts[s], quota[s][0], quota[s][0] + (1 if s in extras else 0))
        for s in counts
    }

    rows = REGISTRY["q185_stratified_allocation"].fn(spark, SF_SMALL).collect()
    got = {r.source: (r.n_docs, r.base_alloc, r.alloc) for r in rows}
    assert got == want
    assert sum(r.alloc for r in rows) == LR_BUDGET
    for r in rows:
        exact = LR_BUDGET * counts[r.source] / n
        assert exact - 1 < r.alloc < exact + 1  # stays within quota


def test_q186_skew_stats_match_python(spark):
    """Skew profile recomputed naively in Python (rank every key, no
    count-of-counts trick): the run-compressed Gini/p99 the engine uses
    must equal the naive definitions exactly."""
    from collections import Counter

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.session import load_tables

    rows = REGISTRY["q186_join_key_skew_profile"].fn(spark, SF_SMALL).collect()
    got = {r.key_name: r for r in rows}
    for table, key in [
        ("lineitem", "l_suppkey"),
        ("lineitem", "l_orderkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ]:
        df = load_tables(spark, SF_SMALL, [table])[table]
        counts = sorted(
            Counter(r[0] for r in df.select(key).collect()).values()
        )
        n, total, mx = len(counts), sum(counts), max(counts)
        s1 = sum(i * c for i, c in enumerate(counts, start=1))
        gini = float(2 * s1 - (n + 1) * total) / n / total
        # p99: smallest count value at cumulative position >= ceil(.99 n)
        cum, p99 = 0, None
        for c in counts:
            cum += 1
            if 100 * cum >= 99 * n:
                p99 = c
                break
        r = got[f"{table}.{key}"]
        assert (r.n_keys, r.total_rows, r.max_count) == (n, total, mx)
        assert r.p99_count == p99
        assert r.gini == gini
        assert r.skew_ratio == float(mx) * n / total
        assert r.recommended_salts == (mx * n + total - 1) // total


def test_q187_ols_matches_python_reference(spark):
    """Grouped OLS pinned against a plain-Python normal-equation fit on
    the quantized integers: slope/intercept/r2 must match bitwise (the
    closing float sequence is the same IEEE op chain), and the fit must
    be sane — price rises with quantity, so every brand's slope is
    positive and r2 is in (0, 1]."""
    from collections import defaultdict

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.session import load_tables

    t = load_tables(spark, SF_SMALL, ["lineitem", "part"])
    brand = {
        r.p_partkey: r.p_brand
        for r in t["part"].select("p_partkey", "p_brand").collect()
    }
    pts = defaultdict(list)
    for r in t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice").collect():
        pts[brand[r.l_partkey]].append(
            (round(r.l_quantity * 100), round(r.l_extendedprice * 100))
        )

    want = {}
    for b, xy in pts.items():
        n = len(xy)
        sx = float(sum(x for x, _ in xy))
        sy = float(sum(y for _, y in xy))
        sxx = float(sum(x * x for x, _ in xy))
        syy = float(sum(y * y for _, y in xy))
        sxy = float(sum(x * y for x, y in xy))
        vx, vy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
        slope = cov / vx if vx else None
        intercept = (sy - cov / vx * sx) / n / 100 if vx else None
        r2 = cov * cov / (vx * vy) if vx and vy else None
        want[b] = (n, slope, intercept, r2)

    rows = REGISTRY["q187_grouped_ols"].fn(spark, SF_SMALL).collect()
    got = {r.p_brand: (r.n, r.slope, r.intercept, r.r2) for r in rows}
    assert got == want
    # the fixture draws price and quantity independently, so slopes are
    # near-zero with random sign — assert only the invariants: r2 is a
    # valid coefficient of determination and no group degenerated
    assert all(r.r2 is not None and 0 <= r.r2 <= 1 for r in rows)
    assert all(r.slope is not None for r in rows)


def test_q188_decay_matches_python_and_orders_by_recency(spark):
    """Half-life decay pinned against exact-fraction Python (fractions
    module — no float error at all), then compared at double precision;
    plus the semantic check: a user's decayed value never exceeds their
    raw value, and equals it only if all their events are day-0."""
    from collections import defaultdict
    from fractions import Fraction

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.session import load_tables

    events = load_tables(spark, SF_SMALL, ["events"])["events"]
    rows = events.selectExpr(
        "user_id", "CAST(ts AS DATE) AS day", "value"
    ).collect()
    anchor = max(r.day for r in rows)
    per_user = defaultdict(list)
    for r in rows:
        d = (anchor - r.day).days
        per_user[r.user_id].append((min(d, 62), round(r.value * 100)))

    got = {
        r.user_id: r
        for r in REGISTRY["q188_halflife_decay"].fn(spark, SF_SMALL).collect()
    }
    assert set(got) == set(per_user)
    for uid, evts in per_user.items():
        raw = float(sum(v for _, v in evts)) / 100
        num = sum(v * (1 << (62 - d)) for d, v in evts)
        decayed = float(num) / float(1 << 62) / 100
        r = got[uid]
        assert r.n_events == len(evts)
        assert r.raw_value == raw
        assert r.decayed_value == decayed
        # exact-fraction sanity: decay only shrinks
        exact = sum(Fraction(v, 100) * Fraction(1, 2**d) for d, v in evts)
        assert exact <= Fraction(round(raw * 100), 100) + Fraction(1, 100)
        if all(d == 0 for d, _ in evts):
            assert r.decayed_value == r.raw_value
        else:
            assert r.decayed_value < r.raw_value


def test_q189_bins_are_equal_frequency_and_tie_whole(spark):
    """Quantile-cut bins recomputed naively in Python: cut k = smallest
    value at cumulative share k/10; every bin's rows match, shares sum
    to 1, bins partition the value domain in order, and no value ever
    appears in two bins (the tie-stays-whole contract ntile breaks)."""
    from collections import Counter

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.session import load_tables

    orders = load_tables(spark, SF_SMALL, ["orders"])["orders"]
    cents = sorted(
        round(r.o_totalprice * 100)
        for r in orders.select("o_totalprice").collect()
    )
    n = len(cents)
    counts = Counter(cents)
    values = sorted(counts)
    cuts = []
    for k in range(1, 10):
        cum = 0
        for v in values:
            cum += counts[v]
            if cum * 10 >= k * n:
                cuts.append(v)
                break

    def bin_of(v):
        return 1 + sum(1 for c in cuts if v > c)

    want = Counter()
    for v, m in counts.items():
        want[bin_of(v)] += m

    rows = REGISTRY["q189_quantile_cut_bins"].fn(spark, SF_SMALL).collect()
    assert [r.bin for r in rows] == list(range(1, 11))
    got = {r.bin: r.n_rows for r in rows}
    assert got == {b: want.get(b, 0) for b in range(1, 11)}
    assert sum(r.n_rows for r in rows) == n
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    nonempty = [r for r in rows if r.n_rows > 0]
    for a, b in zip(nonempty, nonempty[1:]):
        assert a.hi_price < b.lo_price  # bins partition the domain in order


def test_q190_streamed_sketch_equals_batch_sketch(spark):
    """The streamed-and-merged count-min grid must be BITWISE the grid a
    batch job builds over the same history — recomputed here in plain
    Python (hashlib) from the raw events, including the estimates. Also
    pins the CMS guarantee (never underestimates) through the streaming
    path."""
    import hashlib
    from collections import Counter

    from discogs_load_spark.queries.registry import REGISTRY
    from discogs_load_spark.queries.streaming import (
        SCMS_DEPTH,
        SCMS_TOP,
        SCMS_WIDTH,
    )
    from discogs_load_spark.session import load_tables

    events = load_tables(spark, SF_SMALL, ["events"])["events"]
    counts = Counter(r.user_id for r in events.select("user_id").collect())

    def cell(uid: int, d: int) -> int:
        h = hashlib.md5(f"{uid}#{d}".encode()).hexdigest()
        return int(h[:8], 16) % SCMS_WIDTH

    grid: Counter[tuple[int, int]] = Counter()
    for uid, c in counts.items():
        for d in range(SCMS_DEPTH):
            grid[(d, cell(uid, d))] += c
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:SCMS_TOP]
    want = {
        uid: (c, min(grid[(d, cell(uid, d))] for d in range(SCMS_DEPTH)))
        for uid, c in top
    }

    rows = REGISTRY["q190_streaming_countmin"].fn(spark, SF_SMALL).collect()
    got = {r.user_id: (r.exact_count, r.est_count) for r in rows}
    assert got == want
    assert all(r.est_count >= r.exact_count for r in rows)


def test_q183_q188_null_edges_cross_engine(spark, duck, tmp_path):
    """NULL-robustness pins for the r07 additions that touch nullable
    inputs: a NULL-text doc in q183 (GREATEST skips NULLs Postgres-style
    in BOTH engines -> weight 1, doc still sampled deterministically)
    and a NULL-value event in q188 (SUM skips it, n_events counts it) —
    fixture data has no NULLs, so without these fixtures the agreement
    is untested."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from discogs_load_spark.queries import REGISTRY

    sf_dir = tmp_path / "sf_edge"
    sf_dir.mkdir()

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["one two three four", None, "alpha beta"],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [18, 0, 10],
        }
    )
    pq.write_table(pa.Table.from_pandas(docs), sf_dir / "documents.parquet")
    events = pd.DataFrame(
        {
            "event_id": [0, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-03 11:00", "2024-01-03 12:00"]
            ),
            "user_id": [7, 7, 8],
            "event_type": ["click"] * 3,
            "value": [10.0, None, 4.0],
            "props": ['{"k": 1}'] * 3,
        }
    )
    pq.write_table(pa.Table.from_pandas(events), sf_dir / "events.parquet")

    for table in ("documents", "events"):
        duck.execute(
            f"CREATE OR REPLACE VIEW {table} AS "
            f"SELECT * FROM '{sf_dir / (table + '.parquet')}'"
        )

    for qname in ("q183_weighted_priority_sample", "q188_halflife_decay"):
        spec = REGISTRY[qname]
        srows = [tuple(r) for r in spec.fn(spark, str(sf_dir)).collect()]
        drows = [tuple(r) for r in duck.execute(spec.oracle).fetchall()]
        assert srows == drows, qname

    # semantic spot-checks: the NULL-text doc got weight 1 and is
    # present; the NULL-value event counts toward n_events but not sums
    s183 = {
        r.doc_id: r
        for r in REGISTRY["q183_weighted_priority_sample"]
        .fn(spark, str(sf_dir))
        .collect()
    }
    assert s183[1].weight == 1
    s188 = {
        r.user_id: r
        for r in REGISTRY["q188_halflife_decay"].fn(spark, str(sf_dir)).collect()
    }
    assert s188[7].n_events == 2
    assert s188[7].raw_value == 10.0  # NULL value skipped by the sums
