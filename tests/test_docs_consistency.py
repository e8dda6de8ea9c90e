"""Docs stay honest: README's coverage table is checked against the query
registry, both directions — every query id the docs cite must exist, and
every registered query must be cited. Last round's judge ADVICE flagged a
doc claim that had drifted from the tests; this makes that class of drift
a test failure instead of a review finding.
"""

from __future__ import annotations

import re
from pathlib import Path

from discogs_load_spark.queries import REGISTRY

README = Path(__file__).resolve().parent.parent / "README.md"


def _cited_ids() -> set[int]:
    text = README.read_text()
    cited: set[int] = set()
    # expand `qNN`-`qMM` ranges first, then single `qNN` mentions
    for lo, hi in re.findall(r"`q(\d+)`-`q(\d+)`", text):
        cited.update(range(int(lo), int(hi) + 1))
    for n in re.findall(r"`q(\d+)", text):
        cited.add(int(n))
    return cited


def _registered_ids() -> set[int]:
    return {int(re.match(r"q(\d+)_", name).group(1)) for name in REGISTRY}


def test_readme_cites_only_real_queries():
    ghosts = _cited_ids() - _registered_ids()
    assert not ghosts, f"README cites query ids not in the registry: {sorted(ghosts)}"


def test_every_query_is_documented():
    missing = _registered_ids() - _cited_ids()
    assert not missing, f"registered queries missing from README: {sorted(missing)}"


def test_referee_exclusions_name_measured_duals():
    """bench.SF1_REFEREE_EXCLUDED is a quarantine, not an escape hatch
    (VERDICT r09 item 7): every excluded referee must stay registered
    and oracle-checked, its exclusion reason must cite at least one
    scale-safe dual that IS measured every round (a bench.SF1_QUERIES
    member), and its own docstring must cite a measured dual too — so
    the policy can never silently absorb a query that has no measured
    alternative. (Importing bench also re-runs its module-level assert
    that the exclusion set stays disjoint from the scale tier.)"""
    import sys

    sys.path.insert(0, str(README.parent))
    import bench

    sf1_short = {n.split("_", 1)[0] for n in bench.SF1_QUERIES}
    for name, reason in bench.SF1_REFEREE_EXCLUDED.items():
        assert name in REGISTRY, f"{name}: excluded but not registered"
        assert REGISTRY[name].oracle is not None, (
            f"{name}: excluded referees must keep their correctness oracle"
        )
        reason_duals = set(re.findall(r"q\d+", reason)) & sf1_short
        assert reason_duals, (
            f"{name}: exclusion reason cites no dual measured in the "
            f"scale tier: {reason!r}"
        )
        doc_duals = set(re.findall(r"q\d+", REGISTRY[name].doc)) & sf1_short
        assert doc_duals, (
            f"{name}: docstring must name a measured scale-safe dual"
        )


def test_per_batch_gate_catches_synthetic_regression():
    """VERDICT r12 item 4: streaming queries gate on the PER-BATCH mean
    scale reading (the drain total is backlog-proportional by design and
    stays non-gating). The gate must catch a q220-style per-batch
    blow-up against the prior round's record, and must NOT flag ambient
    noise, missing priors (new query / first gated round), or missing
    current readings (single-batch tiny drains)."""
    import sys

    sys.path.insert(0, str(README.parent))
    import bench

    # synthetic regression: prior round recorded 6.4x, this round 19.1x
    assert bench.per_batch_gate(19.1, 6.4) is True
    # ambient noise inside 1.5x + 0.5 slack: no flag
    assert bench.per_batch_gate(6.8, 6.4) is False
    assert bench.per_batch_gate(1.2, 0.5) is False  # slack absorbs tiny means
    # no prior record / no current reading: publish, don't flag
    assert bench.per_batch_gate(19.1, None) is False
    assert bench.per_batch_gate(None, 6.4) is False
    # every gated name is a measured streaming maintainer in the tier
    assert set(bench.STREAMING_PER_BATCH) <= set(bench.SF1_QUERIES)
    from discogs_load_spark.queries.registry import REGISTRY as _REG

    for name in bench.STREAMING_PER_BATCH:
        assert "streaming" in _REG[name].tags


def test_prior_sidecar_lookup_reads_only_its_core_count(tmp_path, monkeypatch):
    """The sf1 gates compare against the last completed round's sidecar
    taken at the SAME core count: sidecar names carry ``_c<cores>`` and an
    unsuffixed legacy name is a 32-core record. A current-round sidecar
    is never a reference."""
    import json
    import sys

    sys.path.insert(0, str(README.parent))
    import bench

    for name, q64 in (
        ("BENCH_perquery_r14.json", 32.0),
        ("BENCH_perquery_r14_c8.json", 8.0),
        ("BENCH_perquery_r15_c8.json", 15.0),
    ):
        (tmp_path / name).write_text(json.dumps({"sf1": {"queries": {"q64": q64}}}))
    monkeypatch.setattr(bench, "REPO", tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "15")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._prior_sidecar_section("queries") == {"q64": 8.0}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._prior_sidecar_section("queries") == {"q64": 32.0}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert bench._prior_sidecar_section("queries") is None
