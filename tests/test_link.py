"""Entity linking: dict hit, exact fuzzy Jaccard, OOV stubs — one kernel
(link_rows_local) run on the driver (local tier) or per Arrow batch on the
executors (distributed tier).

Tests pin a tier by monkeypatching the module's budgets: LOCAL_VOCAB_CAP=0
forces the distributed tier, and a custom dictionary replaces
spec.SURFACE_TO_CANONICAL."""

from __future__ import annotations

from cie_spark import spec
from cie_spark.operators import link as L
from cie_spark.operators.link import link_map


def _link(spark, surfaces):
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    return {
        r.surface: (r.entity_id, r.link_tier)
        for r in link_map(spark, df)[0].collect()
    }


def test_dictionary_aliases(spark):
    got = _link(spark, ["PostgreSQL", "Postgres", "postgres-db", "pg", "K8S"])
    assert got["PostgreSQL"] == ("ent:postgresql", "dict")
    assert got["Postgres"] == ("ent:postgresql", "dict")
    assert got["postgres-db"] == ("ent:postgresql", "dict")
    assert got["pg"] == ("ent:postgresql", "dict")
    assert got["K8S"] == ("ent:kubernetes", "dict")  # norm is case-insensitive


def test_fuzzy_tier(spark):
    got = _link(spark, ["PostgreSQL 14", "apache_kafka_broker"])
    assert got["PostgreSQL 14"] == ("ent:postgresql", "fuzzy")
    assert got["apache_kafka_broker"] == ("ent:apache-kafka", "fuzzy")


def test_stub_tier_deterministic(spark):
    got = _link(spark, ["FrobnicatorX"])
    eid, tier = got["FrobnicatorX"]
    assert tier == "stub"
    assert eid == spec.stub_entity_id(spec.norm("FrobnicatorX"))
    # repeatable
    again = _link(spark, ["FrobnicatorX"])
    assert again["FrobnicatorX"] == got["FrobnicatorX"]


def test_large_dictionary_links_exactly(spark, monkeypatch):
    """Fuzzy linking is the exact best Jaccard at every dictionary size, on
    both tiers: past 10,000 entries a surface one letter off a dictionary
    entry (jaccard 7/13 with apache-kafka) still links to it, not to a
    stub."""
    big = {f"synth-entry-{i}": f"ent:synth-{i}" for i in range(10_001)}
    big["apache-kafka"] = "ent:apache-kafka"
    monkeypatch.setattr(spec, "SURFACE_TO_CANONICAL", big)
    want = {"apache-kzfka": ("ent:apache-kafka", "fuzzy")}
    assert _link(spark, ["apache-kzfka"]) == want
    monkeypatch.setattr(L, "LOCAL_VOCAB_CAP", 0)
    assert _link(spark, ["apache-kzfka"]) == want


def test_oracle_link_agrees_with_spark(spark):
    from cie_spark import oracle

    surfaces = [
        "PostgreSQL", "Postgres", "PostgreSQL 14", "apache_kafka_broker",
        "FrobnicatorX", "quantum-widget", "k8s", "ES cluster", "duck-db",
    ]
    got = _link(spark, surfaces)
    for s in surfaces:
        assert got[s][0] == oracle.link_surface(s), s


def test_local_path_agrees_with_distributed(spark, monkeypatch):
    """The driver-local linker (link_rows_local) must be bit-identical to
    the distributed tiers on every tier: dict hit, fuzzy (incl. the
    (jaccard DESC, entity_id ASC) tie-break), and OOV stub."""
    import random

    rng = random.Random(7)
    words = [
        "PostgreSQL", "PostgreSQL 14", "apache_kafka_broker", "FrobnicatorX",
        "quantum-widget", "k8s", "duck-db", "ES cluster", "kafka!",
    ] + [
        "".join(rng.choice("abcdefgh -_") for _ in range(rng.randint(2, 14)))
        for _ in range(40)
    ]
    loc = _link(spark, words)
    with monkeypatch.context() as m:
        m.setattr(L, "LOCAL_VOCAB_CAP", 0)
        dist = _link(spark, words)
    assert loc == dist

    # adversarial tie: both dictionary entries score jaccard 0.5 against the
    # surface; the winner must be the lexicographically smaller entity_id
    monkeypatch.setattr(
        spec, "SURFACE_TO_CANONICAL", {"abcde": "ent:zz", "abcdf": "ent:aa"}
    )
    l2 = _link(spark, ["abcdg"])
    monkeypatch.setattr(L, "LOCAL_VOCAB_CAP", 0)
    d2 = _link(spark, ["abcdg"])
    assert l2 == d2 == {"abcdg": ("ent:aa", "fuzzy")}


def test_local_fuzzy_budget_bounds_scored_pairs(spark):
    """The local-path guard (r4 verdict missing #4) bounds the fuzzy tier's
    WORK, counted as actually-scored (miss × candidate) pairs behind the
    inverted shingle index. Two consequences, both asserted here:

    1. The worst case the verdict named — 64k unmatched surfaces × 10k
       dictionary, naively 640M Jaccard calls — shares almost no shingles
       across the divide, so the index blocks nearly everything and the
       local path COMPLETES fast (all stubs) instead of bailing to a
       distributed run it doesn't need.
    2. A genuinely adversarial vocabulary (every miss shingle-overlapping
       every dictionary entry at a passing length ratio) degrades to the
       full product; past LOCAL_FUZZY_BUDGET scored pairs the path must
       bail (return None) fast, not stall the driver for minutes."""
    import time

    dic = {f"dictword{i:05d}": f"ent:d{i:05d}" for i in range(10_000)}
    surfaces = [f"zz unmatched surface {i}" for i in range(65_000)]
    t0 = time.time()
    out = L.link_rows_local(surfaces, dic, fuzzy_budget=L.LOCAL_FUZZY_BUDGET)
    took = time.time() - t0
    assert out is not None, "index-blocked 64k×10k must complete locally"
    assert took < 5.0, f"blocked 64k×10k took {took:.1f}s — not a fast path"
    assert all(t == "stub" for _s, _n, _e, t in out)
    assert len(out) == len(surfaces)

    # adversarial: every entry shares the 'commonrootstem' shingles with
    # every miss and passes the min/max length-ratio pre-filter, so each
    # miss scores the whole 10k dictionary → 300 × 10k = 3M > 2M budget
    adv_dic = {f"commonrootstem-{i:04d}": f"ent:a{i:04d}" for i in range(10_000)}
    adv_miss = [f"commonrootstem-miss{i:03d}" for i in range(300)]
    t0 = time.time()
    out = L.link_rows_local(adv_miss, adv_dic, fuzzy_budget=L.LOCAL_FUZZY_BUDGET)
    took = time.time() - t0
    assert out is None, "3M scored pairs must trip the budget"
    assert took < 5.0, f"budget bail-out took {took:.1f}s — not a fast path"

    # under-budget inputs link locally and identically to the unbudgeted
    # rendering
    few = surfaces[:50]
    a = L.link_rows_local(few, dic, fuzzy_budget=L.LOCAL_FUZZY_BUDGET)
    b = L.link_rows_local(few, dic)
    assert a is not None and sorted(a) == sorted(b)


def test_link_surfaces_falls_back_when_budget_exceeded(spark, monkeypatch):
    """When the product guard trips, link_map must transparently take the
    distributed tiers and produce the same rows."""
    surfaces = ["PostgreSQL", "PostgreSQL 14", "no-such-surface-xyz"]
    with monkeypatch.context() as m:
        m.setattr(L, "LOCAL_VOCAB_CAP", 0)
        want = _link(spark, surfaces)
    # force the guard to trip on ANY miss
    monkeypatch.setattr(L, "LOCAL_FUZZY_BUDGET", 0)
    got = _link(spark, surfaces)
    assert got == want
