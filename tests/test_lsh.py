"""LSH candidate generation: triangular rule, tier equivalence, skew tiers."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from lash_spark.operators.lsh import (
    band_census,
    explode_bands,
    pairs_from_keys,
    simhash_candidate_pairs,
)


def _keyed(spark, buckets):
    """buckets: dict[key] -> list of ids."""
    rows = [(0, k, i) for k, ids in buckets.items() for i in ids]
    return spark.createDataFrame(rows, "band_id int, key bigint, url bigint")


def _expected_pairs(buckets):
    out = set()
    for ids in buckets.values():
        s = sorted(ids)
        out |= {(a, b) for i, a in enumerate(s) for b in s[i + 1 :]}
    return out


def test_pairs_plain_tier(spark):
    buckets = {1: [3, 1, 2], 2: [5, 6], 3: [7]}
    got = {
        (r.url_a, r.url_b)
        for r in pairs_from_keys(_keyed(spark, buckets), max_bucket=100).collect()
    }
    assert got == _expected_pairs(buckets)


def test_pairs_salted_tier_equals_plain(spark):
    """Tier 2 (the salted equi-join) must emit exactly the same unordered
    pairs as the plain join, and the returned rows hold no pair twice."""
    buckets = {10: list(range(40)), 11: [100, 101, 102]}
    keyed = _keyed(spark, buckets)
    plain = pairs_from_keys(keyed, max_bucket=1000).collect()
    salted = pairs_from_keys(keyed, max_bucket=5, salt_buckets=4, star_threshold=10_000).collect()
    assert {(r.url_a, r.url_b) for r in salted} == {(r.url_a, r.url_b) for r in plain}
    assert len(salted) == len({(r.url_a, r.url_b) for r in salted})  # distinct output rows


def test_pairs_salted_self_rule_matches_combinations(spark):
    """The self rule over forced-salt buckets in two bands equals the
    itertools.combinations of each bucket, each pair once."""
    buckets = {10: list(range(40)), 11: list(range(30, 55)), 12: [100, 101, 102]}
    rows = [(b, k, i) for b in (0, 1) for k, ids in buckets.items() for i in ids]
    keyed = spark.createDataFrame(rows, "band_id int, key bigint, url bigint")
    got = [
        (r.url_a, r.url_b)
        for r in pairs_from_keys(keyed, max_bucket=5, salt_buckets=3).collect()
    ]
    want = {p for ids in buckets.values() for p in itertools.combinations(sorted(ids), 2)}
    assert len(got) == len(set(got))
    assert set(got) == want


def test_pairs_star_tier(spark):
    buckets = {7: list(range(100, 140))}
    got = pairs_from_keys(
        _keyed(spark, buckets), max_bucket=2, salt_buckets=2, star_threshold=10
    ).collect()
    pairs = {(r.url_a, r.url_b) for r in got}
    # star topology: every member linked to min id, linear volume
    assert pairs == {(100, i) for i in range(101, 140)}


def test_triangular_rule_no_self_or_reversed(spark):
    buckets = {1: [1, 2, 3, 4]}
    got = pairs_from_keys(_keyed(spark, buckets)).collect()
    for r in got:
        assert r.url_a < r.url_b  # J2 (utils.rs:158-160)


def test_band_census(spark):
    keyed = _keyed(spark, {1: [5, 2, 9], 2: [1]})
    rows = {(r.key): (r.bucket_n, r.rep) for r in band_census(keyed, "url").collect()}
    assert rows == {1: (3, 2), 2: (1, 1)}


def test_simhash_pigeonhole_complete(spark):
    """Fingerprints within hamming<=3 at 4 chunks must always be found."""
    rows = [
        (1, 0b0000),          # base
        (2, 0b0111),          # hamming 3 from 1 -> candidate
        (3, (1 << 62) | 0b1), # hamming 2 from 1
        (4, -1),              # far from everything (~64 bits)
    ]
    df = spark.createDataFrame(rows, "url bigint, simhash bigint")
    got = {(r.url_a, r.url_b): r.hamming for r in simhash_candidate_pairs(df, "url").collect()}
    assert (1, 2) in got and got[(1, 2)] == 3
    assert (1, 3) in got and got[(1, 3)] == 2
    assert all(h <= 3 for h in got.values())


def _canon(rows, a="url_a", b="url_b"):
    return {(min(r[a], r[b]), max(r[a], r[b])) for r in rows}


@pytest.mark.parametrize("max_bucket", [2000, 4])
def test_tagged_probe_equals_batch_and_cross_pairs(spark, max_bucket):
    """The side-tagged probe over batch ∪ store equals the batch's own
    triangular pairs plus the batch × store pairs, canonicalized, at the
    default tiers and with the salt tier forced (max_bucket=4); it never
    pairs two stored documents."""
    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import cross_lsh_candidate_pairs, lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.synth import generate_pages

    params = SketchParams()
    sigs = build_signatures(
        with_normalized_text(generate_pages(spark, 300, seed=5, partitions=2), "text"),
        params,
        LshPlan.plan(params.num_perm, 0.8, 0.995),
    ).persist()
    batch = sigs.filter(F.abs(F.hash("url")) % 3 == 0)
    store = sigs.filter(F.abs(F.hash("url")) % 3 != 0)
    store_ids = {r.url for r in store.select("url").collect()}

    tagged = batch.withColumn("new", F.lit(True)).unionByName(
        store.withColumn("new", F.lit(False))
    )
    got = _canon(
        lsh_candidate_pairs(tagged, max_bucket=max_bucket, new_col="new").collect()
    )
    want = _canon(lsh_candidate_pairs(batch, max_bucket=max_bucket).collect()) | _canon(
        cross_lsh_candidate_pairs(batch, store, max_bucket=max_bucket).collect(),
        "url_q",
        "url_r",
    )
    assert got == want
    assert any(a in store_ids or b in store_ids for a, b in got)  # cross pairs exist
    assert not any(a in store_ids and b in store_ids for a, b in got)
    if max_bucket == 4:  # the salt tier really ran
        largest = (
            band_census(explode_bands(tagged), "url").agg(F.max("bucket_n")).first()[0]
        )
        assert largest > max_bucket
    sigs.unpersist()


def test_tagged_star_tier_keeps_hot_buckets_connected(spark):
    """Star tier under the side tag, over three triggers against a growing
    store: each trigger links only new members (no stored × stored pair),
    and the accumulated edges leave every hot bucket one component —
    including when a later trigger brings a new, smaller representative."""
    arrivals = [  # per trigger: key -> new ids
        {1: list(range(50, 60)), 3: [100, 101, 102]},
        {1: list(range(30, 40)), 3: [103]},
        {1: list(range(60, 70)), 3: [90, 104, 105], 4: list(range(200, 208))},
    ]
    stored: dict = {}
    edges = set()
    for trig in arrivals:
        rows = [(0, k, i, True) for k, ids in trig.items() for i in ids]
        rows += [(0, k, i, False) for k, ids in stored.items() for i in ids]
        keyed = spark.createDataFrame(rows, "band_id int, key bigint, url bigint, new boolean")
        got = {
            (r.url_a, r.url_b)
            for r in pairs_from_keys(
                keyed, max_bucket=2, salt_buckets=2, star_threshold=5, new_col="new"
            ).collect()
        }
        old = {i for ids in stored.values() for i in ids}
        assert all(a < b and not (a in old and b in old) for a, b in got)
        edges |= got
        for k, ids in trig.items():
            stored.setdefault(k, []).extend(ids)

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    for k, ids in stored.items():
        assert len({find(i) for i in ids}) == 1, k
    # linear star volume: the 30-member hot bucket holds far fewer than
    # its 435 pairs
    hot = set(stored[1])
    assert len({e for e in edges if e[0] in hot}) < 2 * len(hot)


def test_candidate_calls_plan_no_nested_loop_join(spark, run_in_group):
    """Every candidate call, with the salt tier forced, plans equi-joins
    only: no BroadcastNestedLoopJoin or CartesianProduct in any executed
    plan (the candidates are checkpointed eagerly, so an audit of the
    downstream plan cannot see these). Job counts are pinned: the census
    gate, the eager checkpoint and AQE's per-stage jobs. A call whose hot
    buckets are all star-linked plans no salt join and runs fewer jobs."""
    from lash_spark.operators.lsh import cross_pairs_from_keys

    hot = {10: list(range(40)), 11: [100, 101, 102]}
    rows = [(0, k, i, i % 3 == 0) for k, ids in hot.items() for i in ids]
    tagged = spark.createDataFrame(rows, "band_id int, key bigint, url bigint, new boolean")
    keyed = tagged.drop("new")
    starred = _keyed(spark, {7: list(range(100, 140)), 8: list(range(200, 230))})
    q = spark.createDataFrame(
        [(f"q{i}", 0, 7) for i in range(40)], "url string, band_id int, key long"
    )
    r = spark.createDataFrame(
        [(f"r{i}", 0, 7) for i in range(5)], "url string, band_id int, key long"
    )
    calls = {
        "self": lambda: pairs_from_keys(
            keyed, max_bucket=5, salt_buckets=4, star_threshold=10_000
        ),
        "tagged": lambda: pairs_from_keys(
            tagged, max_bucket=5, salt_buckets=4, star_threshold=10_000, new_col="new"
        ),
        "all_star": lambda: pairs_from_keys(
            starred, max_bucket=2, salt_buckets=2, star_threshold=10
        ),
        "cross": lambda: cross_pairs_from_keys(q, r, id_col="url", max_bucket=8),
    }
    jobs, sizes = {}, {}
    for name, fn in calls.items():
        out, jobs[name], plans = run_in_group(f"cand_{name}", fn)
        sizes[name] = out.count()
        assert plans, name
        for p in plans:
            assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, name
    assert sizes == {"self": 783, "tagged": 457, "all_star": 68, "cross": 200}
    assert jobs == {"self": 8, "tagged": 8, "all_star": 7, "cross": 8}
