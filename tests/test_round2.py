"""Round-2 additions: sliding-min winnowing, MLE/FGRA estimators, Ertl ULL
layout + exact merge, int32 minhash wire format, cross-dataset pair mode,
resume stage invalidation, streaming idempotence, model-0 alias, banded SRP.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lash_spark.config import PipelineConfig, SketchParams
from lash_spark.hashing import hash_with_seed, mix64
from lash_spark.sketches import (
    hll_cardinality,
    hll_cardinality_batch,
    hll_cardinality_mle,
    hll_registers,
    hll_registers_segments,
    sig_to_reg32,
    ull_cardinality,
    ull_registers,
    ull_registers_segments,
    ull_union,
)
from lash_spark.operators.substring import sliding_min


# ------------------------------------------------------------- sliding min

@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=64),
)
def test_sliding_min_matches_naive(vals, w):
    h = np.array(vals, dtype=np.uint64)
    got = sliding_min(h, w)
    if h.size <= w:
        assert got.size == 1 and got[0] == h.min()
        return
    naive = np.array([h[i : i + w].min() for i in range(h.size - w + 1)], dtype=np.uint64)
    assert np.array_equal(got, naive)


# -------------------------------------------------------------- estimators

def _hashes(n, seed=7):
    return mix64(np.arange(1, n + 1, dtype=np.uint64) + np.uint64(seed * 1_000_003))


@pytest.mark.parametrize("n", [50, 500, 5000, 60000])
def test_hll_mle_tracks_truth(n):
    regs = hll_registers(_hashes(n), p=10, seed=42)
    est = hll_cardinality(regs, estimator="mle")
    assert abs(est - n) / n < 0.12, (n, est)


@pytest.mark.parametrize("n", [50, 500, 5000, 60000])
@pytest.mark.parametrize("estimator", ["fgra", "mle", "rank"])
def test_ull_estimators_track_truth(n, estimator):
    regs = ull_registers(_hashes(n), p=10, seed=42)
    est = ull_cardinality(regs, p=10, estimator=estimator)
    assert abs(est - n) / n < 0.15, (n, estimator, est)


def test_mle_empty_sketch_is_zero():
    regs = np.zeros(1024, dtype=np.int32)
    assert hll_cardinality_mle(regs) == 0.0
    assert ull_cardinality(regs, p=10, estimator="mle") == 0.0


def test_ull_union_is_sketch_of_union():
    a, b = _hashes(3000, seed=1), _hashes(4000, seed=2)
    ra = ull_registers(a, p=8, seed=42)
    rb = ull_registers(b, p=8, seed=42)
    ru = ull_registers(np.union1d(a, b), p=8, seed=42)
    assert np.array_equal(ull_union(ra, rb), ru)
    # commutative + idempotent
    assert np.array_equal(ull_union(rb, ra), ru)
    assert np.array_equal(ull_union(ru, ru), ru)


def test_ull_extra_bits_populated():
    regs = ull_registers(_hashes(20000), p=6, seed=42)
    q = regs >> 2
    assert (q > 0).all()
    # dense sketch: most registers must have seen rank q-1 too
    assert ((regs >> 1) & 1).mean() > 0.5


def test_register_segments_match_per_doc_kernels():
    hs = [_hashes(100, seed=3), np.empty(0, dtype=np.uint64), _hashes(777, seed=4)]
    seg = np.array([0, 100, 100, 877], dtype=np.int64)
    flat = np.concatenate(hs)
    got = ull_registers_segments(flat, seg, 8, 42)
    for i, h in enumerate(hs):
        assert np.array_equal(got[i], ull_registers(h, 8, 42))
    got_h = hll_registers_segments(flat, seg, 8, 42)
    for i, h in enumerate(hs):
        assert np.array_equal(got_h[i], hll_registers(h, 8, 42))


def test_hll_cardinality_batch_matches_scalar():
    regs = np.stack([hll_registers(_hashes(n), 8, 42) for n in (10, 300, 9000)])
    batch = hll_cardinality_batch(regs)
    for i, n in enumerate((10, 300, 9000)):
        assert batch[i] == pytest.approx(hll_cardinality(regs[i]))


# ------------------------------------------------------- int32 wire format

def test_sig_to_reg32_preserves_order_and_equality():
    x = np.array([0, 1, 2**32 - 1, 2**32, 2**63, 2**64 - 1, 12345678901234], dtype=np.uint64)
    r = sig_to_reg32(x)
    assert r.dtype == np.int32
    # order-preserving on the high-32-bit quotient
    hi = (x >> np.uint64(32)).astype(np.int64)
    assert np.array_equal(np.argsort(r, kind="stable"), np.argsort(hi, kind="stable"))
    # equality preserved exactly for equal inputs
    assert sig_to_reg32(np.array([7, 7], dtype=np.uint64))[0] == sig_to_reg32(
        np.array([7, 9], dtype=np.uint64)
    )[0]


# ------------------------------------------------------- model 0 / config

def test_distance_model_zero_is_binomial():
    from lash_spark.config import mash_distance

    assert mash_distance(0.8, 16, model=0) == pytest.approx(mash_distance(0.8, 16, model=2))
    SketchParams(distance_model=0)  # accepted (reference numbering)
    with pytest.raises(ValueError):
        SketchParams(distance_model=3)
    with pytest.raises(ValueError):
        SketchParams(estimator="bogus")


# ----------------------------------------------------- cross-dataset mode

def test_cross_dataset_pairs_vs_bruteforce(spark, tiny_pages):
    """Cross-mode pairs equal the brute-force truth, and neither mode
    leaves a cache entry behind: the persisted signature tables are
    released before returning and the result plan reads no cached
    relation."""
    from lash_spark.pipeline import cross_dataset_pairs
    import pyspark.sql.functions as F

    docs = tiny_pages.withColumn("nid", F.xxhash64("url"))
    dq = docs.filter(F.pmod("nid", F.lit(4)) == 0)
    dr = docs.filter(F.pmod("nid", F.lit(3)) == 0)
    params = SketchParams(shingle_k=16, num_perm=128, seed=42)
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.cachedData().size()
    same = cross_dataset_pairs(dq, dq, params, id_col="url", text_col="text", same_files=True)
    assert cache.cachedData().size() == n_cached
    cross = cross_dataset_pairs(dq, dr, params, id_col="url", text_col="text", threshold=0.8)
    assert cache.cachedData().size() == n_cached
    for out in (same, cross):
        assert "InMemoryTableScan" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r.url_q, r.url_r) for r in cross.collect()}
    # brute-force truth: exact shingle jaccard over the two subsets
    from lash_spark.hashing import batch_shingle_hashes
    from lash_spark.operators.normalize import normalize_text

    def sets(df):
        rows = df.select("url", normalize_text("text").alias("t")).collect()
        hs = batch_shingle_hashes([r.t.encode() for r in rows], 16)
        return {r.url: h for r, h in zip(rows, hs)}

    sq, sr = sets(dq), sets(dr)
    truth = set()
    for uq, hq in sq.items():
        for ur, hr in sr.items():
            if hq.size and hr.size:
                inter = np.intersect1d(hq, hr).size
                j = inter / (hq.size + hr.size - inter)
                if j >= 0.8:
                    truth.add((uq, ur))
    assert got == truth
    assert truth, "test corpus must contain cross-set pairs"


def test_cross_dataset_param_mismatch_raises():
    from lash_spark.pipeline import cross_dataset_pairs

    with pytest.raises(ValueError, match="must match"):
        cross_dataset_pairs(
            None, None, SketchParams(shingle_k=16), SketchParams(shingle_k=8)
        )


# ------------------------------------------------- resume invalidation

def test_grown_input_rebuilds_downstream_stages(spark, tmp_path):
    from lash_spark.lakeio import ParquetCatalog
    from lash_spark.pipeline import dedup_pipeline
    from lash_spark.synth import generate_pages

    cfg = PipelineConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wd"))
    docs1 = generate_pages(spark, 120, seed=42, partitions=2)
    r1 = dedup_pipeline(docs1, cfg, id_col="url", text_col="text", catalog=cat)
    n1 = r1.dup_pairs.count()
    # grow the input: same first 120 docs + 80 more (deterministic synth)
    docs2 = generate_pages(spark, 200, seed=42, partitions=2)
    r2 = dedup_pipeline(docs2, cfg, id_col="url", text_col="text", catalog=cat)
    # clean-run truth over the grown corpus
    r_clean = dedup_pipeline(docs2, cfg, id_col="url", text_col="text")
    got = {(r.url_a, r.url_b) for r in r2.dup_pairs.collect()}
    want = {(r.url_a, r.url_b) for r in r_clean.dup_pairs.collect()}
    assert got == want
    assert len(want) > n1, "grown corpus must add pairs for the test to bite"


# ------------------------------------------------- streaming idempotence

def test_streaming_replay_does_not_duplicate(spark, tmp_path):
    from lash_spark.lakeio import ParquetCatalog
    from lash_spark.synth import generate_pages

    cat = ParquetCatalog(spark, str(tmp_path / "wd"))
    params = SketchParams()
    pages = generate_pages(spark, 50, seed=42, partitions=1)
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.lakeio import resume_delta

    # simulate the foreachBatch body twice with the same batch (a replay)
    for _ in range(2):
        normed = with_normalized_text(pages.select("url", "text"), "text")
        existing = cat.read("signatures") if cat.exists("signatures") else None
        delta = resume_delta(normed, existing, "url")
        sigs = build_signatures(delta, params, id_col="url", min_parallelism=1)
        cat.append(sigs, "signatures")
    out = cat.read("signatures")
    assert out.count() == out.select("url").distinct().count() == 50


# ------------------------------------------------------ sketcher protocol

def test_sketcher_registry_dispatch():
    from lash_spark.sketcher import get_sketcher

    h = _hashes(5000)
    seg = np.array([0, 5000], dtype=np.int64)
    for name in ("hll", "ull", "hmh"):
        sk = get_sketcher(name)
        regs = sk.registers_segments(h, seg, 10, 42)[0]
        assert np.array_equal(sk.union(regs, regs), regs)  # idempotent
        est = sk.cardinality(regs, 10, "mle")
        assert abs(est - 5000) / 5000 < 0.15, (name, est)
    with pytest.raises(ValueError, match="unknown sketch"):
        get_sketcher("nope")


# ---------------------------------------------------------------- IVF ANN

def test_ivf_topk_exact_when_probing_all(spark):
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((6, 16)) * 3
    vecs = [
        (i, (centers[i % 6] + rng.standard_normal(16) * 0.3).tolist())
        for i in range(120)
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    from lash_spark.operators.ann import brute_force_topk, ivf_topk

    q = df.filter(df.vec_id < 8)
    truth = {
        (r.query_id, r.rank): r.item_id for r in brute_force_topk(df, q, k=5).collect()
    }
    exact = {
        (r.query_id, r.rank): r.item_id
        for r in ivf_topk(df, q, k=5, n_lists=6, n_probe=6).collect()
    }
    assert exact == truth
    # partial probe: high recall on clustered data (neighbors share cells)
    approx = {
        (r.query_id, r.item_id)
        for r in ivf_topk(df, q, k=5, n_lists=6, n_probe=2).collect()
    }
    truth_pairs = set((k[0], v) for k, v in truth.items())
    recall = len(approx & truth_pairs) / len(truth_pairs)
    assert recall >= 0.8, recall


# ---------------------------------------------------- plan-shape guards

def _plan(df, mode="formatted"):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_plan_shapes_hold(spark, tmp_path, tiny_pages):
    """The plan properties the 100TB design depends on (see
    tools/plan_audit.py for the full audit over real testdata)."""
    import re

    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    import pyspark.sql.functions as F

    path = str(tmp_path / "docs")
    tiny_pages.select("url", "text", "lang").write.parquet(path)
    docs = spark.read.parquet(path)

    # column pruning: signature build over (url, text, lang) reads 2 cols
    params = SketchParams()
    sigs = build_signatures(
        with_normalized_text(docs, "text"), params, LshPlan.plan(128, 0.8, 0.995)
    )
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", _plan(sigs))
    assert scans and all("lang" not in s for s in scans), scans

    # predicate pushdown reaches the scan
    p = _plan(docs.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters: [" in p and "EqualTo(lang,en)" in p, p

    # the dedup path plans no cartesian product / nested-loop join
    sp = sigs.persist()
    ver = verify_pairs(
        lsh_candidate_pairs(sp), with_normalized_text(docs, "text"), params,
        sig_df=sp, with_distances=False,
    )
    p2 = _plan(ver)
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2
    sp.unpersist()


# ---------------------------------------------------- CLI strict discovery

def test_load_sketch_params_strict(tmp_path):
    from lash_spark.cli import load_sketch_params

    with pytest.raises(SystemExit, match="no parameters file"):
        load_sketch_params(str(tmp_path / "sigs"))
    (tmp_path / "sigs_parameters.json").write_text(
        SketchParams(shingle_k=12).to_json()
    )
    assert load_sketch_params(str(tmp_path / "sigs")).shingle_k == 12


def test_estimator_choice_does_not_invalidate_sketches():
    """-e is a read-time flag (main.rs:143-151): changing it must not change
    params_hash (which gates sketch-table rebuild + stage resume)."""
    a = SketchParams(estimator="default")
    b = SketchParams(estimator="mle")
    assert a.params_hash() == b.params_hash()
    assert SketchParams(shingle_k=12).params_hash() != a.params_hash()


# -------------------------------------------------- distributed suffix array

def test_suffix_ranks_match_python_sort(spark):
    from lash_spark.operators.suffixarray import suffix_ranks

    rows = [(1, "banana"), (2, "bandana"), (3, "aa")]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    depth = 4
    got = {(r.url, r.pos): r.sa_rank for r in suffix_ranks(df, depth, id_col="url").collect()}
    # python truth: dense rank of depth-truncated suffixes, corpus-global
    sufs = {}
    for uid, t in rows:
        for p in range(1, len(t) + 1):
            sufs[(uid, p)] = t[p - 1 : p - 1 + depth]
    order = {s: i for i, s in enumerate(sorted(set(sufs.values())))}
    want = {k: order[v] for k, v in sufs.items()}
    assert got == want


def test_substring_pairs_sa_matches_winnowing_engine(spark):
    from lash_spark.operators.substring import exact_substring_pairs
    from lash_spark.operators.suffixarray import substring_pairs_sa

    block = "q".join(str(i) for i in range(60))  # ~200 chars shared block
    rows = [
        (1, "alpha intro " + block + " alpha outro"),
        (2, "totally different " + block + " ending here"),
        (3, "unrelated text " + "z" * 300),
        (4, "another " + block[:40] + " short-overlap only"),
    ]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    sa = {(r.url_a, r.url_b) for r in substring_pairs_sa(df, min_len=64, id_col="url").collect()}
    win = {
        (r.url_a, r.url_b)
        for r in exact_substring_pairs(df, min_len=64, k=32, id_col="url").collect()
    }
    assert sa == win == {(1, 2)}


# ------------------------------------------------------- review-pass fixes

def test_suffix_ranks_unicode_codepoints(spark):
    """Base-2^21 packing must be injective for non-ASCII codepoints
    (base-257 byte packing would alias these prefixes)."""
    from lash_spark.operators.suffixarray import suffix_ranks

    rows = [(1, "Ā ab"), (2, "āxyz"), (3, "ÿāab")]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    depth = 3
    got = {(r.url, r.pos): r.sa_rank for r in suffix_ranks(df, depth, id_col="url").collect()}
    sufs = {}
    for uid, t in rows:
        for p in range(1, len(t) + 1):
            sufs[(uid, p)] = t[p - 1 : p - 1 + depth]
    order = {s: i for i, s in enumerate(sorted(set(sufs.values())))}
    assert got == {k: order[v] for k, v in sufs.items()}


def test_validate_compatible_checks_minhash_config():
    a = SketchParams(num_perm=128)
    with pytest.raises(ValueError, match="minhash signature config"):
        a.validate_compatible(SketchParams(num_perm=64))
    with pytest.raises(ValueError, match="minhash signature config"):
        a.validate_compatible(SketchParams(minhash_mode="kperm"))
    a.validate_compatible(SketchParams(num_perm=128))  # ok


def test_register_udf_honors_estimator(spark):
    from lash_spark.operators.signatures import add_register_sketch

    rows = [(1, "the quick brown fox jumps over the lazy dog " * 30)]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    ests = {}
    for e in ("default", "mle"):
        out = add_register_sketch(
            df, SketchParams(algorithm="hll", precision=8, estimator=e)
        ).collect()[0]
        ests[e] = out.card_est
    assert ests["default"] != ests["mle"]  # different estimators ran
    # both near the true distinct-shingle count
    from lash_spark.hashing import batch_shingle_hashes

    truth = batch_shingle_hashes([rows[0][1].encode()], 16)[0].size
    for e, v in ests.items():
        assert abs(v - truth) / truth < 0.2, (e, v, truth)


_CROSS_CASES = {  # per (band_id, key): (query ids, reference ids)
    "query_hot": {(0, 7): ([f"q{i}" for i in range(40)], [f"r{j}" for j in range(5)])},
    "reference_hot": {(0, 7): ([f"q{i}" for i in range(5)], [f"r{j}" for j in range(40)])},
    "both_hot": {
        (0, 7): ([f"q{i}" for i in range(30)], [f"r{j}" for j in range(30)]),
        (1, 7): ([f"q{i}" for i in range(10, 20)], [f"r{j}" for j in range(25)]),
        (1, 9): (["q1", "q2"], ["r3"]),  # cold bucket beside the hot ones
    },
    "shared_id": {(0, 7): ([f"d{i}" for i in range(0, 20)], [f"d{i}" for i in range(10, 30)])},
}


@pytest.mark.parametrize("case", sorted(_CROSS_CASES))
def test_cross_pairs_symmetric_skew(spark, case):
    """With max_bucket forced to 8 (every case has a bucket of 25 or more
    rows) the salt tier runs on whichever side is hot, and the cross rule still returns exactly the Python cross product
    of every bucket, each pair once; an id on both sides pairs with
    itself."""
    from lash_spark.operators.lsh import cross_pairs_from_keys

    buckets = _CROSS_CASES[case]
    schema = "url string, band_id int, key long"

    def side(i):
        return spark.createDataFrame(
            [(u, b, k) for (b, k), ids in buckets.items() for u in ids[i]], schema
        )

    rows = cross_pairs_from_keys(side(0), side(1), id_col="url", max_bucket=8).collect()
    got = [(x.url_q, x.url_r) for x in rows]
    want = {(q, r) for qs, rs in buckets.values() for q, r in itertools.product(qs, rs)}
    assert len(got) == len(set(got))
    assert set(got) == want
    if case == "shared_id":  # d10..d19 are on both sides
        assert {(f"d{i}", f"d{i}") for i in range(10, 20)} <= set(got)
