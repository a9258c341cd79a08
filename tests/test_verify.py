"""Verify-operator contracts: the fused kernel's estimate against the JVM
expression on malformed rows and its exact Jaccard against Python sets on
random inputs, the per-document degree cap, the number of Spark jobs one
verify or exact-substring call runs before its result is read, and
identical pairs wherever the shingle sets come from."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lash_spark.config import LshPlan, SketchParams
from lash_spark.operators.lsh import cross_lsh_candidate_pairs, lsh_candidate_pairs
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.synth import generate_pages


def _corpus(spark, n, seed):
    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    normed = with_normalized_text(
        generate_pages(spark, n, seed=seed, partitions=2).select("url", "text"), "text"
    ).persist()
    sigs = build_signatures(normed, params, plan, with_shingles=True).persist()
    sigs.count()
    return params, normed, sigs


def test_verify_calls_issue_pinned_job_counts(spark, run_in_group):
    """Each verify call runs a pinned number of Spark jobs before its
    result action: the one side-table stats action and nothing else,
    counting AQE's per-query-stage jobs. A new gate or eager checkpoint
    shows here as a higher count. The calls: verify_pairs over signatures
    that carry shingle sets, verify_pairs over signatures that carry the
    text (the stream probe's shape: one join, the sets shingled in the
    projection that carries the minhash), and cross_verify_pairs. No plan
    they execute carries Spark's runtime bloom-filter subquery (an extra
    scan and exchange per side table)."""
    from lash_spark.operators.normalize import normalize_text
    from lash_spark.operators.verify import cross_verify_pairs, verify_pairs

    params, normed, sigs = _corpus(spark, 300, 31)
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()
    assert cands.count() > 0
    plans = []

    def call(group, fn):
        out, n, p = run_in_group(group, fn)
        assert p, group
        plans.extend(p)
        return out, n

    verified, n_self = call(
        "verify_self",
        lambda: verify_pairs(cands, normed, params, sig_df=sigs, with_distances=False),
    )
    assert verified.count() > 0

    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    with_text = build_signatures(normed, params, plan, carry_cols=["text"]).persist()
    with_text.count()
    probe = with_text.withColumn("norm_text", normalize_text("text"))
    by_text, n_text = call(
        "verify_text",
        lambda: verify_pairs(cands, normed, params, sig_df=probe, with_distances=False),
    )
    assert by_text.count() == verified.count()

    sig_q = sigs.filter(F.abs(F.hash("url")) % 2 == 0).persist()
    sig_r = sigs.filter(F.abs(F.hash("url")) % 2 == 1).persist()
    cross = cross_lsh_candidate_pairs(sig_q, sig_r, id_col="url").persist()
    assert cross.count() > 0
    cv, n_cross = call(
        "verify_cross",
        lambda: cross_verify_pairs(
            cross, normed, normed, params, sig_q=sig_q, sig_r=sig_r
        ),
    )
    assert cv.count() > 0
    assert (n_self, n_text, n_cross) == (4, 4, 7)
    for p in plans:
        assert "might_contain" not in p and "bloom_filter_agg" not in p, p
    for df in (cands, cross, sig_q, sig_r, with_text, sigs, normed):
        df.unpersist()


def test_est_kernel_matches_jvm_on_null_and_ragged_rows(spark):
    """The fused kernel's ``est`` and ``minhash_jaccard_expr`` agree row
    for row, including NULL for a null, empty or length-mismatched sketch,
    and rows of different register counts in one Arrow batch."""
    from lash_spark.estimators import minhash_jaccard_expr
    from lash_spark.operators.verify import _verify_kernel

    rows = [
        (1, [1, 2, 3, 4], [1, 2, 3, 5]),
        (2, None, [1, 2, 3, 4]),
        (3, [1, 2, 3, 4], None),
        (4, [1, 2, 3], [1, 2, 3, 4]),
        (5, [1, 2, 3, 4], [1, 2]),
        (6, [7, 8], [7, 9]),
        (7, [], []),
        (8, None, None),
        (9, [5, 6, 7, 8], [5, 6, 7, 8]),
    ]
    df = spark.createDataFrame(rows, "id int, a array<int>, b array<int>").coalesce(1)
    kernel = _verify_kernel(0.0)(
        F.col("a"), F.col("b"), F.lit(None).cast("array<bigint>"),
        F.array(F.lit(1).cast("bigint")),
    )
    got = {
        r.id: (r.k.est, r.jvm)
        for r in df.select(
            "id", kernel.alias("k"), minhash_jaccard_expr("a", "b").alias("jvm")
        ).collect()
    }
    assert all(k == j for k, j in got.values()), got
    assert {i for i, (k, _) in got.items() if k is None} == {2, 3, 4, 5, 7, 8}
    assert (got[1][0], got[6][0], got[9][0]) == (0.75, 0.5, 1.0)


_TOP = 1 << 64
_U64 = st.integers(min_value=0, max_value=_TOP - 1)
# few distinct values at both ends of the range, so sets overlap often and
# values >= 2^63 (signed and unsigned order differ) are common
_SET = st.one_of(
    st.none(),
    st.sets(
        st.one_of(st.integers(0, 20), st.integers(_TOP - 20, _TOP - 1), _U64),
        max_size=16,
    ),
)
_REGS = st.one_of(st.none(), st.lists(st.integers(0, 2), max_size=6))
# mostly equal register counts (those rows reach the intersection), some
# null, empty or ragged
_REG_PAIR = st.one_of(
    st.integers(1, 6).flatmap(
        lambda n: st.tuples(*[st.lists(st.integers(0, 2), min_size=n, max_size=n)] * 2)
    ),
    st.tuples(_REGS, _REGS),
)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(st.tuples(_REG_PAIR, _SET, _SET), min_size=1, max_size=40),
    floor=st.sampled_from([0.0, 0.5, 0.65]),
)
# a signed-order search of the larger set misses both shared hashes here
@example(
    rows=[(([1, 2], [1, 2]), {1, 2, 3, _TOP - 3, _TOP - 2, _TOP - 1}, {1, _TOP - 1})],
    floor=0.0,
)
def test_verify_kernel_property(spark, rows, floor):
    """On random register arrays of mixed lengths and random sorted-unique
    uint64 shingle sets (empty, null, and values >= 2^63, where signed and
    unsigned order differ), the fused kernel's ``est`` equals
    ``minhash_jaccard_expr`` on every row, and ``jaccard`` equals
    ``len(a & b) / len(a | b)`` (0.0 for an empty union, a null set taken
    as empty) on every row whose estimate passes the floor, NULL on the
    others."""
    from lash_spark.estimators import minhash_jaccard_expr
    from lash_spark.operators.verify import _verify_kernel

    def signed(s):
        # sorted in unsigned order, stored as the int64 view, as
        # batch_shingle_hash_segments writes them
        return None if s is None else [v - _TOP if v >= 1 << 63 else v for v in sorted(s)]

    df = spark.createDataFrame(
        [(i, ma, mb, signed(sa), signed(sb)) for i, ((ma, mb), sa, sb) in enumerate(rows)],
        "i int, ma array<int>, mb array<int>, sa array<bigint>, sb array<bigint>",
    ).coalesce(1)
    kernel = _verify_kernel(floor)(F.col("ma"), F.col("mb"), F.col("sa"), F.col("sb"))
    out = df.select("i", kernel.alias("k"), minhash_jaccard_expr("ma", "mb").alias("ref"))
    got = {r.i: (r.k.est, r.k.jaccard, r.ref) for r in out.collect()}
    assert len(got) == len(rows)
    for i, (_, sa, sb) in enumerate(rows):
        est, jac, ref = got[i]
        assert est == ref, (i, rows[i], got[i])
        if est is None or est < floor:
            assert jac is None, (i, rows[i], got[i])
            continue
        a, b = sa or set(), sb or set()
        want = len(a & b) / len(a | b) if a | b else 0.0
        assert jac == want, (i, rows[i], got[i])


def test_degree_cap_keeps_top_estimates_per_doc(spark):
    """max_pairs_per_doc keeps, per url_a and then per url_b, the C pairs
    with the highest estimate, ties broken by (url_a, url_b): the capped
    pairs are a subset of the uncapped ones with identical jaccard, every
    url has at most C pairs on each side, and the survivors equal a Python
    re-ranking of all estimate-passing candidates whatever the input
    partitioning."""
    from lash_spark.operators.verify import verify_pairs

    params, normed, sigs = _corpus(spark, 400, 5)
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()
    cap = 2

    def run(threshold, max_pairs, parts=None):
        c = cands if parts is None else cands.repartition(parts)
        return {
            (r.url_a, r.url_b): (r.est_jaccard, r.jaccard)
            for r in verify_pairs(
                c, normed, params, threshold=threshold, sig_df=sigs,
                with_distances=False, max_pairs_per_doc=max_pairs,
            ).collect()
        }

    full, capped = run(0.8, None), run(0.8, cap)
    assert capped and len(capped) < len(full)
    assert capped.items() <= full.items()
    for i in (0, 1):
        per = defaultdict(int)
        for p in capped:
            per[p[i]] += 1
        assert max(per.values()) <= cap

    # threshold 0 passes every candidate through both filters, so the cap
    # alone decides what survives
    every = run(0.0, None)
    want = dict(every)
    for i in (0, 1):
        kept, seen = {}, defaultdict(int)
        for p, v in sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0])):
            if seen[p[i]] < cap:
                seen[p[i]] += 1
                kept[p] = v
        want = kept
    assert run(0.0, cap) == want == run(0.0, cap, parts=7)
    cands.unpersist()
    sigs.unpersist()
    normed.unpersist()


def _assert_same_rows(x, y):
    assert x.count() > 0
    assert x.exceptAll(y).isEmpty() and y.exceptAll(x).isEmpty()


def test_verify_pairs_identical_with_and_without_shingle_sets(spark):
    """verify_pairs gives the same pairs, estimates, jaccards and
    distances whether the signature frame carries each document's shingle
    set or verify shingles the candidate members from their text."""
    from lash_spark.operators.verify import verify_pairs

    params, normed, sigs = _corpus(spark, 400, 11)
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()
    _assert_same_rows(
        verify_pairs(cands, normed, params, sig_df=sigs),
        verify_pairs(cands, normed, params, sig_df=sigs.drop("shingles")),
    )
    for df in (cands, sigs, normed):
        df.unpersist()


def test_cross_verify_pairs_identical_for_every_shingle_set_placement(spark):
    """cross_verify_pairs with shingle sets on the q side only (the
    stream's shape: the trigger's batch carries them, the store does not)
    gives the same pairs as sets on both sides and as sets on neither."""
    from lash_spark.operators.verify import cross_verify_pairs

    params, normed, sigs = _corpus(spark, 300, 17)
    sig_q = sigs.filter(F.abs(F.hash("url")) % 2 == 0).persist()
    sig_r = sigs.filter(F.abs(F.hash("url")) % 2 == 1).persist()
    cross = cross_lsh_candidate_pairs(sig_q, sig_r, id_col="url").persist()

    def run(q, r):
        return cross_verify_pairs(cross, normed, normed, params, sig_q=q, sig_r=r)

    q_only = run(sig_q, sig_r.drop("shingles"))
    _assert_same_rows(q_only, run(sig_q, sig_r))
    _assert_same_rows(q_only, run(sig_q.drop("shingles"), sig_r.drop("shingles")))
    for df in (cross, sig_q, sig_r, sigs, normed):
        df.unpersist()


def test_substring_passes_pinned_job_counts(spark, run_in_group):
    """One exact_substring_pairs call and one cross_substring_overlap call
    each run a pinned number of Spark jobs before their result action:
    the candidate generator's and the one window-set stats action, and
    nothing else (12 and 19 jobs at this size, counting AQE's
    per-query-stage jobs). A new gate or eager checkpoint shows here as a
    higher count."""
    from lash_spark.operators.substring import cross_substring_overlap, exact_substring_pairs

    normed = with_normalized_text(
        generate_pages(spark, 200, seed=13, partitions=2).select("url", "text"), "text"
    ).persist()
    normed.count()
    self_pairs, n_self, _ = run_in_group(
        "substring_self",
        lambda: exact_substring_pairs(normed, min_len=64, k=32),
    )
    assert self_pairs.count() > 0
    dq = normed.filter(F.abs(F.hash("url")) % 2 == 0)
    dr = normed.filter(F.abs(F.hash("url")) % 2 == 1)
    cross, n_cross, _ = run_in_group(
        "substring_cross",
        lambda: cross_substring_overlap(dq, dr, min_len=64, k=32),
    )
    assert cross.count() > 0
    assert (n_self, n_cross) == (12, 19)
    normed.unpersist()
