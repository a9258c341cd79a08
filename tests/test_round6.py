"""Round-6 optimization-round tests: changed operator internals must keep
their contracts (results identical, resume semantics intact)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- SA rewrite


def test_sa_hash_prefilter_exact_groups(spark):
    """The hash-census prefilter must be complete (no lost pair) and the
    final grouping must be decided by raw characters: same-doc-only
    repeats produce no pair, cross-doc shared windows always do, and
    near-miss windows (1 char off) never do, while a window shared on
    exactly min_len characters pairs."""
    from lash_spark.operators.suffixarray import substring_pairs_sa

    # non-periodic block: a truncated copy must NOT share any 64-window
    block = "".join(chr(97 + (i * 7) % 26) for i in range(80))
    solo = "".join(chr(97 + (i * 11) % 26) for i in range(90))
    edge = "".join(chr(97 + (i * 5) % 26) for i in range(64))  # exactly 64
    rows = [
        (1, "aa " + block + " tail one"),
        (2, "bb " + block + " tail two"),            # shares block with 1
        (3, "cc~" + block[:63] + "99 tail three"),   # 63 shared chars: no pair
        (4, solo + " solo " + solo),                 # in-doc repeat only
        (5, "short doc"),
        (6, "dd~" + edge + "#six"),                  # exactly 64 shared chars
        (7, "ee^" + edge + "!seven"),
    ]
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    got = {(r.url_a, r.url_b) for r in substring_pairs_sa(df, min_len=64).collect()}
    assert got == {(1, 2), (6, 7)}


def test_sa_matches_winnow_engine_on_synth(spark):
    """Same truth set as the winnowing engine on a corpus with planted
    template/substring families (the property the driver oracle checks)."""
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.substring import exact_substring_pairs
    from lash_spark.operators.suffixarray import substring_pairs_sa
    from lash_spark.synth import generate_pages

    d = with_normalized_text(
        generate_pages(spark, 600, seed=7, partitions=4).select("url", "text"), "text"
    # ASCII-ize: the synth vocab contains a Cyrillic word, and the two
    # engines intentionally differ off-ASCII (winnow = byte windows, SA =
    # character windows; same as r5 — the driver corpus is pure ASCII)
    ).withColumn("norm_text", F.regexp_replace("norm_text", "был", "byl"))
    sa = {(r.url_a, r.url_b) for r in substring_pairs_sa(d, min_len=64).collect()}
    win = {
        (r.url_a, r.url_b)
        for r in exact_substring_pairs(d, min_len=64, k=32).collect()
    }
    assert sa == win and len(sa) > 0


# ----------------------------------------------------------- verify fast path


def test_verify_fused_path_matches_staged_path(spark):
    """The two side-table sources must agree: shingle sets read off the
    persisted signature column and sets re-shingled from the members' text
    give exactly the same rows/values — including the distance columns."""
    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.synth import generate_pages

    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    d = with_normalized_text(
        generate_pages(spark, 400, seed=5, partitions=4).select("url", "text"), "text"
    )
    sigs = build_signatures(d, params, plan, id_col="url", with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url", max_bucket=256, star_threshold=512)
    fused = verify_pairs(cands, d, params, id_col="url", threshold=0.8, sig_df=sigs)
    # without the shingles column verify re-shingles the members' text
    staged = verify_pairs(
        cands, d, params, id_col="url", threshold=0.8, sig_df=sigs.drop("shingles")
    )
    cols = ["url_a", "url_b", "jaccard", "frac", "distance"]
    f = {tuple(r) for r in fused.select(*cols).collect()}
    s = {tuple(r) for r in staged.select(*cols).collect()}
    assert f == s and len(f) > 0
    sigs.unpersist()


def test_verify_fused_broadcast_decision_small_and_large(spark, monkeypatch):
    """The measured-bytes broadcast decision must not change results in
    either regime (forced tiny cap => shuffled join; default => broadcast)."""
    from lash_spark.config import LshPlan, SketchParams
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators import verify
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.synth import generate_pages

    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
    d = with_normalized_text(
        generate_pages(spark, 300, seed=9, partitions=4).select("url", "text"), "text"
    )
    sigs = build_signatures(d, params, plan, id_col="url", with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url", max_bucket=256, star_threshold=512)

    def rows():
        return {
            (r.url_a, r.url_b, r.jaccard)
            for r in verify_pairs(
                cands, d, params, id_col="url", threshold=0.8, sig_df=sigs
            ).select("url_a", "url_b", "jaccard").collect()
        }

    default = rows()
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    monkeypatch.setattr(verify, "_BROADCAST_BYTES", 1)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        forced_shuffle = rows()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
    assert default == forced_shuffle and len(default) > 0
    sigs.unpersist()


# ------------------------------------------------------------- IVF local fit


def test_local_kmeans_deterministic_and_partitioning(spark):
    from lash_spark.operators.ann import _local_kmeans

    rng = np.random.default_rng(0)
    x = rng.standard_normal((300, 16))
    c1 = _local_kmeans(x, 8, seed=4)
    c2 = _local_kmeans(x, 8, seed=4)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 16)
    # degenerate input: fewer distinct points than k must not crash
    y = np.zeros((3, 4))
    c3 = _local_kmeans(y, 4, seed=1)
    assert c3.shape == (4, 4)


# ------------------------------------------------------- lakeio ADVICE fixes


def test_replace_survives_stale_staged_and_old_dirs(spark, tmp_path):
    from lash_spark.lakeio import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    cat.write(spark.range(5).withColumnRenamed("id", "v"), "t")
    # simulate a previously crashed replace: leftover __staged and __old
    (tmp_path / "cat" / "t__staged").mkdir()
    (tmp_path / "cat" / "t__staged" / "junk.txt").write_text("stale")
    (tmp_path / "cat" / "t__old").mkdir()
    cat.replace(cat.read("t").filter(F.col("v") < 3), "t")
    assert {r.v for r in cat.read("t").collect()} == {0, 1, 2}
    assert not (tmp_path / "cat" / "t__staged").exists()
    assert not (tmp_path / "cat" / "t__old").exists()


def test_partitioned_stage_empty_resume_skips_builder(spark, tmp_path):
    """After an all-empty partitioned stage completes, a resume must surface
    the recorded schema WITHOUT invoking the builder (ADVICE r5: builders
    may run eager work)."""
    from lash_spark.lakeio import ParquetCatalog, run_partitioned_stage

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    calls = []

    def build(values):
        calls.append(list(values))
        return (
            spark.range(0)
            .select(
                F.col("id").alias("x"),
                F.lit(0).alias("_wave"),
            )
        )

    df1, skipped1 = run_partitioned_stage(
        cat, "s", "h1", [0, 1], build, part_col="_wave"
    )
    assert not skipped1 and df1.count() == 0
    n_calls = len(calls)
    df2, skipped2 = run_partitioned_stage(
        cat, "s", "h1", [0, 1], build, part_col="_wave"
    )
    assert skipped2 and df2.count() == 0
    assert len(calls) == n_calls, "builder invoked on empty-output resume"
    assert [f.name for f in df2.schema.fields] == ["x", "_wave"]


def test_cc_local_and_distributed_paths_agree(spark, monkeypatch):
    """connected_components routes edge sets <= _LOCAL_EDGE_CAP to a
    driver-local union-find; labels must be identical to the distributed
    star rounds (component = min node id) on random graphs, and the
    distributed path must stay exercised (cap=0 disables the local route)."""
    import random

    import lash_spark.operators.components as components_mod
    from lash_spark.operators.components import connected_components

    rnd = random.Random(7)
    for trial in range(3):
        n = 80
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(90)]
        edges = [(a, b) for a, b in edges if a != b]
        e = spark.createDataFrame(edges, "src bigint, dst bigint")
        local = {
            (r["node"], r["component"])
            for r in connected_components(e, "src", "dst").collect()
        }
        with monkeypatch.context() as m:
            m.setattr(components_mod, "_LOCAL_EDGE_CAP", 0)
            dist = {
                (r["node"], r["component"])
                for r in connected_components(e, "src", "dst").collect()
            }
        assert local == dist and local


def test_cc_local_path_string_ids(spark):
    """The driver-local route must handle string node ids (urls) with the
    same min-label semantics the pipeline's cluster_id contract needs."""
    from lash_spark.operators.components import connected_components

    e = spark.createDataFrame(
        [("u/b", "u/c"), ("u/c", "u/a"), ("u/x", "u/y")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, "src", "dst").collect()
    }
    assert got == {
        "u/a": "u/a", "u/b": "u/a", "u/c": "u/a", "u/x": "u/x", "u/y": "u/x"
    }


def test_verify_kernel_jaccard_matches_python_sets(spark):
    """Every pair the fused verify kernel keeps carries the exact
    |A∩B| / |A∪B| of a Python set reference built from
    ``batch_shingle_hash_segments`` over the pair's normalized texts, and
    the kept pairs are exactly the estimate-passing candidates whose
    reference jaccard reaches the threshold."""
    from lash_spark.estimators import minhash_jaccard_expr
    from lash_spark.hashing import batch_shingle_hash_segments
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.config import SketchParams
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 260, seed=23, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text").persist()
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url").persist()
    got = {
        (r["url_a"], r["url_b"]): r["jaccard"]
        for r in verify_pairs(
            cands, normed, params, id_col="url", sig_df=sigs, with_distances=False,
        ).collect()
    }

    sets = {}
    for r in normed.select("url", "norm_text").collect():
        h, seg = batch_shingle_hash_segments(
            [(r["norm_text"] or "").encode("utf-8")], params.shingle_k
        )
        sets[r["url"]] = set(h[seg[0]: seg[1]].tolist())
    est = {
        (r["url_a"], r["url_b"]): r["est"]
        for r in cands.join(sigs.alias("a"), F.col("url_a") == F.col("a.url"))
        .join(sigs.alias("b"), F.col("url_b") == F.col("b.url"))
        .select("url_a", "url_b", minhash_jaccard_expr("a.minhash", "b.minhash").alias("est"))
        .collect()
    }
    want = {}
    for (a, b), e in est.items():
        if e is None or e < 0.8 - 0.15:
            continue
        union = len(sets[a] | sets[b])
        j = len(sets[a] & sets[b]) / union if union else 0.0
        if j >= 0.8:
            want[(a, b)] = j
    assert got and got == want
    for df in (cands, sigs, normed):
        df.unpersist()


def test_intersect_udf_single_eval_in_plan(spark):
    """The verify plan evaluates the fused kernel ONCE per row: exactly one
    ArrowEvalPython node with a single pythonUDF slot, and the est filter
    ABOVE it (the non-determinism flag keeps Catalyst from substituting the
    filter below the projection, which would evaluate the kernel, and ship
    its arrays over Arrow, a second time). No row-at-a-time
    BatchEvalPython anywhere."""
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.config import SketchParams
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 200, seed=13, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url")
    verified = verify_pairs(
        cands, normed, params, id_col="url", sig_df=sigs, with_distances=False
    )
    assert verified.count() > 0
    plan = verified._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in plan
    assert "pythonUDF0" in plan and "pythonUDF1" not in plan
    assert plan.count("verify_kernel") == 1
    # plan prints top-down: the est-threshold filter reads the kernel's
    # output slot above the one kernel node
    i_filter = plan.index("Filter")
    assert i_filter < plan.index("ArrowEvalPython")
    assert "pythonUDF0" in plan[i_filter:plan.index("\n", i_filter)]
    assert ".est >= 0.65" in plan[i_filter:plan.index("\n", i_filter)]
    sigs.unpersist()


def test_dedup_result_clusters_lazy_no_catalog(spark):
    """On the no-catalog path DedupResult.clusters is a deferred thunk:
    connected components (an eager operator) must not run unless clusters
    is read, and reading it twice returns the same frame."""
    from lash_spark.config import PipelineConfig
    from lash_spark.pipeline import dedup_pipeline
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 120, seed=5, partitions=2)
    res = dedup_pipeline(pages, PipelineConfig(), id_col="url", text_col="text")
    assert res._clusters is None and res._clusters_thunk is not None
    c1 = res.clusters
    assert res._clusters is c1 and res.clusters is c1
    assert c1.count() == 120

