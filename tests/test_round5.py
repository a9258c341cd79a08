"""Round-5 additions: the signature-stage sorted-unique shingle column
(identical to verify's own shingling, so verify can read it where a frame
carries it) and the lakeio empty-output / wave-toggle resume fixes (ADVICE
r4). The stream store's params/plan/format compatibility guard (ADVICE r4
medium) is tested in test_streaming.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lash_spark.config import PipelineConfig, SketchParams
from lash_spark.lakeio import ParquetCatalog, run_partitioned_stage, run_stage
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.synth import generate_pages

# ------------------------------------------- persisted shingle sets (r4 #2)


def test_signature_shingles_match_verify_kernel(spark):
    """build_signatures(with_shingles=True) must emit exactly the arrays the
    verify engine's own shingle UDF would compute (np.unique over the same
    unseeded window hashes) — otherwise persisted-set verify and re-shingle
    verify would disagree."""
    from lash_spark.hashing import batch_shingle_hash_segments

    pages = generate_pages(spark, 80, seed=7, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True)
    rows = {r["url"]: np.asarray(r["shingles"], dtype=np.int64)
            for r in sigs.select("url", "shingles").collect()}
    texts = {r["url"]: r["norm_text"] for r in normed.collect()}
    assert rows.keys() == texts.keys()
    for url, text in texts.items():
        h, seg = batch_shingle_hash_segments([text.encode("utf-8")], params.shingle_k)
        want = h[seg[0]: seg[1]].view(np.int64)
        assert np.array_equal(rows[url], want), url


def test_verify_with_shingles_never_reshingles(spark, monkeypatch):
    """A signature frame that carries persisted shingle sets is never
    re-shingled: verify builds no shingle-set UDF for it (one that lacks
    the sets does), and the verify plan holds the one fused kernel node
    and no shingle-set evaluation."""
    from lash_spark.operators import verify
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.verify import verify_pairs

    pages = generate_pages(spark, 200, seed=13, partitions=2)
    params = SketchParams()
    normed = with_normalized_text(pages.select("url", "text"), "text")
    sigs = build_signatures(normed, params, with_shingles=True).persist()
    cands = lsh_candidate_pairs(sigs, id_col="url")
    built = []
    make = verify.make_shingle_set_udf
    monkeypatch.setattr(
        verify, "make_shingle_set_udf", lambda k: built.append(k) or make(k)
    )

    def run(sig_df):
        out = verify_pairs(
            cands, normed, params, id_col="url", sig_df=sig_df, with_distances=False
        )
        # the plan before the action: one tree, not the initial and final
        return out._jdf.queryExecution().executedPlan().toString(), out.collect()

    plan, rows = run(sigs)
    assert rows and built == []
    assert plan.count("ArrowEvalPython") == 1 and "verify_kernel" in plan
    assert "shingle_set" not in plan and "BatchEvalPython" not in plan
    _, reshingled = run(sigs.drop("shingles"))
    assert built == [params.shingle_k] and sorted(reshingled) == sorted(rows)
    sigs.unpersist()


# -------------------------------------- lakeio resume fixes (ADVICE r4 low)


def test_empty_output_partitioned_stage_not_replayed(spark, tmp_path):
    """A partition-granular stage whose every wave legitimately writes zero
    rows must be skipped on rerun once marked complete (previously the
    missing-table check discarded the manifest and replayed everything)."""
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    calls = []

    def builder(waves):
        calls.append(list(waves))
        return (
            spark.range(0)
            .select(
                F.col("id").alias("val"),
                (F.col("id") % 2).cast("int").alias("part"),
            )
        )

    out1, skipped1 = run_partitioned_stage(cat, "empty_stage", "ph1", [0, 1], builder)
    assert not skipped1 and out1.count() == 0 and len(calls) == 2
    out2, skipped2 = run_partitioned_stage(cat, "empty_stage", "ph1", [0, 1], builder)
    assert skipped2, "completed empty-output stage must be trusted, not replayed"
    # r6 (ADVICE r5): the skip path reads the schema recorded in the
    # completion marker — the builder is not invoked at all anymore
    assert len(calls) == 2 and out2.count() == 0
    assert cat.stage_info("empty_stage").get("empty_output") is True


def test_lost_table_still_replays(spark, tmp_path):
    """The empty-output skip must NOT trigger for a stage that produced rows
    and then lost its table — that case still replays in full."""
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    calls = []

    def builder(waves):
        calls.append(list(waves))
        return spark.createDataFrame(
            [(int(w) * 10 + i, int(w)) for w in waves for i in range(3)],
            "val long, part int",
        )

    run_partitioned_stage(cat, "lossy", "ph1", [0, 1], builder)
    assert len(calls) == 2
    cat.drop("lossy")  # simulate a lost table
    out, skipped = run_partitioned_stage(cat, "lossy", "ph1", [0, 1], builder)
    assert not skipped and len(calls) == 4 and out.count() == 6


def test_wave_toggle_does_not_corrupt_table(spark, tmp_path):
    """Toggling a stage partitioned(N) -> flat -> partitioned(N) with the
    same sketch params must not mix part_col= dirs with flat files (ADVICE
    r4: stale wave_hash sidecar let the manifest be trusted against a
    flat-layout table)."""
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    phash, wave_hash = "ph", "ph:w2"

    def wave_builder(waves):
        return spark.createDataFrame(
            [(int(w) * 10 + i, int(w)) for w in waves for i in range(4)],
            "val long, _wave int",
        )

    def flat_builder():
        return spark.createDataFrame([(i,) for i in range(8)], "val long")

    out1, _ = run_partitioned_stage(
        cat, "cands", wave_hash, [0, 1], wave_builder, part_col="_wave"
    )
    assert out1.count() == 8
    # toggle to the single-job runner (waves=1 path in the pipeline)
    cat.clear_stage("cands")
    out2, _ = run_stage(cat, "cands", phash, flat_builder)
    assert out2.count() == 8 and "_wave" not in out2.columns
    # back to partitioned: must detect the layout change, drop, rebuild —
    # and the result must be cleanly readable (no conflicting directory
    # structures, no skipped waves)
    cat.clear_stage("cands")
    out3, skipped3 = run_partitioned_stage(
        cat, "cands", wave_hash, [0, 1], wave_builder, part_col="_wave"
    )
    assert not skipped3
    back = cat.read("cands")
    assert back.count() == 8 and set(back.columns) == {"val", "_wave"}
    assert back.select("_wave").distinct().count() == 2


# ------------------- census-driven star budget (VERDICT r4 #5) + LCS witness


def test_star_budget_default_caps_over_budget_bucket(spark, caplog):
    """With star_threshold unset, the boundary derives from star_pair_budget:
    a bucket whose pair volume exceeds the budget is star-linked (linear)
    and a warning names the routed bucket."""
    import logging

    from lash_spark.operators.lsh import pairs_from_keys

    ids = list(range(30))  # 435 pairs > 100-pair budget (threshold isqrt(200)=14)
    keyed = spark.createDataFrame(
        [(0, 7, i) for i in ids], "band_id int, key bigint, url bigint"
    )
    with caplog.at_level(logging.WARNING, logger="lash_spark.operators.lsh"):
        got = pairs_from_keys(keyed, max_bucket=5, star_pair_budget=100).collect()
    pairs = {(r.url_a, r.url_b) for r in got}
    assert pairs == {(0, i) for i in ids[1:]}  # star: linear, connectivity kept
    assert any("star budget" in r.message for r in caplog.records)


def test_star_budget_default_exhaustive_below_budget(spark, caplog):
    """The same bucket under the default 8M-pair budget stays exhaustive
    and logs nothing — the guard must not change small-corpus results."""
    import logging

    from lash_spark.operators.lsh import pairs_from_keys

    ids = list(range(30))
    keyed = spark.createDataFrame(
        [(0, 7, i) for i in ids], "band_id int, key bigint, url bigint"
    )
    with caplog.at_level(logging.WARNING, logger="lash_spark.operators.lsh"):
        got = pairs_from_keys(keyed, max_bucket=5).collect()
    pairs = {(r.url_a, r.url_b) for r in got}
    assert pairs == {(a, b) for a in ids for b in ids if a < b}
    assert not [r for r in caplog.records if "star budget" in r.message]


def test_substring_default_path_bounded_on_template_family(spark):
    """exact_substring_pairs' DEFAULT call path (no star_threshold) must
    complete with bounded pair volume on an over-budget boilerplate family
    — the 500k-run quadratic trap (VERDICT r4 #5). Family connectivity
    must survive via the star representative."""
    from lash_spark.operators.substring import exact_substring_pairs

    block = " ".join(f"tpl{i}" for i in range(80))  # shared template block
    m = 24
    rows = [(u, f"unique head {u} :: {block} :: unique tail {u}") for u in range(m)]
    rows.append((99, "entirely unrelated document " + "z" * 400))
    df = spark.createDataFrame(rows, "url bigint, norm_text string")
    got = exact_substring_pairs(
        df, min_len=256, id_col="url", max_bucket=4, star_pair_budget=50
    )
    pairs = {(r.url_a, r.url_b) for r in got.collect()}
    assert len(pairs) < m * (m - 1) // 2 / 2, "pair volume not bounded"
    # all family members in one connected component, outsider excluded
    parent = {u: u for u in range(m)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        assert a != 99 and b != 99
        parent[find(a)] = find(b)
    assert len({find(u) for u in range(m)}) == 1


def test_lcs_bisect_rejects_collision_only_length(monkeypatch):
    """A hash collision must not inflate the bisect path's reported LCS:
    with a degenerate (constant) rolling hash every length 'intersects',
    and only the byte-verified witness keeps the answer honest (ADVICE
    r4: the capped path must match the seed-and-extend path's exactness)."""
    import numpy as np

    import lash_spark.operators.substring as S

    rng = np.random.default_rng(3)
    ba = rng.integers(0, 256, 300, dtype=np.uint8)
    bb = rng.integers(0, 256, 300, dtype=np.uint8)  # no common 64-byte run

    real = S._lcs_length_bisect(ba, bb, 64)
    assert real == 0

    def constant_hash(buf, ln):
        n = max(0, buf.size - ln + 1)
        return np.zeros(n, dtype=np.uint64)

    monkeypatch.setattr(S, "rolling_window_hashes", constant_hash)
    assert S._lcs_length_bisect(ba, bb, 64) == 0  # pre-fix: returned 300


def test_dm_fill_value(spark, tmp_path):
    """--dm-fill prints %.6f fill in unverified cells so strict
    reference-format parsers (float per cell) keep working (ADVICE r4)."""
    from lash_spark.operators.sinks import write_distance_matrix_file

    pairs = spark.createDataFrame(
        [("a", "b", 0.25)], "url_a string, url_b string, distance double"
    )
    ids = ["a", "b", "c"]
    out = str(tmp_path / "dm.tsv")
    write_distance_matrix_file(
        pairs, ids, ids, out, same_files=True, fill=1.0
    )
    lines = open(out).read().splitlines()
    assert lines[0] == "\ta\tb\tc"
    body = [ln.split("\t") for ln in lines[1:]]
    assert body[0] == ["a", "0.000000"]
    assert body[1] == ["b", "0.250000", "0.000000"]
    assert body[2] == ["c", "1.000000", "1.000000", "0.000000"]
    # every non-name cell parses as float (the reference parsers' contract)
    for row in body:
        for cell in row[1:]:
            float(cell)


# -------------------- content-fingerprint resume (url identity != content)


def test_mutated_url_recomputed_on_resume(spark, tmp_path):
    """A re-crawled url whose text changed between runs must have its
    signature recomputed — an id-only delta kept the stale row, whose
    sketch then drove candidates and estimates from text that no longer
    exists. Exposed by test_grown_input_* when verify read persisted sets
    instead of shingling current text."""
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.pipeline import dedup_pipeline

    cfg = PipelineConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wd"))
    base = [(f"u{i}", f"stable document number {i} " * 30) for i in range(20)]
    v1 = base + [("mut", "first crawl of the mutating page " * 40)]
    schema = "url string, text string"
    dedup_pipeline(spark.createDataFrame(v1, schema), cfg, catalog=cat)

    # re-crawl: same urls, one mutated text that now duplicates u3
    dup_of_u3 = base[3][1]
    v2 = base + [("mut", dup_of_u3)]
    r2 = dedup_pipeline(spark.createDataFrame(v2, schema), cfg, catalog=cat)
    r_clean = dedup_pipeline(spark.createDataFrame(v2, schema), cfg)
    got = {(r.url_a, r.url_b) for r in r2.dup_pairs.collect()}
    want = {(r.url_a, r.url_b) for r in r_clean.dup_pairs.collect()}
    assert got == want
    assert ("mut", "u3") in got or ("u3", "mut") in got
    # the durable table holds exactly one, recomputed, row for the url
    sig = cat.read("signatures").filter("url = 'mut'")
    assert sig.count() == 1
    normed = with_normalized_text(
        spark.createDataFrame([("mut", dup_of_u3)], schema), "text"
    )
    want_row = build_signatures(normed, cfg.params, cfg.lsh_plan())
    sketch = ["minhash", "simhash", "bands", "n_windows"]
    assert sig.select(*sketch).exceptAll(want_row.select(*sketch)).isEmpty()


def test_pure_append_resume_still_appends(spark, tmp_path):
    """When no url mutated, resume must take the append path (no full-table
    replace): the staged-swap dir must not appear and the signature rows
    for old docs must be byte-stable across the two runs."""
    from lash_spark.pipeline import dedup_pipeline

    cfg = PipelineConfig()
    cat = ParquetCatalog(spark, str(tmp_path / "wd"))
    schema = "url string, text string"
    v1 = [(f"u{i}", f"stable document number {i} " * 30) for i in range(15)]
    dedup_pipeline(spark.createDataFrame(v1, schema), cfg, catalog=cat)
    import os

    before = {
        f for f in os.listdir(tmp_path / "wd" / "signatures") if f.endswith(".parquet")
    }
    v2 = v1 + [(f"n{i}", f"brand new page {i} " * 30) for i in range(5)]
    dedup_pipeline(spark.createDataFrame(v2, schema), cfg, catalog=cat)
    after = {
        f for f in os.listdir(tmp_path / "wd" / "signatures") if f.endswith(".parquet")
    }
    assert before <= after, "append path must keep run-1 files intact"
    assert cat.read("signatures").count() == 20
