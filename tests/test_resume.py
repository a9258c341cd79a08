"""Checkpoint/resume (O6): killed-run semantics — completed stages skipped,
row-level delta resume for signatures, final tables equal a clean run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lash_spark.config import PipelineConfig
from lash_spark.lakeio import ParquetCatalog, resume_delta, run_stage
from lash_spark.pipeline import dedup_pipeline


def test_run_stage_skips_when_complete(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "t1"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    df1, skipped1 = run_stage(cat, "s1", "hash_a", build)
    df2, skipped2 = run_stage(cat, "s1", "hash_a", build)
    assert (not skipped1) and skipped2
    assert len(calls) == 1
    assert df2.count() == 5
    # params change invalidates the stage
    df3, skipped3 = run_stage(cat, "s1", "hash_b", build)
    assert not skipped3 and len(calls) == 2


def test_resume_delta_anti_join(spark):
    inc = spark.range(10).withColumnRenamed("id", "url")
    done = spark.range(4).withColumnRenamed("id", "url")
    assert resume_delta(inc, done, "url").count() == 6
    assert resume_delta(inc, None, "url").count() == 10


def test_metrics_rows_logged(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "t2"))
    run_stage(cat, "stage_x", "h", lambda: spark.range(3))
    m = cat.metrics().collect()
    assert len(m) == 1 and m[0].stage == "stage_x" and m[0].output_rows == 3
    assert m[0].status == "complete" and m[0].wall_ms > 0


def test_log_metrics_row_reads_back_every_field(spark, tmp_path):
    """Each column of a stage_metrics row holds the value passed for it:
    the DDL schema maps the pandas frame by position, so a reordered row
    would land values in the wrong columns."""
    import json
    import time

    cat = ParquetCatalog(spark, str(tmp_path / "tm"))
    t0 = time.time()
    cat.log_metrics(
        "stage_y", "ph", 12.5, input_rows=7, output_rows=3, status="wave_complete",
        wave=2, kernel="jvm",
    )
    (m,) = cat.metrics().collect()
    assert (m.stage, m.params_hash, m.wall_ms, m.input_rows, m.output_rows, m.status) == (
        "stage_y", "ph", 12.5, 7, 3, "wave_complete",
    )
    assert t0 <= m.ts <= time.time()
    assert json.loads(m.extra) == {"kernel": "jvm", "wave": 2}


def test_run_partitioned_stage_kill_and_resume(spark, tmp_path):
    """VERDICT r3 #6 done-criterion: a half-written partitioned stage
    resumes partition-wise with ZERO recompute of completed partitions,
    with manifest + metrics rows as evidence."""
    from lash_spark.lakeio import run_partitioned_stage

    cat = ParquetCatalog(spark, str(tmp_path / "pg"))
    parts = list(range(6))
    built: list[int] = []
    boom = {"at": 3}  # crash when asked to build partition 3

    def builder(vals):
        (v,) = vals
        built.append(v)
        if v == boom["at"]:
            raise RuntimeError("injected kill mid-stage")
        return spark.range(10).select(
            (F.col("id") + 100 * v).alias("x"), F.lit(v).alias("part")
        )

    with pytest.raises(RuntimeError):
        run_partitioned_stage(cat, "cand", "h1", parts, builder)
    assert built == [0, 1, 2, 3]  # died at partition 3
    # completed waves are manifested; the crashed one is not
    assert cat.completed_partitions("cand", "h1") == {"0", "1", "2"}
    assert not cat.stage_complete("cand", "h1")

    boom["at"] = None
    built.clear()
    out, skipped = run_partitioned_stage(cat, "cand", "h1", parts, builder)
    # ZERO recompute of completed partitions: only 3, 4, 5 were built
    assert built == [3, 4, 5] and not skipped
    assert cat.stage_complete("cand", "h1")
    assert out.count() == 60
    assert {r.part for r in out.select("part").distinct().collect()} == set(range(6))
    # third run: fully skipped
    built.clear()
    out2, skipped2 = run_partitioned_stage(cat, "cand", "h1", parts, builder)
    assert skipped2 and built == [] and out2.count() == 60
    # metrics rows carry the per-wave lineage evidence
    waves = [r for r in cat.metrics().collect() if r.status == "wave_complete"]
    assert len(waves) == 6
    # params change invalidates the manifest and rebuilds everything
    built.clear()
    out3, skipped3 = run_partitioned_stage(cat, "cand", "h2", parts, builder)
    assert built == parts and not skipped3 and out3.count() == 60


def test_pipeline_partitioned_candidates_resume(spark, tiny_pages, tmp_path):
    """candidate_waves > 1: the pipeline's candidate stage commits band
    waves independently; a kill mid-stage resumes without recomputing
    manifested waves, and outputs match the single-job stage exactly."""
    import lash_spark.lakeio as lakeio_mod

    docs = tiny_pages  # full 600-doc corpus: every wave holds real pairs
    cfg1 = PipelineConfig()
    cat1 = ParquetCatalog(spark, str(tmp_path / "single"))
    dedup_pipeline(docs, cfg1, catalog=cat1)
    assert cat1.read("dup_pairs").count() > 0  # the fixture has teeth

    cfg3 = PipelineConfig(candidate_waves=3)
    cat2 = ParquetCatalog(spark, str(tmp_path / "waved"))
    # kill the run inside the candidates stage: fail the 3rd wave commit
    orig = lakeio_mod.ParquetCatalog.overwrite_partitions
    n_calls = {"n": 0}

    def flaky(self, df, table, partition_by):
        n_calls["n"] += 1
        if n_calls["n"] == 3:
            raise RuntimeError("injected kill during wave 3")
        return orig(self, df, table, partition_by)

    lakeio_mod.ParquetCatalog.overwrite_partitions = flaky
    try:
        with pytest.raises(RuntimeError):
            dedup_pipeline(docs, cfg3, catalog=cat2)
    finally:
        lakeio_mod.ParquetCatalog.overwrite_partitions = orig
    # manifest rows are keyed by the composite (params, wave-count) hash:
    # changing candidate_waves must invalidate them even under identical
    # sketch params
    wave_hash = f"{cfg3.params.params_hash()}:w3"
    done_before = cat2.completed_partitions("candidates", wave_hash)
    assert done_before == {"0", "1"}  # two waves survived the kill

    res = dedup_pipeline(docs, cfg3, catalog=cat2)  # resume
    # the two manifested waves were NOT rebuilt: their manifest rows are
    # the originals (one row per wave in total, not re-appended)
    manifest = cat2.read("candidates_partitions").collect()
    assert sorted(r.part for r in manifest) == ["0", "1", "2"]
    # and the final outputs equal the single-job run
    for t in ("dup_pairs", "clusters"):
        a, b = cat1.read(t), cat2.read(t)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), t
    assert res.dup_pairs.count() == cat1.read("dup_pairs").count()


def test_pipeline_resume_skips_and_matches_clean_run(spark, tiny_pages, tmp_path):
    cfg = PipelineConfig()
    docs = tiny_pages.limit(300).cache()
    cat1 = ParquetCatalog(spark, str(tmp_path / "clean"))
    clean = dedup_pipeline(docs, cfg, catalog=cat1)

    # simulate a killed run: signatures + candidates done, rest missing
    cat2 = ParquetCatalog(spark, str(tmp_path / "resumed"))
    import shutil

    shutil.copytree(cat1.root / "signatures", cat2.root / "signatures")
    shutil.copy(cat1.root / "signatures.properties.json", cat2.root / "signatures.properties.json")
    shutil.copytree(cat1.root / "candidates", cat2.root / "candidates")
    (cat2.root / "_stages").mkdir()
    shutil.copy(cat1.root / "_stages" / "candidates.json", cat2.root / "_stages" / "candidates.json")

    resumed = dedup_pipeline(docs, cfg, catalog=cat2)
    # signature stage saw zero delta rows (resume proof: no new rows appended)
    assert cat2.read("signatures").count() == cat1.read("signatures").count()
    # final outputs identical to the clean run
    for t in ("dup_pairs", "clusters"):
        a, b = cat1.read(t), cat2.read(t)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), t
    # candidates stage was skipped (no metrics row for it in resumed run)
    stages = [r.stage for r in cat2.metrics().collect()]
    assert "candidates" not in stages
    assert "dup_pairs" in stages and "clusters" in stages


def test_format2_signatures_table_rebuilt_not_resumed(spark, tmp_path, monkeypatch):
    """A ``signatures`` table in an older layout is rebuilt, never resumed:
    the pipeline writes a fresh set-less table carrying ``text_fp`` instead
    of appending delta rows to the old one, and the results equal a clean
    run. Two old layouts: a SIGNATURE_FORMAT 2 table (each row carrying its
    shingle set; fails the params_hash check) and a current-params table
    without the ``text_fp`` resume fingerprint."""
    from pathlib import Path

    import pyarrow.parquet as pq

    import lash_spark.config as config_mod
    import lash_spark.pipeline as pipeline_mod
    from lash_spark.synth import generate_pages

    pages = generate_pages(spark, 200, seed=23, partitions=2)
    half = pages.filter("planted_cluster % 2 = 0")
    real = pipeline_mod.build_signatures

    def format2(cat):
        with monkeypatch.context() as m:
            # the format-2 pipeline: shingle sets persisted, format-2 hashes
            m.setattr(config_mod, "SIGNATURE_FORMAT", 2)
            m.setattr(
                pipeline_mod, "build_signatures",
                lambda *a, **kw: real(*a, with_shingles=True, **kw),
            )
            dedup_pipeline(half, PipelineConfig(), catalog=cat)
        assert "shingles" in cat.read("signatures").columns

    def without_fp(cat):
        # same params_hash, so its stage markers stay 'complete'
        dedup_pipeline(half, PipelineConfig(), catalog=cat)
        cat.replace(cat.read("signatures").drop("text_fp"), "signatures")
        assert "text_fp" not in cat.read("signatures").columns

    clean = dedup_pipeline(pages, PipelineConfig())
    for forge in (format2, without_fp):
        cat = ParquetCatalog(spark, str(tmp_path / forge.__name__))
        forge(cat)
        res = dedup_pipeline(pages, PipelineConfig(), catalog=cat)
        files = list(Path(cat.path("signatures")).rglob("*.parquet"))
        assert files, forge.__name__
        for f in files:
            names = pq.read_schema(f).names
            assert "shingles" not in names and "text_fp" in names, (forge.__name__, f)
        assert cat.properties("signatures")["params_hash"] == PipelineConfig().params.params_hash()
        assert cat.read("signatures").count() == pages.count()
        for got, want in ((res.dup_pairs, clean.dup_pairs), (res.clusters, clean.clusters)):
            assert got.count() > 0
            assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), forge.__name__
