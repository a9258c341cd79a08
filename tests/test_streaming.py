"""Streaming ingest: each micro-batch sketches through the batch signature
stage, so the stream store matches the batch-built sketches exactly (one
code path)."""

from __future__ import annotations

import pytest

from lash_spark.config import LshPlan, SketchParams
from lash_spark.lakeio import ParquetCatalog
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.streaming import read_pages_stream
from lash_spark.synth import generate_pages

SKETCH_COLS = ["url", "minhash", "simhash", "bands", "n_windows"]


def _run_near_dup(spark, cat, glob, schema, params, ckpt):
    """One availableNow ``stream_near_dup`` run, one source file per trigger."""
    from lash_spark.streaming import stream_near_dup

    q = stream_near_dup(
        read_pages_stream(spark, glob, schema, 1), cat, params,
        checkpoint_dir=str(ckpt), trigger_once=True,
    )
    q.awaitTermination(300)
    return q


def _pair_set(df) -> set:
    return {(r.url_a, r.url_b, round(r.jaccard, 9)) for r in df.collect()}


def _batch_pairs(docs, params) -> set:
    """The batch triangular pass over ``docs`` — what the stream must emit."""
    from lash_spark.pipeline import cross_dataset_pairs

    return _pair_set(cross_dataset_pairs(docs, docs, params, same_files=True))


def _batch_sketches(docs, params):
    return build_signatures(
        with_normalized_text(docs.select("url", "text"), "text", version=params.normalize_version),
        params,
        LshPlan.plan(params.num_perm, 0.8, 0.995),
    )


def _assert_same_rows(got, want):
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_stream_exact_dedup_stateful(spark, tmp_path):
    """First-seen wins across micro-batches; replays within the stream are
    suppressed by the state store."""
    from pyspark.sql import functions as F

    from lash_spark.streaming import stream_exact_dedup

    pages = generate_pages(spark, 150, seed=42, partitions=2).withColumn(
        "n", F.regexp_extract("url", r"/p/(\d+)", 1).cast("int")
    )
    src = str(tmp_path / "src")
    # drop 1 and drop 2 overlap: docs 0-99 then 50-149 (50 exact replays),
    # plus whatever exact dups the synth corpus plants internally
    pages.filter("n < 100").drop("n").write.parquet(f"{src}/d0")
    pages.filter("n >= 50").drop("n").write.parquet(f"{src}/d1")
    schema = pages.drop("n").schema

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    )
    out = stream_exact_dedup(stream)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(str(tmp_path / "out"))
    n_distinct_fp = (
        pages.select(F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))))
        .distinct()
        .count()
    )
    assert got.count() == got.select("fp").distinct().count() == n_distinct_fp

    # VERDICT r2 #2 done-criterion: state IO is O(batch), not O(corpus) —
    # state is keyed by fingerprint and each state row is written exactly
    # once (when first seen), so total updates across the run == distinct
    # fps, and each batch updates at most its own row count
    state_ops = [p["stateOperators"][0] for p in q.recentProgress if p["stateOperators"]]
    assert sum(op["numRowsUpdated"] for op in state_ops) == n_distinct_fp
    assert state_ops[-1]["numRowsTotal"] == n_distinct_fp
    batch_rows = [p["numInputRows"] for p in q.recentProgress if p["stateOperators"]]
    for op, n_in in zip(state_ops, batch_rows):
        assert op["numRowsUpdated"] <= n_in


def test_stream_near_dup_honors_normalize_version(spark, tmp_path):
    """ADVICE r2: the stream must normalize with the profile in params (v2
    here), not the default v1 — otherwise the store is v1-built but
    stamped with a v2 params_hash."""
    pages = generate_pages(spark, 80, seed=7, partitions=2)
    src = str(tmp_path / "src")
    pages.coalesce(1).write.parquet(f"{src}/d0")

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    p_v2 = SketchParams(normalize_version=2)
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, p_v2, tmp_path / "ckpt")

    got = cat.read("stream_docs").select(*SKETCH_COLS)
    batch_v2 = _batch_sketches(pages, p_v2)
    _assert_same_rows(got, batch_v2)
    # and v1 vs v2 genuinely differ on this corpus (the test has teeth)
    assert not _batch_sketches(pages, SketchParams()).exceptAll(batch_v2).isEmpty()


def test_stream_near_dup_incremental_signature_work(spark, tmp_path, monkeypatch):
    """VERDICT r3 #1 done-criterion: per-batch signature-UDF input rows
    are O(batch) while the store grows across >= 3 drops — the cross
    probe reads the sketches persisted in the ``stream_docs`` store instead
    of re-sketching the accumulated store every micro-batch."""
    from pyspark.sql import functions as F

    import lash_spark.streaming as streaming_mod
    from lash_spark.streaming import stream_near_dup

    pages = generate_pages(spark, 180, seed=42, partitions=4)
    src = str(tmp_path / "src")
    drops = [pages.filter(f"planted_cluster % 3 = {i}") for i in range(3)]
    for i, d in enumerate(drops):
        # one file per drop => one micro-batch per drop at maxFilesPerTrigger=1
        d.coalesce(1).write.parquet(f"{src}/d{i}")
    drop_sizes = sorted(d.count() for d in drops)

    calls: list[int] = []
    real = streaming_mod.build_signatures

    def counting_build(docs, params, plan=None, **kw):
        calls.append(docs.count())
        return real(docs, params, plan, **kw)

    monkeypatch.setattr(streaming_mod, "build_signatures", counting_build)

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    params = SketchParams()
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_near_dup(
        stream, cat, params, checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(300)

    # exactly one signature build per drop, each sized to ITS batch — the
    # store grew to 3 drops but history was never re-sketched, so total
    # signature-UDF input rows across the whole run == corpus size
    assert sorted(calls) == drop_sizes
    assert sum(calls) == pages.count()
    assert cat.read("stream_docs").count() == pages.count()

    # the store's sketch columns match a batch build over the union; the
    # shingle sets stayed within their trigger
    got = cat.read("stream_docs")
    assert set(got.columns) == {"text", *SKETCH_COLS}
    _assert_same_rows(got.select(*SKETCH_COLS), _batch_sketches(pages, params))

    # and pairs still close over the union (smoke; full closure test below)
    assert cat.read("stream_dup_pairs").select(
        F.col("url_a"), F.col("url_b")
    ).distinct().count() == cat.read("stream_dup_pairs").count()


def test_stream_near_dup_upgrades_two_table_store(spark, tmp_path):
    """A store in the older two-table layout — ``stream_docs`` (id, text)
    without properties plus a ``stream_sigs`` sketch table — is re-sketched
    in place from its own text on the next trigger: ``stream_sigs`` is
    gone, the store's sketch columns equal a batch build, and the pairs
    close over the union."""
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 120, seed=42, partitions=2)
    src = str(tmp_path / "src")
    half = F.abs(F.hash("url")) % 2  # near-dup families span both drops
    pages.filter(half == 0).coalesce(1).write.parquet(f"{src}/d0")
    params = SketchParams()
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, params, tmp_path / "ckpt0")

    # forge the two-table layout of the d0 store: docs table without
    # properties, sketches (stamped) in their own table
    cat.replace(cat.read("stream_docs").select("url", "text"), "stream_docs")
    (cat.root / "stream_docs.properties.json").unlink()
    cat.write(_batch_sketches(cat.read("stream_docs"), params), "stream_sigs")
    cat.set_properties("stream_sigs", {"params_hash": params.params_hash()})

    pages.filter(half == 1).coalesce(1).write.parquet(f"{src}/d1")
    # fresh checkpoint: d0 replays (rebuild, then dedups to empty), d1 probes
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, params, tmp_path / "ckpt1")
    assert not cat.exists("stream_sigs")
    assert cat.properties("stream_docs")["params_hash"] == params.params_hash()
    got = cat.read("stream_docs")
    assert got.count() == pages.count()
    _assert_same_rows(got.select(*SKETCH_COLS), _batch_sketches(pages, params))
    want = _batch_pairs(pages, params)
    assert _pair_set(cat.read("stream_dup_pairs")) == want and want


def test_stream_store_params_mismatch_rebuilds_store(spark, tmp_path):
    """Restarting the stream with different SketchParams (different
    params_hash => different band semantics) re-sketches the store in place
    under the new config instead of silently equi-joining incompatible
    band layouts: its sketch columns equal a batch build under the new
    params, and the pairs found after the restart are exactly the new
    params' union pairs that touch the new drop."""
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 160, seed=42, partitions=2)
    src = str(tmp_path / "src")
    half = F.abs(F.hash("url")) % 2  # near-dup families span both drops
    d0, d1 = pages.filter(half == 0), pages.filter(half == 1)
    d0.coalesce(1).write.parquet(f"{src}/d0")

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    p_v1 = SketchParams(shingle_k=16)
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, p_v1, tmp_path / "ck1")
    assert cat.properties("stream_docs")["params_hash"] == p_v1.params_hash()
    before = _pair_set(cat.read("stream_dup_pairs"))

    # restart the stream over the same source with INCOMPATIBLE params
    # (different shingle_k): fresh checkpoint so the first drop replays,
    # second drop arrives new
    d1.coalesce(1).write.parquet(f"{src}/d1")
    p_v2 = SketchParams(shingle_k=12)
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, p_v2, tmp_path / "ck2")

    assert cat.properties("stream_docs")["params_hash"] == p_v2.params_hash()
    got = cat.read("stream_docs")
    assert got.count() == pages.count()
    _assert_same_rows(got.select(*SKETCH_COLS), _batch_sketches(pages, p_v2))

    # cross pairs between d1 and the d0 store went through re-sketched v2
    # bands — not a band-layout cross-join
    d1_ids = {r.url for r in d1.select("url").collect()}
    want = {p for p in _batch_pairs(pages, p_v2) if p[0] in d1_ids or p[1] in d1_ids}
    after = _pair_set(cat.read("stream_dup_pairs")) - before
    assert after == want and any(p[0] not in d1_ids or p[1] not in d1_ids for p in want)
    assert cat.read("stream_dup_pairs").filter(F.col("url_a") == F.col("url_b")).isEmpty()


def test_stream_store_layout_mismatch_rebuilds_store(spark, tmp_path, monkeypatch):
    """A store written under SIGNATURE_FORMAT 2 (shingle sets persisted next
    to the sketches, format-2 params_hash) fails the params_hash check on
    the next run: it is re-sketched set-less in place from its own text,
    not appended to with set-less rows."""
    from pathlib import Path

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import lash_spark.config as config_mod

    pages = generate_pages(spark, 120, seed=5, partitions=2)
    src = str(tmp_path / "src")
    half = F.abs(F.hash("url")) % 2  # near-dup families span both drops
    pages.filter(half == 0).coalesce(1).write.parquet(f"{src}/d0")
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    params = SketchParams()
    plan = LshPlan.plan(params.num_perm, 0.8, 0.995)

    with monkeypatch.context() as m:
        m.setattr(config_mod, "SIGNATURE_FORMAT", 2)
        _run_near_dup(spark, cat, f"{src}/*", pages.schema, params, tmp_path / "ck1")
        old_hash = params.params_hash()
        # the format-2 layout: every store row carries its shingle set
        store = with_normalized_text(cat.read("stream_docs").select("url", "text"), "text")
        cat.replace(
            build_signatures(store, params, plan, with_shingles=True, carry_cols=["text"]),
            "stream_docs",
        )
    assert cat.properties("stream_docs")["params_hash"] == old_hash
    assert old_hash != params.params_hash()

    pages.filter(half == 1).coalesce(1).write.parquet(f"{src}/d1")
    # fresh checkpoint: d0 replays (rebuild, then a no-op), d1 ingests
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, params, tmp_path / "ck2")
    files = list(Path(cat.path("stream_docs")).rglob("*.parquet"))
    assert files and all("shingles" not in pq.read_schema(f).names for f in files)
    assert cat.properties("stream_docs")["params_hash"] == params.params_hash()
    got = cat.read("stream_docs")
    assert got.count() == pages.count()
    _assert_same_rows(got.select(*SKETCH_COLS), _batch_sketches(pages, params))
    want = _batch_pairs(pages, params)
    assert _pair_set(cat.read("stream_dup_pairs")) == want and want


def test_stream_near_dup_stores_empty_and_null_text(spark, tmp_path):
    """Rows whose text is empty or null are stored (``n_windows`` 0, no
    bucket) and win their id: re-sent with real text in the next drop,
    both are dropped on arrival. The catalog then holds exactly the
    stream's store, pairs and metrics tables, one store row per id, and the
    pairs are the batch pass over the real-text pages."""
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 80, seed=13, partitions=2).select("url", "text")
    half = F.abs(F.hash("url")) % 2
    blanks = spark.createDataFrame(
        [("u/empty", ""), ("u/null", None)], "url string, text string"
    )
    a_texts = [r.text for r in pages.filter(half == 0).orderBy("url").limit(2).collect()]
    # re-sent with the text of drop-0 pages: ingested, they would pair
    resent = spark.createDataFrame(
        [("u/empty", a_texts[0]), ("u/null", a_texts[1])], "url string, text string"
    )
    src = str(tmp_path / "src")
    pages.filter(half == 0).unionByName(blanks).coalesce(1).write.parquet(f"{src}/d0")
    pages.filter(half == 1).unionByName(resent).coalesce(1).write.parquet(f"{src}/d1")
    params = SketchParams()
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    q = _run_near_dup(spark, cat, f"{src}/*", pages.schema, params, tmp_path / "ckpt")
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2

    tables = sorted(p.name for p in cat.root.iterdir() if p.is_dir() and not p.name.startswith("_"))
    assert tables == ["stage_metrics", "stream_docs", "stream_dup_pairs"]
    store = cat.read("stream_docs")
    assert store.count() == store.select("url").distinct().count() == pages.count() + 2
    kept = {r.url: (r.text, r.n_windows) for r in store.filter("url like 'u/%'").collect()}
    assert kept == {"u/empty": ("", 0), "u/null": (None, 0)}
    want = _batch_pairs(pages, params)
    assert _pair_set(cat.read("stream_dup_pairs")) == want and want


def test_stream_near_dup_prefix_closure(spark, tmp_path):
    """Streaming near-dup over 3 drops == the batch triangular pass over
    their union (same signature/candidate/verify machinery), and a second
    availableNow run over the same source is a no-op (replay safety)."""
    from pyspark.sql import functions as F

    from lash_spark.pipeline import cross_dataset_pairs
    from lash_spark.streaming import stream_near_dup

    pages = generate_pages(spark, 200, seed=42, partitions=4)
    src = str(tmp_path / "src")
    pages.filter("planted_cluster % 3 = 0").write.parquet(f"{src}/d0")
    pages.filter("planted_cluster % 3 = 1").write.parquet(f"{src}/d1")
    pages.filter("planted_cluster % 3 = 2").write.parquet(f"{src}/d2")
    schema = pages.schema
    params = SketchParams()

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_near_dup(
            stream, cat, params,
            checkpoint_dir=str(tmp_path / ckpt), trigger_once=True,
        )
        q.awaitTermination(300)

    run("ckpt")
    got = cat.read("stream_dup_pairs")
    want = cross_dataset_pairs(pages, pages, params, same_files=True)
    got_set = {(r.url_a, r.url_b, round(r.jaccard, 9)) for r in got.collect()}
    want_set = {(r.url_a, r.url_b, round(r.jaccard, 9)) for r in want.collect()}
    assert got_set == want_set and len(got_set) > 0
    assert cat.read("stream_docs").count() == pages.count()

    # crash-window replay (the scenario the guard is FOR): the pairs
    # append commits but the docs append crashes, the stream dies, and the
    # restarted stream re-runs that batch — the guarded anti-joins must
    # land exactly the missing docs without duplicating the pairs
    import shutil

    shutil.rmtree(str(tmp_path / "cat"))
    cat2 = ParquetCatalog(spark, str(tmp_path / "cat"))
    orig_append = cat2.append
    boom = {"armed": True}

    def flaky_append(df, table):
        if table == "stream_docs" and boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash between pairs and docs appends")
        return orig_append(df, table)

    cat2.append = flaky_append

    def run2(ckpt: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_near_dup(
            stream, cat2, params,
            checkpoint_dir=str(tmp_path / ckpt), trigger_once=True,
        )
        q.awaitTermination(300)

    with pytest.raises(Exception):
        run2("ckpt2")  # dies mid-batch: pairs of batch 0 written, docs not
    run2("ckpt2")  # same checkpoint: failed batch re-runs under the guard
    got2 = {
        (r.url_a, r.url_b, round(r.jaccard, 9))
        for r in cat2.read("stream_dup_pairs").collect()
    }
    assert got2 == want_set
    assert cat2.read("stream_docs").count() == pages.count()


def test_stream_near_dup_heals_crash_on_probing_trigger(spark, tmp_path):
    """A crash in the store append of the SECOND trigger — the first one
    that probes a non-empty store — leaves the batch's pairs in
    ``stream_dup_pairs`` but its rows out of ``stream_docs``. The restarted
    stream re-runs that batch under the guard against the pre-crash store:
    pairs equal the batch pass over the union, no duplicate and no (x, x)
    row, one store row per id."""
    from pyspark.sql import functions as F

    from lash_spark.pipeline import cross_dataset_pairs
    from lash_spark.streaming import stream_near_dup

    pages = generate_pages(spark, 150, seed=42, partitions=2)
    src = str(tmp_path / "src")
    for i in range(3):  # split by url, so near-dup families span drops
        pages.filter(F.abs(F.hash("url")) % 3 == i).coalesce(1).write.parquet(f"{src}/d{i}")
    params = SketchParams()
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    orig_append = cat.append
    store_appends = {"n": 0}

    def flaky_append(df, table):
        if table == "stream_docs":
            store_appends["n"] += 1
            if store_appends["n"] == 2:
                raise RuntimeError("injected crash between pairs and store appends")
        return orig_append(df, table)

    cat.append = flaky_append

    def run():
        q = stream_near_dup(
            read_pages_stream(spark, f"{src}/*", pages.schema, 1), cat, params,
            checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True,
        )
        q.awaitTermination(300)

    with pytest.raises(Exception):
        run()  # dies in trigger 1: its pairs are in, its store rows not
    assert cat.read("stream_dup_pairs").filter("batch_id = 1").count() > 0
    assert cat.read("stream_docs").count() < pages.count()
    run()  # same checkpoint: trigger 1 re-runs under the guard, then trigger 2

    got = cat.read("stream_dup_pairs")
    got_set = {(r.url_a, r.url_b, round(r.jaccard, 9)) for r in got.collect()}
    want = {
        (r.url_a, r.url_b, round(r.jaccard, 9))
        for r in cross_dataset_pairs(pages, pages, params, same_files=True).collect()
    }
    assert got_set == want and len(got_set) > 0
    assert got.count() == len(got_set)
    assert got.filter(F.col("url_a") == F.col("url_b")).isEmpty()
    store_ids = cat.read("stream_docs").groupBy("url").count()
    assert store_ids.count() == pages.count()
    assert store_ids.filter("count > 1").isEmpty()


def test_stream_metrics_rows_record_process_wall_time(spark, tmp_path):
    """The ``stream_near_dup_batch_*`` metrics row carries the measured
    wall time of its batch, not 0: more than zero and no more than the
    whole query took."""
    import time

    pages = generate_pages(spark, 60, seed=3, partitions=2)
    src = str(tmp_path / "src")
    pages.coalesce(1).write.parquet(f"{src}/d0")
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    t0 = time.monotonic()
    _run_near_dup(spark, cat, f"{src}/*", pages.schema, SketchParams(), tmp_path / "ckpt")
    elapsed_ms = (time.monotonic() - t0) * 1000.0
    (row,) = cat.metrics().collect()
    assert row.stage == "stream_near_dup_batch_0" and row.status == "complete"
    assert 0.0 < row.wall_ms <= elapsed_ms


def test_no_catalog_table_stores_shingle_sets(spark, tmp_path):
    """After a catalog dedup_pipeline run and a two-drop stream_near_dup
    run, no parquet file under either catalog has a ``shingles`` column:
    shingle sets stay in memory within one call or trigger."""
    import pyarrow.parquet as pq

    from lash_spark.config import PipelineConfig
    from lash_spark.pipeline import dedup_pipeline
    from lash_spark.streaming import stream_near_dup

    pages = generate_pages(spark, 120, seed=9, partitions=2)
    batch_cat = ParquetCatalog(spark, str(tmp_path / "batch"))
    res = dedup_pipeline(pages, PipelineConfig(), catalog=batch_cat)
    assert res.dup_pairs.count() > 0

    src = str(tmp_path / "src")
    pages.filter("planted_cluster % 2 = 0").coalesce(1).write.parquet(f"{src}/d0")
    pages.filter("planted_cluster % 2 = 1").coalesce(1).write.parquet(f"{src}/d1")
    stream_cat = ParquetCatalog(spark, str(tmp_path / "stream"))
    q = stream_near_dup(
        read_pages_stream(spark, f"{src}/*", pages.schema, 1), stream_cat, SketchParams(),
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True,
    )
    q.awaitTermination(300)
    assert stream_cat.read("stream_docs").count() == pages.count()

    for cat in (batch_cat, stream_cat):
        files = list(cat.root.rglob("*.parquet"))
        assert files
        with_sets = [f for f in files if "shingles" in pq.read_schema(f).names]
        assert not with_sets, with_sets


def _jobs_submitted_in(spark, start_ms: float, end_ms: float) -> int:
    """Spark jobs submitted inside [start_ms, end_ms], read from the JVM
    status store once the listener bus has drained. Stream triggers run
    their jobs on the stream thread, outside any job group, so a trigger's
    jobs are the ones inside its progress window."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        n += sub.isDefined() and start_ms <= sub.get().getTime() <= end_ms
    return n


def test_probing_trigger_pinned_job_count(spark, tmp_path):
    """A trigger that probes a non-empty store runs a pinned number of
    Spark jobs (counting AQE's per-query-stage jobs): one candidate pass
    and one verify over the side-tagged batch ∪ store frame, then one store
    append. A new gate, eager checkpoint, second probe or second store
    write shows here as a higher count."""
    from datetime import datetime, timezone

    from lash_spark.streaming import stream_near_dup

    pages = generate_pages(spark, 120, seed=11, partitions=2)
    src = str(tmp_path / "src")
    pages.filter("planted_cluster % 2 = 0").coalesce(1).write.parquet(f"{src}/d0")
    pages.filter("planted_cluster % 2 = 1").coalesce(1).write.parquet(f"{src}/d1")
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    q = stream_near_dup(
        read_pages_stream(spark, f"{src}/*", pages.schema, 1), cat, SketchParams(),
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True,
    )
    q.awaitTermination(300)
    triggers = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(triggers) == 2
    probe = triggers[1]
    start_ms = (
        datetime.strptime(probe["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000.0
    )
    end_ms = start_ms + probe["durationMs"]["triggerExecution"]
    n_jobs = _jobs_submitted_in(spark, start_ms, end_ms)
    # the probe found cross-drop pairs, so it is a real probing trigger
    assert cat.read("stream_dup_pairs").filter("batch_id = 1").count() > 0
    assert n_jobs == 25, n_jobs
