"""Structured Streaming ingest into the dedup engine.

The reference has no streaming (its "producer-consumer" README claim is
batch rayon in the code — SURVEY.md §2.8); the engine's incremental story
is idempotent batch stages + resume. This module is the documented
extension for continuous ingest: a `readStream` source of new pages feeds
`foreachBatch`, and every micro-batch runs the SAME batch stage functions
as the batch pipeline, so streaming and batch share one code path.
``stream_near_dup`` is the one stream-to-store path: each trigger
sketches its batch once, probes it against itself and the store table
``stream_docs`` (one row per document: id, text and sketch columns) in
one candidate pass and one verify, then appends its pairs to
``stream_dup_pairs`` and its store rows to ``stream_docs``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from lash_spark.config import LshPlan, SketchParams
from lash_spark.lakeio import ParquetCatalog
from lash_spark.operators.signatures import build_signatures

# side tag of stream_near_dup's probe frame: true on the trigger's batch rows
_NEW = "_new"


def read_pages_stream(
    spark: SparkSession, source_dir: str, schema, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of page parquet drops (the sandbox stand-in for a
    Kafka/WARC firehose)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def stream_exact_dedup(
    pages_stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
):
    """Custom stateful streaming operator (applyInPandasWithState): exact
    content dedup over an unbounded page stream — only the FIRST document
    with each normalized-content fingerprint is emitted; later arrivals
    (within and across micro-batches) are dropped.

    State layout: keyed by FINGERPRINT — one tiny boolean state row per
    distinct fp, written exactly once (when the fp is first seen) and only
    read for fps present in the current batch. Per-batch state IO is
    therefore O(batch), never O(corpus); total state-store rows = distinct
    fps, which is exactly the per-key scaling RocksDB-backed state stores
    are built for (vs. the naive per-bucket array design, which rewrites
    the entire seen-set every micro-batch). The reference has no streaming
    at all (SURVEY §2.8); this is the north-rule extension for continuous
    crawl ingest.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from lash_spark.operators.normalize import normalize_text

    fp = F.md5(normalize_text(text_col))
    keyed = pages_stream.select(
        F.col(id_col).cast("string").alias("id"), fp.alias("fp")
    )

    out_schema = "id string, fp string"
    state_schema = "seen boolean"

    def dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:  # fp already emitted in an earlier batch: drop all
            return
        for pdf in pdfs:
            if len(pdf):
                state.update((True,))
                yield pdf.iloc[[0]][["id", "fp"]]
                return

    return keyed.groupBy("fp").applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_near_dup(
    pages_stream: DataFrame,
    catalog: ParquetCatalog,
    params: SketchParams | None = None,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Streaming NEAR-duplicate detection, INCREMENTAL per micro-batch:
    the batch is normalized and sketched ONCE (O(batch) signature-UDF
    work) and emits, in ONE side-tagged probe, (a) batch-internal near-dup
    pairs and (b) pairs between the batch and ALL previously ingested
    documents, read from the store table ``stream_docs`` — one row per
    document: (id, text, minhash, simhash, bands, n_windows). History is
    never re-sketched (VERDICT r3 #1). The batch's store rows then append
    to ``stream_docs``; pairs accumulate in ``stream_dup_pairs`` as
    canonical (id_a < id_b, jaccard, batch_id).

    Prefix-closure property (tested): streaming over batches B1..Bn yields
    exactly the pair set of the batch triangular pass over their union —
    a cross-batch pair (x in Bi, y in Bj, i < j) is found when Bj probes
    the store, through the SAME signature/candidate/verify stages.

    Ingest semantics: FIRST ingest wins per id — every batch is
    anti-joined against the store's ids, so recrawled ids are dropped
    consistently (recrawl replacement policy belongs upstream in
    url_dedup_latest) and degenerate (x, x) self-pairs cannot occur. Rows
    whose normalized text is empty or null are stored too (``n_windows``
    0, so they join no LSH bucket) and win their id like any other.

    Replay safety: a two-step append protocol (pairs, then store rows)
    plus a pessimistic replay guard. foreachBatch re-runs a batch after a
    restart (the appends committed, the offset checkpoint did not) and on
    a within-run retry (the function raised after an append committed).
    One flag covers both: it is set at batch entry and cleared only after
    the whole batch succeeded, so any failure makes the NEXT invocation a
    guarded one, and the happy path pays no pair anti-join. On a guarded
    invocation the recomputed pairs are anti-joined vs
    ``stream_dup_pairs``, so a crash between the two appends re-runs
    the batch — its ids are not in the store yet, so the probe sees the
    pre-crash store — and lands its store rows without duplicating pairs.
    A crash after both appends re-runs as a no-op (the batch's ids are in
    the store, so the unconditional id anti-join empties it).

    Shingle sets never reach the catalog: the store holds the sketch
    columns and the raw text, and the trigger's one verify shingles every
    candidate member — batch and stored alike — from its text in a single
    Arrow stage.

    Per-batch cost at scale: one signature pass over the BATCH, then one
    probe over the batch band keys (tagged new) ∪ the stored band keys: one
    bucket census, buckets without a new member dropped right after it,
    one skew-tiered candidate join that puts only new rows on its left side
    (scales with batch × matching-band volume; no stored × stored pair is
    enumerated), and one verify over batch ∪ store that shingles only the
    candidate members. The store is read once per trigger, as columnar
    scans of the columns each step needs (ids for the anti-join, bands for
    the probe, minhash and text for verify) — no Python runs over the rest
    of history. A probing trigger pays one census gate, one eager
    candidate checkpoint, one verify stats action and one store append."""
    from pyspark.sql import functions as F

    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import normalize_text
    from lash_spark.operators.verify import verify_pairs

    params = params or SketchParams()
    plan = LshPlan.plan(params.num_perm, threshold, 0.995)
    a, b = f"{id_col}_a", f"{id_col}_b"
    guard = {"pending": True}

    # F6 strict-compatibility semantics for the store: the batch paths
    # cross-validate params before any pair phase (validate_compatible);
    # the stream probes STORED band keys, so restarting it with different
    # SketchParams or a different LSH plan (bands × rows changes with
    # threshold) would silently equi-join incompatible band layouts —
    # pairs missing or bogus. The store is therefore stamped with
    # (params_hash, bands x rows) when first written, checked at every
    # batch entry, and re-sketched in place from its own text when they
    # are missing or differ. The params_hash carries SIGNATURE_FORMAT, so
    # a store written under an older column layout is rebuilt the same
    # way, as is the unstamped ``stream_docs`` (id, text) of the older
    # two-table layout, whose ``stream_sigs`` table the rebuild drops.
    store_props = {
        "params_hash": params.params_hash(),
        "params": params.to_json(),
        "lsh_plan": f"{plan.bands}x{plan.rows}",
    }

    def normed(df: DataFrame) -> DataFrame:
        # WITHOUT the min-length filter: empty or null text sketches to
        # n_windows = 0, which keeps the row out of every LSH bucket but in
        # the store
        return df.withColumn(
            "norm_text", normalize_text(text_col, params.normalize_version)
        )

    def sketch(docs: DataFrame) -> DataFrame:
        # (id, text) -> store rows (id, text, minhash, simhash, bands, n_windows)
        return build_signatures(
            normed(docs), params, plan, id_col=id_col, min_parallelism=1,
            carry_cols=[text_col],
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        need_guard = guard["pending"]
        guard["pending"] = True  # stays set if anything below raises
        batch = batch_df.select(id_col, text_col)
        store = None
        if catalog.exists("stream_docs"):
            stored = catalog.properties("stream_docs")
            if any(stored.get(k) != store_props[k] for k in ("params_hash", "lsh_plan")):
                catalog.replace(
                    sketch(catalog.read("stream_docs").select(id_col, text_col)),
                    "stream_docs",
                )
                catalog.drop("stream_sigs")  # the two-table layout's leftover
                catalog.set_properties("stream_docs", store_props)
            store = catalog.read("stream_docs")
            # EVERY batch (not just guarded ones) drops ids already in the
            # store: first ingest wins. This makes recrawled ids behave
            # identically with or without a crash in the history, keeps
            # the store one-row-per-id, and makes batch-vs-store
            # self-pairs (x, x) impossible. (Recrawl REPLACEMENT policy
            # belongs upstream — url_dedup_latest — not in the stream.)
            batch = batch.join(store.select(id_col), id_col, "left_anti")
        else:
            catalog.set_properties("stream_docs", store_props)
        batch = batch.localCheckpoint()  # consumed by the signature pass
        if batch.isEmpty():
            guard["pending"] = False
            return
        # feeds the probe, the verify side table and the append
        sigs = sketch(batch).persist()
        try:
            # ONE side-tagged probe: the batch (new) against itself and the
            # store (not new) — one census, one candidate join, one verify
            probe = sigs.withColumn(_NEW, F.lit(True))
            if store is not None:
                probe = probe.unionByName(store.withColumn(_NEW, F.lit(False)))
            probe = normed(probe)
            pairs = verify_pairs(
                lsh_candidate_pairs(probe, id_col=id_col, new_col=_NEW),
                probe,
                params,
                id_col=id_col,
                threshold=threshold,
                sig_df=probe,
                with_distances=False,
            ).select(a, b, "jaccard")
            pairs = pairs.withColumn("batch_id", F.lit(batch_id).cast("long"))
            if need_guard and catalog.exists("stream_dup_pairs"):
                pairs = pairs.join(
                    catalog.read("stream_dup_pairs").select(a, b), [a, b], "left_anti"
                )
            catalog.append(pairs, "stream_dup_pairs")
            catalog.append(sigs, "stream_docs")
        finally:
            # release the per-batch signature cache (without this every
            # micro-batch pins a cache entry for the stream's lifetime)
            sigs.unpersist()
        catalog.log_metrics(
            f"stream_near_dup_batch_{batch_id}",
            params.params_hash(),
            wall_ms=(time.monotonic() - t0) * 1000.0,
            output_rows=None,
            status="complete",
        )
        guard["pending"] = False

    writer = pages_stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
