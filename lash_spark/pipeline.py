"""End-to-end near-duplicate detection + clustering pipeline.

documents -> normalize -> signatures (map-only) -> LSH band candidates
(skew-tiered) -> estimate prefilter -> exact-Jaccard verify -> edges
(∪ exact-dup star edges) -> union-find clusters.

With a catalog, every stage is checkpointed/resumable and logs metrics
rows (O6); without one it runs as a single lazy plan (tests / entry()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lash_spark.config import PipelineConfig, SketchParams
from lash_spark.lakeio import ParquetCatalog, resume_delta, run_stage
from lash_spark.operators.components import assign_clusters
from lash_spark.operators.exact import exact_dup_pairs
from lash_spark.operators.lsh import cross_lsh_candidate_pairs, lsh_candidate_pairs
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.operators.verify import cross_verify_pairs, verify_pairs


class DedupResult:
    """Pipeline outputs. ``clusters`` accepts a DataFrame or a zero-arg
    thunk: connected components is an EAGER operator (its convergence
    checksum and the driver-local union-find both run Spark actions at
    build time), so on the lazy no-catalog path the pipeline hands over a
    thunk and a consumer that never touches ``.clusters`` never pays for
    clustering (guide §1.2: don't compute what you throw away). The
    catalog path still materializes eagerly — cluster resume/checkpoint
    semantics require the stage to commit with the run."""

    def __init__(
        self,
        signatures: DataFrame,
        candidates: DataFrame,
        dup_pairs: DataFrame,
        clusters,
    ):
        self.signatures = signatures
        self.candidates = candidates
        self.dup_pairs = dup_pairs
        if isinstance(clusters, DataFrame):
            self._clusters, self._clusters_thunk = clusters, None
        else:
            self._clusters, self._clusters_thunk = None, clusters

    @property
    def clusters(self) -> DataFrame:
        if self._clusters is None:
            self._clusters = self._clusters_thunk()
        return self._clusters


def dedup_pipeline(
    docs: DataFrame,
    cfg: PipelineConfig | None = None,
    id_col: str = "url",
    text_col: str = "text",
    catalog: ParquetCatalog | None = None,
    include_exact_edges: bool = True,
) -> DedupResult:
    cfg = cfg or PipelineConfig()
    params = cfg.params
    plan = cfg.lsh_plan()
    phash = params.params_hash()

    normed = with_normalized_text(
        docs.select(id_col, text_col), text_col=text_col, version=params.normalize_version
    )
    if catalog is None:
        # normed feeds the signature build, the verify re-shingle path and
        # the exact-dup edge pass. Without a catalog nothing materializes it,
        # so an expensive source (a generator mapInPandas, a filtered scan)
        # re-executes once per consumer — measured 2 extra full corpus
        # generations on the 50k synth bench query. One cache entry of
        # (id, text, norm_text) removes that; the catalog path gets the same
        # effect from the signatures table round-trip.
        normed = normed.persist()

    # ---- signatures (map-only; row-level delta resume under a catalog)
    if catalog is not None:
        existing = catalog.read("signatures") if catalog.exists("signatures") else None
        # params changed, or a table without the resume content fingerprint
        # -> full rebuild (F6 semantics); nothing appends to an old layout
        if existing is not None and (
            catalog.properties("signatures").get("params_hash") != phash
            or "text_fp" not in existing.columns
        ):
            existing = None
        inc = normed.withColumn("text_fp", F.xxhash64(F.col("norm_text")))
        # delta keys on (id, content fingerprint): a re-crawled url whose
        # text mutated is IN the delta, so its sketch is recomputed instead
        # of silently trusted stale
        delta = resume_delta(inc, existing, id_col, fp_col="text_fp").persist()
        new_sigs = build_signatures(
            delta, params, plan, id_col=id_col, carry_cols=["text_fp"]
        )
        changed = existing is None or not delta.isEmpty()
        if changed:
            # the signature table is about to change: downstream stage
            # markers (keyed only on params_hash, which a rebuilt table
            # without text_fp shares) become stale — clear them BEFORE
            # mutating the table (ADVICE r5). Clearing is idempotent, so a
            # crash between the clear and the write costs at worst a
            # rebuild; clearing after the write would leave a crash window
            # in which stale 'complete' markers skip the candidate/verify
            # rebuild and the results miss every added or mutated document.
            for stale in ("candidates", "dup_pairs", "clusters"):
                catalog.clear_stage(stale)
        if existing is None:
            catalog.write(new_sigs, "signatures")
        elif changed:
            mutated = delta.select(id_col).join(
                existing.select(id_col), id_col, "left_semi"
            )
            if mutated.isEmpty():
                catalog.append(new_sigs, "signatures")
            else:
                # mutated urls: MERGE semantics — survivors keep their
                # rows, stale rows are replaced by the recomputed ones
                # (the Iceberg seam is MERGE INTO / row-level delete;
                # catalog.replace stages + swaps for plain parquet)
                survivors = existing.join(delta.select(id_col), id_col, "left_anti")
                catalog.replace(survivors.unionByName(new_sigs), "signatures")
        delta.unpersist()
        catalog.set_properties("signatures", {"params_hash": phash, "params": params.to_json()})
        sigs = catalog.read("signatures")
    else:
        # the signatures feed three consumers (band explode + both sides of
        # the estimate join); persist so the Arrow UDF runs once per row —
        # the catalog path gets the same effect from the table round-trip
        sigs = build_signatures(normed, params, plan, id_col=id_col).persist()

    # ---- candidates (skew-tiered LSH band join)
    def build_candidates():
        return lsh_candidate_pairs(
            sigs,
            id_col=id_col,
            max_bucket=cfg.max_band_bucket,
            salt_buckets=cfg.salt_buckets,
            star_threshold=cfg.star_threshold,
            star_pair_budget=cfg.star_pair_budget,
        )

    if catalog is not None and cfg.candidate_waves > 1:
        # partition-granular mode (O6): bands are grouped into
        # `candidate_waves` deterministic waves; each wave's pairs commit +
        # manifest independently (run_partitioned_stage), so a killed run
        # resumes losing at most one wave. Pairs can surface in several
        # waves (dedup inside pairs_from_keys is per-wave), so the read
        # side dedups across waves before verification.
        from lash_spark.lakeio import run_partitioned_stage
        from lash_spark.operators.lsh import explode_bands, pairs_from_keys

        n_waves = min(cfg.candidate_waves, plan.bands)
        # wave membership (band_id % n_waves) is part of the partition
        # semantics: a different wave count must invalidate the manifest
        # even under identical sketch params
        wave_hash = f"{phash}:w{n_waves}"

        def build_wave(wave_ids):
            keyed = explode_bands(sigs, id_col).filter(
                (F.col("band_id") % n_waves).isin([int(w) for w in wave_ids])
            )
            pairs = pairs_from_keys(
                keyed,
                id_col=id_col,
                max_bucket=cfg.max_band_bucket,
                salt_buckets=cfg.salt_buckets,
                star_threshold=cfg.star_threshold,
                star_pair_budget=cfg.star_pair_budget,
            )
            # single-wave builder calls => the literal is the wave id
            return pairs.withColumn("_wave", F.lit(int(wave_ids[0])))

        raw, _ = run_partitioned_stage(
            catalog, "candidates", wave_hash, list(range(n_waves)), build_wave,
            part_col="_wave",
        )
        candidates = raw.drop("_wave").dropDuplicates(
            [f"{id_col}_a", f"{id_col}_b"]
        )
    elif catalog is not None:
        candidates, _ = run_stage(catalog, "candidates", phash, build_candidates)
    else:
        # pairs_from_keys localCheckpoints eagerly, so the candidate set is
        # already materialized once for all downstream consumers
        candidates = build_candidates()

    # ---- verify (estimate prefilter + exact jaccard + distances)
    def build_verified():
        return verify_pairs(
            candidates,
            normed,
            params,
            id_col=id_col,
            threshold=cfg.jaccard_threshold,
            sig_df=sigs,
            max_pairs_per_doc=cfg.max_pairs_per_doc,
        )

    if catalog is not None:
        verified, _ = run_stage(catalog, "dup_pairs", phash, build_verified)
    else:
        # consumed by both the dup_pairs output and the edge/cluster branch
        verified = build_verified().persist()

    # ---- edges -> clusters
    a, b = f"{id_col}_a", f"{id_col}_b"
    edges = verified.select(a, b)
    if include_exact_edges:
        edges = edges.unionByName(exact_dup_pairs(normed, id_col=id_col)).dropDuplicates([a, b])

    def build_clusters():
        return assign_clusters(
            docs.select(id_col), edges, id_col=id_col, max_iterations=cfg.cc_max_iterations
        )

    if catalog is not None:
        clusters, _ = run_stage(catalog, "clusters", phash, build_clusters)
    else:
        # deferred: connected_components runs eager actions, and not every
        # consumer reads clusters (the near-dup-pairs surface stops at
        # dup_pairs) — DedupResult resolves the thunk on first access
        clusters = build_clusters

    return DedupResult(sigs, candidates, verified, clusters)


def cross_dataset_pairs(
    docs_q: DataFrame,
    docs_r: DataFrame,
    params: SketchParams | None = None,
    params_r: SketchParams | None = None,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.8,
    lsh_min_recall: float = 0.995,
    same_files: bool = False,
) -> DataFrame:
    """The reference's primary two-dataset ``dist`` mode
    (``/root/reference/src/main.rs:353-401``, ``src/utils.rs:150-161``):
    every query document is compared against the *reference* set, returning
    ({id}_q, {id}_r, jaccard) for pairs at/above the Jaccard threshold —
    as an LSH band cross-join + exact verify instead of the reference's
    all-pairs loop.

    ``params_r`` (defaults to ``params``) is cross-validated F6-style
    before any pair phase (main.rs:368-381 panic semantics). With
    ``same_files=True`` (the reference's q == r detection, main.rs:404)
    the triangular J2 rule applies instead of the ordered q×r semantics.

    The signature tables are persisted while the candidate AND verify
    stages read them, and released before returning: the result reads
    only the checkpointed candidates and verify side tables.
    """
    params = params or SketchParams()
    params.validate_compatible(params_r or params)
    from lash_spark.config import LshPlan

    plan = LshPlan.plan(params.num_perm, threshold, lsh_min_recall)
    nq = with_normalized_text(
        docs_q.select(id_col, text_col), text_col=text_col, version=params.normalize_version
    )
    nr = with_normalized_text(
        docs_r.select(id_col, text_col), text_col=text_col, version=params.normalize_version
    )
    sig_q = build_signatures(nq, params, plan, id_col=id_col).persist()
    if same_files:
        cands = lsh_candidate_pairs(sig_q, id_col=id_col)
        out = verify_pairs(
            cands, nq, params, id_col=id_col, threshold=threshold,
            sig_df=sig_q, with_distances=False,
        ).select(f"{id_col}_a", f"{id_col}_b", "jaccard")
        sig_q.unpersist()
        return out
    sig_r = build_signatures(nr, params, plan, id_col=id_col).persist()
    cands = cross_lsh_candidate_pairs(sig_q, sig_r, id_col=id_col)
    out = cross_verify_pairs(
        cands, nq, nr, params, id_col=id_col, threshold=threshold,
        sig_q=sig_q, sig_r=sig_r,
    )
    sig_q.unpersist()
    sig_r.unpersist()
    return out
