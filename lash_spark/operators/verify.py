"""Pair verification: sketch-estimate prefilter + exact Jaccard confirm.

The reference computes sketch-estimated similarity for every pair (U1-U4);
at web scale we verify in tiers, on ONE path (``_verify``) shared by the
self-join (``verify_pairs``) and the two-dataset (``cross_verify_pairs``)
calls:

1. **Side tables.** Each pair role gets one ``(id, minhash, shingles)``
   table over the candidate members only, built once and materialized by a
   single stats action (row count + total set hashes). Where the shingle
   sets come from decides the plan, and each shape has one join:
   - the signature frame carries them (a caller that built its signatures
     ``with_shingles``): the signatures joined with the member ids;
   - the signature frame carries the text column (the stream's probe):
     the same join, with a map-only Arrow UDF shingling each member in the
     projection that carries its minhash;
   - otherwise: the members' sets, shingled from the docs frame, joined
     straight onto the signature scan.
   A self-join uses ONE table under two aliases, so the second join reuses
   the first's exchange.
2. **Join strategy from measured bytes.** A side is broadcast when its
   measured footprint fits ``max(_BROADCAST_BYTES,
   spark.sql.autoBroadcastJoinThreshold)``; above that the same plan
   degrades to shuffled joins.
3. **Signature estimate.** MinHash register match fraction, filtered at
   ``threshold - _ESTIMATE_MARGIN``. An optional per-document degree cap
   keeps each document's strongest-estimate neighbours.
4. **Exact shingle Jaccard** |A∩B| / |A∪B| over the sorted-unique 64-bit
   shingle-hash sets, kept at ``jaccard >= threshold``.

Kernel: steps 3 and 4 are ONE scalar pandas UDF (``_verify_kernel``), one
Arrow round-trip per verify. It computes the estimate for every joined row
and intersects only the rows whose estimate passes that floor. It
replaced a JVM pair (the ``zip_with`` fold and ``array_intersect``) and a
two-UDF Arrow pair that a member-set volume gate chose between. On
perfbench ``boilerplate_skew`` (6137 candidate pairs; 4-vCPU VM,
``local[2]``) it took ``verify.s`` from 4.9 s to 1.9 s and the median
``docs_per_s`` from 126 to 162 (seed 7, 10 alternating pairs) against the
JVM pair that the gate picked there; the Arrow pair had measured 7x over
the JVM pair on a 50k-doc verify.

Exactness: |A∩B| / |A∪B| over 64-bit shingle hashes; collisions are the
only deviation from string-set Jaccard (P ~ m²/2^64, negligible — the
DuckDB oracle agrees hash-identically at sf0.01).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.config import SketchParams
from lash_spark.estimators import with_distance_columns
from lash_spark.hashing import batch_shingle_hash_segments

# A measured side table is broadcast below max(this, the session's
# autoBroadcastJoinThreshold). The auto threshold guards against bad
# ESTIMATES; these bytes come off a materialized frame, so a few hundred MB
# is safe (one build + per-executor residency, vs shuffling the pair table
# twice with array payloads aboard).
_BROADCAST_BYTES = 128 * 1024 * 1024
# The estimate prefilter keeps pairs at est >= threshold - this margin; the
# estimate is coarse (128 registers), so the margin keeps it from dropping
# pairs whose exact Jaccard passes.
_ESTIMATE_MARGIN = 0.15


def _encode(texts: pd.Series) -> "list[bytes]":
    return [t.encode("utf-8") if isinstance(t, str) else b"" for t in texts]


def make_shingle_set_udf(k: int):
    """text -> sorted unique shingle hashes (array<long>), map-only."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_set(texts: pd.Series) -> pd.Series:
        h, seg = batch_shingle_hash_segments(_encode(texts), k)
        h = h.view(np.int64)
        return pd.Series([h[seg[i] : seg[i + 1]] for i in range(len(texts))])

    return shingle_set


def _verify_kernel(floor: float):
    """The fused verify kernel: ``(minhash_a, minhash_b, shingles_a,
    shingles_b) -> struct<est double, jaccard double>`` in one Arrow pass.

    ``est`` is the MinHash register match fraction (U1), exactly
    ``minhash_jaccard_expr``'s value: an integer match count divided by the
    register count, NULL for a null, empty or length-mismatched sketch. It
    vectorizes with one np.vstack per register length in the batch.

    ``jaccard`` = |A∩B| / |A∪B| over the sorted-unique shingle-hash sets
    (0.0 when the union is empty; a null set counts as empty), computed
    only on rows with ``est >= floor`` and NULL on the others. The sets are
    sorted in UNSIGNED 64-bit order (hashing.py
    batch_shingle_hash_segments sorts as uint64 before the int64 view), so
    one np.searchsorted of the smaller side into the larger gives |A∩B|."""

    @F.pandas_udf("est double, jaccard double")
    def verify_kernel(
        ma: pd.Series, mb: pd.Series, sa: pd.Series, sb: pd.Series
    ) -> pd.DataFrame:
        est = np.full(len(ma), np.nan)  # NaN leaves the UDF as NULL
        lens = np.array(
            [
                len(x) if x is not None and y is not None and len(x) == len(y) else 0
                for x, y in zip(ma, mb)
            ],
            dtype=np.int64,
        )
        a, b = ma.to_numpy(), mb.to_numpy()
        for n in np.unique(lens[lens > 0]):
            idx = np.flatnonzero(lens == n)
            est[idx] = (np.vstack(a[idx]) == np.vstack(b[idx])).sum(axis=1) / float(n)
        jac = np.full(len(ma), np.nan)
        for i in np.flatnonzero(est >= floor):
            x, y = sa.iat[i], sb.iat[i]
            x = np.asarray([] if x is None else x, dtype=np.int64).view(np.uint64)
            y = np.asarray([] if y is None else y, dtype=np.int64).view(np.uint64)
            if x.size > y.size:
                x, y = y, x
            idx = np.searchsorted(y, x)
            idx[idx >= y.size] = y.size - 1
            inter = int((y[idx] == x).sum())
            union = x.size + y.size - inter
            jac[i] = inter / union if union else 0.0
        return pd.DataFrame({"est": est, "jaccard": jac})

    # Marked NON-DETERMINISTIC (the value is deterministic): Catalyst's
    # filter pushdown checks the PROJECT's determinism, so with a
    # deterministic kernel the est filter would be substituted below the
    # projection and every pair would evaluate the kernel, and ship its
    # arrays over Arrow, twice. The flag blocks that push. _verify
    # references the kernel exactly ONCE, in its own projection, and reads
    # est/jaccard off that column, so the flag cannot cause a re-eval either.
    return verify_kernel.asNondeterministic()


def _broadcast_cap(spark) -> int:
    """The byte cap under which a MEASURED side table is broadcast (an
    exact aggregate, not an estimate). Above the cap callers fall back to
    the shuffled join, so scale behavior is unchanged."""
    v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "33554432")
    try:
        auto = int(v)
    except ValueError:
        try:
            auto = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
            )
        except Exception:
            auto = 32 * 1024 * 1024
    return max(_BROADCAST_BYTES, auto)


def _verify(
    pairs: DataFrame,
    side_a: tuple[DataFrame, DataFrame],
    side_b: tuple[DataFrame, DataFrame],
    col_a: str,
    col_b: str,
    params: SketchParams,
    id_col: str,
    text_col: str,
    threshold: float,
    cap: int | None,
) -> DataFrame:
    """The one verify path: pairs (``col_a``, ``col_b``) + ``est_jaccard``
    + exact ``jaccard``, keeping rows with jaccard >= threshold.

    ``side_a`` / ``side_b``: the (signatures, docs) each pair role's ids
    come from; pass the same tuple for a self-join. ``cap``: keep each
    document's top-``cap`` est-ranked pairs per role (None = all)."""
    spark = pairs.sparkSession
    # pairs feeds the member projections + the final join; candidates from
    # pairs_from_keys arrive checkpointed already (then this is a cheap
    # extra lineage pin), arbitrary caller frames get materialized
    pairs = pairs.localCheckpoint(eager=False)

    def ids(*cols):
        out = reduce(
            DataFrame.unionByName, [pairs.select(F.col(c).alias(id_col)) for c in cols]
        )
        return out.distinct()

    def table(side, members):
        # members are distinct ids, so an inner join with them keeps each
        # member row once; the set projection sits above the join, so
        # shingling runs only over candidate members, not the whole corpus
        sig, docs = side
        if "shingles" in sig.columns:
            t = sig.join(members, id_col).select(id_col, "minhash", "shingles")
        else:
            sets = make_shingle_set_udf(params.shingle_k)(F.col(text_col)).alias("shingles")
            if text_col in sig.columns:
                t = sig.join(members, id_col).select(id_col, "minhash", sets)
            else:
                t = sig.select(id_col, "minhash").join(
                    docs.join(members, id_col, "left_semi").select(id_col, sets), id_col
                )
        # lazy: the stats aggregate below is the table's first action, so
        # it materializes the checkpoint AND returns the byte stats in one
        # Spark job per call
        return t.localCheckpoint(eager=False)

    if side_b is side_a:
        tables = [table(side_a, ids(col_a, col_b))]
    else:
        tables = [table(side_a, ids(col_a)), table(side_b, ids(col_b))]
    stats = {
        row["_s"]: row
        for row in reduce(
            DataFrame.unionByName,
            [
                t.agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.size("shingles")).alias("tot")
                ).withColumn("_s", F.lit(i))
                for i, t in enumerate(tables)
            ],
        ).collect()
    }
    bcast_cap = _broadcast_cap(spark)

    def view(i, alias):
        # aliased views of the SAME checkpointed relation, keyed on the same
        # column, canonicalize to the same exchange: a self-join's second
        # join reuses the first's BroadcastExchange (or the shuffled
        # fallback's hash exchange) instead of building the table twice
        st = stats[i]
        # 8 B per shingle hash + per-row register/id/overhead slack
        side_bytes = (st["tot"] or 0) * 8 + (st["n"] or 0) * (params.num_perm * 4 + 64)
        v = tables[i].alias(alias)
        return F.broadcast(v) if side_bytes < bcast_cap else v

    va, vb = view(0, "_va"), view(len(tables) - 1, "_vb")
    floor = threshold - _ESTIMATE_MARGIN
    kernel = _verify_kernel(floor)(
        F.col("_va.minhash"), F.col("_vb.minhash"),
        F.col("_va.shingles"), F.col("_vb.shingles"),
    )
    # No fan-out of the pairs before the joins: spreading the kernel stage
    # by pair count measured no docs_per_s gain on boilerplate_skew and
    # wrote dup_pairs as 8 files instead of 1.
    out = (
        pairs.join(va, F.col(col_a) == F.col(f"_va.{id_col}"))
        .join(vb, F.col(col_b) == F.col(f"_vb.{id_col}"))
        # explicit projection: a self-join re-ids the right side's
        # attributes (DeduplicateRelations), so pre-join Column handles
        # cannot name the copies to drop
        .select(*[F.col(c) for c in pairs.columns], kernel.alias("_k"))
        .select(
            *pairs.columns,
            F.col("_k.est").alias("est_jaccard"),
            F.col("_k.jaccard").alias("jaccard"),
        )
        .filter(F.col("est_jaccard") >= floor)
    )
    if cap is not None:
        # degree cap, one role after the other, ties broken by the ids
        for c in (col_a, col_b):
            w = Window.partitionBy(c).orderBy(
                F.desc("est_jaccard"), F.asc(col_a), F.asc(col_b)
            )
            out = (
                out.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= cap)
                .drop("_rk")
            )
    return out.filter(F.col("jaccard") >= threshold)


def cross_verify_pairs(
    pairs: DataFrame,
    docs_q: DataFrame,
    docs_r: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    *,
    sig_q: DataFrame,
    sig_r: DataFrame,
) -> DataFrame:
    """Two-dataset verify (query × reference ``dist`` mode): the same tiers
    as verify_pairs, with a q side table and an r side table. The pair
    (q, r) is role-ordered, so no triangular filter; q and r may contain
    the same document (the reference's same-name rows)."""
    q, r = f"{id_col}_q", f"{id_col}_r"
    return _verify(
        pairs, (sig_q, docs_q), (sig_r, docs_r), q, r, params, id_col, text_col,
        threshold, None,
    ).select(q, r, "jaccard")


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    *,
    sig_df: DataFrame,
    with_distances: bool = True,
    max_pairs_per_doc: int | None = None,
) -> DataFrame:
    """Candidates -> verified near-dup pairs with est_jaccard, exact
    jaccard (+ mash distances). Pairs below the estimate threshold minus
    ``_ESTIMATE_MARGIN`` never reach the exact intersection.

    ``max_pairs_per_doc``: degree cap for boilerplate mega-clusters — an
    m-member template family is a true near-clique with m(m-1)/2 pairs
    (quadratic in m even after bucket-level skew tiers, because OPH
    splinters it across many mid-size buckets). Keeping each document's
    top-C strongest-estimate neighbors bounds verify volume linearly while
    preserving cluster connectivity (every member retains edges into the
    clique). Off by default: leave None when the workload needs the full
    pair set (fixture recall); set for cluster-assignment pipelines. The cap
    ranks on the estimate after the fused kernel has run, so with a cap set
    the kernel also intersects est-passing pairs that the cap then drops
    (their sets cross Arrow in the kernel either way).
    """
    side = (sig_df, docs)
    out = _verify(
        pairs, side, side, f"{id_col}_a", f"{id_col}_b", params, id_col, text_col,
        threshold, max_pairs_per_doc,
    )
    if with_distances:
        out = with_distance_columns(
            out, "jaccard", k=params.shingle_k, model=params.distance_model, id_col=id_col
        )
    return out
