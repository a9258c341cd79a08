"""Pair verification: sketch-estimate prefilter + exact Jaccard confirm.

The reference computes sketch-estimated similarity for every pair (U1-U4);
at web scale we verify in tiers, on ONE path (``_verify``) shared by the
self-join (``verify_pairs``) and the two-dataset (``cross_verify_pairs``)
calls:

1. **Side tables.** Each pair role gets one ``(id, minhash, shingles)``
   table over the candidate members only, built once and materialized by a
   single stats action (row count + total set hashes). The shingle sets are
   read off the signature frame when it carries them (a caller that built
   its signatures ``with_shingles``), otherwise computed from the members'
   text by a map-only Arrow UDF. A self-join uses ONE table under two
   aliases, so the second join reuses the first's exchange.
2. **Join strategy from measured bytes.** A side is broadcast when its
   measured footprint fits ``max(_BROADCAST_BYTES,
   spark.sql.autoBroadcastJoinThreshold)``; above that the same plan
   degrades to shuffled joins.
3. **Signature estimate.** MinHash register match fraction, filtered at
   ``threshold - margin`` below the set intersection, so est-failing rows
   never pay for it. An optional per-document degree cap keeps each
   document's strongest-estimate neighbours.
4. **Exact shingle Jaccard** |A∩B| / |A∪B| over the sorted-unique 64-bit
   shingle-hash sets.

Kernels: both the estimate and |A∩B| have a JVM expression and a
vectorized Arrow kernel. The measured member-set volume picks one against
``_ARROW_MIN_HASHES``: the Arrow kernels measured 7x on a 50k-doc verify
(16.5M member hashes) but lose ~0.3-0.5 s per call at ~150k hashes, where
the per-stage Python round-trip exceeds the JVM work. Both give identical
values.

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
from lash_spark.estimators import minhash_jaccard_expr, with_distance_columns
from lash_spark.hashing import batch_shingle_hash_segments

# A measured side table is broadcast below max(this, the session's
# autoBroadcastJoinThreshold). The auto threshold guards against bad
# ESTIMATES; these bytes come off a materialized frame, so a few hundred MB
# is safe (one build + per-executor residency, vs shuffling the pair table
# twice with array payloads aboard).
_BROADCAST_BYTES = 128 * 1024 * 1024
# Member-set hashes at/above which verify uses the Arrow kernels.
_ARROW_MIN_HASHES = 1_000_000


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


@F.pandas_udf(T.IntegerType())
def _inter_size_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """|A ∩ B| for two sorted-unique shingle-hash arrays per row.

    The sets are produced sorted in UNSIGNED 64-bit order (hashing.py
    batch_shingle_hash_segments sorts as uint64 before the int64 view), so
    one vectorized np.searchsorted of the smaller side into the larger
    computes the exact intersection size — the JVM ``array_intersect``
    expression builds a hash set per ROW instead. Same integer |A∩B| over
    the same 64-bit hash sets, byte-identical jaccard downstream."""
    out = np.zeros(len(sa), dtype=np.int32)
    for i in range(len(sa)):
        x, y = sa.iat[i], sb.iat[i]
        if x is None or y is None:
            continue
        x = np.asarray(x, dtype=np.int64).view(np.uint64)
        y = np.asarray(y, dtype=np.int64).view(np.uint64)
        if x.size == 0 or y.size == 0:
            continue
        if x.size > y.size:
            x, y = y, x
        idx = np.searchsorted(y, x)
        idx[idx >= y.size] = y.size - 1
        out[i] = int((y[idx] == x).sum())
    return pd.Series(out)


# Marked NON-DETERMINISTIC (value is deterministic): Catalyst's filter
# pushdown checks the PROJECT's determinism, so with a deterministic
# kernel the downstream jaccard-threshold filter was substituted below the
# projection and every est-passing pair evaluated the kernel — and shipped
# both shingle arrays over Arrow — TWICE (measured: two ArrowEvalPython
# nodes). The flag blocks that push. The 3x-eval trap the flag creates
# when one expression references the UDF three times is avoided
# structurally: _with_jaccard references the kernel exactly ONCE in its
# own projection and derives jaccard from the column.
_inter_size_udf = _inter_size_udf.asNondeterministic()


@F.pandas_udf(T.DoubleType())
def _minhash_est_udf(ma: pd.Series, mb: pd.Series) -> pd.Series:
    """MinHash register match fraction (U1), vectorized: one np.vstack per
    register length in the Arrow batch and a single (A == B) row-sum. Value
    is EXACTLY ``minhash_jaccard_expr``'s — an integer match count divided
    by the register count — including NULL for a null, empty or
    length-mismatched row. The interpreted zip_with+aggregate fold cost
    2.4-2.9 s on a 50k-doc verify (318k pairs x 128 registers) where this
    kernel, transfer included, measures 1.2-1.3 s."""
    out = np.full(len(ma), np.nan)  # NaN leaves the UDF as NULL
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
        out[idx] = (np.vstack(a[idx]) == np.vstack(b[idx])).sum(axis=1) / float(n)
    return pd.Series(out)


# same non-determinism rationale as _inter_size_udf: block the est-threshold
# filter from being substituted below the projection (double eval + double
# minhash transfer); call sites reference the column, never the UDF twice
_minhash_est_udf = _minhash_est_udf.asNondeterministic()


def _est_jaccard_col(mh_a, mh_b, set_hashes: int):
    """The est_jaccard column: the JVM fold below ``_ARROW_MIN_HASHES``
    measured member-set hashes (tiny pair sets — the Python round-trip
    costs more than the whole fold), the vectorized Arrow kernel at or
    above it. The same volume picks the intersect kernel in
    ``_with_jaccard``, so one verify call is all-JVM or all-Arrow."""
    if set_hashes < _ARROW_MIN_HASHES:
        return minhash_jaccard_expr(mh_a, mh_b)
    return _minhash_est_udf(mh_a, mh_b)


def _with_jaccard(df, sh_a, sh_b, set_hashes: int):
    """Attach exact ``jaccard`` = |A∩B| / |A∪B| for the two shingle-set
    columns. The intersection size lands in its own projection, referenced
    exactly once (see the determinism note above); the jaccard expression
    reads the COLUMN, so the optimizer can neither duplicate the kernel
    nor push a threshold filter below it. Below ``_ARROW_MIN_HASHES`` the
    kernel is the deterministic ``array_intersect`` expression instead —
    there the indirection collapses and the threshold pushdown (measured
    faster on the JVM plan) still fires."""
    if set_hashes < _ARROW_MIN_HASHES:
        inter = F.size(F.array_intersect(sh_a, sh_b))
    else:
        inter = _inter_size_udf(sh_a, sh_b)
    df = df.withColumn("_iu", inter)
    union = F.size(sh_a) + F.size(sh_b) - F.col("_iu")
    return df.withColumn(
        "jaccard",
        F.when(
            union > 0, F.col("_iu").cast("double") / union.cast("double")
        ).otherwise(F.lit(0.0)),
    ).drop("_iu")


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
    margin: float,
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
        sig, docs = side
        t = sig.join(members, id_col, "left_semi")
        if "shingles" in sig.columns:
            t = t.select(F.col(id_col), F.col("minhash"), F.col("shingles"))
        else:
            # semi-join BEFORE the UDF projection so shingling runs only
            # over candidate members, not the whole corpus
            sets = docs.join(members, id_col, "left_semi").select(
                F.col(id_col),
                make_shingle_set_udf(params.shingle_k)(F.col(text_col)).alias("shingles"),
            )
            t = t.select(F.col(id_col), F.col("minhash")).join(sets, id_col)
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
    set_hashes = sum(st["tot"] or 0 for st in stats.values())
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
    out = (
        pairs.join(va, F.col(col_a) == F.col(f"_va.{id_col}"))
        .join(vb, F.col(col_b) == F.col(f"_vb.{id_col}"))
        .withColumn(
            "est_jaccard",
            _est_jaccard_col(F.col("_va.minhash"), F.col("_vb.minhash"), set_hashes),
        )
        # below the jaccard projection: est-failing rows never pay the set
        # intersection
        .filter(F.col("est_jaccard") >= threshold - margin)
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
    keep = [F.col(c) for c in pairs.columns] + [F.col("est_jaccard"), F.col("jaccard")]
    return (
        _with_jaccard(out, F.col("_va.shingles"), F.col("_vb.shingles"), set_hashes)
        # explicit final projection: a self-join re-ids the right side's
        # attributes (DeduplicateRelations), so pre-join Column handles
        # cannot name the copies to drop
        .select(*keep)
        .filter(F.col("jaccard") >= threshold)
    )


def cross_verify_pairs(
    pairs: DataFrame,
    docs_q: DataFrame,
    docs_r: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    estimate_margin: float = 0.15,
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
        threshold, estimate_margin, None,
    ).select(q, r, "jaccard")


def verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    params: SketchParams,
    id_col: str = "url",
    text_col: str = "norm_text",
    threshold: float = 0.8,
    estimate_margin: float = 0.15,
    *,
    sig_df: DataFrame,
    with_distances: bool = True,
    max_pairs_per_doc: int | None = None,
) -> DataFrame:
    """Candidates -> verified near-dup pairs with est_jaccard, exact
    jaccard (+ mash distances). Pairs below the estimate threshold minus
    ``estimate_margin`` never reach the exact intersection.

    ``max_pairs_per_doc``: degree cap for boilerplate mega-clusters — an
    m-member template family is a true near-clique with m(m-1)/2 pairs
    (quadratic in m even after bucket-level skew tiers, because OPH
    splinters it across many mid-size buckets). Keeping each document's
    top-C strongest-estimate neighbors bounds verify volume linearly while
    preserving cluster connectivity (every member retains edges into the
    clique). Off by default: leave None when the workload needs the full
    pair set (fixture recall); set for cluster-assignment pipelines.
    """
    side = (sig_df, docs)
    out = _verify(
        pairs, side, side, f"{id_col}_a", f"{id_col}_b", params, id_col, text_col,
        threshold, estimate_margin, max_pairs_per_doc,
    )
    if with_distances:
        out = with_distance_columns(
            out, "jaccard", k=params.shingle_k, model=params.distance_model, id_col=id_col
        )
    return out
