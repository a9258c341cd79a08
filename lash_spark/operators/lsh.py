"""Candidate-pair generation: LSH band equi-joins with explicit skew tiers.

Replaces (does not port) the reference's all-pairs nested loop
(``/root/reference/src/utils.rs:150-161,248-259,342-352``) — O(N·M) pairs is
impossible at 10^12 docs. Candidates come from equi-joins on compact keys
(MinHash band hashes — O1; SimHash chunks — O3), with the hot-key problem
handled *explicitly* (north_rule; SURVEY.md O2), because the blow-up is
quadratic-in-bucket-size pair generation, which AQE skew-join cannot fix:

- tier 1 (|bucket| <= max_bucket): plain self equi-join, `id_a < id_b`
  (J2 triangular rule, utils.rs:158-160).
- tier 2 (max_bucket < |bucket| <= star_threshold): **salted** all-pairs —
  members get salt s = hash(id) % S; the bucket key is split into the
  S(S+1)/2 triangle blocks (i <= j) and each member is replicated to the S
  blocks it participates in, so one hot reducer becomes ~S²/2 balanced
  reducers while still emitting every unordered pair exactly once.
- tier 3 (|bucket| > star_threshold): boilerplate-class buckets are
  star-linked to the bucket's min-id representative — preserves cluster
  connectivity through verification without quadratic pair volume; volume
  is observable via band_census().

Pairs found in multiple bands are deduped *before* expensive verification
(manual early-dedup rewrite, SURVEY.md §4.2(5)).

Side-tagged probe (``new_col``): the incremental stream keys a trigger's
batch rows (tag true) and the stored rows (tag false) into ONE frame, so a
trigger pays one census, one join and one verify instead of a triangular
pass plus a query × reference pass. Buckets without a new member drop right
after the census; tiers 1 and 2 put only new rows on the left side and
keep a pair when the right member is stored or sorts after the left one,
emitted as canonical (least, greatest) — no stored × stored pair is ever
enumerated. Tier 3 links every new non-representative member to the union
bucket's min-id representative and, when that representative is itself
new, links it to the stored side's min id too: the stored members are one
component already, so the bucket stays one component across triggers.
"""

from __future__ import annotations

import logging
import math
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_bands(
    sig_df: DataFrame, id_col: str = "url", new_col: str | None = None
) -> DataFrame:
    """Signatures -> (id, band_id, band_hash[, new_col]) key rows (O1).

    Empty-signature documents (text shorter than one shingle) are excluded:
    they all share the EMPTY register pattern and would otherwise form one
    giant garbage bucket per band at web scale. ``new_col`` names a side
    tag carried onto every key row (see :func:`pairs_from_keys`)."""
    if "n_windows" in sig_df.columns:
        sig_df = sig_df.filter(F.col("n_windows") > 0)
    tag = [F.col(new_col)] if new_col else []
    return sig_df.select(
        F.col(id_col), *tag, F.posexplode("bands").alias("band_id", "band_hash")
    ).withColumn("key", F.col("band_hash")).drop("band_hash")


def band_census(keyed: DataFrame, id_col: str = "url") -> DataFrame:
    """Bucket-size census over (band_id, key) — the observability handle for
    skew decisions and the hot-band metrics row."""
    return keyed.groupBy("band_id", "key").agg(
        F.count(id_col).alias("bucket_n"), F.min(id_col).alias("rep")
    )


def pairs_from_keys(
    keyed: DataFrame,
    id_col: str = "url",
    max_bucket: int = 2000,
    salt_buckets: int = 8,
    star_threshold: int | None = None,
    star_pair_budget: int = 8_000_000,
    new_col: str | None = None,
) -> DataFrame:
    """Generic skew-tiered candidate pair generation from (band_id, key, id)
    rows. Returns distinct (id_a, id_b) with id_a < id_b.

    ``new_col``: a boolean side tag on the key rows. When given, only pairs
    with at least one new member are generated (the side-tagged probe of
    the module docstring); None pairs every row with every other.

    ``star_threshold=None`` (the default) derives the salt→star boundary
    from ``star_pair_budget``, the largest per-bucket pair volume the salt
    tier may expand (m members ⇒ m(m−1)/2 pairs): a bucket past the budget
    is star-linked (linear volume) instead of exhaustively paired. The
    previous size-based default (max_bucket·salt·4 = 64k members) admitted
    ~2·10⁹ pairs from a single boilerplate bucket — the silent quadratic
    trap the 500k-doc run hit (a 2% template family ⇒ ~m²/2 salt-tier
    pairs). When the derived boundary actually routes a bucket, a warning
    logs the bucket size and its projected pair volume so exhaustive-mode
    callers see the cap engage. Pass an explicit ``star_threshold`` to pin
    the boundary (including sys.maxsize for truly exhaustive analysis)."""
    from pyspark.sql import Window

    spark = keyed.sparkSession
    derived = star_threshold is None
    if derived:
        budget_members = int(math.isqrt(2 * star_pair_budget))
        star_threshold = max(max_bucket, budget_members)

    # bucket size + representative as window aggregates over ONE exchange of
    # the keyed rows (the r5 census groupBy + equi-join evaluated keyed
    # twice and paid a second shuffle for the join). The window exchange
    # hash-partitions on (band_id, key), so the cached frame's partitioning
    # lets tier 1's self-join run exchange-free. Feeds all tiers: persist so
    # the upstream signature UDF + explode run once per row.
    w = Window.partitionBy("band_id", "key")
    k = keyed.withColumn("bucket_n", F.count(F.lit(1)).over(w)).withColumn(
        "rep", F.min(id_col).over(w)
    )
    live = F.col("bucket_n") >= 2
    if new_col:
        # same window: whether the bucket has a new member, and the stored
        # side's min id (the star tier's link into the stored component)
        k = k.withColumn("_has_new", F.max(new_col).over(w)).withColumn(
            "_rep_old", F.min(F.when(~F.col(new_col), F.col(id_col))).over(w)
        )
        live = live & F.col("_has_new")
    k = k.filter(live).persist()
    # One cached aggregate decides which tiers exist. Buckets above
    # max_bucket are RARE by construction (boilerplate families), so at most
    # scales the salt/star tiers are empty — yet the r5 plan always built
    # their broadcast-block and 4-key self-join stages, several near-empty
    # Spark jobs per call. This also subsumes the star-guard existence probe
    # (same cached scan, one job).
    mx = k.agg(F.max("bucket_n").alias("mx")).first()["mx"] or 0

    a, b = f"{id_col}_a", f"{id_col}_b"
    tag = [new_col] if new_col else []
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")

    def self_join(rows, on, *conds):
        """The l < r pair rule (plus ``conds``) over one frame; tagged: new
        rows on the left only, paired with a later new row or any stored
        row, emitted as (least, greatest)."""
        left, keep, lo, hi = rows, lid < rid, lid, rid
        if new_col:
            left = rows.where(F.col(new_col))
            keep = keep | ~F.col(f"r.{new_col}")
            lo, hi = F.least(lid, rid), F.greatest(lid, rid)
        return (
            left.alias("l")
            .join(rows.alias("r"), on)
            .where(reduce(and_, conds, keep))
            .select(lo.alias(a), hi.alias(b))
        )

    # --- tier 1: plain equi-join
    cold = k.filter(F.col("bucket_n") <= max_bucket).select("band_id", "key", id_col, *tag)
    parts = [self_join(cold, ["band_id", "key"])]

    if mx > max_bucket:
        # --- tier 2: salted triangle blocks
        warm = (
            k.filter(
                (F.col("bucket_n") > max_bucket) & (F.col("bucket_n") <= star_threshold)
            )
            .select("band_id", "key", id_col, *tag)
            .withColumn(
                "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast("int")
            )
        )
        # pandas-backed local frame: a python-LIST createDataFrame plans as
        # a pickled-RDD scan costing ~2.3 s of Python-stage overhead on
        # every action that touches the salt tier (measured round 6); the
        # pandas/Arrow path is a LocalTableScan
        import pandas as pd

        blocks = spark.createDataFrame(
            pd.DataFrame(
                [(i, j) for i in range(salt_buckets) for j in range(i, salt_buckets)],
                columns=["bi", "bj"],
            ),
            "bi int, bj int",
        )
        rep = warm.join(
            F.broadcast(blocks), (F.col("salt") == F.col("bi")) | (F.col("salt") == F.col("bj"))
        )
        parts.append(
            self_join(
                rep,
                ["band_id", "key", "bi", "bj"],
                F.least("l.salt", "r.salt") == F.col("bi"),
                F.greatest("l.salt", "r.salt") == F.col("bj"),
            )
        )

    if mx > star_threshold:
        # --- tier 3: star-link to representative (rep == min id, so rep < id)
        star = k.filter(F.col("bucket_n") > star_threshold)
        if new_col:
            star = star.where(F.col(new_col))
            # a new representative also links to the stored min id
            parts.append(
                star.where((F.col(id_col) == F.col("rep")) & F.col("_rep_old").isNotNull())
                .select(F.col("rep").alias(a), F.col("_rep_old").alias(b))
            )
        p3 = star.where(F.col(id_col) != F.col("rep")).select(
            F.col("rep").alias(a), F.col(id_col).alias(b)
        )
        parts.append(p3)
        if derived:
            # guard visibility: when the budget-derived boundary actually
            # reroutes a bucket, say so loudly — an exhaustive-mode caller
            # must not silently get star-linked pairs. Tiny cached lookup,
            # only runs in the (rare) routed case.
            hot = (
                k.filter(F.col("bucket_n") > star_threshold)
                .select("band_id", "key", "bucket_n")
                .limit(1)
                .collect()
            )
            n = int(hot[0]["bucket_n"]) if hot else mx
            logging.getLogger(__name__).warning(
                "pairs_from_keys: bucket(s) over the %d-pair star budget "
                "(e.g. band %s key %s: %d members ~ %d pairs) star-linked "
                "instead of exhaustively paired; pass star_threshold "
                "explicitly to override",
                star_pair_budget,
                hot[0]["band_id"] if hot else "?",
                hot[0]["key"] if hot else "?",
                n,
                n * (n - 1) // 2,
            )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.dropDuplicates([a, b])
    # Materialize the (small) pair set eagerly so the keyed+census cache can
    # be released immediately — callers get a lineage-truncated DataFrame
    # instead of a plan that pins `k` for the application lifetime, and the
    # three-tier union never re-executes for multiple downstream consumers.
    out = out.localCheckpoint(eager=True)
    k.unpersist()
    return out


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "url",
    max_bucket: int = 2000,
    salt_buckets: int = 8,
    star_threshold: int | None = None,
    star_pair_budget: int = 8_000_000,
    new_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs from the signatures table (``new_col``:
    the side-tagged probe, see :func:`pairs_from_keys`)."""
    return pairs_from_keys(
        explode_bands(sig_df, id_col, new_col),
        id_col=id_col,
        max_bucket=max_bucket,
        salt_buckets=salt_buckets,
        star_threshold=star_threshold,
        star_pair_budget=star_pair_budget,
        new_col=new_col,
    )


def cross_pairs_from_keys(
    keyed_q: DataFrame,
    keyed_r: DataFrame,
    id_col: str = "url",
    max_bucket: int = 2000,
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-dataset candidate pairs (the reference's query × reference
    ``dist`` mode, ``/root/reference/src/main.rs:353-401``): equi-join the
    query key rows against the reference key rows on (band_id, key).
    Returns distinct (id_q, id_r) — no triangular filter (the pair (q, r)
    is ordered by role, not by id; J2 applies only in the same-files case,
    which callers handle by routing to pairs_from_keys instead).

    Skew: per-bucket pair volume is |Q_bucket|·|R_bucket|, and EITHER side
    can be the hot one (a boilerplate family in the query set is as real as
    one in the reference set). Buckets are handled symmetrically:

    - both sides <= max_bucket: plain equi-join;
    - reference side hot: salt the reference rows, replicate the query
      rows to all ``salt_buckets`` salts;
    - query side hot (reference cold): the mirror image.

    A bucket hot on BOTH sides routes through the reference-hot tier (the
    query replication there spreads it across the reference salts), so
    every (q, r) pair is emitted exactly once before the final dedup."""
    from pyspark.sql import Window

    idq, idr = f"{id_col}_q", f"{id_col}_r"
    spark = keyed_q.sparkSession

    # per-side bucket sizes as a window aggregate over one exchange (the r5
    # census groupBy + equi-join paid a second shuffle and evaluated each
    # keyed side twice); persist both sides — they feed every tier branch
    w = Window.partitionBy("band_id", "key")
    rk = keyed_r.withColumn("r_n", F.count(F.lit(1)).over(w)).persist()
    qk = keyed_q.withColumn("q_n", F.count(F.lit(1)).over(w)).persist()
    # one tiny cached aggregate gates the hot tiers (same rationale as
    # pairs_from_keys: buckets above max_bucket are rare, and the salted
    # replication stages should not build when provably empty). Both sides'
    # maxima ride ONE action — a union of the two single-row aggregates —
    # so both persists fill in one Spark job instead of two round-trips.
    mx_rows = (
        rk.agg(F.max("r_n").alias("m")).withColumn("_s", F.lit("r"))
        .unionByName(qk.agg(F.max("q_n").alias("m")).withColumn("_s", F.lit("q")))
        .collect()
    )
    mx = {r["_s"]: r["m"] or 0 for r in mx_rows}
    mx_r, mx_q = mx.get("r", 0), mx.get("q", 0)
    salts = spark.range(salt_buckets).select(F.col("id").cast("int").alias("salt"))

    def _salt(df):
        return df.withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast("int")
        )

    r_cold = rk.filter(F.col("r_n") <= max_bucket).select("band_id", "key", id_col)
    q_cold = qk.filter(F.col("q_n") <= max_bucket).select("band_id", "key", id_col)

    # tier 1: cold x cold — plain equi-join
    p1 = (
        q_cold.alias("q")
        .join(r_cold.alias("r"), ["band_id", "key"])
        .select(F.col(f"q.{id_col}").alias(idq), F.col(f"r.{id_col}").alias(idr))
    )
    parts = [p1]

    if mx_r > max_bucket:
        # tier 2: reference hot — salt r, replicate every matching q row
        r_hot = rk.filter(F.col("r_n") > max_bucket).select("band_id", "key", id_col)
        hot_r_keys = r_hot.select("band_id", "key").distinct()
        q_rep = qk.select("band_id", "key", id_col).join(
            hot_r_keys, ["band_id", "key"], "left_semi"
        ).crossJoin(F.broadcast(salts))
        p2 = (
            q_rep.alias("q")
            .join(_salt(r_hot).alias("r"), ["band_id", "key", "salt"])
            .select(F.col(f"q.{id_col}").alias(idq), F.col(f"r.{id_col}").alias(idr))
        )
        parts.append(p2)

    if mx_q > max_bucket:
        # tier 3: query hot, reference cold — salt q, replicate the cold r rows
        q_hot = qk.filter(F.col("q_n") > max_bucket).select("band_id", "key", id_col)
        hot_q_keys = q_hot.select("band_id", "key").distinct()
        r_rep = r_cold.join(hot_q_keys, ["band_id", "key"], "left_semi").crossJoin(
            F.broadcast(salts)
        )
        p3 = (
            _salt(q_hot).alias("q")
            .join(r_rep.alias("r"), ["band_id", "key", "salt"])
            .select(F.col(f"q.{id_col}").alias(idq), F.col(f"r.{id_col}").alias(idr))
        )
        parts.append(p3)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.dropDuplicates([idq, idr]).localCheckpoint(eager=True)
    rk.unpersist()
    qk.unpersist()
    return out


def cross_lsh_candidate_pairs(
    sig_q: DataFrame,
    sig_r: DataFrame,
    id_col: str = "url",
    max_bucket: int = 2000,
    salt_buckets: int = 8,
) -> DataFrame:
    """MinHash-LSH candidates between a query and a reference signature set
    (two-dataset mode — main.rs:353-401, utils.rs:150-161)."""
    return cross_pairs_from_keys(
        explode_bands(sig_q, id_col),
        explode_bands(sig_r, id_col),
        id_col=id_col,
        max_bucket=max_bucket,
        salt_buckets=salt_buckets,
    )


def simhash_chunks(sig_df: DataFrame, id_col: str = "url", chunks: int = 4) -> DataFrame:
    """SimHash -> (id, chunk_id, chunk_val) keys. Pigeonhole: two fingerprints
    within Hamming distance t < chunks share at least one exact chunk, so the
    per-chunk equi-join is a complete candidate generator for d <= chunks-1;
    :func:`simhash_probe_chunks` extends it to t >= chunks via bit-flip
    probes (generalized pigeonhole)."""
    width = 64 // chunks
    mask = (1 << width) - 1
    if "n_windows" in sig_df.columns:  # same garbage-bucket guard as bands
        sig_df = sig_df.filter(F.col("n_windows") > 0)
    cols = []
    for c in range(chunks):
        val = F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
        cols.append(F.struct(F.lit(c).alias("band_id"), val.alias("key")))
    return (
        sig_df.select(F.col(id_col), F.explode(F.array(*cols)).alias("ck"))
        .select(id_col, F.col("ck.band_id"), F.col("ck.key"))
    )


def simhash_probe_chunks(
    sig_df: DataFrame, id_col: str = "url", chunks: int = 4, flips: int = 1
) -> DataFrame:
    """Multi-probe chunk keys: each chunk's value PLUS every value within
    Hamming distance <= ``flips`` of it (all 1-bit, then 2-bit, flip
    combinations — pure JVM array transforms, no Python). Joining these
    PROBE keys against the EXACT keys of :func:`simhash_chunks` is a
    complete candidate generator for Hamming <= (flips+1)*chunks - 1 by
    the generalized pigeonhole: t total differing bits spread over
    ``chunks`` blocks leave some block with <= floor(t/chunks) <= flips
    of them, and probing flips that block onto the partner's exact value.
    Probe fan-out per doc is chunks * (1 + w + C(w,2)) at flips=2
    (w = 64/chunks) — bounded and known at plan time."""
    if not 1 <= flips <= 2:
        raise NotImplementedError(
            "simhash multi-probe supports 1 or 2 bit flips per chunk "
            f"(hamming <= {3 * chunks - 1} at {chunks} chunks); got flips={flips}"
        )
    keys = simhash_chunks(sig_df, id_col, chunks)
    w = 64 // chunks
    parts = [
        "array(key)",
        f"transform(sequence(0, {w - 1}), k -> key ^ shiftleft(CAST(1 AS BIGINT), k))",
    ]
    if flips == 2:
        parts.append(
            f"flatten(transform(sequence(0, {w - 2}), k1 -> "
            f"transform(sequence(k1 + 1, {w - 1}), k2 -> "
            "key ^ shiftleft(CAST(1 AS BIGINT), k1) ^ shiftleft(CAST(1 AS BIGINT), k2))))"
        )
    probe = F.expr("concat(" + ", ".join(parts) + ")")
    return keys.select(
        F.col(id_col), "band_id", F.explode(probe).alias("key")
    )


def simhash_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "url",
    chunks: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 2000,
    salt_buckets: int = 8,
) -> DataFrame:
    """Hamming-ball near-dup candidates (O3): chunk equi-join then verify
    bit_count(a^b) <= t JVM-side. For t < chunks the exact chunk join is
    complete (pigeonhole); for t >= chunks the generator joins multi-probe
    keys (floor(t/chunks) bit flips per chunk) against exact keys, so the
    operator is no longer capped at t = chunks - 1 (VERDICT r3 #8)."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    flips = max_hamming // chunks
    keys = simhash_chunks(sig_df, id_col, chunks)
    if flips == 0:
        pairs = pairs_from_keys(
            keys, id_col=id_col, max_bucket=max_bucket, salt_buckets=salt_buckets
        )
    else:
        probe = simhash_probe_chunks(sig_df, id_col, chunks, flips)
        cp = cross_pairs_from_keys(
            probe, keys, id_col=id_col, max_bucket=max_bucket, salt_buckets=salt_buckets
        )
        qn, rn = f"{id_col}_q", f"{id_col}_r"
        pairs = (
            cp.filter(F.col(qn) != F.col(rn))
            .select(F.least(qn, rn).alias(a), F.greatest(qn, rn).alias(b))
            .dropDuplicates([a, b])
        )
    sim = sig_df.select(F.col(id_col), "simhash")
    return (
        pairs.join(sim.withColumnsRenamed({id_col: a, "simhash": "sim_a"}), a)
        .join(sim.withColumnsRenamed({id_col: b, "simhash": "sim_b"}), b)
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(a, b, "hamming")
    )
