"""Candidate-pair generation: LSH band equi-joins with explicit skew tiers.

Replaces (does not port) the reference's all-pairs nested loop
(``/root/reference/src/utils.rs:150-161,248-259,342-352``) — O(N·M) pairs is
impossible at 10^12 docs. Candidates come from equi-joins on compact keys
(MinHash band hashes — O1; SimHash chunks — O3), with the hot-key problem
handled *explicitly* (north_rule; SURVEY.md O2), because the blow-up is
quadratic-in-bucket-size pair generation, which AQE skew-join cannot fix.

One generator (``_pairs``) serves three pair rules, each reached through
one public entry:

- self (:func:`pairs_from_keys`): every pair with ``id_a < id_b`` (J2
  triangular rule, utils.rs:158-160).
- tagged probe (:func:`pairs_from_keys` with ``new_col``): see below.
- cross (:func:`cross_pairs_from_keys`): query rows on the left, reference
  rows on the right, every pair kept and emitted as ``(id_q, id_r)``.

Every rule runs through the same tiers, sized by one bucket census:

- tier 1 (|bucket| <= max_bucket): plain equi-join on (band_id, key).
- tier 2 (max_bucket < |bucket| <= star_threshold): **salted** equi-join —
  the rule's left rows are replicated to all S salts
  (``explode(sequence(0, S-1))``), its right rows get the one salt
  ``pmod(xxhash64(id), S)``, and the join on (band_id, key, salt) spreads a
  hot bucket over S join keys while still emitting every pair of the rule
  exactly once. Only the left side is replicated: a tagged probe
  replicates its batch rows, not the store.
- tier 3 (|bucket| > star_threshold): boilerplate-class buckets are
  star-linked to the bucket's min-id representative — preserves cluster
  connectivity through verification without quadratic pair volume; volume
  is observable via band_census(). The cross rule has no star tier.

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
import sys
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# side tag of the cross rule's union: true on query rows, false on reference
_QUERY = "_lsh_query"


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
    logs the largest bucket and its projected pair volume so
    exhaustive-mode callers see the cap engage. Pass an explicit
    ``star_threshold`` to pin the boundary (including sys.maxsize for truly
    exhaustive analysis)."""
    derived = star_threshold is None
    if derived:
        star_threshold = max(max_bucket, int(math.isqrt(2 * star_pair_budget)))
    budget = star_pair_budget if derived else None
    return _pairs(keyed, id_col, max_bucket, salt_buckets, star_threshold, new_col, budget)


def _pairs(
    keyed, id_col, max_bucket, salt_buckets, star_threshold, new_col, budget=None, cross=False
):
    """The one skew-tiered generator behind every pair rule (module
    docstring). ``cross`` reads ``new_col`` as the query tag; ``budget``
    (the pair budget a derived ``star_threshold`` came from) turns on the
    star-routing warning."""
    # bucket size + representative as window aggregates over ONE exchange of
    # the keyed rows (the r5 census groupBy + equi-join evaluated keyed
    # twice and paid a second shuffle for the join). The window exchange
    # hash-partitions on (band_id, key), so the cached frame's partitioning
    # lets tier 1's join run exchange-free. Feeds all tiers: persist so the
    # upstream signature UDF + explode run once per row.
    w = Window.partitionBy("band_id", "key")
    k = keyed.withColumn("bucket_n", F.count(F.lit(1)).over(w)).withColumn(
        "rep", F.min(id_col).over(w)
    )
    n = F.col("bucket_n")
    live = n >= 2
    if new_col:
        # same window: whether the bucket has a new (query) member, and the
        # stored (reference) side's min id — the star tier's link into the
        # stored component, and the cross rule's proof of a right side
        k = k.withColumn("_has_new", F.max(new_col).over(w)).withColumn(
            "_rep_old", F.min(F.when(~F.col(new_col), F.col(id_col))).over(w)
        )
        live = live & F.col("_has_new")
        if cross:
            live = live & F.col("_rep_old").isNotNull()
    k = k.filter(live).persist()
    # One cached aggregate decides which tiers exist. Buckets above
    # max_bucket are RARE by construction (boilerplate families), so at most
    # scales the salt/star tiers are empty and must not plan their stages;
    # tier 2 is gated on its own size range, so a corpus whose hot buckets
    # are all star-linked plans no salt join either. The same scan names
    # the largest bucket for the star warning.
    gate = k.agg(
        F.max(n).alias("mx"),
        F.max(F.when(n <= star_threshold, n)).alias("mx_salt"),
        F.max_by(F.struct("band_id", "key"), n).alias("hot"),
    ).first()

    a, b = (f"{id_col}_q", f"{id_col}_r") if cross else (f"{id_col}_a", f"{id_col}_b")
    tag = [new_col] if new_col else []
    lid, rid = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    keep, lo, hi = lid < rid, lid, rid
    if cross:
        keep = F.lit(True)
    elif new_col:
        keep = keep | ~F.col(f"r.{new_col}")
        lo, hi = F.least(lid, rid), F.greatest(lid, rid)

    def sides(rows):
        """The rule's (left, right) rows: self pairs all rows with all rows,
        tagged puts only new rows on the left, cross puts query rows on the
        left and reference rows on the right."""
        if not new_col:
            return rows, rows
        left = rows.where(F.col(new_col))
        return left, rows.where(~F.col(new_col)) if cross else rows

    def pair_join(left, right, on):
        return (
            left.alias("l")
            .join(right.alias("r"), on)
            .where(keep)
            .select(lo.alias(a), hi.alias(b))
        )

    def tier(cond):
        return k.filter(cond).select("band_id", "key", id_col, *tag)

    # --- tier 1: plain equi-join
    parts = [pair_join(*sides(tier(n <= max_bucket)), ["band_id", "key"])]

    if (gate["mx_salt"] or 0) > max_bucket:
        # --- tier 2: salted equi-join — left rows on every salt, right rows
        # on their own, so each pair of the rule meets on exactly one key
        left, right = sides(tier((n > max_bucket) & (n <= star_threshold)))
        salts = F.sequence(F.lit(0), F.lit(salt_buckets - 1))
        parts.append(
            pair_join(
                left.withColumn("salt", F.explode(salts)),
                right.withColumn(
                    "salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast("int")
                ),
                ["band_id", "key", "salt"],
            )
        )

    if (gate["mx"] or 0) > star_threshold:
        # --- tier 3: star-link to representative (rep == min id, so rep < id)
        star = k.filter(n > star_threshold)
        if new_col:
            star = star.where(F.col(new_col))
            # a new representative also links to the stored min id
            parts.append(
                star.where((F.col(id_col) == F.col("rep")) & F.col("_rep_old").isNotNull())
                .select(F.col("rep").alias(a), F.col("_rep_old").alias(b))
            )
        parts.append(
            star.where(F.col(id_col) != F.col("rep")).select(
                F.col("rep").alias(a), F.col(id_col).alias(b)
            )
        )
        if budget is not None:
            # guard visibility: when the budget-derived boundary actually
            # reroutes a bucket, say so loudly — an exhaustive-mode caller
            # must not silently get star-linked pairs
            (band, key), m = gate["hot"], gate["mx"]
            logging.getLogger(__name__).warning(
                "pairs_from_keys: bucket(s) over the %d-pair star budget "
                "(e.g. band %s key %s: %d members ~ %d pairs) star-linked "
                "instead of exhaustively paired; pass star_threshold "
                "explicitly to override",
                budget, band, key, m, m * (m - 1) // 2,
            )

    out = reduce(DataFrame.unionByName, parts).dropDuplicates([a, b])
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
    ``dist`` mode, ``/root/reference/src/main.rs:353-401``): every (q, r)
    sharing a (band_id, key), as distinct (id_q, id_r). The pair is ordered
    by role, not by id, and an id on both sides pairs with itself (J2
    applies only in the same-files case, which callers route to
    pairs_from_keys instead). The two key sets are tagged and unioned into
    one generator run; no star tier, so the pair set is exhaustive and a
    hot bucket on either side goes through the salt tier."""
    cols = ["band_id", "key", id_col]
    keyed = keyed_q.select(*cols, F.lit(True).alias(_QUERY)).unionByName(
        keyed_r.select(*cols, F.lit(False).alias(_QUERY))
    )
    return _pairs(keyed, id_col, max_bucket, salt_buckets, sys.maxsize, _QUERY, cross=True)


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
