"""Text normalization (T1/T2/T3 analogs) — frozen, versioned, pure-Column.

The reference's alphabet filters strip bytes outside a fixed alphabet
(``/root/reference/src/utils.rs:33-55``); the text analog is a deterministic
normalization whose output must be byte-identical per url across runs
(BASELINE.json input_hint). VERSION 1 is frozen: lowercase → collapse
whitespace runs to single spaces → trim. Any change bumps
SketchParams.normalize_version and breaks fixture parity on purpose.

Everything is JVM-side Column expressions (whole-stage codegen; no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(col: Column | str, version: int = 1) -> Column:
    """Frozen normalization profiles (config-selectable, T1/T2 — the
    reference exposes two alphabet profiles, DNA and AA, utils.rs:33-55):

    - v1: lower, collapse \\s+ -> ' ', trim (the default profile).
    - v2 ("aggressive", the AA-profile analog): lower, replace every
      non-[a-z0-9] run with a single space, trim — collapses punctuation/
      unicode noise so boilerplate variants normalize identically.
    """
    c = F.col(col) if isinstance(col, str) else col
    if version == 1:
        return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    if version == 2:
        return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))
    raise ValueError("normalize version must be 1 or 2")


def with_normalized_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    min_len: int = 1,
    version: int = 1,
) -> DataFrame:
    """Adds the normalized column and applies the min-length guard (T3,
    utils.rs:460-462): docs shorter than one shingle survive the scan but
    produce empty signatures downstream; docs with empty normalized text
    are dropped here (nothing to sketch)."""
    out = df.withColumn(out_col, normalize_text(text_col, version))
    return out.filter(F.length(out_col) >= min_len)


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition a GENUINELY under-partitioned frame so map-heavy stages
    (per-position explodes, Arrow UDFs) actually use the cluster — the
    single-small-parquet-file case: the sf0.1 documents table scans as ONE
    partition against 256-way default parallelism, so every downstream
    map pass ran single-core while 31 cores idled (measured: the SA window
    explode alone was ~2 s per pass at sf0.1). A keyless repartition is
    not free (full payload shuffle + the SPARK-23207 per-task sort), so an
    input already within 4x of the target keeps its layout — at real scale
    inputs arrive with >> cores splits and this is a no-op. Same rule
    build_signatures has used since round 6 batch 1, now shared."""
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 4 < target:
        return df.repartition(target)
    return df


# pure click-tracking params only: bare `ref` is content-bearing on many
# sites (branch selectors, variant routing), so stripping it would merge
# genuinely different pages
_TRACKING_PARAMS = r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid)="


def canonical_url(col: Column | str) -> Column:
    """URL canonicalization — the first dedup stage of every crawl
    pipeline (two urls that canonicalize equal are the SAME page fetched
    twice; dedup by canonical url before any content pass). Pure Column:

    - scheme and host lowercased; default ports (:80 http / :443 https)
      dropped
    - fragment dropped
    - tracking query params dropped (utm_*, gclid, fbclid, msclkid,
      mc_*); remaining params sorted for order-insensitive equality
    - trailing '/' on a non-root path dropped
    - urls parse_url cannot parse (relative/schemeless/malformed) fall
      back to the RAW url as their own key — never NULL, so a dedup
      groupBy cannot collapse distinct malformed urls into one group

    Everything whole-stage codegen (parse_url + array ops); no Python."""
    c = F.col(col) if isinstance(col, str) else col
    proto = F.lower(F.try_parse_url(c, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(c, F.lit("HOST")))
    # parse_url HOST excludes the port; extract it separately and keep only
    # non-default ports. The (?=[/?#]|$) anchor requires the digits to END
    # the authority — without it, a numeric password in userinfo
    # (user:123@host) would be lifted out as the port.
    port = F.regexp_extract(
        c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*:(\d+)(?=[/?#]|$)", 1
    )
    keep_port = (
        (port != "")
        & ~((proto == "http") & (port == "80"))
        & ~((proto == "https") & (port == "443"))
    )
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    # drop a trailing '/' only when preceded by another char, and give the
    # bare-host form the explicit root path so http://h and http://h/ are
    # the same page
    path = F.regexp_replace(path, r"(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.coalesce(F.try_parse_url(c, F.lit("QUERY")), F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAMS),
        )
    )
    qs = F.array_join(kept, "&")
    canon = F.concat(
        proto,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    # concat null-propagates when proto/host failed to parse
    return F.coalesce(canon, c)


def url_dedup_latest(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Keep the LATEST fetch per canonical url (standard recrawl policy):
    one groupBy on the canonical key taking max of a ts-first struct —
    a single shuffle, no window over the full table, and deterministic on
    timestamp ties (struct comparison falls through to the remaining
    fields)."""
    canon = canonical_url(url_col).alias("canonical_url")
    others = list(df.columns)
    return (
        df.select(canon, F.struct(F.col(ts_col).alias("_ts"), *others).alias("_row"))
        .groupBy("canonical_url")
        .agg(F.max("_row").alias("_row"))
        .select("canonical_url", *[F.col(f"_row.{c}").alias(c) for c in others])
    )
