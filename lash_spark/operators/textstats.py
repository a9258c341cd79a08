"""Text analysis for training-data pipelines: quality scoring, token
counting, language-ID heuristic, document fingerprinting.

All pure Column expressions (JVM-side, whole-stage codegen) — these run on
every document at 100 TB, so no Python is allowed here at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# seeded marker lexicons for the n-gram/stopword language heuristic.
# Deliberately tiny + deterministic: the point is the *operator* (argmax of
# per-language evidence), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "que", "es", "una"),
}

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is")


def _words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_chars / n_words / n_distinct_words / avg_word_len / stopword_ratio /
    alpha_ratio — the quality-scoring feature row."""
    w = _words(text_col)
    t = F.col(text_col)
    n_words = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    alpha_chars = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    return (
        df.withColumn("n_chars", F.length(t).cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("n_distinct_words", F.size(F.array_distinct(w)).cast("long"))
        .withColumn(
            "avg_word_len",
            (F.length(F.regexp_replace(t, " ", "")).cast("double") / n_words),
        )
        .withColumn("stopword_ratio", stop_hits.cast("double") / n_words)
        .withColumn("alpha_ratio", alpha_chars.cast("double") / F.length(t))
    )


def quality_flags(text_col: str = "text") -> "dict[str, Column]":
    """C4-style boolean quality rules (Raffel et al. 2020 §2.2 family),
    each a pure Column expression so the 100 TB filter pass is one codegen
    stage over the scan:

    - ``too_short``: fewer than 10 whitespace words;
    - ``odd_word_len``: mean word length outside [2, 12] (gibberish /
      non-linguistic content);
    - ``low_alpha``: less than 60% alphabetic characters (markup, tables,
      encoded blobs);
    - ``no_stopwords``: no common-function-word hits at all (a strong
      non-prose signal at this lexicon size).
    """
    w = _words(text_col)
    t = F.col(text_col)
    n_words = F.size(w).cast("double")
    avg_wl = F.length(F.regexp_replace(t, " ", "")).cast("double") / n_words
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("double") / F.length(t)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    return {
        "too_short": n_words < 10,
        "odd_word_len": (avg_wl < 2.0) | (avg_wl > 12.0),
        "low_alpha": alpha < 0.6,
        "no_stopwords": stop_hits == 0,
    }


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only documents passing every quality rule — the pre-dedup
    hygiene pass of a training-data pipeline."""
    flags = quality_flags(text_col)
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & ~c
    return df.filter(keep)


def token_count(text_col: str = "text", pattern: str = r"[a-z0-9]+") -> Column:
    """Regex token count (BPE-ish lowercase alnum runs) — JVM regexp, no UDF."""
    return F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), 0))


def lang_scores(text_col: str = "text") -> "list[Column]":
    """Per-language marker-hit counts (distinct marker words present)."""
    w = F.array_distinct(_words(F.lower(F.col(text_col))))
    out = []
    for lang, markers in LANG_MARKERS.items():
        out.append(F.size(F.filter(w, lambda x: x.isin(*markers))).alias(f"score_{lang}"))
    return out


def detect_lang(text_col: str = "text") -> Column:
    """argmax of marker evidence; 'und' (undetermined) when all scores 0.
    Ties break by language-code order (deterministic)."""
    w = F.array_distinct(_words(F.lower(F.col(text_col))))
    scores = {
        lang: F.size(F.filter(w, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # fold a deterministic argmax: strictly-greater wins, so earlier langs
    # win ties (dict order is fixed above)
    expr = F.lit("und")
    best_expr = F.lit(0)
    for lang, s in scores.items():
        expr = F.when(s > best_expr, F.lit(lang)).otherwise(expr)
        best_expr = F.when(s > best_expr, s).otherwise(best_expr)
    return expr


def repetition_stats(df: DataFrame, text_col: str = "norm_text") -> DataFrame:
    """MassiveText/Gopher-style repetition signals (Rae et al. 2021,
    App. A1 family) — the "document is mostly the same phrase over and
    over" quality class that length/stopword rules miss. Pure Column
    expressions (one codegen stage over the scan):

    - ``n_2grams``: word-2-gram count (size(words) - 1);
    - ``dup_2gram_frac``: fraction of 2-grams that repeat an earlier one
      (= 1 - distinct/total);
    - ``top_2gram`` / ``top_2gram_count``: the most frequent 2-gram
      (count ties break to the lexicographically LARGEST gram, in both
      engines);
    - ``top_2gram_char_frac``: count * len(top gram) / len(text) — the
      character mass attributable to the dominant phrase.

    The per-doc mode (argmax by frequency) is computed WITHOUT a
    shuffle: sort_array on the gram array, then one aggregate() fold
    tracking the longest equal-run — runs in sorted order are exactly
    the per-gram counts, and ascending traversal makes `run >= best`
    the largest-gram tie-break."""
    t = F.col(text_col)
    # materialize the word array ONCE as a column before gram construction:
    # Catalyst does not CSE a split() referenced inside a lambda across its
    # invocations, so inlining it made 2-gram construction O(n_words^2)
    # character work per document (ADVICE r3). `_ws` is referenced several
    # times below, which also keeps CollapseProject from re-inlining it.
    df = df.withColumn("_ws", _words(text_col))
    grams = F.when(
        F.size("_ws") >= 2,
        F.expr(
            "transform(sequence(1, size(_ws) - 1),"
            " i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"
        ),
    ).otherwise(F.expr("array()"))
    df = df.withColumn("_gs", grams).drop("_ws")
    n = F.size("_gs")
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("bg"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        upd = run >= acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(upd, run).otherwise(acc["best"]).alias("best"),
            F.when(upd, x).otherwise(acc["bg"]).alias("bg"),
        )

    top = F.aggregate(F.sort_array("_gs"), init, step)
    return (
        df.withColumn("n_2grams", n.cast("long"))
        .withColumn(
            "dup_2gram_frac",
            F.when(
                n > 0,
                F.round((n - F.size(F.array_distinct("_gs"))).cast("double") / n, 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("top_2gram", top["bg"])
        .withColumn("top_2gram_count", top["best"].cast("long"))
        .withColumn(
            "top_2gram_char_frac",
            F.when(
                n > 0,
                F.round(
                    (top["best"] * F.length(top["bg"])).cast("double") / F.length(t), 6
                ),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_gs")
    )


def fingerprint(text_col: str = "norm_text") -> Column:
    """128-bit content fingerprint (md5 of normalized text) — the engine's
    document identity for exact-dup and lineage joins."""
    return F.md5(F.col(text_col))


def cross_doc_ngram_dup_stats(
    docs,
    text_col: str = "norm_text",
    n: int = 5,
    id_col: str = "doc_id",
):
    """Cross-document duplicated word-n-gram fraction — the Gopher /
    MassiveText corpus-level signal complementing the WITHIN-doc
    `repetition_stats`: for each doc, the fraction of its DISTINCT word
    n-grams that also occur in at least one OTHER document (boilerplate /
    template mass). Docs with fewer than ``n`` words emit no row.

    Shape: per-doc distinct n-grams explode once (the same position-row
    class as the shingle-count pass — run corpus-wide at small scale,
    restricted or fingerprint-bucketed at web scale), one groupBy for
    corpus gram document-counts, one join back, one per-doc aggregate —
    all JVM; no Python anywhere."""
    from pyspark.sql import functions as F

    # explicit empty-array branch: sequence(1, k) with k <= 0 counts DOWN.
    # Split once into `_ws` (Catalyst won't CSE split() inside the lambda
    # across invocations — ADVICE r3; multiple `_ws` references keep
    # CollapseProject from re-inlining the split).
    grams = F.array_distinct(
        F.expr(
            f"if(size(_ws) < {n}, array(), "
            f"transform(sequence(1, size(_ws) - {n - 1}),"
            f" i -> array_join(slice(_ws, i, {n}), ' ')))"
        )
    )
    per_doc = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    ).select(F.col(id_col), F.explode(grams).alias("gram"))
    gram_docs = per_doc.groupBy("gram").agg(
        F.countDistinct(id_col).alias("_docs")
    )
    return (
        per_doc.join(gram_docs, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_docs") >= 2, 1).otherwise(0)).alias("dup_grams"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_grams").cast("double") / F.col("n_grams"), 6),
        )
    )
