"""Sketch algebra + distance formulas as pure Column expressions.

Everything after signature construction stays JVM-side (whole-stage
codegen): union = zip_with max, MinHash Jaccard = register match fraction,
inclusion–exclusion Jaccard, Mash fraction/distance models. Reference
formulas: ``/root/reference/src/utils.rs:164-167,273-275,362-363`` and
``src/main.rs:415-423,452-454``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ------------------------------------------------------------ sketch union

def register_union_expr(a: Column | str, b: Column | str) -> Column:
    """Sketch union = element-wise max (U2/U3, utils.rs:260-262,355-358)."""
    return F.zip_with(_c(a), _c(b), lambda x, y: F.greatest(x, y))


def _ull_fields_expr(x: Column):
    """(q, d1, d0) of a packed ULL register value (sketches.ull_registers
    layout: u = (q << 2) | (d1 << 1) | d0)."""
    return (
        F.shiftright(x, 2),
        F.shiftright(x, 1).bitwiseAND(F.lit(1)),
        x.bitwiseAND(F.lit(1)),
    )


def ull_union_expr(a: Column | str, b: Column | str) -> Column:
    """EXACT ULL merge as a pure Column expression (U2, utils.rs:260-262):
    q = max(q_a, q_b); the merged d-bits record whether rank q-1 / q-2 is in
    the union of the two sides' presence sets {q_x, q_x-1 if d1, q_x-2 if
    d0} — bit-for-bit the same algebra as the Python kernel
    sketches.ull_union (property-tested equal on random register pairs).
    Element-wise greatest() is NOT this merge: on q ties it takes one
    side's d-bits and drops the other's."""

    def contains(r: Column, qx: Column, d1x: Column, d0x: Column) -> Column:
        return (
            ((qx >= 1) & (qx == r))
            | ((d1x == 1) & (qx - 1 == r))
            | ((d0x == 1) & (qx - 2 == r))
        )

    def merge(x: Column, y: Column) -> Column:
        qa, d1a, d0a = _ull_fields_expr(x)
        qb, d1b, d0b = _ull_fields_expr(y)
        q = F.greatest(qa, qb)
        d1 = (contains(q - 1, qa, d1a, d0a) | contains(q - 1, qb, d1b, d0b)) & (q >= 2)
        d0 = (contains(q - 2, qa, d1a, d0a) | contains(q - 2, qb, d1b, d0b)) & (q >= 3)
        return (
            F.shiftleft(q, 2) + F.shiftleft(d1.cast("int"), 1) + d0.cast("int")
        ).cast("int")

    return F.zip_with(_c(a), _c(b), merge)


def ull_cardinality_fgra_expr(regs: Column | str, p: int) -> Column:
    """Closed-form FGRA cardinality (sketches.ull_cardinality_fgra_batch
    twin) as a Column expression: S = sum area(u)^tau via aggregate(), then
    m*(C*m/S)^(1/tau) with linear counting below the crossover — keeps the
    ULL IE-Jaccard pair phase entirely inside WholeStageCodegen, like the
    HLL path's hll_cardinality_expr."""
    from lash_spark.sketches import FGRA_TAU, fgra_constant

    regs = _c(regs)
    m = 1 << p
    q_max = 64 - p + 1
    c = fgra_constant(p)

    def w(u: Column) -> Column:
        q, d1, d0 = _ull_fields_expr(u)
        qd = q.cast("double")
        area = (
            F.when(q < q_max, F.pow(F.lit(2.0), -qd)).otherwise(F.lit(0.0))
            + F.when((q >= 2) & (d1 == 0), F.pow(F.lit(2.0), F.lit(1.0) - qd)).otherwise(F.lit(0.0))
            + F.when((q >= 3) & (d0 == 0), F.pow(F.lit(2.0), F.lit(2.0) - qd)).otherwise(F.lit(0.0))
        )
        return F.pow(area, F.lit(FGRA_TAU))

    s = F.aggregate(regs, F.lit(0.0), lambda acc, u: acc + w(u))
    raw = F.lit(float(m)) * F.pow(F.lit(c * m) / s, F.lit(1.0 / FGRA_TAU))
    zeros = F.size(F.filter(regs, lambda u: u == 0)).cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


# --------------------------------------------------------- jaccard family

def minhash_jaccard_expr(a: Column | str, b: Column | str) -> Column:
    """U1: J ≈ fraction of matching MinHash registers. NULL when either
    sketch is null or empty or the two register counts differ (sketches
    built with other params are not comparable)."""
    a, b = _c(a), _c(b)
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return F.when(
        (F.size(a) == F.size(b)) & (F.size(a) > 0),
        matches.cast("double") / F.size(a).cast("double"),
    )


def hll_cardinality_expr(regs: Column | str, p: int) -> Column:
    """A5: harmonic-mean HLL estimator with linear-counting small-range
    correction, as a Column expression over the register array."""
    regs = _c(regs)
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    inv_sum = F.aggregate(
        regs, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    raw = F.lit(alpha * m * m) / inv_sum
    zeros = F.size(F.filter(regs, lambda r: r == 0)).cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


def ie_jaccard_expr(card_a: Column | str, card_b: Column | str, card_u: Column | str) -> Column:
    """U4 (utils.rs:273-274,362): J = max(0, (a+b-u)/u)."""
    a, b, u = _c(card_a), _c(card_b), _c(card_u)
    return F.greatest(F.lit(0.0), (a + b - u) / u)


def hmh_jaccard_expr(a: Column | str, b: Column | str) -> Column:
    """HMH register-wise similarity: equal non-empty registers / occupied."""
    a, b = _c(a), _c(b)
    either = F.size(F.filter(F.zip_with(a, b, lambda x, y: F.when((x != 0) | (y != 0), 1)), lambda v: v.isNotNull()))
    match = F.size(
        F.filter(
            F.zip_with(a, b, lambda x, y: F.when((x == y) & ((x != 0) | (y != 0)), 1)),
            lambda v: v.isNotNull(),
        )
    )
    return F.when(either > 0, match.cast("double") / either.cast("double")).otherwise(F.lit(0.0))


# -------------------------------------------------------- distance family

def shared_fraction_expr(jaccard: Column | str) -> Column:
    """F1 (utils.rs:164-167): frac = 2J/(1+J)."""
    j = _c(jaccard)
    return 2.0 * j / (1.0 + j)


def mash_distance_expr(frac: Column | str, k: int, model: int = 1) -> Column:
    """F2/F3 (main.rs:415-423, reference numbering: 0 = binomial,
    1 = poisson). model 1 = poisson min(-ln(frac)/k, 1); model 0 or 2 =
    binomial 1 - frac^(1/k) (2 kept as a legacy alias). frac<=0 -> 1."""
    f = _c(frac)
    if model == 1:
        d = F.least(F.lit(1.0), -F.log(f) / F.lit(float(k)))
    elif model in (0, 2):
        d = F.lit(1.0) - F.pow(f, F.lit(1.0 / k))
    else:  # reference panics on unknown model (main.rs:421)
        raise ValueError("distance model must be 0 (binomial), 1 (poisson), or 2")
    # greatest(0, d) also normalizes -0.0 (from -ln(1)/k) to 0.0
    return F.when(f <= 0.0, F.lit(1.0)).otherwise(F.greatest(F.lit(0.0), d))


def with_distance_columns(
    df,
    jaccard_col: str = "jaccard",
    k: int = 16,
    model: int = 1,
    fp32: bool = False,
    id_col: str = "url",
):
    """Adds frac + distance columns; self-pairs ({id}_a == {id}_b) forced
    to d=0 (J3, main.rs:452-454). fp32 mirrors the --fp32 down-cast (F4)."""
    frac = shared_fraction_expr(jaccard_col)
    d = mash_distance_expr(frac, k, model)
    # self-pair rule covers both the triangular (_a/_b) and the two-dataset
    # query×reference (_q/_r) column conventions (same-name rows)
    for a, b in ((f"{id_col}_a", f"{id_col}_b"), (f"{id_col}_q", f"{id_col}_r")):
        if a in df.columns and b in df.columns:
            d = F.when(F.col(a) == F.col(b), F.lit(0.0)).otherwise(d)
            break
    out = df.withColumn("frac", frac).withColumn("distance", d)
    if fp32:
        out = out.withColumn("frac", F.col("frac").cast("float")).withColumn(
            "distance", F.col("distance").cast("float")
        )
    return out
