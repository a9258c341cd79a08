"""Sketch kernels: MinHash, HLL, ULL, HMH-style, SimHash (pure numpy).

Functional parity with the reference's ``KmerSketch`` trait surface
(``/root/reference/src/utils.rs:377-434``): construct from an element set,
merge (union), estimate cardinality, estimate Jaccard. Register layouts are
NOT bit-compatible with the Rust crates (hyperminhash / hyperloglogplus /
ultraloglog); the contract is the *algebra* — union = element-wise max,
inclusion–exclusion Jaccard, MinHash match-fraction Jaccard — which is what
the pipeline and the acceptance metric (dup-pair recall) consume.

Everything here is batch-vectorized numpy, designed to run inside Arrow
pandas UDFs (see operators/signatures.py). No per-element Python loops on
the hot path.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from lash_spark.hashing import U64, clz64, hash_with_seed, mix64, perm_keys

EMPTY_MIN = U64(0xFFFFFFFFFFFFFFFF)  # MinHash register of the empty set


# ---------------------------------------------------------------- MinHash

def minhash_signatures_batch(
    hash_sets: "list[np.ndarray]", num_perm: int, seed: int
) -> np.ndarray:
    """Batch MinHash: list of per-doc hash sets -> (B, n) uint64 matrix."""
    keys = perm_keys(num_perm, seed)
    out = np.full((len(hash_sets), num_perm), EMPTY_MIN, dtype=U64)
    for i, hs in enumerate(hash_sets):
        if hs.size:
            out[i] = mix64(hs[:, None] ^ keys[None, :]).min(axis=0)
    return out


def minhash_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """U1 analog: J ≈ fraction of matching registers."""
    return float(np.mean(sig_a == sig_b))


def oph_signatures_segments(
    h: np.ndarray, seg: np.ndarray, num_perm: int
) -> np.ndarray:
    """One-permutation-hashing signatures for a batch of documents given as
    flat window-hash segments (multiset; dedup-invariant).

    bin = low log2(num_perm) bits of the element hash; register = min hash
    in the bin. O(total windows) regardless of num_perm — the 10^12-doc
    signature mode (vs. O(windows x num_perm) for k independent
    permutations). Empty bins keep EMPTY_MIN until densify_rotation().
    """
    n = seg.shape[0] - 1
    sig = np.full((n, num_perm), EMPTY_MIN, dtype=U64)
    if h.size:
        counts = np.diff(seg)
        mask = U64(num_perm - 1)
        idx = (
            np.repeat(np.arange(n, dtype=np.int64), counts) * num_perm
            + (h & mask).astype(np.int64)
        )
        np.minimum.at(sig.reshape(-1), idx, h)
    return sig


def densify_rotation(sig: np.ndarray) -> np.ndarray:
    """Rotation densification (Shrivastava & Li): an empty bin borrows the
    value of the nearest occupied bin to its left (circular). Deterministic
    per document; near-duplicate documents share occupancy patterns, so
    borrowed registers still match with probability ~J. All-empty rows
    (documents shorter than one shingle) stay EMPTY_MIN."""
    out = sig.copy()
    occupied = sig != EMPTY_MIN
    rows = np.flatnonzero(occupied.any(axis=1) & (~occupied).any(axis=1))
    if rows.size == 0:
        return out
    sub = out[rows]
    src = sig[rows]
    p = sig.shape[1]
    for t in range(1, p):
        empty = sub == EMPTY_MIN
        if not empty.any():
            break
        np.copyto(sub, np.roll(src, t, axis=1), where=empty)
    out[rows] = sub
    return out


def sig_to_reg32(sig: np.ndarray) -> np.ndarray:
    """uint64 MinHash registers -> int32 wire registers (order- and
    equality-preserving): keep the high 32 bits, then flip the sign bit so
    unsigned order survives the int32 reinterpretation. Halves signature
    bytes on every shuffle (the estimate prefilter joins both sides of each
    candidate pair); equal 64-bit registers stay equal, unequal ones
    collide with P = 2^-32 per register — noise far below the match-
    fraction estimator's own variance. min/least stays correct because
    truncation is monotone non-decreasing (min commutes with it)."""
    return ((sig >> U64(32)) ^ U64(0x80000000)).astype(U64).astype(np.uint32).view(np.int32)


def simhash_from_signature(sig: np.ndarray) -> np.ndarray:
    """64-bit fingerprint from a signature matrix (n, P): majority vote of
    each bit across the mixed registers — a b-bit-minwise-style fingerprint
    whose Hamming distance tracks (1 - J)/2 per bit. Replaces per-window
    SimHash on the hot path (O(P) per doc instead of O(windows)); the
    set-based simhash64() kernel remains for callers that want the
    classic variant. Empty rows -> 0."""
    n, p = sig.shape
    m = mix64(sig.reshape(-1)).reshape(n, p)
    fp = np.zeros(n, dtype=U64)
    for b in range(64):
        votes = ((m >> U64(b)) & U64(1)).sum(axis=1)
        fp |= ((2 * votes) >= p).astype(U64) << U64(b)
    fp = np.where((sig != EMPTY_MIN).any(axis=1), fp, U64(0))
    return fp.view(np.int64)


# ------------------------------------------------------------------- HLL

def _rank_fields(hashes: np.ndarray, p: int, seed: int):
    """(register index, rank) per element: j = top p bits, rank = clz of
    the remaining bits + 1, capped at 64-p+1 (A3 analog, utils.rs:406-413)."""
    h = hash_with_seed(hashes, seed)
    j = (h >> U64(64 - p)).astype(np.int64)
    w = h << U64(p)  # remaining 64-p bits, left-aligned
    rank = np.minimum(clz64(w) + 1, 64 - p + 1).astype(np.int64)
    return j, rank


def hll_registers(hashes: np.ndarray, p: int, seed: int) -> np.ndarray:
    """HyperLogLog register array (2^p int8-range values in an int32 array);
    register[j] = max rank."""
    m = 1 << p
    regs = np.zeros(m, dtype=np.int32)
    if hashes.size == 0:
        return regs
    j, rank = _rank_fields(hashes, p, seed)
    np.maximum.at(regs, j, rank.astype(np.int32))
    return regs


def hll_registers_segments(h: np.ndarray, seg: np.ndarray, p: int, seed: int) -> np.ndarray:
    """Batch HLL: flat element-hash segments -> (n_docs, 2^p) int32 register
    matrix in ONE scatter pass over all documents — no per-document Python
    dispatch (the register analog of oph_signatures_segments)."""
    n = seg.shape[0] - 1
    m = 1 << p
    regs = np.zeros(n * m, dtype=np.int32)
    if h.size:
        j, rank = _rank_fields(h, p, seed)
        row = np.repeat(np.arange(n, dtype=np.int64), np.diff(seg))
        np.maximum.at(regs, row * m + j, rank.astype(np.int32))
    return regs.reshape(n, m)


def hll_cardinality(regs: np.ndarray, estimator: str = "default") -> float:
    """A5 analog of ``hll.len()`` with the reference's ``-e`` estimator
    choice (main.rs:143-151): ``default`` = harmonic mean with linear-
    counting small-range correction; ``mle`` = Poisson maximum-likelihood
    over the register histogram (Ertl 2017, arXiv:1702.01284 §3)."""
    if estimator == "mle":
        return hll_cardinality_mle(regs)
    m = regs.shape[0]
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    est = alpha * m * m / np.sum(np.exp2(-regs.astype(np.float64)))
    zeros = int(np.count_nonzero(regs == 0))
    if est <= 2.5 * m and zeros > 0:
        est = m * np.log(m / zeros)  # linear counting
    return float(est)


def hll_cardinality_batch(regs: np.ndarray) -> np.ndarray:
    """Vectorized default estimator over a (n_docs, m) register matrix —
    computes the cached ``card_est`` column (S4/S5 analog of the
    reference's load-time ``hll.len()`` caching, utils.rs:214-222)."""
    n, m = regs.shape
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    est = alpha * m * m / np.exp2(-regs.astype(np.float64)).sum(axis=1)
    zeros = (regs == 0).sum(axis=1).astype(np.float64)
    with np.errstate(divide="ignore"):
        linear = m * np.log(np.where(zeros > 0, m / np.maximum(zeros, 1e-300), 1.0))
    return np.where((est <= 2.5 * m) & (zeros > 0), linear, est)


def _poisson_mle(rates: np.ndarray, n_present: np.ndarray, n_absent: np.ndarray,
                 m: int) -> float:
    """Maximize sum over observation classes of
    [n_absent · (-λ·rate) + n_present · log(1 - exp(-λ·rate))] over λ > 0
    (per-register Poisson arrival model; Ertl 2017 §3). The derivative is
    strictly decreasing in λ, so bisection finds the unique root. Returns
    the cardinality estimate n̂ = λ̂ · m."""
    if n_present.sum() == 0:
        return 0.0

    def dldl(lam: float) -> float:
        x = lam * rates
        # rate·exp(-x)/(1-exp(-x)) = rate/(exp(x)-1), stable via expm1
        with np.errstate(over="ignore"):
            gain = n_present * rates / np.expm1(np.minimum(x, 700.0))
        return float((gain - n_absent * rates).sum())

    lo, hi = 1e-12, 1.0
    while dldl(hi) > 0 and hi < 1e18:
        lo, hi = hi, hi * 4.0
    for _ in range(100):
        mid = 0.5 * (lo + hi)
        if dldl(mid) > 0:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi) * m


def hll_cardinality_mle(regs: np.ndarray, p: int | None = None) -> float:
    """Poisson MLE from HLL register values. Register with value q
    contributes: no element of rank > q (absence at rate 2^-q) AND at least
    one element of rank q (presence at rate 2^-q); q = 0 means the register
    saw nothing (absence at total rate 1); the saturated value Q = 64-p+1
    contributes presence at rate 2^-(Q-1) only."""
    m = regs.shape[0]
    p = p if p is not None else int(np.log2(m))
    q_max = 64 - p + 1
    counts = np.bincount(regs.astype(np.int64), minlength=q_max + 1).astype(np.float64)
    rates, n_pres, n_abs = [], [], []
    if counts[0]:
        rates.append(1.0); n_pres.append(0.0); n_abs.append(counts[0])
    for q in range(1, q_max):
        if counts[q]:
            rates.append(2.0 ** -q); n_pres.append(counts[q]); n_abs.append(counts[q])
    if counts[q_max]:
        rates.append(2.0 ** -(q_max - 1)); n_pres.append(counts[q_max]); n_abs.append(0.0)
    return _poisson_mle(np.array(rates), np.array(n_pres), np.array(n_abs), m)


def register_union(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Sketch union = element-wise max (U2/U3 — utils.rs:260-262,355-358)."""
    return np.maximum(a, b)


def inclusion_exclusion_jaccard(card_a: float, card_b: float, card_u: float) -> float:
    """U4 (utils.rs:273-274,362): J = max(0, (a + b - u) / u)."""
    if card_u <= 0:
        return 0.0
    return max(0.0, (card_a + card_b - card_u) / card_u)


# ------------------------------------------------------------------- ULL

def ull_registers(hashes: np.ndarray, p: int, seed: int) -> np.ndarray:
    """UltraLogLog registers (A4 analog, utils.rs:421-429), Ertl's layout
    (arXiv:2308.16862): u = (q << 2) | d1 | d0 where q is the max rank and
    the two extra bits record whether ranks q-1 (d1, bit 1) and q-2
    (d0, bit 0) were also observed — the information the FGRA/MLE
    estimators exploit. 0 = empty. Not bit-compatible with the Rust crate
    (the contract is the algebra, not the layout)."""
    return ull_registers_segments(
        hashes, np.array([0, hashes.size], dtype=np.int64), p, seed
    )[0]


def ull_registers_segments(h: np.ndarray, seg: np.ndarray, p: int, seed: int) -> np.ndarray:
    """Batch ULL: three scatter passes over the flat element stream
    (max-rank, then presence of q-1 / q-2 given the final q)."""
    n = seg.shape[0] - 1
    m = 1 << p
    q = np.zeros(n * m, dtype=np.int64)
    if h.size:
        j, rank = _rank_fields(h, p, seed)
        flat = np.repeat(np.arange(n, dtype=np.int64), np.diff(seg)) * m + j
        np.maximum.at(q, flat, rank)
        qf = q[flat]
        d1 = np.zeros(n * m, dtype=bool)
        d0 = np.zeros(n * m, dtype=bool)
        np.logical_or.at(d1, flat[rank == qf - 1], True)
        np.logical_or.at(d0, flat[rank == qf - 2], True)
        # d bits are only meaningful when the referenced rank >= 1
        d1 &= q >= 2
        d0 &= q >= 3
        out = (q << 2) | (d1.astype(np.int64) << 1) | d0.astype(np.int64)
    else:
        out = q
    return out.astype(np.int32).reshape(n, m)


def _ull_fields(u: np.ndarray):
    return u >> 2, (u >> 1) & 1, u & 1


def ull_union(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact ULL merge: q = max(qa, qb); the merged q-1/q-2 presence bits
    collect every rank the two presence sets {q, q-1 if d1, q-2 if d0}
    contain (utils.rs:355-358 analog with extra-bit bookkeeping)."""
    qa, d1a, d0a = _ull_fields(a.astype(np.int64))
    qb, d1b, d0b = _ull_fields(b.astype(np.int64))
    q = np.maximum(qa, qb)

    def contains(r, qx, d1x, d0x):
        return ((qx >= 1) & (qx == r)) | ((d1x == 1) & (qx - 1 == r)) | (
            (d0x == 1) & (qx - 2 == r)
        )

    d1 = (contains(q - 1, qa, d1a, d0a) | contains(q - 1, qb, d1b, d0b)) & (q >= 2)
    d0 = (contains(q - 2, qa, d1a, d0a) | contains(q - 2, qb, d1b, d0b)) & (q >= 3)
    return ((q << 2) | (d1.astype(np.int64) << 1) | d0.astype(np.int64)).astype(np.int32)


# ---- FGRA (further generalized remaining area), the reference's default
# `-e fgra` (main.rs:143-151; Ertl's UltraLogLog estimator family,
# arXiv:2308.16862). Statistic per register: area(u)^tau where area(u) is
# the hash-space mass that would CHANGE state u = (q, d1, d0):
#   area = [q<q_max]*2^-q + (1-d1)*2^-(q-1)*[q>=2] + (1-d0)*2^-(q-2)*[q>=3]
# (empty register: 1; saturated with both bits: 0). Closed form:
#   n_hat = m * (C * m / S)^(1/tau),  S = sum_k area(u_k)^tau
# with HLL-style linear counting below the crossover. C is calibrated at
# import per precision by EXACT Poisson expectation of the statistic
# (tools/fgra_calibrate.py derives + validates: bias <= 1.4%, RMSE ~2.4%
# at p=10 across n = 50..10^6, on par with the MLE at ~1/100 the compute) —
# same information as Ertl's published coefficient tables, calibrated
# directly instead of copying the paper's asymptotic-series constants.

FGRA_TAU = 0.65


def _fgra_psi(lam: np.ndarray, p: int, tau: float) -> np.ndarray:
    """Exact E[area(u)^tau] per register under the Poisson model (rank-j
    arrivals at rate lam*2^-j; rank q_max absorbs the tail at 2^-(q_max-1))."""
    q_max = 64 - p + 1
    lam = np.asarray(lam, dtype=np.float64)[:, None]
    j = np.arange(1, q_max + 1)
    rates = np.where(j < q_max, 2.0 ** -j.astype(np.float64), 2.0 ** -(q_max - 1))[None, :]
    pj = -np.expm1(-lam * rates)
    log1m = np.log1p(-np.minimum(pj, 1.0 - 1e-15))
    surv = np.exp(np.cumsum(log1m[:, ::-1], axis=1)[:, ::-1])  # prod_{i>=j}(1-p_i)
    surv_gt = np.concatenate([surv[:, 1:], np.ones_like(surv[:, :1])], axis=1)
    p_q = pj * surv_gt  # P(max rank == j)
    out = np.exp(-lam[:, 0])
    zero = np.zeros_like(lam[:, 0])
    one = np.ones_like(lam[:, 0])
    for idx, jj in enumerate(j):
        base = 2.0 ** -float(jj) if jj < q_max else 0.0
        t1 = 2.0 ** -(jj - 1.0)
        t0 = 2.0 ** -(jj - 2.0)
        p1 = pj[:, idx - 1] if jj >= 2 else zero
        p0 = pj[:, idx - 2] if jj >= 3 else zero
        e = np.zeros_like(lam[:, 0])
        for d1 in (0, 1):
            w1 = (p1 if d1 else 1 - p1) if jj >= 2 else (one if d1 == 0 else zero)
            for d0 in (0, 1):
                w0 = (p0 if d0 else 1 - p0) if jj >= 3 else (one if d0 == 0 else zero)
                area = base
                if jj >= 2 and not d1:
                    area += t1
                if jj >= 3 and not d0:
                    area += t0
                e += w1 * w0 * (area ** tau)
        out += p_q[:, idx] * e
    return out


@lru_cache(maxsize=None)
def fgra_constant(p: int, tau: float = FGRA_TAU) -> float:
    """C(p, tau): median of lam^tau * psi(lam) over the mid/large range
    (the closed form's calibration constant; spread over the range is the
    worst-case bias — 2.3% at tau=0.65, p=10)."""
    lam = np.geomspace(3.0, 1000.0, 60)
    return float(np.median(lam ** tau * _fgra_psi(lam, p, tau)))


@lru_cache(maxsize=None)
def _fgra_w_table(p: int, tau: float = FGRA_TAU) -> np.ndarray:
    """area(u)^tau for every possible packed register value u."""
    q_max = 64 - p + 1
    u = np.arange((q_max << 2) + 4, dtype=np.int64)
    q, d1, d0 = _ull_fields(u)
    area = (
        np.where((q >= 1) & (q < q_max), 2.0 ** -q.astype(np.float64), 0.0)
        + np.where(q == 0, 1.0, 0.0)
        + (1 - d1) * np.where(q >= 2, 2.0 ** -(q - 1.0), 0.0)
        + (1 - d0) * np.where(q >= 3, 2.0 ** -(q - 2.0), 0.0)
    )
    return area ** tau


def ull_cardinality_fgra_batch(regs: np.ndarray, p: int) -> np.ndarray:
    """Vectorized FGRA over an (n_docs, m) ULL register matrix: one table
    gather + row sum per batch — the ULL analog of hll_cardinality_batch
    (no per-doc Python, no bisection)."""
    w = _fgra_w_table(p)
    n, m = regs.shape
    s = w[regs].sum(axis=1)
    c = fgra_constant(p)
    with np.errstate(divide="ignore", over="ignore"):
        raw = m * (c * m / s) ** (1.0 / FGRA_TAU)
    zeros = (regs == 0).sum(axis=1).astype(np.float64)
    with np.errstate(divide="ignore"):
        linear = m * np.log(np.where(zeros > 0, m / np.maximum(zeros, 1e-300), 1.0))
    return np.where((raw <= 2.5 * m) & (zeros > 0), linear, raw)


def ull_cardinality(regs: np.ndarray, p: int | None = None, estimator: str = "fgra") -> float:
    """A5 with the ``-e fgra|mle`` choice (main.rs:143-151): ``fgra`` is
    the closed-form remaining-area estimator above (the reference default);
    ``mle`` solves the full-state Poisson likelihood over (q, d1, d0) — the
    extra bits enter as independent presence/absence observations at rates
    2^-(q-1) and 2^-(q-2). ``rank`` falls back to the harmonic HLL
    estimator on q alone."""
    m = regs.shape[0]
    p = p if p is not None else int(np.log2(m))
    if estimator == "fgra":
        return float(ull_cardinality_fgra_batch(regs.reshape(1, -1), p)[0])
    q, d1, d0 = _ull_fields(regs.astype(np.int64))
    if estimator == "rank":
        return hll_cardinality(q.astype(np.int32))
    q_max = 64 - p + 1
    rates, n_pres, n_abs = [], [], []
    empty = float(np.count_nonzero(q == 0))
    if empty:
        rates.append(1.0); n_pres.append(0.0); n_abs.append(empty)
    for qq in range(1, q_max + 1):
        sel = q == qq
        nq = float(np.count_nonzero(sel))
        if not nq:
            continue
        if qq < q_max:
            rates.append(2.0 ** -qq); n_pres.append(nq); n_abs.append(nq)
        else:  # saturated: only presence at rate 2^-(q_max-1)
            rates.append(2.0 ** -(q_max - 1)); n_pres.append(nq); n_abs.append(0.0)
        if qq >= 2:  # d1 observes rank q-1 at rate 2^-(q-1)
            p1 = float(np.count_nonzero(sel & (d1 == 1)))
            rates.append(2.0 ** -(qq - 1)); n_pres.append(p1); n_abs.append(nq - p1)
        if qq >= 3:  # d0 observes rank q-2 at rate 2^-(q-2)
            p0 = float(np.count_nonzero(sel & (d0 == 1)))
            rates.append(2.0 ** -(qq - 2)); n_pres.append(p0); n_abs.append(nq - p0)
    return _poisson_mle(np.array(rates), np.array(n_pres), np.array(n_abs), m)


# ------------------------------------------------------------------- HMH

def hmh_registers(hashes: np.ndarray, p: int, seed: int, r_bits: int = 16) -> np.ndarray:
    """HyperMinHash-style registers: per 2^p bucket keep (max LZ rank,
    min r_bits sub-hash) — "MinHash in LogLog space" (A2, utils.rs:395-398;
    Yu & Weber 2020).

    Encoded so element-wise MAX is the union: value = (rank << r_bits) |
    (MASK - sub). Higher rank wins; equal rank -> smaller sub wins.
    0 = empty bucket.
    """
    m = 1 << p
    regs = np.zeros(m, dtype=np.int32)
    if hashes.size == 0:
        return regs
    h = hash_with_seed(hashes, seed)
    j = (h >> U64(64 - p)).astype(np.int64)
    w = h << U64(p)
    rank = np.minimum(clz64(w) + 1, 64 - p + 1).astype(np.int64)
    sub = (h & U64((1 << r_bits) - 1)).astype(np.int64)
    mask = (1 << r_bits) - 1
    enc = ((rank << r_bits) | (mask - sub)).astype(np.int32)
    np.maximum.at(regs, j, enc)
    return regs


def hmh_registers_segments(
    h: np.ndarray, seg: np.ndarray, p: int, seed: int, r_bits: int = 16
) -> np.ndarray:
    """Batch HMH: one scatter-max pass over the flat element stream."""
    n = seg.shape[0] - 1
    m = 1 << p
    regs = np.zeros(n * m, dtype=np.int32)
    if h.size:
        hh = hash_with_seed(h, seed)
        j = (hh >> U64(64 - p)).astype(np.int64)
        rank = np.minimum(clz64(hh << U64(p)) + 1, 64 - p + 1).astype(np.int64)
        sub = (hh & U64((1 << r_bits) - 1)).astype(np.int64)
        mask = (1 << r_bits) - 1
        enc = ((rank << r_bits) | (mask - sub)).astype(np.int32)
        flat = np.repeat(np.arange(n, dtype=np.int64), np.diff(seg)) * m + j
        np.maximum.at(regs, flat, enc)
    return regs.reshape(n, m)


def hmh_jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """HMH similarity ≈ fraction of equal non-empty registers over buckets
    occupied in either (the reference's ``q.similarity(r)`` register-wise
    ratio, utils.rs:164)."""
    either = (a != 0) | (b != 0)
    n = int(np.count_nonzero(either))
    if n == 0:
        return 0.0
    match = int(np.count_nonzero((a == b) & either))
    return match / n


# --------------------------------------------------------------- SimHash

def simhash64(hashes: np.ndarray) -> int:
    """64-bit SimHash of a hash set (O3 — no reference counterpart).

    bit_i = sign of sum over elements of (2*bit_i(h) - 1). Returns int64
    (two's-complement view of the uint64 fingerprint).
    """
    if hashes.size == 0:
        return 0
    bits = (hashes[:, None] >> np.arange(64, dtype=U64)[None, :]) & U64(1)
    counts = bits.sum(axis=0, dtype=np.int64)
    fp = np.uint64(0)
    ge = (2 * counts) >= hashes.size
    fp = np.bitwise_or.reduce(np.where(ge, np.uint64(1) << np.arange(64, dtype=U64), U64(0)))
    return int(np.int64(fp.astype(np.uint64)))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


# ------------------------------------------------------------- LSH bands

def band_hashes(sig: np.ndarray, bands: int, rows: int, seed: int) -> np.ndarray:
    """Fold an n-permutation signature into b band hashes (O1).

    band_hash[i] = mix of the band's r registers + band index, so identical
    bands from different band positions never collide.
    """
    n = bands * rows
    assert sig.shape[-1] >= n
    s = sig[..., :n].reshape(*sig.shape[:-1], bands, rows).astype(U64)
    acc = np.full(s.shape[:-1], U64(seed & 0xFFFFFFFFFFFFFFFF), dtype=U64)
    for j in range(rows):
        acc = mix64(acc * np.uint64(0x100000001B3) ^ s[..., j])
    acc = mix64(acc ^ (np.arange(bands, dtype=U64) * np.uint64(0x9E3779B97F4A7C15)))
    return acc
