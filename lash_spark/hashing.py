"""Vectorized 64-bit hashing kernels (numpy, no external hash libs).

The reference uses seeded xxh3 (``/root/reference/src/hasher.rs:4-17``,
``src/utils.rs:397,412,428``). Bit-compatibility with xxh3 is NOT required
(the acceptance bar is dup-pair recall vs fixtures at the same config, not
hash equality — SURVEY.md §2.2 T7), so we use a splitmix64-family
multiply–xor–shift mixer that vectorizes cleanly in numpy.

All functions operate on uint64 arrays with modular (wrapping) arithmetic.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_M1 = U64(0xBF58476D1CE4E5B9)
_M2 = U64(0x94D049BB133111EB)
_GOLDEN = U64(0x9E3779B97F4A7C15)
_ROLL_BASE = U64(0x100000001B3)  # FNV-ish odd multiplier for rolling window


def mix64(x: np.ndarray | int) -> np.ndarray:
    """splitmix64 finalizer: bijective 64-bit mixer (wrapping uint64)."""
    x = np.atleast_1d(np.asarray(x, dtype=U64))
    with np.errstate(over="ignore"):
        x = x ^ (x >> U64(30))
        x = x * _M1
        x = x ^ (x >> U64(27))
        x = x * _M2
        return x ^ (x >> U64(31))


def perm_keys(num_perm: int, seed: int) -> np.ndarray:
    """Per-permutation xor keys, seeded (analog of the reference's
    per-run seed, main.rs:94 default 42)."""
    idx = np.arange(1, num_perm + 1, dtype=np.uint64)
    return mix64(idx * _GOLDEN + U64(seed & 0xFFFFFFFFFFFFFFFF))


def hash_with_seed(values: np.ndarray, seed: int) -> np.ndarray:
    """Seeded element hash (T7 analog of xxh3_64_with_seed)."""
    return mix64(np.asarray(values, dtype=U64) ^ mix64(U64(seed & 0xFFFFFFFFFFFFFFFF)))


def clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64, vectorized (clz(0) = 64)."""
    x = np.asarray(x, dtype=U64)
    n = np.zeros(x.shape, dtype=np.int64)
    y = x.copy()
    for b in (32, 16, 8, 4, 2, 1):
        mask = y < (U64(1) << U64(64 - b))
        n = np.where(mask, n + b, n)
        y = np.where(mask, y << U64(b), y)
    return np.where(x == 0, 64, n)


def rolling_window_hashes(buf: np.ndarray, k: int) -> np.ndarray:
    """Hashes of every length-k byte window of ``buf`` (len n -> n-k+1).

    Polynomial window hash via logarithmic doubling — h_{2w}[i] =
    h_w[i]*B^w + h_w[i+w] — so a width-k window costs ceil(log2 k)+popcount
    passes over the buffer instead of k (this sandbox is memory-bandwidth
    bound, so pass count is the cost model). Then mix64. Equivalent result
    to the naive left-to-right polynomial with the same base. The text
    analog of the reference's 2-bit-packed k-mer windows (utils.rs:464-502).
    """
    n = buf.shape[0]
    if n < k:
        return np.empty(0, dtype=U64)
    with np.errstate(over="ignore"):
        h = buf.astype(U64)  # width-1 hashes
        width = 1
        powers = {1: _ROLL_BASE}
        # decompose k into binary: combine power-of-two width blocks
        out = None
        out_w = 0
        rem = k
        # build power-of-two tables up to k, combining greedily from the
        # highest bit so the result equals the naive polynomial
        blocks = []  # (width, hash-array at that width)
        w = 1
        cur = h
        blocks.append((1, cur))
        while w * 2 <= k:
            bw = U64((pow(int(_ROLL_BASE), w, 1 << 64)))
            nxt = cur[: cur.shape[0] - w] * bw + cur[w:]
            cur = nxt
            w *= 2
            blocks.append((w, cur))
        for bwidth, bh in reversed(blocks):
            if rem < bwidth:
                continue
            if out is None:
                out = bh[: n - k + 1]
                out_w = bwidth
            else:
                bmul = U64(pow(int(_ROLL_BASE), bwidth, 1 << 64))
                out = out * bmul + bh[out_w : out_w + n - k + 1]
                out_w += bwidth
            rem -= bwidth
        return mix64(out)


def batch_window_hash_segments(
    texts: "list[bytes]", k: int
) -> "tuple[np.ndarray, np.ndarray]":
    """Per-document char k-gram window hashes (multiset, document order) for
    a whole Arrow batch, as flat segment arrays: (hashes, seg_offsets) where
    document i's window hashes are hashes[seg_offsets[i]:seg_offsets[i+1]].

    Linear vector ops only: one concatenated byte buffer, one rolling-hash
    pass, one gather — no sorting (a global lexsort profiled at ~0.7 s per
    1M windows; MinHash needs no dedup at all since min over a multiset
    equals min over its set). Windows crossing document boundaries are
    excluded by construction; documents shorter than k yield empty segments
    (the reference's min-length guard, utils.rs:460-462).
    """
    n_docs = len(texts)
    empty = (np.empty(0, dtype=U64), np.zeros(n_docs + 1, dtype=np.int64))
    if n_docs == 0:
        return empty
    lens = np.fromiter((len(t) for t in texts), count=n_docs, dtype=np.int64)
    counts = np.maximum(lens - k + 1, 0)
    seg = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=seg[1:])
    total = int(seg[-1])
    if total == 0:
        return empty
    byte_offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=byte_offsets[1:])
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    all_h = rolling_window_hashes(buf, k)
    within = np.arange(total, dtype=np.int64) - np.repeat(seg[:-1], counts)
    h = all_h[within + np.repeat(byte_offsets[:-1], counts)]
    return h, seg


def batch_shingle_hash_segments(
    texts: "list[bytes]", k: int
) -> "tuple[np.ndarray, np.ndarray]":
    """Per-document *unique sorted* k-gram hashes as flat segment arrays.

    Window hashing is batch-vectorized; dedup is a per-document np.unique
    over each (small) segment — O(m log m) per doc with tiny constants,
    far cheaper than one global multi-key sort. Used by the exact-Jaccard
    verify path (which needs set semantics); the signature stage uses the
    multiset variant above.
    """
    h, seg = batch_window_hash_segments(texts, k)
    n_docs = len(texts)
    if h.size == 0:
        return h, seg
    parts = [np.unique(h[seg[i] : seg[i + 1]]) for i in range(n_docs)]
    out_seg = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(np.fromiter((p.size for p in parts), count=n_docs, dtype=np.int64), out=out_seg[1:])
    return (np.concatenate(parts) if parts else np.empty(0, dtype=U64)), out_seg


def batch_shingle_hashes(
    texts: "list[bytes]", k: int, unique: bool = True
) -> "list[np.ndarray]":
    """List-of-arrays view (each document's sorted unique hashes, or raw
    window multiset when unique=False; empty array when len(text) < k)."""
    h, seg = (batch_shingle_hash_segments if unique else batch_window_hash_segments)(
        texts, k
    )
    return [h[seg[i] : seg[i + 1]] for i in range(len(texts))]
