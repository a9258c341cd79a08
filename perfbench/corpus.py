"""Seeded, single-process corpus generator and ground-truth oracle.

Builds one workload's documents from a seed with numpy and pyarrow only (no
Spark): every document is a ``(url, text)`` row of lowercase ASCII words
separated by single spaces, so the engine's version-1 normalization
(lowercase, collapse whitespace, trim) leaves the text unchanged and a
character 16-gram is a byte 16-gram.

Planted structure, shaped by ``Shape``:

- near-duplicate families: a base document and members that substitute a
  small share of its words; some families use a large edit rate instead
  (negatives, far below the 0.8 threshold);
- exact-duplicate groups: byte-identical texts under distinct urls;
- one template family: a shared boilerplate block plus a short unique tail
  per member (drives the LSH salt/star tiers and the substring hot buckets);
- one boilerplate page: a short (< 256 chars) page served byte-identical
  under many urls, like a soft-404 or cookie wall (LSH star tier, exact-dup
  star edges, a giant connected component);
- substring carriers: unique documents that embed one of a few long shared
  blocks (found by the exact-substring pass only);
- unique documents.

The ground truth is every pair inside a near-duplicate family or an exact
group whose exact Jaccard over character 16-gram sets is >= 0.8, computed
here with Python string sets (independent of ``lash_spark.hashing``). The
template family and the boilerplate page are excluded from the pair truth:
star-linked buckets emit a connected subset, not every pair, so the check
there is that each lands in one cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHINGLE_K = 16
THRESHOLD = 0.8


@dataclass(frozen=True)
class Shape:
    n_docs: int
    words: tuple[int, int]  # per-document word count range [lo, hi)
    neardup_share: float
    cluster_sizes: tuple[int, ...]
    edit_rate: tuple[float, float]  # per-member substitution rate range
    negative_every: int  # every Nth near-dup family is a far negative
    exact_share: float
    exact_sizes: tuple[int, ...]
    template_share: float
    template_words: int  # boilerplate block length in words
    template_tail: int  # unique tail length in words per template member
    substring_share: float
    boilerplate_share: float = 0.0
    boilerplate_words: int = 30


def _vocab() -> np.ndarray:
    """Fixed 4000-word ASCII vocabulary (independent of the seed)."""
    r = np.random.default_rng(20260101)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < 4000:
        n = int(r.integers(2, 10))
        words.add("".join(r.choice(letters, n)))
    return np.array(sorted(words), dtype=object)


_VOCAB = _vocab()
# Zipf-like word frequencies: common words recur across unrelated documents,
# as in web text, so unrelated documents share some shingles
_CDF = np.cumsum(1.0 / (np.arange(_VOCAB.size) + 20.0))
_CDF /= _CDF[-1]


def _words(r: np.random.Generator, n: int) -> np.ndarray:
    return np.searchsorted(_CDF, r.random(n)).astype(np.int32)


def _text(idx: np.ndarray) -> str:
    return " ".join(_VOCAB[idx].tolist())


def _mutate(r: np.random.Generator, base: np.ndarray, rate: float) -> np.ndarray:
    out = base.copy()
    mask = r.random(out.size) < rate
    out[mask] = _words(r, int(mask.sum()))
    return out


def shingles(text: str) -> frozenset:
    """Oracle: the set of character 16-grams of the normalized text."""
    norm = " ".join(text.lower().split())
    return frozenset(norm[i : i + SHINGLE_K] for i in range(len(norm) - SHINGLE_K + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def generate(shape: Shape, seed: int) -> dict:
    """Documents plus planted structure for ``seed``. Returns
    ``{"urls", "texts", "families", "exact_groups", "template",
    "boilerplate"}`` where the
    group entries list row indices."""
    r = np.random.default_rng(np.random.PCG64([seed, 7]))
    n = shape.n_docs
    n_template = int(n * shape.template_share)
    n_exact = int(n * shape.exact_share)
    n_near = int(n * shape.neardup_share)
    n_sub = int(n * shape.substring_share)
    n_boiler = int(n * shape.boilerplate_share)

    texts: list[str] = []
    families: list[list[int]] = []
    exact_groups: list[list[int]] = []

    def new_doc():
        return _words(r, int(r.integers(*shape.words)))

    # near-duplicate families
    fam = 0
    while sum(len(f) for f in families) < n_near:
        size = shape.cluster_sizes[fam % len(shape.cluster_sizes)]
        size = min(size, n_near - sum(len(f) for f in families))
        if size < 2:
            break
        base = new_doc()
        negative = shape.negative_every and fam % shape.negative_every == 0
        members = []
        for m in range(size):
            if m == 0:
                w = base
            elif negative:
                w = _mutate(r, base, 0.35)
            else:
                w = _mutate(r, base, float(r.uniform(*shape.edit_rate)))
            members.append(len(texts))
            texts.append(_text(w))
        families.append(members)
        fam += 1

    # exact-duplicate groups
    g = 0
    while sum(len(x) for x in exact_groups) < n_exact:
        size = shape.exact_sizes[g % len(shape.exact_sizes)]
        size = min(size, n_exact - sum(len(x) for x in exact_groups))
        if size < 2:
            break
        t = _text(new_doc())
        exact_groups.append(list(range(len(texts), len(texts) + size)))
        texts.extend([t] * size)
        g += 1

    # template family: shared boilerplate block + short unique tail
    block = _text(_words(r, shape.template_words))
    template = []
    for _ in range(n_template):
        template.append(len(texts))
        texts.append(block + " " + _text(_words(r, shape.template_tail)))

    # boilerplate page: one short text under many urls
    page = _text(_words(r, shape.boilerplate_words))
    boilerplate = list(range(len(texts), len(texts) + n_boiler))
    texts.extend([page] * n_boiler)

    # substring carriers: unique docs embedding one of 4 long shared blocks
    blocks = [_text(_words(r, 60)) for _ in range(4)]
    for j in range(n_sub):
        w = _text(new_doc()).split(" ")
        cut = len(w) // 2
        texts.append(" ".join(w[:cut] + [blocks[j % 4]] + w[cut:]))

    while len(texts) < n:
        texts.append(_text(new_doc()))

    # shuffle row order so families spread across files/partitions; urls
    # carry a host prefix like crawl output
    perm = r.permutation(n)
    inv = np.empty(n, dtype=np.int64)
    inv[perm] = np.arange(n)
    texts = [texts[i] for i in perm]
    urls = [f"https://site{int(h)}.example/p/{i:07d}" for i, h in enumerate(r.integers(0, 500, n))]

    def remap(groups):
        return [sorted(int(inv[i]) for i in grp) for grp in groups]

    return {
        "urls": urls,
        "texts": texts,
        "families": remap(families),
        "exact_groups": remap(exact_groups),
        "template": sorted(int(inv[i]) for i in template),
        "boilerplate": sorted(int(inv[i]) for i in boilerplate),
    }


def truth_pairs(corpus: dict) -> list[list]:
    """Every within-family / within-exact-group pair at exact J >= 0.8, as
    sorted ``[url_a, url_b, jaccard]`` with url_a < url_b."""
    urls, texts = corpus["urls"], corpus["texts"]
    out = []
    for grp in corpus["families"] + corpus["exact_groups"]:
        sets = {i: shingles(texts[i]) for i in grp}
        for x in range(len(grp)):
            for y in range(x + 1, len(grp)):
                i, j = grp[x], grp[y]
                jac = jaccard(sets[i], sets[j])
                if jac >= THRESHOLD:
                    a, b = sorted((urls[i], urls[j]))
                    out.append([a, b, jac])
    out.sort()
    return out


def materialize(shape: Shape, seed: int, root: str, n_drops: int = 1) -> dict:
    """Write the corpus for ``seed`` under ``root`` (once; later calls read
    the cached copy) and return its manifest: parquet paths (one directory
    per drop), input text bytes, planted groups as urls, the truth pairs
    and the generation time of the run that built it."""
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            man = json.load(f)
        # compare through JSON: tuples in the shape come back as lists
        same = json.loads(json.dumps(asdict(shape))) == man.get("shape")
        if same and man.get("n_drops") == n_drops:
            man["cached"] = True
            return man
    # a different shape (or a torn earlier write): rebuild from scratch, so
    # no file recorded against the old corpus survives
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    corpus = generate(shape, seed)
    truth = truth_pairs(corpus)
    urls, texts = corpus["urls"], corpus["texts"]
    os.makedirs(root, exist_ok=True)
    # drops: equal slices of the url-hash order, so every planted family
    # spans several drops and every drop has the same number of documents
    order = sorted(range(len(urls)), key=lambda i: hash_url(urls[i]))
    drops = []
    for d in range(n_drops):
        rows = sorted(order[d * len(urls) // n_drops : (d + 1) * len(urls) // n_drops])
        ddir = os.path.join(root, f"drop{d}")
        os.makedirs(ddir, exist_ok=True)
        table = pa.table(
            {"url": [urls[i] for i in rows], "text": [texts[i] for i in rows]}
        )
        pq.write_table(table, os.path.join(ddir, "part-00000.parquet"))
        drops.append(ddir)
    man = {
        "shape": asdict(shape),
        "seed": seed,
        "n_drops": n_drops,
        "n_docs": len(urls),
        "input_bytes": sum(len(t.encode()) for t in texts),
        "drops": drops,
        "exact_groups": [[urls[i] for i in g] for g in corpus["exact_groups"]],
        "template": [urls[i] for i in corpus["template"]],
        "boilerplate": [urls[i] for i in corpus["boilerplate"]],
        "truth": truth,
        "gen_s": time.perf_counter() - t0,
    }
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f)
    os.replace(tmp, manifest_path)
    man["cached"] = False
    return man


def hash_url(url: str) -> int:
    """Stable (process-independent) url hash for drop assignment."""
    h = 1469598103934665603
    for ch in url.encode():
        h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def load_texts(man: dict) -> dict:
    """url -> text over every drop of a materialized corpus."""
    out = {}
    for d in man["drops"]:
        t = pq.read_table(d)
        out.update(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
    return out
