"""Run parameters + compatibility validation + LSH planning.

Mirrors the reference's parameter map semantics (k / algorithm / precision /
seed recorded at sketch time, validated before the distance phase —
``/root/reference/src/main.rs:254-276,362-381``) and adds the LSH
band-planning the reference does not have (it does all-pairs).
"""

from __future__ import annotations

import json
import math
from dataclasses import asdict, dataclass, field

ALGORITHMS = ("minhash", "hll", "ull", "hmh", "simhash")
# On-disk signature layout version, folded into params_hash so a wire-format
# change invalidates existing signature tables / resume markers instead of
# silently mixing incompatible rows in one table. 2: int32 minhash
# registers (was array<long>). 3: no per-document `shingles` column in the
# `signatures` table or the stream store — shingle sets live in memory
# within one call or trigger, so a format-2 table (sets persisted) is
# rebuilt rather than resumed with set-less rows.
SIGNATURE_FORMAT = 3
# Reference numbering (main.rs:415-423): 0 = binomial, 1 = poisson
# (reference default). 2 is kept as a legacy alias of binomial so existing
# engine configs don't renumber.
DISTANCE_MODELS = (0, 1, 2)
ESTIMATORS = ("default", "fgra", "mle")  # -e analog (main.rs:143-151)


@dataclass(frozen=True)
class SketchParams:
    """Engine analog of the reference's ``*_parameters.json``.

    Defaults mirror the reference CLI defaults
    (``/root/reference/src/main.rs:55,74,84,94,159``): k=16, hmh→(we default
    to minhash as the primary signature, hmh available), precision=10,
    seed=42, poisson distance model. ``shingle_k`` is the *character*
    k-gram width — the text analog of the reference's k-mer k.
    """

    shingle_k: int = 16
    algorithm: str = "minhash"
    num_perm: int = 128          # MinHash signature length (power of two)
    precision: int = 10          # 2^p registers for hll/ull/hmh
    seed: int = 42
    distance_model: int = 1      # 0=binomial, 1=poisson (main.rs:415-423)
    estimator: str = "default"   # default | fgra | mle (-e, main.rs:143-151)
    normalize_version: int = 1   # frozen text-normalization version (1 | 2)
    # "oph": one-permutation hashing + rotation densification — O(windows)
    #        per doc, the 10^12-doc mode (Li et al. 2012 / Shrivastava 2017).
    # "kperm": classic k independent permutations — O(windows * num_perm),
    #        kept for small-batch parity and estimator comparisons.
    minhash_mode: str = "oph"

    def __post_init__(self) -> None:
        if self.algorithm not in ALGORITHMS:
            raise ValueError(f"unknown algorithm {self.algorithm!r}; one of {ALGORITHMS}")
        if not (1 <= self.shingle_k <= 64):
            raise ValueError("shingle_k must be in [1, 64]")
        if self.num_perm < 8 or self.num_perm % 8 != 0:
            raise ValueError("num_perm must be a multiple of 8, >= 8")
        if not (4 <= self.precision <= 16):
            raise ValueError("precision must be in [4, 16]")
        if self.distance_model not in DISTANCE_MODELS:
            # reference panics on unknown model (main.rs:421)
            raise ValueError(f"distance model must be one of {DISTANCE_MODELS}")
        if self.estimator not in ESTIMATORS:
            raise ValueError(f"estimator must be one of {ESTIMATORS}")
        if self.normalize_version not in (1, 2):
            raise ValueError("normalize_version must be 1 or 2")
        if self.minhash_mode not in ("oph", "kperm"):
            raise ValueError("minhash_mode must be 'oph' or 'kperm'")
        if self.minhash_mode == "oph" and (self.num_perm & (self.num_perm - 1)) != 0:
            raise ValueError("oph mode requires power-of-two num_perm")

    @property
    def num_registers(self) -> int:
        return 1 << self.precision

    def params_hash(self) -> str:
        """Stable content hash pinning the sketch-defining config (incl.
        normalization). ``estimator`` is deliberately EXCLUDED: like the
        reference's ``-e`` (a dist-time flag, main.rs:143-151), it changes
        how sketches are read, not what was written — switching estimators
        must not invalidate signature tables or resume markers."""
        import hashlib

        d = asdict(self)
        d.pop("estimator", None)
        d["signature_format"] = SIGNATURE_FORMAT
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "SketchParams":
        return cls(**json.loads(s))

    def validate_compatible(self, other: "SketchParams") -> None:
        """F6: k / algorithm / precision must match between two signature
        sets before any pair phase (reference panics — main.rs:368-381)."""
        if self.shingle_k != other.shingle_k:
            raise ValueError(
                f"kmer length of query and reference must match: "
                f"{self.shingle_k} != {other.shingle_k}"
            )
        if self.algorithm != other.algorithm:
            raise ValueError(
                f"sketching algorithm of query and reference must match: "
                f"{self.algorithm} != {other.algorithm}"
            )
        if self.algorithm in ("hll", "ull", "hmh") and self.precision != other.precision:
            raise ValueError(
                f"precision of query and reference must match: "
                f"{self.precision} != {other.precision}"
            )
        if self.algorithm == "minhash" and (
            self.num_perm != other.num_perm or self.minhash_mode != other.minhash_mode
        ):
            # minhash's "precision" is the signature length + construction
            # mode: band hashes and register equality are meaningless across
            # different (num_perm, mode) — the same class of mismatch the
            # reference panics on for register precision
            raise ValueError(
                f"minhash signature config of query and reference must match: "
                f"num_perm {self.num_perm} != {other.num_perm} "
                f"or mode {self.minhash_mode} != {other.minhash_mode}"
            )
        if self.seed != other.seed:
            raise ValueError(f"seed mismatch: {self.seed} != {other.seed}")
        if self.normalize_version != other.normalize_version:
            raise ValueError("normalization version mismatch — text invariant broken")


@dataclass(frozen=True)
class LshPlan:
    """(bands b, rows r) plan for MinHash LSH at a Jaccard threshold.

    The S-curve P(candidate | J=s) = 1 - (1 - s^r)^b. No reference
    counterpart (the reference does all-pairs); this is the engine-level
    planner SURVEY.md §4.2(4) calls for.
    """

    bands: int
    rows: int

    @property
    def num_perm(self) -> int:
        return self.bands * self.rows

    def candidate_probability(self, jaccard: float) -> float:
        return 1.0 - (1.0 - jaccard**self.rows) ** self.bands

    @classmethod
    def plan(cls, num_perm: int, threshold: float, min_recall: float = 0.99) -> "LshPlan":
        """Pick (b, r) with b*r = num_perm maximizing precision subject to
        P(candidate | J=threshold) >= min_recall (falls back to the highest-
        recall plan if none meets it)."""
        best = None
        for r in range(1, num_perm + 1):
            if num_perm % r:
                continue
            b = num_perm // r
            p = cls(b, r)
            rec = p.candidate_probability(threshold)
            # prefer: meets recall, then larger r (fewer junk candidates)
            key = (rec >= min_recall, r if rec >= min_recall else 0, rec)
            if best is None or key > best[0]:
                best = (key, p)
        assert best is not None
        return best[1]


@dataclass(frozen=True)
class PipelineConfig:
    """Full dedup-pipeline knobs (candidate generation + verify + cluster)."""

    params: SketchParams = field(default_factory=SketchParams)
    jaccard_threshold: float = 0.8
    lsh_min_recall: float = 0.995
    # hot-band skew tiers (SURVEY.md O2). Pair volume is quadratic in bucket
    # size, so tiers are sized by pair budget: <=max_band_bucket plain join
    # (<=32k pairs/bucket); <=star_threshold salted equi-join (<=130k
    # pairs/bucket spread over salt_buckets join keys); above that
    # boilerplate-class buckets are star-linked (linear volume,
    # connectivity preserved).
    max_band_bucket: int = 256
    salt_buckets: int = 8
    star_threshold: int = 512
    # largest per-bucket pair volume the salt tier may expand when a caller
    # leaves star_threshold derived (None) — plumbed through to
    # pairs_from_keys so pipelines can tune the salt->star boundary without
    # pinning an absolute member threshold (ADVICE r5)
    star_pair_budget: int = 8_000_000
    # degree cap for boilerplate mega-clusters (see verify_pairs); None =
    # emit the full pair set (fixture-recall workloads)
    max_pairs_per_doc: int | None = None
    # partition-granular candidate resume (O6): >1 splits the candidate
    # stage into this many band-group waves, each committed + manifested
    # independently (run_partitioned_stage), so a killed run loses at most
    # one wave. 1 = single-job stage (the small-scale default; at 100 TB
    # set waves so one wave's shuffle fits the failure budget)
    candidate_waves: int = 1
    # clustering
    cc_max_iterations: int = 50

    def lsh_plan(self) -> LshPlan:
        return LshPlan.plan(self.params.num_perm, self.jaccard_threshold, self.lsh_min_recall)


def mash_distance(jaccard: float, k: int, model: int = 1) -> float:
    """Scalar reference formulas (column versions live in estimators.py).

    frac = 2J/(1+J) (utils.rs:164-167); poisson d = min(-ln(frac)/k, 1)
    (main.rs:419); binomial d = 1 - frac^(1/k) (main.rs:420).
    """
    if jaccard <= 0.0:
        return 1.0
    frac = 2.0 * jaccard / (1.0 + jaccard)
    if model == 1:
        return min(-math.log(frac) / k, 1.0)
    if model in (0, 2):  # 0 = reference binomial numbering, 2 = legacy alias
        return 1.0 - frac ** (1.0 / k)
    raise ValueError("distance model must be 0 (binomial), 1 (poisson), or 2")
