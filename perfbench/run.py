"""lash_spark benchmark: seeded crawl-dedup workloads on a pinned 2-core
local Spark.

    python3 perfbench/run.py --workload boilerplate_skew --seed 1 --seconds 20 --trace 0

Run from the repository root. The corpus for (workload, seed) is generated
in this process (numpy + pyarrow) and cached under ``.perfbench_cache/``;
the engine sees only its parquet. With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` a separate traced run
times each layer's public function and reads Spark's status store, and the
last line holds the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import workloads  # noqa: E402


def source_digest() -> str:
    """Content hash of the engine sources (the checkout may not be a git
    repository, so this identifies the code under test)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lash_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def probe_s() -> float:
    """Fixed CPU + memory probe (best of 3): a throttled or contended
    window shows up here as well as in the engine's numbers."""
    import numpy as np

    a = np.arange(8_000_000, dtype=np.int64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i * i
        b = a.copy()
        np.multiply(b, 3, out=b)
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """Machine-wide jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def main(argv=None) -> int:
    # a fixed string-hash seed in the driver process, as Spark gives its
    # Python workers: set and dict iteration orders, and so the plans the
    # engine builds from them, are then the same in every run
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must be importable before any work starts: a directory
    # without it fails here, without a result line
    import lash_spark  # noqa: F401

    wl = workloads.WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    host = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "git_rev": git_rev(),
        "source_digest": source_digest(),
        "probe_s": probe_s(),
    }
    man = corpus.materialize(
        wl.shape, args.seed, os.path.join(CACHE, "corpus", f"{args.workload}-{args.seed}"),
        n_drops=wl.n_drops,
    )
    host["corpus"] = {
        "n_docs": man["n_docs"],
        "input_bytes": man["input_bytes"],
        "truth_pairs": len(man["truth"]),
        "gen_s": man["gen_s"],
        "cached": man["cached"],
    }
    print(json.dumps({"host": host}), flush=True)

    jiffies0 = cpu_times()
    work = os.path.join(CACHE, "work", run_id)
    bench = workloads.Bench(wl, man, work)
    try:
        if args.trace:
            result = bench.run_traced(args.seconds, run_id)
            result["metrics"].update(
                {
                    "host.nproc": {"value": host["nproc"], "unit": "count"},
                    "host.loadavg1": {"value": host["loadavg"][0], "unit": "load"},
                    "host.probe_s": {"value": host["probe_s"], "unit": "s"},
                    "corpus.gen_s": {"value": man["gen_s"], "unit": "s"},
                }
            )
            bench.tracer.write(os.path.join(CACHE, "traces", f"{args.workload}-{args.seed}-{run_id}.json"))
        else:
            result = bench.run(args.seconds)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host_after": {"loadavg": list(os.getloadavg()),
                                     "steal_share": steal_share(jiffies0, cpu_times())}}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
