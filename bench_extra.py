"""Round-6 optimization instrumentation (bench.py is FROZEN for measurement;
everything exploratory lives here — guide §1.4/§1.5).

Modes:
  --stage-synth [--docs=N]   staged attribution of the synth pipeline
                             (generation / signatures / candidates / verify /
                             clusters timed separately, noop-sink style)
  --query NAME [--reps=K]    isolate one bench.py suite query (same fn,
                             same data dir) with reps and per-rep seconds
  --entry-query NAME [--reps=K]  isolate one __spark_entry__ declared
                             query (the oracle surface; mostly not in the
                             bench suite) with reps + per-rep probes
  --probe                    2-s numpy throttle sentinel (VERDICT r5 #2):
                             prints the wall of a fixed-size kernel so reps
                             recorded in a throttled window can be discarded
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F


def throttle_probe() -> float:
    """Fixed-size memory-streaming kernel; calm-window wall ~0.15-0.4 s on
    this box, throttled windows inflate it 3-30x."""
    a = np.random.default_rng(0).standard_normal(17_000_000)
    t0 = time.monotonic()
    for _ in range(3):
        (a * 1.000001).sum()
    return round(time.monotonic() - t0, 3)


def _spark():
    from lash_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    extra = {"spark.task.cpus": "2"} if cpus >= 16 else {}
    spark = get_spark(
        app_name="lash_bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=256, extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_stage_synth(n_docs: int = 50_000):
    """Where do synth_pipeline_50k's seconds go? Same config as the frozen
    bench query (PipelineConfig(), id=url), each stage materialized so its
    wall is its own."""
    from lash_spark.config import PipelineConfig
    from lash_spark.operators.components import assign_clusters
    from lash_spark.operators.exact import exact_dup_pairs
    from lash_spark.operators.lsh import lsh_candidate_pairs
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.signatures import build_signatures
    from lash_spark.operators.verify import verify_pairs
    from lash_spark.synth import generate_pages

    spark = _spark()
    cfg = PipelineConfig()
    out: dict = {"n_docs": n_docs, "stages": {}, "rows": {}, "probe": {}}

    def stage(name, fn):
        out["probe"][name] = throttle_probe()
        spark.sparkContext.setJobDescription(f"stage:{name}")
        t0 = time.monotonic()
        n = fn()
        out["stages"][name] = round(time.monotonic() - t0, 2)
        out["rows"][name] = int(n)
        spark.sparkContext.setJobDescription(None)

    pages = generate_pages(spark, n_docs, seed=42, partitions=128)
    stage("generate_only", lambda: pages.count())

    normed = with_normalized_text(pages.select("url", "text"), "text").persist()
    stage("normalize_gen", normed.count)
    sigs = build_signatures(normed, cfg.params, cfg.lsh_plan(), id_col="url").persist()
    stage("signatures", sigs.count)
    cands = {}

    def _cands():
        cands["df"] = lsh_candidate_pairs(
            sigs, id_col="url", max_bucket=cfg.max_band_bucket,
            salt_buckets=cfg.salt_buckets, star_threshold=cfg.star_threshold,
        )
        return cands["df"].count()

    stage("candidates", _cands)
    ver = {}

    def _verify():
        ver["df"] = verify_pairs(
            cands["df"], normed, cfg.params, id_col="url",
            threshold=cfg.jaccard_threshold, sig_df=sigs,
            max_pairs_per_doc=cfg.max_pairs_per_doc,
        ).persist()
        return ver["df"].count()

    stage("verify", _verify)

    def _clusters():
        edges = (
            ver["df"].select("url_a", "url_b")
            .unionByName(exact_dup_pairs(normed, id_col="url"))
            .dropDuplicates(["url_a", "url_b"])
        )
        return assign_clusters(normed.select("url"), edges, id_col="url").count()

    stage("clusters", _clusters)
    out["total_ex_generate"] = round(
        sum(v for k, v in out["stages"].items() if k != "generate_only"), 2
    )
    print(json.dumps(out))
    spark.stop()


def run_entry_query(name: str, reps: int = 3):
    """Isolate one __spark_entry__.queries() declared query (these are the
    driver's oracle surface; most are NOT in the frozen bench suite) with
    reps, per-rep walls and a throttle probe per rep."""
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    fn = entrymod.queries()[name]
    walls = []
    for rep in range(reps):
        p0 = throttle_probe()
        spark.sparkContext.setJobDescription(f"entry:{name} rep{rep}")
        t0 = time.monotonic()
        rows = fn(spark, sf_dir).count()
        walls.append(round(time.monotonic() - t0, 3))
        print(
            f"# entry {name} rep{rep}: {walls[-1]}s rows={rows} probe={p0}",
            file=sys.stderr, flush=True,
        )
    s = sorted(walls)
    print(json.dumps({
        "entry_query": name, "reps": reps, "median": s[len(s) // 2],
        "samples": walls, "rows": int(rows),
    }))
    spark.stop()


def run_query(name: str, reps: int = 3):
    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    queries = dict(bench._build_queries(sf_dir))
    fn = queries[name]
    walls = []
    for rep in range(reps):
        p0 = throttle_probe()
        spark.sparkContext.setJobDescription(f"{name} rep{rep}")
        t0 = time.monotonic()
        rows = int(fn(spark) or 0)
        walls.append(round(time.monotonic() - t0, 3))
        print(
            f"# {name} rep{rep}: {walls[-1]}s rows={rows} probe={p0}",
            file=sys.stderr, flush=True,
        )
    s = sorted(walls)
    print(json.dumps({
        "query": name, "reps": reps, "median": s[len(s) // 2],
        "samples": walls, "rows": rows,
    }))
    spark.stop()


if __name__ == "__main__":
    kw = {}
    for a in sys.argv:
        if a.startswith("--docs="):
            kw["docs"] = int(a.split("=")[1])
        if a.startswith("--reps="):
            kw["reps"] = int(a.split("=")[1])
    if "--probe" in sys.argv:
        print(json.dumps({"probe_sec": throttle_probe()}))
    elif "--stage-synth" in sys.argv:
        run_stage_synth(kw.get("docs", 50_000))
    elif "--query" in sys.argv:
        name = sys.argv[sys.argv.index("--query") + 1]
        run_query(name, kw.get("reps", 3))
    elif "--entry-query" in sys.argv:
        name = sys.argv[sys.argv.index("--entry-query") + 1]
        run_entry_query(name, kw.get("reps", 3))
    else:
        print(__doc__)
