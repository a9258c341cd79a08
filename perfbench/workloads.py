"""The workloads, their passes, output checks and metrics.

A *pass* is one complete job of a workload on a fresh catalog:

- batch (crawl_batch, boilerplate_skew): the ``cli pipeline`` path —
  ``dedup_pipeline`` with a fresh ``ParquetCatalog`` (counting dup pairs and
  distinct clusters as the CLI does), then ``exact_substring_pairs`` with
  ``star_threshold=512`` committed to the same catalog;
- stream (incremental_ingest): ``stream_near_dup`` over the corpus drops,
  one ``availableNow`` trigger per drop against one checkpoint while the
  store grows (closed loop, one client).

The traced run replays the same public functions one layer at a time under
spans (``Bench._staged_batch`` / ``Bench._staged_stream``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import corpus
from corpus import Shape
from tracing import RssSampler, StatusStore, Tracer, group_jobs, totals, tree_cpu_s, window_jobs

# ---- pinned execution profile: read from nothing in the environment
# Two task slots on a 4-vCPU machine leave the driver JVM thread, the Python
# driver and the JIT/GC threads a core each: both workloads spend most of a
# pass in driver-side planning and job scheduling, so local[4] ran no faster
# and spread ~2x wider between runs.
CORES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
STREAM_TIMEOUT_S = 150


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" | "stream"
    shape: Shape
    # seconds one warm pass takes on a 4-vCPU VM: a run times
    # round(--seconds / pass_s) passes, so every run does the same work
    pass_s: float = 15.0
    n_drops: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "crawl_batch",
            "batch",
            Shape(
                n_docs=1200, words=(300, 1200), neardup_share=0.25,
                cluster_sizes=(2, 3, 4, 6, 10), edit_rate=(0.001, 0.006),
                negative_every=5, exact_share=0.05, exact_sizes=(2, 3, 4),
                template_share=0.01, template_words=150, template_tail=6,
                substring_share=0.02,
            ),
        ),
        Workload(
            "boilerplate_skew",
            "batch",
            Shape(
                n_docs=2000, words=(40, 120), neardup_share=0.10,
                cluster_sizes=(2, 3, 5), edit_rate=(0.001, 0.004),
                negative_every=4, exact_share=0.10, exact_sizes=(2, 3, 4, 6),
                template_share=0.05, template_words=150, template_tail=1,
                substring_share=0.03, boilerplate_share=0.3, boilerplate_words=30,
            ),
        ),
        Workload(
            "incremental_ingest",
            "stream",
            Shape(
                n_docs=300, words=(100, 400), neardup_share=0.25,
                cluster_sizes=(2, 3, 4, 6, 10), edit_rate=(0.001, 0.006),
                negative_every=5, exact_share=0.05, exact_sizes=(2, 3, 4),
                template_share=0.01, template_words=150, template_tail=6,
                substring_share=0.02,
            ),
            pass_s=10.0,
            n_drops=3,
        ),
    )
}


# ------------------------------------------------------------- sessions


def _spark_conf(work: str) -> dict:
    return {
        "spark.task.cpus": "1",
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap: resident memory then follows the engine's work, not
        # the collector's decision when to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep every job/stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(work: str, first_input: str):
    """``get_spark`` on a fresh JVM, then the first completed action (a
    count of the input). Returns (spark, start_s, first_action_s)."""
    from lash_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=_spark_conf(work),
    )
    t1 = time.perf_counter()
    spark.read.parquet(first_input).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- passes


@dataclass
class PassResult:
    wall: float
    counts: dict
    catalog: str
    workdir: str  # the pass's files: its catalog (and stream checkpoint)
    start: float  # epoch seconds
    end: float
    triggers: list | None = None  # stream: [(batch_id, start_ms, seconds)]
    store_bytes: int = 0  # catalog bytes on disk after the pass


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


def _progress_ms(ts: str) -> float:
    t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0


def batch_pass(spark, man: dict, wd: str) -> PassResult:
    from lash_spark.config import PipelineConfig
    from lash_spark.lakeio import ParquetCatalog
    from lash_spark.operators.normalize import with_normalized_text
    from lash_spark.operators.substring import exact_substring_pairs
    from lash_spark.pipeline import dedup_pipeline

    cfg = PipelineConfig()
    start = time.time()
    t0 = time.perf_counter()
    cat = ParquetCatalog(spark, wd)
    docs = spark.read.parquet(*man["drops"])
    res = dedup_pipeline(docs, cfg, catalog=cat)
    n_pairs = res.dup_pairs.count()
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    normed = with_normalized_text(docs.select("url", "text"), "text")
    cat.write(exact_substring_pairs(normed, star_threshold=cfg.star_threshold), "substring_pairs")
    n_sub = cat.read("substring_pairs").count()
    wall = time.perf_counter() - t0
    counts = {
        "candidates": cat.stage_info("candidates")["output_rows"],
        "dup_pairs": n_pairs,
        "clusters": n_clusters,
        "substring_pairs": n_sub,
    }
    return PassResult(wall, counts, wd, wd, start, time.time())


def stream_pass(spark, man: dict, wd: str) -> PassResult:
    """``stream_near_dup`` over all drops, one trigger per drop."""
    from lash_spark.config import SketchParams
    from lash_spark.lakeio import ParquetCatalog
    from lash_spark.streaming import stream_near_dup

    cat = ParquetCatalog(spark, os.path.join(wd, "catalog"))
    src = os.path.join(os.path.dirname(man["drops"][0]), f"drop[0-{len(man['drops']) - 1}]")
    stream = (
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    start = time.time()
    t0 = time.perf_counter()
    q = stream_near_dup(
        stream, cat, SketchParams(), checkpoint_dir=os.path.join(wd, "ckpt"), trigger_once=True
    )
    done = q.awaitTermination(STREAM_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if not done:
        q.stop()
        raise TimeoutError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    triggers = [
        (p["batchId"], _progress_ms(p["timestamp"]), p["durationMs"]["triggerExecution"] / 1000.0)
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    counts = {
        "triggers": len(triggers),
        "stream_pairs": cat.read("stream_dup_pairs").count(),
    }
    return PassResult(wall, counts, cat.root.as_posix(), wd, start, time.time(), triggers)


# ---------------------------------------------------------------- checks


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a, b):
        self.parent[self.find(a)] = self.find(b)


def output_checks(man: dict, pairs: list, cluster_of) -> tuple[float, list]:
    """Planted recall plus the pass/fail output checks.

    ``pairs`` are emitted (url_a, url_b, jaccard); ``cluster_of`` maps a url
    to its cluster. Returns (recall, [(check, ok, detail)])."""
    truth = {(a, b) for a, b, _ in man["truth"]}
    emitted = {(min(a, b), max(a, b)): j for a, b, j in pairs}
    recall = len(truth & emitted.keys()) / len(truth) if truth else 1.0
    checks = [("planted_recall>=0.99", recall >= 0.99, round(recall, 6))]

    # re-check a fixed stride sample of emitted pairs with the oracle
    keys = sorted(emitted)
    sample = keys[:: max(1, len(keys) // 200)][:200]
    texts = corpus.load_texts(man)
    bad = []
    for a, b in sample:
        j = corpus.jaccard(corpus.shingles(texts[a]), corpus.shingles(texts[b]))
        if j < corpus.THRESHOLD - 1e-9 or abs(j - emitted[(a, b)]) > 1e-6:
            bad.append([a, b, j, emitted[(a, b)]])
    checks.append(("sampled_pairs_exact_j>=0.8", not bad, {"sampled": len(sample), "bad": bad[:3]}))

    split = [g[0] for g in man["exact_groups"] if len({cluster_of(u) for u in g}) != 1]
    checks.append(("exact_groups_single_cluster", not split, {"groups": len(man["exact_groups"]), "split": split[:3]}))
    for family in ("template", "boilerplate"):
        members = man[family]
        if members:
            n_c = len({cluster_of(u) for u in members})
            checks.append((f"{family}_single_cluster", n_c == 1, {"members": len(members), "clusters": n_c}))
    return recall, checks


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _m(value, unit):
    return {"value": value, "unit": unit}


# ----------------------------------------------------------------- bench


class Bench:
    """One benchmark run of one workload in one process."""

    def __init__(self, wl: Workload, man: dict, work: str):
        self.wl, self.man, self.work = wl, man, work
        self.root_pid = os.getpid()
        self.spark = None
        self.tracer: Tracer | None = None
        self.checks: list = []
        self.pass_failures = 0
        self.passes_attempted = 0
        self.recall = 0.0
        self._n = 0
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # Spark, the Python workers and tempfile all write inside the run dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        # the JVMs' perf-counter files would land in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = os.path.join(work, "tmp")
        root = os.path.dirname(os.path.dirname(os.path.abspath(corpus.__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )

    def close(self):
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    # ---- set-up

    def _setup(self):
        """One session start per run: a fresh JVM costs ~9 s, so a second
        start would take a sixth of the run (setup_s is steadied by the
        median over runs instead)."""
        self.spark, self.start_s, self.first_action_s = start_session(
            self.work, self.man["drops"][0]
        )

    # ---- passes

    def _wd(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"pass{self._n}")

    def _pass(self) -> PassResult | None:
        self.passes_attempted += 1
        wd = self._wd()
        try:
            if self.wl.kind == "batch":
                pr = batch_pass(self.spark, self.man, wd)
            else:
                pr = stream_pass(self.spark, self.man, wd)
        except Exception as e:  # a failed job counts, the run goes on
            print(f"pass failed: {type(e).__name__}: {e}", file=sys.stderr)
            self.pass_failures += 1
            shutil.rmtree(wd, ignore_errors=True)
            return None
        finally:
            self.spark.catalog.clearCache()
        return pr

    def _outputs(self, pr: PassResult) -> tuple[list, object]:
        """Emitted pairs and a url -> cluster map for one pass."""
        from lash_spark.lakeio import ParquetCatalog

        cat = ParquetCatalog(self.spark, pr.catalog)
        if self.wl.kind == "batch":
            pairs = [tuple(r) for r in cat.read("dup_pairs").select("url_a", "url_b", "jaccard").collect()]
            clusters = dict(cat.read("clusters").select("url", "cluster_id").collect())
            return pairs, clusters.get
        pairs = [tuple(r) for r in cat.read("stream_dup_pairs").select("url_a", "url_b", "jaccard").collect()]
        uf = _UnionFind()
        for a, b, _ in pairs:
            uf.union(a, b)
        return pairs, uf.find

    def _warmup(self) -> None:
        """Untimed first pass over the whole input: JIT compilation, code
        generation and Python worker start-up."""
        pr = self._pass()
        if pr is not None:
            shutil.rmtree(pr.workdir, ignore_errors=True)

    def _check(self, pr: PassResult) -> None:
        pairs, cluster_of = self._outputs(pr)
        self.recall, checks = output_checks(self.man, pairs, cluster_of)
        self.checks.extend(checks)

    def _repeat_checks(self, results: list[PassResult]):
        counts = [pr.counts for pr in results]
        same = all(c == counts[0] for c in counts)
        self.checks.append(("counts_identical_across_passes", same, counts[:1] if same else counts))
        # and across runs of the same seed (recorded by the first run)
        path = os.path.join(os.path.dirname(self.man["drops"][0]), "counts.json")
        if counts and os.path.exists(path):
            with open(path) as f:
                prior = json.load(f)
            self.checks.append(("counts_identical_across_runs", prior == counts[0], prior))
        elif counts:
            with open(path, "w") as f:
                json.dump(counts[0], f)

    def _result(self, metrics: dict) -> dict:
        bad_checks = sum(not ok for _, ok, _ in self.checks)
        attempted = self.passes_attempted + len(self.checks)
        failed = self.pass_failures + bad_checks
        print(json.dumps({"checks": [list(c) for c in self.checks]}, default=str), flush=True)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def _timed(self, seconds: float, body, body_s: float) -> list:
        """Call ``body()`` as often as calls of ``body_s`` nominal seconds
        fill ``seconds`` (rounded, at least once): a fixed count, not one
        that a slow window of the host shortens. Returns the non-None
        results."""
        calls = max(1, round(seconds / body_s))
        return [r for r in (body() for _ in range(calls)) if r is not None]

    # ---- untraced run: end-to-end metrics

    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        self._setup()
        t1 = time.perf_counter()
        self._warmup()
        t2 = time.perf_counter()
        cpu0 = tree_cpu_s(self.root_pid)
        kept = []

        def body():
            pr = self._pass()
            if pr is not None:
                pr.store_bytes = _dir_bytes(pr.catalog)[0]
                # keep only the latest pass's catalog (checked below)
                for old in kept:
                    shutil.rmtree(old.workdir, ignore_errors=True)
                kept[:] = [pr]
            return pr

        with RssSampler(self.root_pid) as rss:
            timed = self._timed(seconds, body, self.wl.pass_s)
        cpu_s = tree_cpu_s(self.root_pid) - cpu0
        t3 = time.perf_counter()
        if timed:
            self._check(timed[-1])
        self._repeat_checks(timed)
        phases = {"setup_s": t1 - t0, "warmup_s": t2 - t1, "timed_s": t3 - t2,
                  "checks_s": time.perf_counter() - t3}

        n = self.man["n_docs"]
        if self.wl.kind == "batch":
            lat = [pr.wall for pr in timed]
            per_pass = lat
            pass_max = lat
        else:
            # a pass's first trigger bootstraps an empty store, which a
            # running incremental job never sees again: the latency samples
            # are the triggers that probe the store, one per later drop
            lat = [s for pr in timed for _, _, s in pr.triggers[1:]]
            per_pass = [sum(s for _, _, s in pr.triggers) for pr in timed]
            pass_max = [max(s for _, _, s in pr.triggers) for pr in timed]
            self.passes_attempted += sum(len(pr.triggers) for pr in timed)
        print(json.dumps({"samples": {"timed_passes": len(timed), "latency_samples": len(lat),
                                      "pass_s": per_pass, "latency_s": lat, "phases": phases}}),
              flush=True)
        metrics = {
            "setup_s": _m(self.start_s + self.first_action_s, "s"),
            "docs_per_s": _m(n / _median(per_pass) if per_pass else 0.0, "docs/s"),
            "cpu_s_per_kdoc": _m(cpu_s / (n * len(timed) / 1000) if timed else 0.0, "s"),
            "peak_rss_mb": _m(rss.peak / 1e6, "MB"),
            "trigger_p50_s": _m(_median(lat), "s"),
            # the slowest trigger of a pass (the last drop, against the
            # largest store), median over passes
            "trigger_max_s": _m(_median(pass_max), "s"),
            "store_bytes_per_input_byte": _m(
                _median([pr.store_bytes for pr in timed]) / self.man["input_bytes"], "ratio"
            ),
            "planted_recall": _m(self.recall, "ratio"),
        }
        return self._result(metrics)

    # ---- traced run: per-layer metrics

    def run_traced(self, seconds: float, run_id: str) -> dict:
        """Warm-up pass, then alternating untraced and staged (traced)
        passes. Untraced passes give the per-trigger/engine totals through
        submission-time windows; staged passes give per-layer spans."""
        self._setup()
        self.tracer = Tracer(self.spark, run_id)
        self._warmup()
        staged_fn = self._staged_batch if self.wl.kind == "batch" else self._staged_stream
        state = {"i": 0}
        pairs = []

        def body():
            state["i"] += 1
            pr = self._pass()
            self.passes_attempted += 1
            root = f"p{state['i']}"
            try:
                staged = staged_fn(root)
            except Exception as e:
                print(f"staged pass failed: {type(e).__name__}: {e}", file=sys.stderr)
                self.pass_failures += 1
                staged = None
            finally:
                self.spark.catalog.clearCache()
            if pr is None or staged is None:
                return None
            pairs.append((pr, root, staged))
            return pr

        self._timed(seconds, body, 2 * self.wl.pass_s)
        if pairs:
            self._check(pairs[-1][0])
        self._repeat_checks([pr for pr, _, _ in pairs])
        for pr, root, staged in pairs:
            self.checks.append(
                (f"staged_equals_engine[{root}]", staged == self._engine_output(pr), staged)
            )
        jobs, stages = StatusStore(self.spark).snapshot()
        return self._result(self._layer_metrics(pairs, jobs, stages))

    def _engine_output(self, pr: PassResult):
        """What the staged replay must reproduce: the batch pass's row
        counts, or the stream pass's pair set (as a count and digest)."""
        if self.wl.kind == "batch":
            return pr.counts
        from lash_spark.lakeio import ParquetCatalog

        cat = ParquetCatalog(self.spark, pr.catalog)
        return _pair_digest(cat.read("stream_dup_pairs"))

    def _staged_batch(self, root: str):
        """The batch pass one layer at a time, each materialized (persist +
        count) inside its own span, then committed under a lakeio span."""
        from pyspark.sql import functions as F

        from lash_spark.config import PipelineConfig
        from lash_spark.lakeio import ParquetCatalog
        from lash_spark.operators.components import assign_clusters
        from lash_spark.operators.exact import exact_dup_pairs
        from lash_spark.operators.lsh import lsh_candidate_pairs
        from lash_spark.operators.normalize import with_normalized_text
        from lash_spark.operators.signatures import build_signatures
        from lash_spark.operators.substring import exact_substring_pairs
        from lash_spark.operators.verify import verify_pairs

        spark, tr = self.spark, self.tracer
        cfg = PipelineConfig()
        params, plan = cfg.params, cfg.lsh_plan()
        cat = ParquetCatalog(spark, self._wd())
        with tr.span(root):
            docs = spark.read.parquet(*self.man["drops"])
            with tr.span(f"{root}/signatures", root) as s:
                normed = with_normalized_text(docs.select("url", "text"), "text").persist()
                # every workload's projected shingle bytes sit below the
                # 1.5 GB lash.shingles.persistBytes budget: sets are persisted
                sigs = build_signatures(normed, params, plan, with_shingles=True).persist()
                s.counts["rows_out"] = sigs.count()
            with tr.span(f"{root}/lsh", root) as s:
                cands = lsh_candidate_pairs(
                    sigs, max_bucket=cfg.max_band_bucket, salt_buckets=cfg.salt_buckets,
                    star_threshold=cfg.star_threshold, star_pair_budget=cfg.star_pair_budget,
                ).persist()
                s.counts["rows_in"] = tr.get(f"{root}/signatures").counts["rows_out"]
                s.counts["rows_out"] = cands.count()
            with tr.span(f"{root}/verify", root) as s:
                verified = verify_pairs(
                    cands, normed, params, threshold=cfg.jaccard_threshold, sig_df=sigs,
                    max_pairs_per_doc=cfg.max_pairs_per_doc,
                ).persist()
                s.counts["rows_in"] = tr.get(f"{root}/lsh").counts["rows_out"]
                s.counts["rows_out"] = verified.count()
            with tr.span(f"{root}/exact", root) as s:
                exact = exact_dup_pairs(normed).persist()
                s.counts["rows_out"] = exact.count()
            with tr.span(f"{root}/components", root) as s:
                edges = verified.select("url_a", "url_b").unionByName(exact).dropDuplicates(
                    ["url_a", "url_b"]
                ).persist()
                s.counts["edges_in"] = edges.count()
                clusters = assign_clusters(
                    docs.select("url"), edges, max_iterations=cfg.cc_max_iterations
                ).persist()
                row = clusters.groupBy("cluster_id").count().agg(
                    F.count(F.lit(1)).alias("n"), F.max("count").alias("largest")
                ).first()
                s.counts["clusters"], s.counts["largest"] = row["n"], row["largest"]
            with tr.span(f"{root}/substring", root) as s:
                sub = exact_substring_pairs(normed, star_threshold=cfg.star_threshold).persist()
                s.counts["rows_out"] = sub.count()
            with tr.span(f"{root}/lakeio", root) as s:
                for name, df in (
                    ("signatures", sigs), ("candidates", cands), ("dup_pairs", verified),
                    ("clusters", clusters), ("substring_pairs", sub),
                ):
                    cat.write(df, name)
                s.counts["bytes_written"], s.counts["files_written"] = _dir_bytes(cat.root.as_posix())
        shutil.rmtree(cat.root, ignore_errors=True)
        return {
            "candidates": tr.get(f"{root}/lsh").counts["rows_out"],
            "dup_pairs": tr.get(f"{root}/verify").counts["rows_out"],
            "clusters": tr.get(f"{root}/components").counts["clusters"],
            "substring_pairs": tr.get(f"{root}/substring").counts["rows_out"],
        }

    def _staged_stream(self, root: str):
        """Each drop as stream_near_dup's trigger does it (batch-internal
        LSH + verify, cross probe against the stored signatures, appends),
        one layer per span; then the periodic consolidation over the grown
        store (exact-dup edges, clusters, substring pairs)."""
        from pyspark.sql import functions as F

        from lash_spark.config import LshPlan, SketchParams
        from lash_spark.lakeio import ParquetCatalog
        from lash_spark.operators.components import assign_clusters
        from lash_spark.operators.exact import exact_dup_pairs
        from lash_spark.operators.lsh import cross_lsh_candidate_pairs, lsh_candidate_pairs
        from lash_spark.operators.normalize import with_normalized_text
        from lash_spark.operators.signatures import build_signatures
        from lash_spark.operators.substring import exact_substring_pairs
        from lash_spark.operators.verify import cross_verify_pairs, verify_pairs

        spark, tr = self.spark, self.tracer
        params = SketchParams()
        plan = LshPlan.plan(params.num_perm, 0.8, 0.995)
        cat = ParquetCatalog(spark, self._wd())
        with tr.span(root):
            for d, path in enumerate(self.man["drops"]):
                drop = f"{root}/d{d}"
                with tr.span(drop, root):
                    batch = spark.read.parquet(path).select("url", "text")
                    with tr.span(f"{drop}/signatures", drop) as s:
                        normed = with_normalized_text(batch, "text")
                        sigs = build_signatures(
                            normed, params, plan, min_parallelism=1, with_shingles=True
                        ).persist()
                        s.counts["rows_out"] = sigs.count()
                    store = d > 0
                    with tr.span(f"{drop}/lsh", drop) as s:
                        cands = lsh_candidate_pairs(sigs).persist()
                        s.counts["rows_in"] = tr.get(f"{drop}/signatures").counts["rows_out"]
                        s.counts["rows_out"] = cands.count()
                        if store:
                            store_sigs = cat.read("stream_sigs")
                            cross = cross_lsh_candidate_pairs(sigs, store_sigs).persist()
                            s.counts["rows_in"] += store_sigs.count()
                            s.counts["rows_out"] += cross.count()
                    with tr.span(f"{drop}/verify", drop) as s:
                        pairs = verify_pairs(
                            cands, normed, params, threshold=0.8, sig_df=sigs,
                            with_distances=False,
                        ).select("url_a", "url_b", "jaccard")
                        if store:
                            store_normed = with_normalized_text(
                                cat.read("stream_docs").select("url", "text"), "text"
                            )
                            cv = cross_verify_pairs(
                                cross, normed, store_normed, params, threshold=0.8,
                                sig_q=sigs, sig_r=store_sigs,
                            )
                            q, r = F.col("url_q"), F.col("url_r")
                            pairs = pairs.unionByName(
                                cv.select(F.least(q, r).alias("url_a"), F.greatest(q, r).alias("url_b"), "jaccard")
                            )
                        pairs = pairs.withColumn("batch_id", F.lit(d).cast("long")).persist()
                        s.counts["rows_in"] = tr.get(f"{drop}/lsh").counts["rows_out"]
                        s.counts["rows_out"] = pairs.count()
                    with tr.span(f"{drop}/lakeio", drop):
                        cat.append(pairs, "stream_dup_pairs")
                        cat.append(sigs, "stream_sigs")
                        cat.append(batch, "stream_docs")
                    spark.catalog.clearCache()
            cons = f"{root}/consolidate"
            with tr.span(cons, root):
                docs = cat.read("stream_docs")
                normed = with_normalized_text(docs, "text").persist()
                with tr.span(f"{cons}/exact", cons) as s:
                    exact = exact_dup_pairs(normed).persist()
                    s.counts["rows_out"] = exact.count()
                with tr.span(f"{cons}/components", cons) as s:
                    edges = cat.read("stream_dup_pairs").select("url_a", "url_b").unionByName(
                        exact
                    ).dropDuplicates(["url_a", "url_b"]).persist()
                    s.counts["edges_in"] = edges.count()
                    clusters = assign_clusters(docs.select("url"), edges).persist()
                    row = clusters.groupBy("cluster_id").count().agg(
                        F.count(F.lit(1)).alias("n"), F.max("count").alias("largest")
                    ).first()
                    s.counts["clusters"], s.counts["largest"] = row["n"], row["largest"]
                with tr.span(f"{cons}/substring", cons) as s:
                    sub = exact_substring_pairs(normed, star_threshold=512).persist()
                    s.counts["rows_out"] = sub.count()
                with tr.span(f"{cons}/lakeio", cons) as s:
                    cat.write(clusters, "clusters")
                    cat.write(sub, "substring_pairs")
        b, f = _dir_bytes(cat.root.as_posix())
        tr.get(f"{cons}/lakeio").counts.update(bytes_written=b, files_written=f)
        out = _pair_digest(cat.read("stream_dup_pairs"))
        shutil.rmtree(cat.root, ignore_errors=True)
        return out

    def _layer_metrics(self, passes: list, jobs: list, stages: dict) -> dict:
        tr = self.tracer
        layers = ("signatures", "lsh", "verify", "exact", "components", "substring", "lakeio")

        def per_pass(root: str) -> dict:
            """Layer -> summed seconds, counts and Spark totals for one
            staged pass (a stream pass has one span per layer per drop)."""
            out = {}
            for layer in layers:
                spans = [s for s in tr.spans if s.name.startswith(root + "/") and s.name.endswith("/" + layer)]
                counts: dict = {}
                for s in spans:
                    for k, v in s.counts.items():
                        counts[k] = counts.get(k, 0) + v
                js = [j for s in spans for j in group_jobs(jobs, tr.group(s.name))]
                out[layer] = {"s": sum(s.seconds for s in spans), "counts": counts, "spark": totals(js, stages)}
            return out

        staged = [per_pass(root) for _, root, _ in passes]

        def med(layer, key, sub=None):
            vals = [p[layer][sub][key] if sub else p[layer][key] for p in staged]
            return _median(vals)

        m = {
            "session.start_s": _m(self.start_s, "s"),
            "session.first_action_s": _m(self.first_action_s, "s"),
            "signatures.s": _m(med("signatures", "s"), "s"),
            "signatures.task_s": _m(med("signatures", "executorRunTime", "spark") / 1000, "s"),
            "signatures.rows_out": _m(med("signatures", "rows_out", "counts"), "rows"),
            "signatures.shuffle_write_bytes": _m(med("signatures", "shuffleWriteBytes", "spark"), "bytes"),
            "lsh.s": _m(med("lsh", "s"), "s"),
            "lsh.rows_in": _m(med("lsh", "rows_in", "counts"), "rows"),
            "lsh.rows_out": _m(med("lsh", "rows_out", "counts"), "rows"),
            "lsh.shuffle_bytes": _m(med("lsh", "shuffleWriteBytes", "spark"), "bytes"),
            "lsh.shuffle_records": _m(med("lsh", "shuffleWriteRecords", "spark"), "records"),
            "lsh.jobs": _m(med("lsh", "jobs", "spark"), "count"),
            "verify.s": _m(med("verify", "s"), "s"),
            "verify.rows_in": _m(med("verify", "rows_in", "counts"), "rows"),
            "verify.rows_out": _m(med("verify", "rows_out", "counts"), "rows"),
            "verify.shuffle_bytes": _m(med("verify", "shuffleWriteBytes", "spark"), "bytes"),
            "exact.s": _m(med("exact", "s"), "s"),
            "exact.rows_out": _m(med("exact", "rows_out", "counts"), "rows"),
            "components.s": _m(med("components", "s"), "s"),
            "components.edges_in": _m(med("components", "edges_in", "counts"), "rows"),
            "components.clusters": _m(med("components", "clusters", "counts"), "count"),
            "components.largest": _m(med("components", "largest", "counts"), "docs"),
            "components.jobs": _m(med("components", "jobs", "spark"), "count"),
            "substring.s": _m(med("substring", "s"), "s"),
            "substring.rows_out": _m(med("substring", "rows_out", "counts"), "rows"),
            "substring.shuffle_bytes": _m(med("substring", "shuffleWriteBytes", "spark"), "bytes"),
            "lakeio.write_s": _m(med("lakeio", "s"), "s"),
            "lakeio.bytes_written": _m(med("lakeio", "bytes_written", "counts"), "bytes"),
            "lakeio.files_written": _m(med("lakeio", "files_written", "counts"), "count"),
        }
        vin = m["verify.rows_in"]["value"]
        m["verify.useful_ratio"] = _m(m["verify.rows_out"]["value"] / vin if vin else 0.0, "ratio")

        # triggers: a stream trigger, or a whole batch pass (one commit)
        untraced = [pr for pr, _, _ in passes]
        trig = []  # (seconds, jobs in its window, pairs)
        for pr in untraced:
            if self.wl.kind == "batch":
                js = window_jobs(jobs, pr.start * 1000, pr.end * 1000)
                trig.append((pr.wall, js, pr.counts["dup_pairs"]))
            else:
                for _, start_ms, sec in pr.triggers:
                    trig.append((sec, window_jobs(jobs, start_ms, start_ms + sec * 1000), None))
                self.passes_attempted += len(pr.triggers)
        if self.wl.kind == "stream":
            pairs_per = list(self._stream_pairs_per_batch(untraced[-1]).values())
            last = untraced[-1].triggers
            growth = last[-1][2] / last[1][2] if len(last) > 1 else 1.0
        else:
            pairs_per = [t[2] for t in trig]
            growth = untraced[-1].wall / untraced[0].wall
        m.update(
            {
                "streaming.trigger_s": _m(_median([t[0] for t in trig]), "s"),
                "streaming.jobs_per_trigger": _m(_median([len(t[1]) for t in trig]), "count"),
                "streaming.shuffle_bytes_per_trigger": _m(
                    _median([totals(t[1], stages)["shuffleWriteBytes"] for t in trig]), "bytes"
                ),
                "streaming.pairs_per_trigger": _m(_median(pairs_per), "rows"),
                "streaming.store_growth_ratio": _m(growth, "ratio"),
            }
        )

        # engine totals per untraced pass
        eng = [totals(window_jobs(jobs, pr.start * 1000, pr.end * 1000), stages) for pr in untraced]
        m.update(
            {
                "spark.task_s": _m(_median([e["executorRunTime"] for e in eng]) / 1000, "s"),
                "spark.gc_s": _m(_median([e["jvmGcTime"] for e in eng]) / 1000, "s"),
                "spark.spill_bytes": _m(
                    _median([e["memoryBytesSpilled"] + e["diskBytesSpilled"] for e in eng]), "bytes"
                ),
                "spark.failed_tasks": _m(sum(e["numFailedTasks"] for e in eng), "count"),
                "spark.jobs": _m(_median([e["jobs"] for e in eng]), "count"),
            }
        )

        # tracing overhead: traced vs untraced throughput on the same pass
        def work_s(pr):
            return pr.wall if self.wl.kind == "batch" else sum(s for _, _, s in pr.triggers)

        if self.wl.kind == "batch":
            traced_s = [tr.get(root).seconds for _, root, _ in passes]
        else:  # the drops only: consolidation has no untraced counterpart
            traced_s = [
                sum(tr.get(f"{root}/d{d}").seconds for d in range(len(self.man["drops"])))
                for _, root, _ in passes
            ]
        m["trace.overhead_ratio"] = _m(
            _median(traced_s) / _median([work_s(pr) for pr in untraced]), "ratio"
        )
        # time inside a pass span that no layer span covers (reads, glue)
        m["trace.unattributed_s"] = _m(_median([tr.self_seconds(root) for _, root, _ in passes]), "s")
        return m

    def _stream_pairs_per_batch(self, pr: PassResult) -> dict:
        from lash_spark.lakeio import ParquetCatalog

        cat = ParquetCatalog(self.spark, pr.catalog)
        return dict(cat.read("stream_dup_pairs").groupBy("batch_id").count().collect())


def _pair_digest(df) -> dict:
    """Order-free fingerprint of a pair table: row count plus xor of row
    hashes over (url_a, url_b, jaccard rounded to 9 digits)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("url_a", "url_b", F.round("jaccard", 9))).alias("h"),
    ).first()
    return {"pairs": row["n"], "digest": row["h"]}
