"""Physical-plan audit for the flagship queries.

Prints `.explain("formatted")` for each audited plan and ASSERTS the
plan-shape properties the 100 TB design depends on:

- documents scans are column-pruned to (id, text) — ReadSchema never pulls
  html/lang/warc_ts into the dedup pipeline;
- pushed-down predicates reach the parquet scan (PushedFilters non-empty
  for the filtered queries);
- no CartesianProduct / BroadcastNestedLoopJoin in the verify plan of
  the dedup pipeline (the only sanctioned NLJs are the bounded
  oracle-parity queries in __spark_entry__ and the broadcast query side of
  brute-force ANN). This check reads the plan above the candidates' eager
  ``localCheckpoint``, so it cannot see the candidate generator itself;
  ``tests/test_lsh.py::test_candidate_calls_plan_no_nested_loop_join``
  asserts that on the executed plans of every pair rule with the salt
  tier forced;
- the small sides the engine marks broadcast actually broadcast.

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any assertion fails.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from lash_spark.config import LshPlan, SketchParams
from lash_spark.operators.lsh import lsh_candidate_pairs
from lash_spark.operators.normalize import with_normalized_text
from lash_spark.operators.signatures import build_signatures
from lash_spark.operators.verify import verify_pairs
from lash_spark.session import get_spark


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = []

    def check(name, ok, detail=""):
        print(f"{'PASS' if ok else 'FAIL'}  {name}  {detail}")
        if not ok:
            failures.append(name)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    params = SketchParams()
    plan = LshPlan.plan(128, 0.8, 0.995)

    # ---- signatures: map-only, pruned scan
    normed = with_normalized_text(docs, "text")
    sigs = build_signatures(normed, params, plan, id_col="doc_id")
    p = plan_of(sigs)
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    check(
        "signatures.scan_pruned_to_id_text",
        all(set(s.split(",")) <= {"doc_id:bigint", "text:string"} for s in scans),
        f"ReadSchema={scans}",
    )
    check("signatures.no_shuffle_agg", "HashAggregate" not in p and "Sort " not in p)
    check(
        "signatures.arrow_eval",
        "ArrowEvalPython" in p or "EvalPython" in p,
        "signature UDF stage present",
    )

    # ---- dedup pipeline plan (candidates+verify): no cartesian anywhere
    sigs_p = sigs.persist()
    cands = lsh_candidate_pairs(sigs_p, id_col="doc_id")
    verified = verify_pairs(
        cands, normed, params, id_col="doc_id", threshold=0.8,
        sig_df=sigs_p, with_distances=False,
    )
    p2 = plan_of(verified)
    check(
        "dedup.no_cartesian",
        "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2,
    )
    # codegen spans are marked *(n) in simple mode (formatted mode hides them)
    p2s = verified._jdf.queryExecution().explainString(
        verified.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    check("dedup.whole_stage_codegen", "*(" in p2s)

    # ---- predicate pushdown reaches the scan
    filtered = docs.filter(F.col("doc_id") < 100).select("doc_id", "source")
    p3 = plan_of(filtered)
    check(
        "filter.pushed_to_scan",
        bool(re.search(r"PushedFilters: \[.*LessThan\(doc_id,100\).*\]", p3)),
        "PushedFilters has LessThan(doc_id,100)",
    )
    check(
        "filter.scan_pruned",
        bool(re.search(r"ReadSchema: struct<doc_id:bigint,source:string>", p3)),
    )

    # ---- ANN brute force: the query side broadcasts, the corpus does not
    from lash_spark.operators.ann import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    topk = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)
    p4 = plan_of(topk)
    check("ann.query_side_broadcast", "BroadcastExchange" in p4)

    # ---- suffix-array pass (r3): candidate keying is equi-join shaped
    # and the DAG never leaves the JVM/Arrow lane (no row-at-a-time
    # Python eval; the dense-ranker is MapInArrow over checkpoint scans)
    from lash_spark.operators.suffixarray import suffix_ranks

    sr = suffix_ranks(
        normed.select("doc_id", "norm_text").limit(50), 8,
        id_col="doc_id", text_col="norm_text", checkpoint=False,
    )
    p5 = sr._jdf.queryExecution().executedPlan().toString()
    check("suffix.no_python_eval", "EvalPython" not in p5)
    check("suffix.arrow_rank_assign", "MapInArrow" in p5)

    # ---- repetition stats (r3): single codegen stage, no shuffle, no UDF
    from lash_spark.operators.textstats import repetition_stats

    rep = repetition_stats(normed.select("doc_id", "norm_text"), "norm_text")
    p6 = plan_of(rep)
    check(
        "repetition.map_only_no_udf",
        "Exchange" not in p6 and "EvalPython" not in p6 and "HashAggregate" not in p6,
    )

    # ---- decontamination (r3): cross candidates are equi-joins (no
    # cartesian), verify stays JVM-side after the window-set UDF stage
    from lash_spark.operators.substring import cross_substring_overlap

    dec = cross_substring_overlap(
        normed.filter(F.col("doc_id") % 5 == 1).select("doc_id", "norm_text"),
        normed.filter(F.col("doc_id") % 2 == 0).select("doc_id", "norm_text"),
        min_len=64, k=32, id_col="doc_id",
    )
    p7 = plan_of(dec)
    check(
        "decontaminate.no_cartesian",
        "CartesianProduct" not in p7 and "BroadcastNestedLoopJoin" not in p7,
    )

    print()
    print("=" * 70)
    print("signatures plan (head):")
    print("\n".join(plan_of(sigs).splitlines()[:25]))
    print("FAILURES:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
