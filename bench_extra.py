"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement — this file carries the guide §1.4 isolation runs).

Usage:

  python bench_extra.py queries [name,...] [--runs N] [--plans SUFFIX]
      Times the bench.py operator queries (count() like the frozen
      harness) and, with --plans, writes .explain("formatted") for each
      to plans/r06/<name>_<SUFFIX>.txt.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.

Per-stage pipeline numbers and the published-cluster checksum come from
``python3 perfbench/run.py --workload hot_block --seed 42 --seconds 5 --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

QUERY_NAMES = [
    "q06_topk_per_group", "q09_term_stats", "q11_bm25", "q12_fusion_rrf",
    "q13_tree_diff", "q17_quality_score", "q19_cosine_topk",
    "q20_embedding_near_dup", "q31_ann_lsh_bucketed", "q32_grep_scan",
    "q36_doc_chunking", "q41_ngram_jaccard_dedup", "q43_kg_doc_entities",
    "q44_kg_node_stats", "q46_phrase_match", "q48_grep_context",
]


def run_queries(names: list[str], runs: int, plan_suffix: str) -> dict:
    from yams_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench_extra_queries", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    qs = entrymod.queries()
    qs["q06_topk_per_group"](spark, sf_dir).count()  # session warmup
    out: dict[str, float] = {}
    plans_dir = os.path.join(_REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        if plan_suffix:
            with open(os.path.join(plans_dir, f"{name}_{plan_suffix}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted")))
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(f"QUERY {name} {out[name]}", flush=True)
    spark.stop()
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    args = sys.argv[2:]
    if mode == "queries":
        names = QUERY_NAMES
        runs = 2
        plan_suffix = ""
        rest = []
        i = 0
        while i < len(args):
            if args[i] == "--runs":
                runs = int(args[i + 1]); i += 2
            elif args[i] == "--plans":
                plan_suffix = args[i + 1]; i += 2
            else:
                rest.append(args[i]); i += 1
        if rest:
            names = rest[0].split(",")
        res = run_queries(names, runs, plan_suffix)
        print("QUERIES " + json.dumps(res))
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
