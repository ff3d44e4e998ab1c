"""Every metric the benchmark emits, with its unit — the single source the
runner, the tests and ``BENCHMARK.json`` agree on.

``LAYER_TARGETS`` records, before any optimisation lands, which end-to-end
metric each layer's numbers should move and on which workload; a
prediction of "none" marks the workload that bypasses the layer.
"""

from __future__ import annotations

# min_runs: pipeline runs timed per invocation even when --seconds has
# already passed, so that every invocation times the same runs on a 4-core
# host: one cold-JVM hot_block run (the everyday batch job, 12 s or more)
# and four resume_score runs after the preparatory run (4 s or more each).
# Timings are reported as the median run. On this host a cold run's wall
# time moved less with hypervisor steal than warm runs' did, and the median
# of four resumed runs less than their best.
WORKLOADS = {
    # cold checkpoint dir through every stage, on the generator's duplicate
    # mix plus one byte-identical boilerplate family covering 5% of pages
    "hot_block": {"hot_fraction": 0.05, "resume": False, "min_runs": 1},
    # restart after losing the score and cluster outputs: sign, block and
    # pair are read back from a prepared checkpoint dir
    "resume_score": {"hot_fraction": 0.0, "resume": True, "min_runs": 4},
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "docs_per_s": ("1/s", "higher"),
    "cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "pairwise_f1": ("ratio", "higher"),
    "pass_ratio": ("ratio", "higher"),
}

STAGES = ("sign", "block", "pair", "score", "cluster", "metrics")
_STAGE_METRICS = {
    "wall_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "jvm_cpu_s": ("s", "lower"),
    "py_cpu_s": ("s", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "peak_exec_mb": ("MB", "lower"),
    "task_max_over_median": ("ratio", "lower"),
    "rows_out": ("count", "lower"),
    "spark_stages": ("count", "lower"),
}

PER_LAYER = {f"{s}.{m}": spec for s in STAGES for m, spec in _STAGE_METRICS.items()}
PER_LAYER.update({
    "pipeline.unattributed_s": ("s", "lower"),
    "pipeline.commit_mb": ("MB", "lower"),
    "pipeline.spark_jobs": ("count", "lower"),
    "pipeline.peak_rss_mb": ("MB", "lower"),
    "blocking.oversize_keys": ("count", "lower"),
    "blocking.max_salt": ("count", "lower"),
    "blocking.pair_partition_max_over_median": ("ratio", "lower"),
    "scoring.accept_ratio": ("ratio", "higher"),
    "clustering.cc_edges": ("count", "lower"),
    # 0 driver union-find, 1 hybrid, 2 distributed star rounds
    "clustering.cc_mode": ("code", "lower"),
    "clustering.cc_rounds": ("count", "lower"),
    "clustering.max_component": ("count", "lower"),
    "kernel.extract_us": ("us", "lower"),
    "kernel.chunk_us": ("us", "lower"),
    "kernel.sign_row_us": ("us", "lower"),
    "kernel.cosine_us": ("us", "lower"),
    "kernel.levenshtein_us": ("us", "lower"),
    "kernel.jaro_winkler_us": ("us", "lower"),
    "host.probe_s": ("s", "lower"),
    # share of the machine's CPU time stolen by the hypervisor while timing
    "host.steal_ratio": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.wall_attributed_ratio": ("ratio", "higher"),
    "trace.task_attributed_ratio": ("ratio", "higher"),
})

CC_MODES = {"driver": 0, "hybrid": 1, "distributed": 2}

# layer metric prefix -> (end-to-end metrics it should move, workloads where
# it should show, workloads where the prediction is no change)
LAYER_TARGETS = {
    "sign.* kernel.extract_us kernel.chunk_us kernel.sign_row_us":
        (("cpu_s", "wall_s"), ("hot_block",), ("resume_score",)),
    "block.* pair.* blocking.*":
        (("shuffle_write_mb", "wall_s"), ("hot_block",), ("resume_score",)),
    "score.* scoring.* kernel.cosine_us kernel.levenshtein_us kernel.jaro_winkler_us":
        (("wall_s", "cpu_s", "shuffle_write_mb"), ("resume_score", "hot_block"), ()),
    "cluster.* clustering.*":
        (("wall_s",), ("resume_score", "hot_block"), ()),
    "metrics.* pipeline.unattributed_s":
        (("cpu_s",), ("hot_block",), ()),
}
