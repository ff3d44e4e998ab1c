"""ER pipeline benchmark: ``run_pipeline`` on generated Common-Crawl-style
pages, one fresh JVM at ``local[4]`` per invocation.

    python3 perfbench/run.py --workload hot_block --seed 1 --seconds 5 --trace 0

Run from the repository root. Each invocation:

1. starts Spark, ships the package and warms the Python workers;
2. generates the workload's pages from ``--seed`` (untimed) and reads them;
3. for ``resume_score``, runs the full pipeline once into a checkpoint dir
   (untimed; this is the plain duplicate-mix cold run whose checksum the
   resumed runs must reproduce);
4. runs the pipeline closed-loop, one run at a time, each into a fresh
   checkpoint dir, until ``--seconds`` have passed and the workload's
   ``min_runs`` have completed;
5. checks the outputs and prints one JSON line with the end-to-end
   metrics (``--trace 0``) or, after one traced run between two untraced
   ones, the per-layer metrics (``--trace 1``).

Correctness checks (a failure marks the run's pipeline runs as failed):
the cluster checksum repeats across every pipeline run of the workload and
seed (also across invocations in one checkout), equals the value in
``expected.json`` at seed 42, and for ``resume_score`` equals the cold
run's; every url's ``extracted_text`` equals ``pages.text`` byte for byte;
pairwise F1 on labeled same-block pairs is at least 0.99.

Exits 2 without a result when the program is not next to ``perfbench/``.
"""

from __future__ import annotations

import os
import sys
import time


def _launch_time() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
# ~1.5k pages (+5% hot pages on hot_block), about sf0.001 at replicate 1:
# the whole protocol of 48 invocations must fit in an hour on 4 cores even
# when the host runs 1.5x slow, and at this size a run is already dominated
# by Spark's per-job cost rather than by the corpus
N_DOCS = 600
DRIVER_MEMORY = "3g"
F1_MIN = 0.99
CHECKSUM_SEED = 42


def _parse(argv):
    import argparse

    from spec import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: str) -> dict[str, str]:
    scratch = {
        "work": run_dir,
        "tmp": os.path.join(run_dir, "tmp"),
        "spark_local": os.path.join(run_dir, "spark-local"),
        "checkpoints": os.path.join(run_dir, "ckpt"),
    }
    for path in scratch.values():
        os.makedirs(path, exist_ok=True)
    for var in ("YAMS_TIMING", "YAMS_SPARK_MASTER", "YAMS_SPARK_LOCAL_DIR",
                "YAMS_SHUFFLE_PARTITIONS", "YAMS_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    os.environ.update({
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable, "TMPDIR": scratch["tmp"],
        "SPARK_LOCAL_DIRS": scratch["spark_local"],
    })
    return scratch


class Bench:
    def __init__(self, args, scratch: dict[str, str]) -> None:
        from spec import WORKLOADS

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.scratch = scratch
        self.spark = None
        self.n_iter = 0
        self.problems: list[str] = []

    # -- set-up -------------------------------------------------------------
    def start_spark(self) -> None:
        from pyspark.sql import functions as F

        from yams_spark.session import get_spark

        tmp = self.scratch["tmp"]
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": self.scratch["spark_local"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

        def passthrough(it):
            yield from it

        # start and import-warm one Python worker per core
        self.spark.range(0, 10000, 1, CORES).mapInPandas(passthrough, "id long").groupBy(
            (F.col("id") % 7).alias("k")).count().collect()

    def make_input(self) -> None:
        import corpus

        self.pages_path, self.truth_path = corpus.build(
            self.spark, os.path.join(self.scratch["work"], "input"), N_DOCS,
            self.args.seed, self.workload["hot_fraction"])

    def read_input(self) -> None:
        self.pages = self.spark.read.parquet(self.pages_path)
        self.n_pages = self.pages.count()

    # -- one pipeline run ---------------------------------------------------
    def _fresh_ckpt(self) -> str:
        import shutil

        self.n_iter += 1
        path = os.path.join(self.scratch["checkpoints"], f"run{self.n_iter}")
        if self.workload["resume"]:
            # a crash lost the score and cluster outputs and watermarks
            shutil.copytree(self.prep_dir, path, ignore=shutil.ignore_patterns(
                "score.*", "cluster_*"))
        return path

    def pipeline_run(self, tracer=None) -> dict:
        import contextlib
        import gc

        import procstat
        import statusstore

        from yams_spark.plans import er_pipeline as er

        ckpt = self._fresh_ckpt()
        # every run starts from a collected heap in the JVM and the driver
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        first_stage = statusstore.last_stage_id(self.spark)
        patched = tracer.patched(er) if tracer else contextlib.nullcontext()
        root = tracer.run_span() if tracer else contextlib.nullcontext()
        with patched, root:
            cpu0 = procstat.sample().cpu_s
            t0 = time.perf_counter()
            out = er.run_pipeline(self.spark, self.pages, er.PipelineConfig(checkpoint_dir=ckpt))
            # counting the published tables closes the cluster+publish stage
            with tracer.span("cluster", "count_published") if tracer else contextlib.nullcontext():
                n_clusters = out["clusters"].count()
                n_members = out["members"].count()
            wall = time.perf_counter() - t0
            cpu = procstat.sample().cpu_s - cpu0
        statusstore.drain(self.spark)
        shuffle = sum(r.shuffle_write for r in statusstore.stages_after(self.spark, first_stage))
        return {"wall_s": wall, "cpu_s": cpu, "shuffle_write_mb": shuffle / 1e6,
                "checksum": _checksum(out["clusters"]), "clusters": n_clusters,
                "members": n_members, "ckpt": ckpt, "out": out}

    def prepare_resume(self) -> None:
        """Full cold pipeline into the checkpoint dir the resumed runs copy."""
        from yams_spark.plans import er_pipeline as er

        self.prep_dir = os.path.join(self.scratch["checkpoints"], "prepared")
        out = er.run_pipeline(self.spark, self.pages, er.PipelineConfig(checkpoint_dir=self.prep_dir))
        self.cold_checksum = _checksum(out["clusters"])

    # -- the timed loop -----------------------------------------------------
    def measure(self, seconds: float) -> list[dict]:
        import shutil
        import traceback

        runs: list[dict] = []
        deadline = time.perf_counter() + seconds
        while True:
            try:
                runs.append(self.pipeline_run())
            except Exception:  # a failed run counts against pass_ratio
                self.problems.append("pipeline run failed: " + traceback.format_exc(limit=3))
                runs.append({"failed": True})
            for old in runs[:-1]:
                if old.get("ckpt"):
                    shutil.rmtree(old.pop("ckpt"), ignore_errors=True)
            if time.perf_counter() >= deadline and len(runs) >= self.workload["min_runs"]:
                return runs

    # -- correctness --------------------------------------------------------
    def reference_checksum(self, first: int | None) -> tuple[int | None, str]:
        import json

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)["checksums"]
        # a resumed run must publish exactly what the cold run publishes
        key = "cold_dup" if self.workload["resume"] else self.args.workload
        if self.args.seed == CHECKSUM_SEED and key in expected:
            return expected[key], f"expected.json {key} at seed {CHECKSUM_SEED}"
        seen = _checksum_log().get(self._log_key())
        if seen is not None:
            return seen, "earlier invocation with this seed"
        if self.workload["resume"]:
            return self.cold_checksum, "cold run of the same corpus"
        return first, "first run of this invocation"

    def _log_key(self) -> str:
        return f"{self.args.workload}/seed{self.args.seed}"

    def check(self, runs: list[dict]) -> dict:
        from pyspark.sql import functions as F

        from yams_spark.operators.evaluation import labeled_pairs, pairwise_f1

        good = [r for r in runs if not r.get("failed")]
        ref, source = self.reference_checksum(good[0]["checksum"] if good else None)
        problems = len(self.problems)
        if self.workload["resume"] and self.cold_checksum != ref:
            self.problems.append(f"cold run checksum {self.cold_checksum} != {ref} ({source})")
        for r in good:
            if r["checksum"] != ref:
                r["failed"] = True
                self.problems.append(f"checksum {r['checksum']} != {ref} ({source})")
        checks = {"checksum": ref, "checksum_reference": source}
        if not good:
            return checks
        last = good[-1]["out"]

        sign_dir = self.prep_dir if self.workload["resume"] else good[-1]["ckpt"]
        sign = self.spark.read.parquet(os.path.join(sign_dir, "sign.parquet"))
        mismatched = (
            self.pages.select("url", "text").join(
                sign.select("url", "extracted_text"), "url", "full_outer")
            .where(~F.col("text").eqNullSafe(F.col("extracted_text"))
                   | F.col("text").isNull() | F.col("extracted_text").isNull())
            .count()
        )
        if mismatched:
            self.problems.append(f"{mismatched} urls whose extracted_text != pages.text")
        truth = self.spark.read.parquet(self.truth_path)
        f1 = pairwise_f1(labeled_pairs(last["pairs"], truth),
                         last["members"].select("url", "group_key")).first()["f1"]
        if f1 < F1_MIN:
            self.problems.append(f"pairwise F1 {f1:.6f} < {F1_MIN}")
        checks.update({"extraction_mismatches": mismatched, "pairwise_f1": f1})
        if len(self.problems) > problems:  # the outputs of every run are suspect
            for r in good:
                r["failed"] = True
        return checks

    def record_checksum(self, checksum: int) -> None:
        import json

        log = _checksum_log()
        log.setdefault(self._log_key(), checksum)
        with open(os.path.join(WORK, "checksums.json"), "w") as f:
            json.dump(log, f, indent=1, sort_keys=True)

    # -- the traced run -------------------------------------------------------
    def layer_metrics(self) -> tuple[dict, dict]:
        import kernels
        import procstat
        import statusstore
        import tracing
        from pyspark.sql import functions as F

        from spec import CC_MODES

        # untraced runs right before and right after the traced one are the
        # baseline of the tracing overhead: the JVM still gets faster from
        # run to run, so one baseline run alone would be biased
        before = self.pipeline_run()
        tracer = tracing.Tracer(self.spark, f"{self.args.workload}-{self.args.seed}")
        first_job = statusstore.last_job_id(self.spark)
        with procstat.PeakRss() as rss:
            run = self.pipeline_run(tracer)
        per_stage, totals = tracer.harvest(first_job)
        walls, py_cpu = tracer.span_totals()
        after = self.pipeline_run()

        m: dict[str, float] = {}
        for stage, values in per_stage.items():
            m[f"{stage}.wall_s"] = walls[stage]
            m[f"{stage}.py_cpu_s"] = py_cpu[stage]
            for name, v in values.items():
                m[f"{stage}.{name}"] = v
        attributed = sum(walls.values())
        m["pipeline.unattributed_s"] = run["wall_s"] - attributed
        m["pipeline.commit_mb"] = _du(run["ckpt"]) / 1e6
        m["pipeline.spark_jobs"] = totals["spark_jobs"]
        m["pipeline.peak_rss_mb"] = rss.peak_mb

        out = run["out"]
        lineage = out["metrics"]
        over = lineage.where(F.col("stage") == "block_oversize").agg(
            F.count("*").alias("n"), F.max("rows_out").alias("salt")).first()
        m["blocking.oversize_keys"] = over["n"]
        m["blocking.max_salt"] = over["salt"] or 0
        pair_parts = [r[0] for r in lineage.where(F.col("stage") == "pair").select("rows_out").collect()]
        m["blocking.pair_partition_max_over_median"] = tracing.max_over_median(pair_parts)
        acc = out["scored_pairs"].agg(F.count("*").alias("n"),
                                      F.sum(F.col("accepted").cast("long")).alias("a")).first()
        m["scoring.accept_ratio"] = (acc["a"] or 0) / acc["n"] if acc["n"] else 0.0
        cc = out.get("cc_stats") or {}
        m["clustering.cc_edges"] = cc.get("edges_initial", 0)
        m["clustering.cc_mode"] = CC_MODES.get(cc.get("mode"), -1)
        m["clustering.cc_rounds"] = cc.get("rounds", 0)
        m["clustering.max_component"] = out["clusters"].agg(F.max("member_count")).first()[0] or 0

        for name, us in kernels.run(*kernels.sample(self.pages, out["signatures"], out["scored_pairs"])).items():
            m[f"kernel.{name}"] = us
        m["trace.overhead_s"] = run["wall_s"] - (before["wall_s"] + after["wall_s"]) / 2
        m["trace.wall_attributed_ratio"] = attributed / run["wall_s"]
        m["trace.task_attributed_ratio"] = totals["task_attributed_ratio"]
        return m, {"runs": [before, run, after], "spans": tracer.to_json()}

    # -- teardown -------------------------------------------------------------
    def stop(self) -> None:
        import procstat

        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        kids = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        for pid in procstat.wait_for_exit(kids, timeout_s=30):
            os.kill(pid, 9)
        procstat.wait_for_exit(kids, timeout_s=10)
        self.spark = None


def _checksum(clusters) -> int:
    """The published-cluster checksum the ROADMAP baselines use."""
    from pyspark.sql import functions as F

    return int(clusters.agg(F.coalesce(F.expr(
        "bit_xor(xxhash64(group_key, canonical_url, member_count))"), F.lit(0))).first()[0])


def _checksum_log() -> dict:
    import json

    try:
        with open(os.path.join(WORK, "checksums.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main(argv=None) -> int:
    import json
    import shutil
    import statistics

    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "yams_spark", "plans", "er_pipeline.py")):
        print(f"perfbench: no yams_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    scratch = _environment(run_dir)

    # numpy, pyspark and the program are imported only now, after the
    # thread-count and scratch variables are set
    import hostinfo
    import procstat
    import spec

    bench = Bench(args, scratch)
    phases: dict[str, float] = {}  # wall seconds of each part of the invocation

    def phase(name: str, t0: float) -> float:
        now = time.time()
        phases[name] = now - t0
        return now

    try:
        bench.start_spark()
        t = time.time()
        bench.make_input()
        phase("generate", t)
        bench.read_input()
        if bench.workload["resume"]:
            t = time.time()
            bench.prepare_resume()
            phase("prepare_resume", t)
        # corpus generation and the resume preparation are not set-up work
        setup_s = time.time() - _launch_time() - sum(phases.values())
        phases["setup"] = setup_s

        probe = [hostinfo.probe_s()]
        t = time.time()
        clock0 = procstat.cpu_clock()
        runs = bench.measure(args.seconds)
        clock1 = procstat.cpu_clock()
        steal_ratio = (clock1[1] - clock0[1]) / max(clock1[0] - clock0[0], 1e-9)
        t = phase("measure", t)
        layers, trace = bench.layer_metrics() if args.trace else ({}, None)
        if trace:
            runs += trace["runs"]
            t = phase("trace", t)
        probe.append(hostinfo.probe_s())
        checks = bench.check(runs)
        host = hostinfo.facts(bench.spark, scratch)
        t = phase("check", t)
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("stop", t)

    attempted = len(runs)
    failed = sum(1 for r in runs if r.get("failed"))
    timed = [r for r in runs if not r.get("failed")]
    if not bench.problems and timed:
        bench.record_checksum(checks["checksum"])
    probe_s = statistics.mean(probe)

    if args.trace:
        layers["host.probe_s"] = probe_s
        layers["host.steal_ratio"] = steal_ratio
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, (u, _b) in spec.PER_LAYER.items()}
    else:
        med = (lambda key: statistics.median(r[key] for r in timed)) if timed else (lambda key: 0.0)
        values = {
            "setup_s": setup_s,
            "wall_s": med("wall_s"),
            "docs_per_s": bench.n_pages / med("wall_s") if timed else 0.0,
            "cpu_s": med("cpu_s"),
            "shuffle_write_mb": med("shuffle_write_mb"),
            "pairwise_f1": checks.get("pairwise_f1", 0.0),
            "pass_ratio": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, (u, _b) in spec.END_TO_END.items()}

    draw = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "docs": N_DOCS, "pages": bench.n_pages,
        "pipeline_runs": [
            {k: r[k] for k in ("wall_s", "cpu_s", "shuffle_write_mb", "checksum", "clusters", "members")}
            for r in runs if "checksum" in r],
        "phases_s": phases, "host_probe_s": probe, "host_steal_ratio": steal_ratio,
        "host": host, "checks": checks,
        "problems": bench.problems,
        "spans": trace["spans"] if trace else None,
    }
    with open(os.path.join(WORK, "draws.jsonl"), "a") as f:
        f.write(json.dumps(draw) + "\n")
    for p in bench.problems:
        print(f"perfbench: FAILED CHECK: {p}", file=sys.stderr)
    print("perfbench host " + json.dumps(
        {"host_probe_s": probe, "host_steal_ratio": steal_ratio, **host}))
    print(json.dumps({"correct": not bench.problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
