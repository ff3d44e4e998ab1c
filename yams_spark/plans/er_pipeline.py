"""End-to-end ER pipeline DAG with per-stage lineage metrics and
resume-from-checkpoint.

Stage DAG (mirrors the reference ingest→dedupe dataflow, SURVEY.md §3.1/§3.3):

    extract+sign → block → (salt) → pair → score → cluster → publish

Every stage is a pure function of its input table and runs through one
stage runner. When a ``checkpoint_dir`` is given, each stage commits its
output parquet and then a watermark file holding a fingerprint of the
config, chained through the previous stage's watermark. A rerun skips a
stage only when its output exists and its watermark matches, so a changed
config or a recomputed upstream stage recomputes that stage and every later
one (idempotent resume — the WAL/recovery analog of wal_manager.h:23-80,
done the Spark way via durable table commits).

Lineage comes from what Spark already measured, at no extra scan: the
per-partition rows are the commit write's own tasks (one row per task that
wrote rows, ``rows_out`` = its ``recordsWritten`` from the status store),
and the score histogram is an ``Observation`` on the score write. A run's
lineage rows are appended to ``metrics.parquet`` once, at the end of the
run.
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import json
import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

from yams_spark.functions.chunker import PAGE_CHUNKING, ChunkingConfig
from yams_spark.operators.blocking import (
    DEFAULT_BLOCK_CAP,
    DEFAULT_FAMILIES,
    blocks_stage,
    candidate_pairs_stage,
    salt_blocks,
)
from yams_spark.operators.clustering import clusters_stage
from yams_spark.operators.scoring import attach_pair_features, scored_pairs_stage
from yams_spark.operators.signatures import signatures_stage

STAGES = ["sign", "block", "pair", "score", "cluster_groups", "cluster_members"]

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, block_id string, "
    "pair_count long, score_histogram array<long>, rows_in long, "
    "rows_out long, watermark_ts timestamp"
)

#: stages cached when nothing is checkpointed: several consumers read each
#: of them, and without a durable commit the extraction UDF (sign) or the
#: key explode + salting join (block) would rerun once per consumer
_PERSIST_UNCHECKPOINTED = {"sign", "block", "score"}

#: score histogram bins over [0, 1]; the last bin also takes score 1.0
_SCORE_BINS = 20


@dataclass
class PipelineConfig:
    threshold: float = 0.92  # dedupe.h:16
    strategy: str = "keep-newest"  # dedupe.h:15
    block_cap: int = DEFAULT_BLOCK_CAP
    #: cap on published component size (topology_baseline.cpp:44-120 uses
    #: 64). None = off (default), preserving exact oracle equality; when
    #: set, oversized components are split before the packed publish and a
    #: `cluster_split` lineage row records how many components fired.
    max_component_docs: int | None = None
    #: blocking-key families (shared contract, operators/signatures.py)
    families: tuple[str, ...] = DEFAULT_FAMILIES
    #: transitive-closure driver-finish gate (clustering.DRIVER_CC_MAX_EDGES);
    #: 0 forces the pure distributed large-star/small-star path — the bench
    #: runs that once per round to time it at measured scale
    driver_cc_max_edges: int = -1  # -1 = library default
    chunk_cfg: ChunkingConfig = field(default_factory=lambda: PAGE_CHUNKING)
    #: real-embedding-model seam (embedding_generator.cpp:386-407): a
    #: picklable ``list[str] -> vectors`` batch callable; None keeps the
    #: deterministic feature-hash stand-in the oracles share
    embed_fn: object | None = None
    #: run the KG-population stage after signatures (the PostIngestQueue
    #: KnowledgeGraph/Entity stage position, PostIngestQueue.cpp:289-500):
    #: emits kg_doc_entities/nodes/aliases/edges/node_stats keyed by
    #: xxhash64(url) (the Spark-native analog of the reference's numeric
    #: document rowid), checkpointed + lineage-tracked like any stage
    build_kg: bool = False
    kg_pagerank_iters: int = 5
    checkpoint_dir: str | None = None
    run_id: str = ""

    def __post_init__(self) -> None:
        if not self.run_id:
            self.run_id = uuid.uuid4().hex[:12]

    @classmethod
    def scale(cls, **overrides) -> "PipelineConfig":
        """The 100-TB deployment profile in one switch.

        Differences from the default (which preserves exact oracle
        equality for the driver's correctness checks):

        * ``max_component_docs=64`` — publish-side component cap
          (topology_baseline.cpp:44-120): a boilerplate mega-component is
          split before the packed publish instead of landing in one task.

        Everything else already defends itself at scale by default
        (block_cap salting, AQE skew handling, the 2M-edge driver-CC gate
        re-checked per round). Session-level knobs that belong with this
        profile — AQE on, advisoryPartitionSizeInBytes >= 8m, no raised
        autoBroadcastJoinThreshold — live in ``yams_spark.session.get_spark``
        and BENCH/BASELINE.md.
        """
        overrides.setdefault("max_component_docs", 64)
        return cls(**overrides)


def _stage_path(cfg: PipelineConfig, stage: str) -> str:
    assert cfg.checkpoint_dir
    return os.path.join(cfg.checkpoint_dir, f"{stage}.parquet")


def _watermark_path(cfg: PipelineConfig, stage: str) -> str:
    assert cfg.checkpoint_dir
    return os.path.join(cfg.checkpoint_dir, f"{stage}.watermark.json")


def _config_fingerprint(cfg: PipelineConfig, precomputed_embeddings: bool) -> str:
    """Hash of every config field but ``run_id`` and ``checkpoint_dir``.

    Equal configs hash equal in every process. A callable with no stable
    module-level name (a lambda, closure or partial) hashes by its repr,
    which carries its identity, so stages built with it are reused only
    within the process that built them.
    """

    def stable(o):
        name = getattr(o, "__qualname__", "")
        return f"{o.__module__}.{name}" if name and "<" not in name else repr(o)

    fields = {f.name: getattr(cfg, f.name) for f in dataclasses.fields(cfg)}
    del fields["run_id"], fields["checkpoint_dir"]
    fields["precomputed_embeddings"] = precomputed_embeddings
    blob = json.dumps(fields, sort_keys=True, default=stable)
    return hashlib.sha256(blob.encode()).hexdigest()


def _stage_done(cfg: PipelineConfig, stage: str, fingerprint: str) -> dict | None:
    """The stage's watermark if its output exists and the fingerprint matches."""
    if cfg.checkpoint_dir is None or not os.path.exists(_stage_path(cfg, stage)):
        return None
    try:
        with open(_watermark_path(cfg, stage)) as f:
            mark = json.load(f)
    except (OSError, ValueError):
        return None
    return mark if mark.get("fingerprint") == fingerprint else None


def _write_watermark(cfg: PipelineConfig, stage: str, fingerprint: str, schema: StructType) -> dict:
    """Mark the stage committed; its schema lets a reuse skip inference."""
    mark = {
        "run_id": cfg.run_id,
        "stage": stage,
        "fingerprint": fingerprint,
        "schema": schema.jsonValue(),
        "watermark_ts": datetime.now(timezone.utc).isoformat(),
    }
    path = _watermark_path(cfg, stage)
    with open(path + ".tmp", "w") as f:
        json.dump(mark, f)
    os.replace(path + ".tmp", path)
    return mark


def _job_tag(cfg: PipelineConfig, stage: str) -> str:
    return f"yams-{cfg.run_id}-{stage}"


def _commit_stage(
    spark: SparkSession, cfg: PipelineConfig, stage: str, df: DataFrame
) -> DataFrame:
    """Overwrite the stage's parquet; return the durable re-read DataFrame.

    The old watermark is removed first, so a crash mid-write leaves none
    and the next run recomputes the stage; the runner writes the new one
    after the write succeeds. The write's jobs carry ``_job_tag(cfg, stage)``
    so that its tasks can be found in the status store.
    """
    path = _stage_path(cfg, stage)
    if os.path.exists(_watermark_path(cfg, stage)):
        os.remove(_watermark_path(cfg, stage))
    sc = spark.sparkContext
    tag = _job_tag(cfg, stage)
    sc.addJobTag(tag)
    try:
        df.write.mode("overwrite").parquet(path)
    finally:
        sc.removeJobTag(tag)
    return spark.read.parquet(path)


def _write_task_counts(spark: SparkSession, tag: str) -> list[tuple[int, int]]:
    """(partition id, records written) of each task that wrote rows in the
    final stage of the last job tagged ``tag``, from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    job_ids = list(jsc.statusTracker().getJobIdsForTag(tag))
    if not job_ids:
        return []
    store = jsc.statusStore()
    stage_ids = store.job(max(job_ids)).stageIds()
    sid = max(stage_ids.apply(i) for i in range(stage_ids.size()))
    tasks = store.taskList(sid, store.lastStageAttempt(sid).attemptId(), 2**31 - 1)
    counts = []
    for i in range(tasks.size()):
        task = tasks.apply(i)
        metrics = task.taskMetrics()
        if task.status() != "SUCCESS" or not metrics.isDefined():
            continue
        written = metrics.get().outputMetrics().recordsWritten()
        if written > 0:
            counts.append((task.partitionId(), written))
    return sorted(counts)


def _lineage_row(
    cfg: PipelineConfig, stage: str, partition_id: int = -1, block_id: str | None = None,
    pair_count: int | None = None, score_histogram: list[int] | None = None,
    rows_in: int | None = None, rows_out: int | None = None,
) -> tuple:
    """One ``METRICS_SCHEMA`` row, stamped now."""
    return (cfg.run_id, stage, partition_id, block_id, pair_count,
            score_histogram, rows_in, rows_out, datetime.now(timezone.utc))


def _append_lineage(path: str, rows: list[tuple]) -> None:
    """Append rows to the metrics table as one parquet file written on the
    driver (a run's few rows need no Spark job); the file takes its final
    name only once it is complete."""
    schema = to_arrow_schema(DataType.fromDDL(METRICS_SCHEMA))
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(path, f".{name}.tmp"))
    os.replace(os.path.join(path, f".{name}.tmp"), os.path.join(path, name))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    precomputed_embeddings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full ER pipeline. Returns every stage's DataFrame keyed by stage name.

    ``precomputed_embeddings`` — optional ``(url, embedding)`` table that
    hydrates embeddings from an external vector store instead of the
    in-line feature-hash stand-in (the reference keeps embeddings in a
    separate vector database keyed by document hash,
    vector_database.cpp / EmbeddingService.cpp — at 100 TB you never
    recompute vectors you already paid for). Rows without a precomputed
    vector keep the computed one (left join + coalesce, broadcast-eligible
    when the override table is small).
    """
    cfg = cfg or PipelineConfig()
    out: dict[str, DataFrame] = {}

    # A small-file input (one parquet split) would serialize the extraction
    # UDF; at 100TB there are plenty of splits and this no-ops. File count
    # is a free lower bound on scan parallelism — touching pages.rdd would
    # force a deserialization plan node just to ask the same question.
    par = spark.sparkContext.defaultParallelism
    try:
        n_splits = len(pages.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits < par:
        pages = pages.repartition(par * 2)

    # Scale-adaptive shuffle partitioning (guide §2.2): never run the
    # pipeline's wide stages on fewer reduce slots than the session has
    # cores — a fixed small shuffle-partition constant leaves cores idle at
    # high core counts, while AQE's advisory-size coalescing still merges
    # anything that comes out tiny. Only ever raises, never lowers, so an
    # explicit cluster-tuned setting wins.
    try:
        cur_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cur_parts = 0
    if 0 < cur_parts < 2 * par:
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * par))

    lineage: list[tuple] = []
    # lineage a stage's build adds once its commit has run: thunks -> rows
    later: list = []
    # what the next stage's fingerprint chains from: the config, then each
    # committed or reused stage's watermark in turn
    upstream = _config_fingerprint(cfg, precomputed_embeddings is not None)

    def _run_stage(stage: str, build) -> DataFrame:
        """Reuse the stage if its output and a matching watermark exist;
        otherwise build it, commit it and record its write tasks."""
        nonlocal upstream
        fingerprint = hashlib.sha256(f"{upstream}\n{stage}".encode()).hexdigest()
        mark = _stage_done(cfg, stage, fingerprint)
        if mark is not None:
            upstream = json.dumps(mark, sort_keys=True)
            return spark.read.schema(StructType.fromJson(mark["schema"])).parquet(
                _stage_path(cfg, stage))
        df = build()
        if cfg.checkpoint_dir is None:
            return df.persist() if stage in _PERSIST_UNCHECKPOINTED else df
        df = _commit_stage(spark, cfg, stage, df)
        lineage.extend(
            _lineage_row(cfg, stage, partition_id=p, rows_out=n)
            for p, n in _write_task_counts(spark, _job_tag(cfg, stage))
        )
        mark = _write_watermark(cfg, stage, fingerprint, df.schema)
        upstream = json.dumps(mark, sort_keys=True)
        return df

    # --- sign (extract + signatures; narrow, no shuffle) ---
    def build_sign() -> DataFrame:
        signatures = signatures_stage(pages, cfg.chunk_cfg, embed_fn=cfg.embed_fn)
        if precomputed_embeddings is None:
            return signatures
        pre = precomputed_embeddings.select("url", F.col("embedding").alias("_pre_embedding"))
        return (
            signatures.join(pre, "url", "left")
            .withColumn("embedding", F.coalesce(F.col("_pre_embedding"), F.col("embedding")))
            .drop("_pre_embedding")
        )

    signatures = out["signatures"] = _run_stage("sign", build_sign)

    # --- optional KG population (PostIngestQueue stage position) ---
    if cfg.build_kg:
        from yams_spark.operators.kg import populate_kg

        kg = populate_kg(
            signatures.select(
                F.xxhash64("url").alias("doc_id"), F.col("extracted_text").alias("text")
            ),
            pagerank_iters=cfg.kg_pagerank_iters,
            doc_embeddings=signatures.select(F.xxhash64("url").alias("vec_id"), "embedding"),
        )
        for name, df in kg.items():
            out[name] = _run_stage(name, lambda df=df: df)

    # --- block (+salting report) ---
    def build_block() -> DataFrame:
        blocks, oversize = salt_blocks(blocks_stage(signatures, cfg.families), cfg.block_cap)
        later.append(lambda: [
            _lineage_row(cfg, "block_oversize", block_id=r["block_key"],
                         pair_count=r["dropped_pairs_upper_bound"],
                         rows_in=r["block_size"], rows_out=r["n_salt"])
            for r in oversize.collect()
        ])
        return blocks

    blocks = out["blocks"] = _run_stage("block", build_block)

    # --- pair ---
    pairs = out["pairs"] = _run_stage("pair", lambda: candidate_pairs_stage(blocks))

    # --- score (the histogram is observed on the commit write) ---
    def build_score() -> DataFrame:
        scored = scored_pairs_stage(attach_pair_features(pairs, signatures), cfg.threshold)
        if cfg.checkpoint_dir is None:
            return scored
        hist = Observation()
        score_bin = f"least(floor(pair_score * {_SCORE_BINS}), {_SCORE_BINS - 1})"
        bins = ", ".join(f"count_if({score_bin} = {i})" for i in range(_SCORE_BINS))

        def score_row() -> list[tuple]:
            counts = list(hist.get["bins"])
            return [_lineage_row(cfg, "score", pair_count=sum(counts),
                                 score_histogram=counts, rows_out=sum(counts))]

        later.append(score_row)
        return scored.observe(hist, F.expr(f"array({bins})").alias("bins"))

    scored = out["scored_pairs"] = _run_stage("score", build_score)

    # --- cluster + publish ---
    @functools.cache
    def cluster_tables() -> tuple[DataFrame, DataFrame]:
        from yams_spark.operators.clustering import DRIVER_CC_MAX_EDGES

        out["cc_stats"] = {}
        return clusters_stage(
            signatures, scored.where(F.col("accepted")), cfg.threshold, cfg.strategy,
            max_component_docs=cfg.max_component_docs,
            driver_cc_max_edges=(
                DRIVER_CC_MAX_EDGES if cfg.driver_cc_max_edges < 0 else cfg.driver_cc_max_edges
            ),
            cc_stats=out["cc_stats"],
        )

    def build_groups() -> DataFrame:
        if cfg.max_component_docs is not None:
            # one row per split parent component (labels look like
            # "<component>#<i>"), rows_out = sub-clusters it produced
            later.append(lambda: [
                _lineage_row(cfg, "cluster_split", block_id=r["parent"],
                             rows_in=r["n_docs"], rows_out=r["n_sub"])
                for r in spark.read.parquet(_stage_path(cfg, "cluster_groups"))
                .where(F.col("component").contains("#"))
                .groupBy(F.substring_index("component", "#", 1).alias("parent"))
                .agg(F.count("*").alias("n_sub"), F.sum("member_count").alias("n_docs"))
                .collect()
            ])
        return cluster_tables()[0]

    out["clusters"] = _run_stage("cluster_groups", build_groups)
    out["members"] = _run_stage("cluster_members", lambda: cluster_tables()[1])

    if cfg.checkpoint_dir is not None:
        lineage.extend(row for rows in later for row in rows())
        metrics_path = os.path.join(cfg.checkpoint_dir, "metrics.parquet")
        if lineage or not os.path.exists(metrics_path):
            _append_lineage(metrics_path, lineage)
        out["metrics"] = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    return out
