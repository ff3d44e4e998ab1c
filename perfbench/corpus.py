"""Seeded Common-Crawl-style input for the benchmark.

A fixed ``documents`` table (doc_id, text, lang), shaped like the repo's
test data — 10 to 100 words drawn from a small shared vocabulary — feeds
``sources.pages.materialize_pages``, which receives the benchmark seed and
turns each document into a duplicate family of pages (url mirrors,
boilerplate churn, near-duplicate edits, singletons) with ground truth.
The documents do not depend on the seed; the family structure does.

``hot_fraction`` adds one byte-identical boilerplate family covering that
share of the pages, built exactly as ``bench.py``'s skew leg builds it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en"] * 8) + (["fr"] * 3) + (["es"] * 3) + (["zh"] * 3) + (["de"] * 3)
HOT_FAMILY = -1
HOT_HTML = (
    b"<html><head><title>boilerplate hub page</title></head><body>"
    + b"shared boilerplate navigation chrome " * 40
    + b"</body></html>"
)


def documents(n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng(20240101)
    lengths = rng.integers(10, 101, size=n_docs)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": [" ".join(rng.choice(VOCAB, size=int(n))) for n in lengths],
        "lang": rng.choice(LANGS, size=n_docs),
    })


def build(spark, out_dir: str, n_docs: int, seed: int, hot_fraction: float) -> tuple[str, str]:
    """Write ``pages.parquet`` and ``truth.parquet`` under ``out_dir``;
    returns their paths."""
    from pyspark.sql import functions as F

    from yams_spark.functions.html_extract import extract_text_from_html
    from yams_spark.sources.pages import materialize_pages

    shutil.rmtree(out_dir, ignore_errors=True)
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir)
    documents(n_docs).to_parquet(os.path.join(docs_dir, "documents.parquet"))
    pages, _truth = materialize_pages(spark, docs_dir, out_dir, replicate=1, seed=seed)
    pages_path = os.path.join(out_dir, "pages.parquet")
    truth_path = os.path.join(out_dir, "truth.parquet")
    if hot_fraction <= 0:
        return pages_path, truth_path

    n_hot = int(pages.count() * hot_fraction)
    hot = spark.range(0, n_hot, 1, 1).select(
        F.concat(F.lit("hot://"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("warc_ts"),
        F.lit(HOT_HTML).alias("html"),
        F.lit(extract_text_from_html(HOT_HTML).decode()).alias("text"),
        F.lit("en").alias("lang"),
    )
    # one more file in each table, not a rewrite of the generated ones
    hot.write.mode("append").parquet(pages_path)
    hot.select("url", F.lit(HOT_FAMILY).cast("long").alias("family_id")).write.mode(
        "append").parquet(truth_path)
    return pages_path, truth_path
