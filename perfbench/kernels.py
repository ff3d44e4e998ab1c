"""Single-thread microbenches of the pipeline's Python kernels.

Each runs on a fixed sample of the workload's own data, in the driver
process, outside any timed window: the page kernels on the first
``SAMPLE`` pages by ``xxhash64(url)``, the pair kernels on the first
``SAMPLE`` accepted pairs — the pairs the scoring stage feeds them. Reported
as microseconds per call; a batch kernel's call covers the whole sample.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

SAMPLE = 64
_MIN_PASS_S = 0.05


def _us_per_call(fn, calls: int) -> float:
    """Median over 3 passes of µs per call; a pass repeats ``fn`` (which
    makes ``calls`` calls) until it has run for at least _MIN_PASS_S."""
    per = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += calls
            dt = time.perf_counter() - t0
            if dt >= _MIN_PASS_S:
                break
        per.append(dt / n * 1e6)
    return statistics.median(per)


def sample(pages, signatures, scored) -> tuple[list, list]:
    """(SAMPLE pages, SAMPLE accepted pairs with both sides' signature
    columns), each the first by xxhash64 of its urls."""
    from pyspark.sql import functions as F

    rows = (
        pages.select("url", "html", "text")
        .orderBy(F.xxhash64("url"), "url").limit(SAMPLE).collect()
    )
    side = signatures.select("url", "title_norm", "embedding")
    pairs = (
        scored.where("accepted").select("url_a", "url_b")
        .orderBy(F.xxhash64("url_a", "url_b"), "url_a", "url_b").limit(SAMPLE)
        .join(side.toDF("url_a", "title_a", "emb_a"), "url_a")
        .join(side.toDF("url_b", "title_b", "emb_b"), "url_b")
        .orderBy("url_a", "url_b").collect()
    )
    return rows, pairs


def run(rows, pairs) -> dict[str, float]:
    from yams_spark.functions.chunker import PAGE_CHUNKING, chunk_boundaries
    from yams_spark.functions.html_extract import extract_text_from_html
    from yams_spark.functions.similarity import (
        cosine_matrix,
        jaro_winkler,
        levenshtein_batch,
    )
    from yams_spark.operators.signatures import compute_signature_row

    pages = [(r["url"], bytes(r["html"]), r["text"]) for r in rows]
    emb_a = np.array([p["emb_a"] for p in pairs], dtype=np.float32)
    emb_b = np.array([p["emb_b"] for p in pairs], dtype=np.float32)
    urls_a = [p["url_a"] for p in pairs]
    urls_b = [p["url_b"] for p in pairs]
    titles = [(p["title_a"], p["title_b"]) for p in pairs]

    def each(fn, items):
        def loop():
            for x in items:
                fn(x)
        return loop

    return {
        "extract_us": _us_per_call(each(lambda p: extract_text_from_html(p[1]), pages), len(pages)),
        "chunk_us": _us_per_call(
            each(lambda p: chunk_boundaries(p[1], PAGE_CHUNKING), pages), len(pages)),
        "sign_row_us": _us_per_call(each(lambda p: compute_signature_row(*p), pages), len(pages)),
        "cosine_us": _us_per_call(lambda: cosine_matrix(emb_a, emb_b), 1),
        "levenshtein_us": _us_per_call(lambda: levenshtein_batch(urls_a, urls_b), 1),
        "jaro_winkler_us": _us_per_call(
            each(lambda t: jaro_winkler(*t), titles), len(titles)),
    }
