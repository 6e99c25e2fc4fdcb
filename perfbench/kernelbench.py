"""Spark-free microbench of the extraction operators over a fixed sample
of a workload's input: ``extract_document`` per document, and per page
the reading-order kernel (``readingorder.sort_lines_indices``) and the
word→line grouping (``assemble.lines_from_words``).

Run as a script on a sample directory to measure in a fresh process —
the benchmark does so with ``SPARK_GRAFT_NO_NATIVE=1`` for the numpy
figure:

    python3 perfbench/kernelbench.py <sample_dir>

prints one JSON object."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPEATS = 3


def _docs(path: str):
    import numpy as np
    import pyarrow.parquet as pq

    out = []
    for row in pq.read_table(path).to_pylist():
        s = row["spans"] or []
        out.append((
            [x["kind"] for x in s],
            [x["text"] for x in s],
            [x["media_ref"] for x in s],
            np.array([x["offset"] for x in s], dtype=np.int64),
            np.array([x["page_no"] for x in s], dtype=np.int64),
            np.array([[x["x0"], x["y0"], x["x1"], x["y1"]] for x in s], dtype=np.float64).reshape(-1, 4),
            np.array([x["confidence"] for x in s], dtype=np.float64),
            np.array([x["orientation"] for x in s], dtype=np.float64),
        ))
    return out


def _median_time(fn) -> float:
    """Median wall seconds of REPEATS calls (the first call also warms up)."""
    fn()
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def run(sample_dir: str) -> dict:
    import numpy as np

    from swissgeol_ocr_spark.operators.assemble import lines_from_words
    from swissgeol_ocr_spark.operators.extract import extract_document
    from swissgeol_ocr_spark.operators.readingorder import sort_lines_indices
    from swissgeol_ocr_spark.plans.config import ExtractConfig

    line_docs = _docs(os.path.join(sample_dir, "lines.parquet"))
    word_docs = _docs(os.path.join(sample_dir, "words.parquet"))
    line_cfg, word_cfg = ExtractConfig(), ExtractConfig(build_lines_from_words=True)

    def extract_all():
        for d in line_docs:
            extract_document(*d, line_cfg)
        for d in word_docs:
            extract_document(*d, word_cfg)

    # per-page inputs of the two page operators: text-bearing line rects
    # (line sample) and word texts+rects (word sample)
    line_pages, word_pages = [], []
    for kinds, texts, _, _, pages, rects, _, _ in line_docs:
        text_mask = np.array([k != "media" for k in kinds], dtype=bool)
        for p in np.unique(pages):
            sel = np.flatnonzero((pages == p) & text_mask)
            if sel.size:
                line_pages.append(rects[sel])
    for kinds, texts, _, _, pages, rects, _, _ in word_docs:
        for p in np.unique(pages):
            sel = [i for i in np.flatnonzero(pages == p).tolist() if kinds[i] != "media"]
            if sel:
                word_pages.append(([texts[i] for i in sel], rects[sel]))
    grouped = [np.array([r for _, r, _ in lines_from_words(t, r)], dtype=np.float64)
               for t, r in word_pages]
    order_pages = line_pages + [g for g in grouped if len(g)]

    def order_all():
        for r in order_pages:
            sort_lines_indices(r)

    def assemble_all():
        for t, r in word_pages:
            lines_from_words(t, r)

    n_docs = len(line_docs) + len(word_docs)
    return {
        "kernel.ms_per_doc": _median_time(extract_all) * 1e3 / max(1, n_docs),
        "readingorder.us_per_page": _median_time(order_all) * 1e6 / max(1, len(order_pages)),
        "assemble.us_per_page": _median_time(assemble_all) * 1e6 / max(1, len(word_pages)),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: kernelbench.py <sample_dir>")
    print(json.dumps(run(sys.argv[1])))
