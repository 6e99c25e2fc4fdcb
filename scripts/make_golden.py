#!/usr/bin/env python
"""Generate golden extraction parquets for the driver oracle.

The corpus is a pure function of (doc_id, text). Layouts 0/2/3 under the
default strategy have closed-form SQL oracles (plans/queries.py:
SQL_EXTRACT_SEQUENCE); everything that goes through reading order /
visibility masks does not, so those faces are pinned by golden files:

* extract_layout1_sf<sf>.parquet   — layout-1 docs, default strategy
* extract_aggressive_sf<sf>.parquet — ALL docs, aggressive strategy
* extract_words_sf<sf>.parquet      — word-granularity corpus,
                                      build_lines_from_words

To keep the goldens INDEPENDENT of the code they validate, everything here
is pure Python and imports NOTHING from the engine's kernel: corpus
synthesis is a from-scratch twin of sources/corpus.py (same md5-prefix
hash arithmetic — any drift between this and the Spark expressions shows
up as an oracle mismatch, which is the point), and extraction runs through
scripts/ref_twin.py — a naive object/set implementation mirroring the
REFERENCE's own code shape (readingorder.py/applyocr.py/clean.py), so a
golden hash-match proves Spark-pipeline ↔ kernel ↔ reference-shape
equality over the whole corpus, not just the pytest fixture vectors.

Usage:  python scripts/make_golden.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ref_twin import twin_extract  # noqa: E402
from swissgeol_ocr_spark.sources.corpus import (  # noqa: E402
    LINE_GAP,
    LINE_HEIGHT,
    LINES_PER_PAGE,
    MEGA_FACTOR,
    MEGA_MOD,
    PAGE_H,
    PAGE_W,
    WORD_STEP,
    WORD_W,
    WORDS_PER_LINE,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
SF = SF_DIR.rstrip("/").split("sf")[-1]
GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden"
)


def h16(key: str) -> int:
    """First 4 md5 hex nibbles as int — mirrors corpus._h(key, 4)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:4], 16)


def hslices(key: str, *starts: int) -> tuple[int, ...]:
    """4-nibble slices of one md5 digest (1-based starts) — mirrors
    corpus._hslice over a single materialized per-element digest."""
    d = hashlib.md5(key.encode()).hexdigest()
    return tuple(int(d[s - 1:s + 3], 16) for s in starts)


def mega_words(doc_id: str, text: str) -> list[str]:
    words = text.split(" ")
    if h16(f"{doc_id}:m") % MEGA_MOD == 0:
        words = words * MEGA_FACTOR
    return words


def _media_span(doc_id: str, p: int):
    return ("media", "", f"img-{doc_id}-{p}", p, (0.0, 0.0, PAGE_W, PAGE_H), 1.0, 0.0)


def synth_spans(doc_id: str, text: str):
    """Pure-python twin of documents_to_spans: per-span tuples
    (kind, text, media_ref, page, rect, conf, orient) in array order."""
    words = mega_words(doc_id, text)
    layout = h16(f"{doc_id}:l") % 4
    n_lines = max(1, math.ceil(len(words) / WORDS_PER_LINE))
    n_pages = math.ceil(n_lines / LINES_PER_PAGE)
    scanned = layout == 1

    line_spans = []
    for i in range(n_lines):
        page = i // LINES_PER_PAGE
        local = i - page * LINES_PER_PAGE
        half = local * 2 // LINES_PER_PAGE
        col_no = (1 - half) if scanned else half
        row = local - half * (LINES_PER_PAGE // 2)
        y0 = 40.0 + float(row) * (LINE_HEIGHT + LINE_GAP)
        x0 = 40.0 + float(col_no) * 290.0
        hw, hc, ht, ha = hslices(f"{doc_id}:{i}", 1, 5, 9, 13)
        width = 200.0 + float(hw % 60)
        conf = 0.55 + float(hc % 45) / 100.0 if scanned else 1.0
        tilt = float(ha % 9) - 4.0 if scanned and ht % 11 == 0 else 0.0
        line_spans.append(
            ("ocr-text" if scanned else "text",
             " ".join(words[i * WORDS_PER_LINE:(i + 1) * WORDS_PER_LINE]),
             "", page, (x0, y0, x0 + width, y0 + LINE_HEIGHT), conf, tilt)
        )
    media = [_media_span(doc_id, p) for p in range(n_pages)]
    overlay = [
        ("ocr-text", "hidden overlay", "", 0, (40.0, 700.0, 200.0, 712.0), 0.95, 0.0),
        ("path", "", "", 0, (40.0, 720.0, 560.0, 721.0), 1.0, 0.0),
    ]
    if layout == 1:
        return media + line_spans
    if layout == 2:
        return line_spans + media
    if layout == 3:
        return line_spans + overlay
    return line_spans


def synth_word_spans(doc_id: str, text: str):
    """Pure-python twin of documents_to_word_spans."""
    words = mega_words(doc_id, text)
    n_words = len(words)
    n_pages = max(1, math.ceil(n_words / (WORDS_PER_LINE * LINES_PER_PAGE)))
    spans = [_media_span(doc_id, p) for p in range(n_pages)]
    for j, word in enumerate(words):
        line = j // WORDS_PER_LINE
        k = j - line * WORDS_PER_LINE
        page = line // LINES_PER_PAGE
        row = line - page * LINES_PER_PAGE
        y0 = 40.0 + float(row) * (LINE_HEIGHT + LINE_GAP)
        x0 = 40.0 + float(k) * WORD_STEP
        hg, hc = hslices(f"{doc_id}:wd{j}", 1, 5)
        glued = hg % 7 == 0 and k < WORDS_PER_LINE - 1
        width = WORD_STEP if glued else WORD_W
        conf = 0.55 + float(hc % 45) / 100.0
        spans.append(
            ("ocr-text", word, "", page, (x0, y0, x0 + width, y0 + LINE_HEIGHT), conf, 0.0)
        )
    return spans


def write_golden(name: str, rows) -> None:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    out = os.path.join(GOLDEN_DIR, name)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "kind": pa.array([r[1] for r in rows], pa.string()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "media_ref": pa.array([r[3] for r in rows], pa.string()),
            "offset": pa.array([r[4] for r in rows], pa.int32()),
        }
    )
    pq.write_table(table, out)
    print(f"wrote {table.num_rows} rows -> {out}")


def make_dedup_clusters() -> None:
    """Golden (doc_id, cluster_id) table for the near-dup clustering query.

    INDEPENDENT of the Spark implementation under test: the candidate edge
    set comes from DuckDB running SQL_MINHASH (the same oracle SQL the
    driver already hash-verifies against the Spark pair query), and the
    transitive closure is a 30-line pure-python union-find. cluster_id is
    the smallest member doc_id — the invariant the Spark
    large-star/small-star alternation converges to.
    """
    import duckdb

    from swissgeol_ocr_spark.plans.queries import SQL_MINHASH

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    # representative-level near-dup pairs (a_id, b_id, a_dups, b_dups) plus
    # the LINEAR exact-duplicate membership edges (keeper → member) —
    # mirrors q_dedup_clusters' round-5 edge set: exact clusters collapse
    # before banding, so their members re-enter via k−1 edges, never k²
    pairs = [(a, b) for a, b, *_ in con.sql(SQL_MINHASH).fetchall()]
    pairs += con.sql(
        """
        SELECT k.keep_id, d.doc_id
        FROM documents d
        JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep_id
              FROM documents GROUP BY md5(text)) k
          ON md5(d.text) = k.fp AND d.doc_id > k.keep_id
        """
    ).fetchall()

    parent = {i: i for i in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = sorted((i, find(i)) for i in ids)
    out = os.path.join(GOLDEN_DIR, f"dedup_clusters_sf{SF}.parquet")
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "cluster_id": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, out)
    n_clusters = len({c for _, c in rows})
    print(f"wrote {table.num_rows} rows ({n_clusters} clusters) -> {out}")


def main() -> None:
    import duckdb

    docs = duckdb.sql(
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, text "
        f"FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    layout1, aggressive, word_rows = [], [], []
    for doc_id, text in docs:
        spans = synth_spans(doc_id, text)
        if h16(f"{doc_id}:l") % 4 == 1:
            for (k, t, m, o) in twin_extract(spans):
                layout1.append((doc_id, k, t, m, o))
        for (k, t, m, o) in twin_extract(spans, aggressive=True):
            aggressive.append((doc_id, k, t, m, o))
        for (k, t, m, o) in twin_extract(
            synth_word_spans(doc_id, text), build_lines_from_words=True
        ):
            word_rows.append((doc_id, k, t, m, o))

    write_golden(f"extract_layout1_sf{SF}.parquet", layout1)
    write_golden(f"extract_aggressive_sf{SF}.parquet", aggressive)
    write_golden(f"extract_words_sf{SF}.parquet", word_rows)
    make_dedup_clusters()


if __name__ == "__main__":
    main()
