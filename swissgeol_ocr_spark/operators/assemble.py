"""Text assembly (E1 ordering semantics) and word→line grouping.

The reference emits a hidden text layer (/root/reference/ocr/draw.py); we
emit the ordered span sequence instead, but E1's *ordering and joining
rules* define how text is assembled:

* words on a line render left-to-right with an explicit space iff the next
  word starts strictly right of the current word's end
  (``next.x0 > cur.x1`` — draw.py:34-39, the OCRmyPDF trick)
* a word whose vertical middle falls outside the line's padded band gets
  its own vertical placement (draw.py:26-32) — i.e. it doesn't really
  belong to the line; our line builder uses the same band test to group
  word spans into lines in the first place
* block text is the space-join of its lines (readingorder.py:19-20)

``lines_from_words`` is the "from-scratch layout detection" step replacing
Textract: word spans with boxes are grouped into text lines by vertical
band overlap and ordered by x.
"""

from __future__ import annotations

import numpy as np


def join_words(texts: list[str], rects: np.ndarray) -> str:
    """Join a line's words left-to-right; explicit space iff the next word
    starts strictly right of this word's end (draw.py:34-39).

    Scalar-python hot path: the per-word numpy indexing + argsort on
    ~8-element arrays cost more in dispatch than in work (profiled ~7% of
    the word-granularity kernel). ``sorted`` is stable like
    ``np.argsort(kind='stable')`` and python floats ARE float64, so the
    comparisons are IEEE-identical; a NaN x0 (possible only on raw
    unsalvaged input) falls back to the original numpy ordering, whose
    NaN placement is the pinned behavior."""
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    x0 = rects[:, 0].tolist()
    x1 = rects[:, 2].tolist()
    if any(v != v for v in x0):  # NaN → numpy's stable NaN-last ordering
        order = np.argsort(rects[:, 0], kind="stable").tolist()
    else:
        order = sorted(range(len(x0)), key=x0.__getitem__)
    parts: list[str] = []
    last = len(order) - 1
    for pos, i in enumerate(order):
        parts.append(texts[i])
        if pos < last and x0[order[pos + 1]] > x1[i]:
            parts.append(" ")
    return "".join(parts)


def lines_from_words(
    texts: list[str], rects: np.ndarray
) -> list[tuple[str, tuple[float, float, float, float], list[int]]]:
    """Group word spans into text lines.

    Two words share a line when each word's vertical middle lies inside the
    other's vertical extent (mutual band overlap — the same test draw.py:27
    uses to detect words that do NOT belong to a line). Greedy left-to-right
    scan in (y, x) order; O(n·lines) per page.

    Returns [(line_text, line_rect, word_indices)] ordered top-down.
    """
    n = len(texts)
    if n == 0:
        return []
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    # scalar-python greedy loop over list views: python floats are
    # float64, so every band comparison is IEEE-identical to the former
    # per-element numpy indexing, without its dispatch cost (profiled
    # ~25% of the word-granularity kernel). np.lexsort keeps the scan
    # order authoritative (incl. its NaN-last placement).
    x0l = rects[:, 0].tolist()
    x1l = rects[:, 2].tolist()
    y0l = rects[:, 1].tolist()
    y1l = rects[:, 3].tolist()
    yml = ((rects[:, 1] + rects[:, 3]) / 2.0).tolist()
    order = np.lexsort((rects[:, 0], rects[:, 1])).tolist()
    # a NaN coordinate (possible only on raw unsalvaged input) falls back
    # to the original numpy per-line min/max + argsort, whose NaN
    # propagation/placement is the pinned behavior; the finite-value fast
    # path below is IEEE-identical to it
    has_nan = bool(np.isnan(rects).any())
    lines: list[list[int]] = []
    # evolving [y0min, y1max, x0min, x1max] per line — the band test uses
    # [0]/[1]; the final line rect is exactly (x0min, y0min, x1max, y1max)
    bands: list[list[float]] = []
    for i in order:
        ymi = yml[i]
        ry0 = y0l[i]
        ry1 = y1l[i]
        placed = False
        for li in range(len(lines) - 1, -1, -1):
            b = bands[li]
            b0 = b[0]
            b1 = b[1]
            band_mid = (b0 + b1) / 2.0
            if b0 < ymi < b1 and ry0 < band_mid < ry1:
                lines[li].append(i)
                if ry0 < b0:
                    b[0] = ry0
                if ry1 > b1:
                    b[1] = ry1
                if x0l[i] < b[2]:
                    b[2] = x0l[i]
                if x1l[i] > b[3]:
                    b[3] = x1l[i]
                placed = True
                break
        if not placed:
            lines.append([i])
            bands.append([ry0, ry1, x0l[i], x1l[i]])

    out = []
    for word_idx, b in zip(lines, bands):
        if has_nan:
            wr = rects[word_idx]
            line_rect = (
                float(wr[:, 0].min()),
                float(wr[:, 1].min()),
                float(wr[:, 2].max()),
                float(wr[:, 3].max()),
            )
            text = join_words([texts[i] for i in word_idx], wr)
        else:
            line_rect = (b[2], b[0], b[3], b[1])
            text = _join_words_fast(texts, word_idx, x0l, x1l)
        out.append((text, line_rect, word_idx))
    return out


def _join_words_fast(
    texts: list[str], word_idx: list[int], x0l: list[float], x1l: list[float]
) -> str:
    """join_words over precomputed coordinate lists (finite values only —
    callers NaN-guard): same stable x0 order, same strict space rule."""
    order = sorted(word_idx, key=x0l.__getitem__)
    parts: list[str] = []
    last = len(order) - 1
    for pos, i in enumerate(order):
        parts.append(texts[i])
        if pos < last and x0l[order[pos + 1]] > x1l[i]:
            parts.append(" ")
    return "".join(parts)
