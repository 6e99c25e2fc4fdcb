"""Per-document extraction kernel — the composition the reference runs per
page (/root/reference/ocr/__init__.py:102-145, O2), span-native.

Pipeline per page (spans in draw/``offset`` order):

1. born-digital classification (C1, util.py:4-35)
2. strategy switch (ocr/__init__.py:124-131):
   * non-aggressive + born-digital → page passes through untouched
     (the reference returns before OCR at __init__.py:128-131)
   * non-aggressive + scanned → conservative stale-OCR strip (C2),
     empty mask
   * aggressive → order-sensitive visibility sweep (C3) on every page,
     returning the mask of still-visible ink
3. the stripped text-bearing spans become the layout engine's candidate
   detections (they are what OCR of the page image would report — in the
   reference this is the Textract network call, T3, replaced here by the
   from-scratch span-native detector)
4. tiling + cross-tile dedup (T1/T6, textract.py:98-131)
5. (derotation, T5, applies at detection-parse time — operators/parse.py —
   and affects only geometry, never ordering: readingorder.py:26 consumes
   ``rect``; it is therefore not part of this text-sequence hot path)
6. reading order (R1-R6, readingorder.py:178-223)
7. two-tier confidence filter + mask suppression (C5/C6,
   applyocr.py:94-112)
8. emission: surviving base-layer spans in original order, then the new
   text lines in reading order as kind='ocr-text' (the reference draws
   them as an invisible text layer ON TOP of the page content,
   draw.py:52-147 — ignore-text in bboxlog terms)

Output: the document's ordered span sequence (kind, text, media_ref,
offset) with ``offset`` the dense reading-order rank — the span-sequence
equality contract of BASELINE.json.

Page dimensions are derived as the ceiling of the page's span extent
(the corpus generator places spans inside the nominal page box, so this
recovers the page rect deterministically).
"""

from __future__ import annotations

import math

import numpy as np

from swissgeol_ocr_spark.operators.classify import (
    KIND_MEDIA,
    KIND_OCR,
    KIND_TEXT,
    encode_kinds,
    find_old_ocr_spans,
    is_digitally_born,
)
from swissgeol_ocr_spark.operators.assemble import lines_from_words
from swissgeol_ocr_spark.operators.clean import clean_old_ocr_aggressive
from swissgeol_ocr_spark.operators.confidence import filter_blocks
from swissgeol_ocr_spark.operators.mask import PageMask
from swissgeol_ocr_spark.operators.readingorder import sort_lines_indices
from swissgeol_ocr_spark.operators.tiling import clip_rects, combine_text_lines
from swissgeol_ocr_spark.plans.config import ExtractConfig

OutSpan = tuple[str, str, str, int]  # (kind, text, media_ref, offset)

# Guard replacing the reference's 10MB page-payload limit
# (applyocr.py:34-49): pages with more candidate lines than this are
# skipped (emit base layer only), keeping a 10^12-doc job alive. The
# reading-order kernel is O(n²)-O(n³) per page (like the reference), so
# this also bounds worst-case task time; real pages top out well below
# this (a dense A0 scan is ~2-3k lines).
MAX_LINES_PER_PAGE = 5_000
# Oversized-page guard: the visibility mask (C3/C6) is a page-area
# byte array, so a corrupt giant coordinate would allocate page_w*page_h
# bytes and kill the task. Pages whose area exceeds this cap (10^8 pt²
# ≈ a 10k×10k-pt page — far beyond PDF's 14400-pt legal maximum on any
# sane aspect ratio) are passed through untouched instead of analyzed,
# like the reference's oversized-payload skip (applyocr.py:63-65).
MAX_PAGE_MASK_AREA = 100_000_000.0


def salvage_document_inputs(
    kinds, texts, media_refs, offsets, page_nos, rects, confidences, orientations
):
    """P2 corrupt-input salvage (reference ocr/__init__.py:40-57 error
    handling + preprocess/preprocess_doc.py:8-49 page-tree repair): a
    best-effort normalization of a malformed span row so extraction can be
    RETRIED instead of quarantining the document — at 10^12 docs, repair
    beats drop. Repairs applied:

    * null kind/text/media strings → ''          (missing tree nodes)
    * non-finite geometry → 0.0; coordinates clamped to [0, 10^6] pt;
      inverted rect corners swapped
    * non-finite / out-of-range confidence → clipped to [0, 1]
    * non-finite orientation → 0.0
    * null / non-finite / negative page numbers and offsets → 0; finite
      values above 2^62 clamp to 2^62 (an unguarded float→int64 cast of a
      huge value is undefined and typically wraps negative)

    Pure-python + numpy, no Spark; called by the Arrow kernel driver on
    exception (zero cost for healthy documents) and usable proactively."""
    kinds = ["" if k is None else k for k in kinds]
    texts = ["" if t is None else t for t in texts]
    media_refs = ["" if m is None else m for m in media_refs]

    def _ints(a):
        a = np.asarray(a, dtype=np.float64)
        # clip the upper bound too: a finite huge float (1e300) would be
        # undefined in float→int64 conversion (typically wraps negative,
        # violating the "out-of-range → 0" contract); 2^62 is exactly
        # representable in float64 and safely inside int64
        return np.clip(np.where(np.isfinite(a), a, 0.0), 0.0, 2.0**62).astype(np.int64)

    offsets = _ints(offsets)
    page_nos = _ints(page_nos)
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    rects = np.where(np.isfinite(rects), rects, 0.0)
    rects = np.clip(rects, 0.0, 1e6)
    rects = np.concatenate(
        [np.minimum(rects[:, 0:2], rects[:, 2:4]), np.maximum(rects[:, 0:2], rects[:, 2:4])],
        axis=1,
    )
    confidences = np.asarray(confidences, dtype=np.float64)
    confidences = np.clip(np.where(np.isfinite(confidences), confidences, 0.0), 0.0, 1.0)
    orientations = np.asarray(orientations, dtype=np.float64)
    orientations = np.where(np.isfinite(orientations), orientations, 0.0)
    return kinds, texts, media_refs, offsets, page_nos, rects, confidences, orientations


def extract_document(
    kinds: list[str],
    texts: list[str],
    media_refs: list[str],
    offsets: np.ndarray,
    page_nos: np.ndarray,
    rects: np.ndarray,
    confidences: np.ndarray,
    orientations: np.ndarray,
    config: ExtractConfig,
) -> list[OutSpan]:
    """Extract one document; returns the ordered output span sequence."""
    n = len(kinds)
    if n == 0:
        return []
    offsets = np.asarray(offsets, dtype=np.int64)
    page_nos = np.asarray(page_nos, dtype=np.int64)
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    confidences = np.asarray(confidences, dtype=np.float64)
    orientations = np.asarray(orientations, dtype=np.float64)
    kind_codes = encode_kinds(kinds)

    # Fast path: a document with no media spans is born-digital on every
    # page (util.py:35 — no image ⇒ digitally born), so the non-aggressive
    # branch is a pure ordered passthrough (__init__.py:128-131). Identical
    # output to the per-page path, without the per-page machinery.
    if not config.use_aggressive_strategy and not bool(np.any(kind_codes == KIND_MEDIA)):
        order = np.lexsort((offsets, page_nos))
        return [
            (kinds[i], texts[i], media_refs[i], rank)
            for rank, i in enumerate(order.tolist())
        ]

    out: list[OutSpan] = []
    for page in np.unique(page_nos):
        page_idx = np.flatnonzero(page_nos == page)
        page_idx = page_idx[np.argsort(offsets[page_idx], kind="stable")]
        out.extend(
            _extract_page(
                page_idx, kinds, kind_codes, texts, media_refs, rects,
                confidences, orientations, config,
            )
        )
    return [(k, t, m, i) for i, (k, t, m, _) in enumerate(out)]


def _extract_page(
    idx: np.ndarray,
    kinds: list[str],
    kind_codes: np.ndarray,
    texts: list[str],
    media_refs: list[str],
    rects: np.ndarray,
    confidences: np.ndarray,
    orientations: np.ndarray,
    config: ExtractConfig,
) -> list[OutSpan]:
    pk = kind_codes[idx]
    pr = rects[idx]
    page_w = max(1.0, float(math.ceil(pr[:, 2].max()))) if idx.size else 1.0
    page_h = max(1.0, float(math.ceil(pr[:, 3].max()))) if idx.size else 1.0
    if page_w * page_h > MAX_PAGE_MASK_AREA:
        # oversized-page guard (see MAX_PAGE_MASK_AREA): refuse to
        # allocate a giant visibility mask for a corrupt/absurd page —
        # untouched passthrough, page preserved
        return [(kinds[i], texts[i], media_refs[i], -1) for i in idx]

    if config.use_aggressive_strategy:
        removed_local, mask = clean_old_ocr_aggressive(pk, pr, page_w, page_h)
    else:
        if is_digitally_born(pk, pr):
            # __init__.py:128-131 — untouched passthrough (original kind
            # strings preserved, including unknown kinds)
            return [(kinds[i], texts[i], media_refs[i], -1) for i in idx]
        removed_local = find_old_ocr_spans(pk, pr)
        mask = PageMask(page_w, page_h)  # zeros — applyocr.py:24-25

    # vectorized complement + candidate selection (the scalar per-span
    # listcomps profiled at ~9% of the kernel on word-granularity input)
    keep_mask = np.ones(idx.size, dtype=bool)
    if removed_local:
        removed_arr = np.asarray(removed_local, dtype=np.int64)
        keep_mask[removed_arr] = False
        base = idx[keep_mask].tolist()
        # candidate detections: stripped text-bearing spans with actual text
        ridx = idx[removed_arr]
        rk = kind_codes[ridx]
        cand = [
            int(i)
            for i in ridx[(rk == KIND_TEXT) | (rk == KIND_OCR)].tolist()
            if texts[i] != ""
        ]
    else:
        base = idx.tolist()
        cand = []

    emitted: list[OutSpan] = [(kinds[i], texts[i], media_refs[i], -1) for i in base]

    if not cand:
        return emitted
    if not config.build_lines_from_words and len(cand) > MAX_LINES_PER_PAGE:
        # scale guard replacing the reference's 10MB skip (applyocr.py:63-65);
        # at word granularity the guard is applied AFTER grouping (below) so
        # the skip boundary is the same line count on both input granularities
        return emitted

    cand_arr = np.array(cand, dtype=np.int64)
    cand_rects = rects[cand_arr]
    cand_texts = [texts[int(i)] for i in cand_arr]
    cand_confs = confidences[cand_arr]
    cand_orients = orientations[cand_arr]

    if config.build_lines_from_words:
        # E1 layout detection over word-granularity detections: band-group
        # words into lines (assemble.lines_from_words); line confidence =
        # mean of its words; orientation = first word's (the reference's
        # "rotation of first word applies to the line", textline.py:40-42)
        grouped = lines_from_words(cand_texts, cand_rects)
        if not grouped:
            return emitted
        if len(grouped) > MAX_LINES_PER_PAGE:
            # line-count guard, post-grouping (same boundary as the
            # line-granularity path above)
            return emitted
        cand_texts = [t for t, _, _ in grouped]
        cand_rects = np.array([r for _, r, _ in grouped], dtype=np.float64)
        cand_confs = np.array(
            [float(np.mean(cand_confs[w])) for _, _, w in grouped]
        )
        cand_orients = np.array(
            [float(cand_orients[w[0]]) for _, _, w in grouped]
        )

    # T1/T6: per-tile detection + asymmetric 60% dedup (textract.py:98-131).
    # The full-page window is always first, so the merge preserves first-seen
    # lines and later (overlapping) tiles add nothing new.
    kept_rects = np.empty((0, 4), dtype=np.float64)
    kept_local: list[int] = []
    for tx0, ty0, tx1, ty1 in clip_rects(page_w, page_h):
        inside = np.flatnonzero(
            (cand_rects[:, 0] >= tx0)
            & (cand_rects[:, 1] >= ty0)
            & (cand_rects[:, 2] <= tx1)
            & (cand_rects[:, 3] <= ty1)
        )
        if inside.size == 0:
            continue
        kept_rects, kept_local = combine_text_lines(
            kept_rects, kept_local, cand_rects[inside], [int(x) for x in inside]
        )

    if not kept_local:
        return emitted

    lines = np.array(kept_local, dtype=np.int64)
    line_rects = cand_rects[lines]

    # T5 note: derotation (operators/derotate.py) happens at detection/parse
    # time (operators/parse.py) and only affects emitted geometry — the
    # reading order consumes ``rect`` (readingorder.py:26) and our output is
    # the text sequence, so no derotation work belongs in this hot path.

    # R6: reading order
    blocks_local = sort_lines_indices(line_rects)

    # C5/C6: two-tier confidence filter + mask suppression
    kept = filter_blocks(
        blocks_local, cand_confs[lines], line_rects, mask, config.confidence_threshold
    )

    for k in kept:
        emitted.append(("ocr-text", cand_texts[int(lines[k])], "", -1))
    return emitted


