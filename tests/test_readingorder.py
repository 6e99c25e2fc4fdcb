"""Reading-order kernel tests.

Pins the exact test vectors from the reference's own unit tests
(/root/reference/tests/test_readingorder_lines.py) plus golden-layout
analogues with explicit rects mirroring the scenarios of
test_readingorder_pdfs.py (we have no pymupdf text layout engine here, so
line rects are constructed directly instead of via ``insert_textbox``).
"""

import numpy as np
import pytest

from swissgeol_ocr_spark.operators.readingorder import (
    needs_to_come_before,
    sort_lines_indices,
)


def _ntcb(a, b):
    """needs_to_come_before(a, b) for two rect tuples."""
    r = np.array([a, b], dtype=np.float64)
    xm = (r[:, 0] + r[:, 2]) / 2
    ym = (r[:, 1] + r[:, 3]) / 2
    return bool(needs_to_come_before(r, xm, ym, 1)[0])


def _linearize(rects, texts):
    blocks = sort_lines_indices(np.array(rects, dtype=np.float64))
    return " ".join(texts[i] for block in blocks for i in block)


class TestNeedsToComeBefore:
    """Reference vectors: tests/test_readingorder_lines.py:9-51."""

    REF = (100, 100, 200, 200)

    def test_slight_left(self):
        assert _ntcb((99, 100, 199, 200), self.REF)

    def test_slight_right(self):
        assert not _ntcb((101, 100, 201, 200), self.REF)

    def test_slight_up(self):
        assert _ntcb((100, 99, 200, 199), self.REF)

    def test_slight_down(self):
        assert not _ntcb((100, 101, 199, 201), self.REF)

    def test_next_column(self):
        assert not _ntcb((200, 0, 300, 100), self.REF)

    def test_above_right_hand_side(self):
        assert _ntcb((190, 90, 200, 100), self.REF)

    def test_wide_above(self):
        assert _ntcb((50, 0, 400, 100), self.REF)

    def test_below_right_hand_side(self):
        assert not _ntcb((190, 200, 200, 210), self.REF)

    def test_not_reflexive(self):
        assert not _ntcb(self.REF, self.REF)

    def test_cycle_exists(self):
        # The relation's transitive closure is NOT anti-reflexive
        # (reference readingorder.py:59-61): B<A, C<B, A<C simultaneously.
        a = (200, 0, 300, 100)
        b = (100, 0, 250, 400)
        c = (0, 100, 300, 200)
        assert _ntcb(b, a)
        assert _ntcb(c, b)
        assert _ntcb(a, c)


def test_cycle_terminates_all_lines_emitted():
    """sort_lines must terminate on the cyclic precedence case and emit
    every line exactly once (reference test_readingorder_lines.py:53-60)."""
    rects = [(200, 0, 300, 100), (100, 0, 250, 400), (0, 100, 300, 200)]
    blocks = sort_lines_indices(np.array(rects, dtype=np.float64))
    emitted = [i for b in blocks for i in b]
    assert sorted(emitted) == [0, 1, 2]


class TestGoldenLayouts:
    """Explicit-rect analogues of the reference's golden PDF layouts."""

    def test_two_columns(self):
        # Mirrors test_readingorder_pdfs.py:17-62: centered intro banner,
        # then left column before right column (despite insertion order),
        # then the page number. One rect per rendered text line.
        rects, texts = [], []

        def line(x0, y0, x1, y1, t):
            rects.append((x0, y0, x1, y1))
            texts.append(t)

        # intro banner (centered, two lines across the top)
        line(60, 0, 440, 12, "intro-1")
        line(140, 12, 360, 24, "intro-2")
        # right column inserted BEFORE left column (insertion order must not matter)
        line(272, 30, 498, 42, "right-1")
        line(275, 42, 495, 54, "right-2")
        line(280, 54, 490, 66, "right-3")
        # left column
        line(32, 30, 228, 42, "left-1")
        line(35, 42, 225, 54, "left-2")
        line(38, 54, 222, 66, "left-3")
        # page number
        line(245, 130, 255, 142, "1")

        out = _linearize(rects, texts)
        assert out == "intro-1 intro-2 left-1 left-2 left-3 right-1 right-2 right-3 1"

    def test_header_first(self):
        # Mirrors test_readingorder_pdfs.py:64-103: header read before column.
        rects = [
            (70, 0, 130, 12),    # Header
            (0, 50, 200, 62),
            (0, 62, 200, 74),
            (0, 74, 190, 86),
        ]
        texts = ["Header", "l1", "l2", "l3"]
        assert _linearize(rects, texts) == "Header l1 l2 l3"

    def test_sidenotes_after_main_column(self):
        # Mirrors test_readingorder_pdfs.py:105-160: main column entirely
        # before both sidenotes.
        rects, texts = [], []
        for i in range(8):  # main column x 50..250
            rects.append((50, 10 + 14 * i, 248, 22 + 14 * i))
            texts.append(f"main-{i}")
        for i in range(2):  # sidenote 1 at x 270..370, y 30..
            rects.append((270, 30 + 12 * i, 368, 40 + 12 * i))
            texts.append(f"note1-{i}")
        for i in range(2):  # sidenote 2 at y 150..
            rects.append((270, 150 + 12 * i, 366, 160 + 12 * i))
            texts.append(f"note2-{i}")
        out = _linearize(rects, texts)
        assert out == (
            "main-0 main-1 main-2 main-3 main-4 main-5 main-6 main-7 "
            "note1-0 note1-1 note2-0 note2-1"
        )

    def test_table_with_gaps(self):
        # Mirrors test_readingorder_pdfs.py:163-204: a narrow numeric column
        # continues across a vertical gap before the sidenote is read.
        rects, texts = [], []
        for i in range(5):  # 1..5 at x 20..50
            rects.append((22, 2 + 12 * i, 34, 12 + 12 * i))
            texts.append(str(i + 1))
        for i in range(5):  # 6..10 after a 36pt gap
            rects.append((22, 98 + 12 * i, 40, 108 + 12 * i))
            texts.append(str(i + 6))
        # sidenote x 70..170, y 60..150
        for i in range(3):
            rects.append((70, 60 + 12 * i, 168, 70 + 12 * i))
            texts.append(f"note-{i}")
        out = _linearize(rects, texts)
        assert out == "1 2 3 4 5 6 7 8 9 10 note-0 note-1 note-2"

    def test_indentation_single_block(self):
        # Mirrors test_readingorder_pdfs.py:207-236: a 12pt indent does not
        # split the block.
        rects = [
            (0, 0, 60, 7),
            (0, 10, 60, 17),
            (12, 20, 55, 27),
            (0, 30, 62, 37),
        ]
        blocks = sort_lines_indices(np.array(rects, dtype=np.float64))
        assert len(blocks) == 1
        assert blocks[0] == [0, 1, 2, 3]

    def test_overlap_top_down(self):
        # Mirrors test_readingorder_pdfs.py:239-268: vertically overlapping
        # lines still come out top-down.
        rects = [
            (0, 0, 40, 14),
            (0, 7, 40, 21),
            (0, 14, 50, 28),
        ]
        assert _linearize(rects, ["One", "Two", "Three"]) == "One Two Three"

    def test_split_text_left_fragment_first(self):
        # Mirrors test_readingorder_pdfs.py:271-304: lines split into two
        # horizontal fragments read left fragment then right fragment.
        rects = [
            (0, 0, 120, 10),          # This is the first line
            (0, 10, 125, 20),         # second line
            (0, 20, 42, 30),          # "This is"
            (50, 19, 110, 30),        # "line three"
            (0, 30, 60, 40),          # "And this is"
            (62, 29, 115, 40),        # "line four"
            (0, 40, 112, 50),         # fifth line
        ]
        texts = ["first", "second", "This-is", "line-three", "And-this-is", "line-four", "fifth"]
        assert _linearize(rects, texts) == (
            "first second This-is line-three And-this-is line-four fifth"
        )

    def test_multiple_diagonal_lines(self):
        # Mirrors test_readingorder_pdfs.py:307-338: right-aligned lines of
        # increasing width; must-come-before beats the raw sort key.
        rects = [
            (170, 0, 200, 12),    # Short (right-aligned)
            (90, 15, 200, 27),    # medium
            (10, 30, 200, 42),    # long
        ]
        assert _linearize(rects, ["Short", "medium", "long"]) == "Short medium long"


def test_permutation_invariance():
    """The reference consumes a *set* of lines (readingorder.py:179) — input
    order must not affect the result on tie-free layouts."""
    rng = np.random.default_rng(42)
    base = []
    y = 0.0
    for _ in range(24):
        x0 = float(rng.uniform(0, 30))
        w = float(rng.uniform(80, 200))
        h = float(rng.uniform(8, 12))
        base.append((x0, y, x0 + w, y + h))
        y += h + float(rng.uniform(1, 4))
    texts = [str(i) for i in range(len(base))]
    expected = _linearize(base, texts)
    for seed in range(5):
        perm = np.random.default_rng(seed).permutation(len(base))
        rects = [base[i] for i in perm]
        ptexts = [texts[i] for i in perm]
        assert _linearize(rects, ptexts) == expected


def test_termination_and_completeness_random():
    """Every line is emitted exactly once for arbitrary (messy) layouts."""
    rng = np.random.default_rng(7)
    for trial in range(20):
        n = int(rng.integers(1, 40))
        x0 = rng.uniform(0, 500, n)
        y0 = rng.uniform(0, 700, n)
        rects = np.stack(
            [x0, y0, x0 + rng.uniform(5, 300, n), y0 + rng.uniform(5, 20, n)],
            axis=1,
        )
        blocks = sort_lines_indices(rects)
        emitted = sorted(i for b in blocks for i in b)
        assert emitted == list(range(n)), f"trial {trial}"


def test_batched_column_walk_matches_sequential():
    """The (K×n) matrix column walk must match a plain sequential
    evaluation of the reference's current_column on random pages."""
    from swissgeol_ocr_spark.operators.readingorder import (
        _Page,
        _column_masks,
        _current_column,
    )

    def sequential(p, current, preceding):
        cx0, cy0, cx1, cy1 = p.x0[current], p.y0[current], p.x1[current], p.y1[current]
        bofl, toll = p.y1[current], p.y0[current]
        other = np.ones(p.n, dtype=bool)
        other[current] = False
        _, acc, _ = _column_masks(p, cx0, cy0, cx1, cy1, bofl, toll, False)
        count = int(np.count_nonzero(acc & other))
        for li in reversed(preceding):
            nx0, ny0 = min(cx0, p.x0[li]), min(cy0, p.y0[li])
            nx1, ny1 = max(cx1, p.x1[li]), max(cy1, p.y1[li])
            nbofl = p.y1[li]
            other[li] = False
            _, acc, intr = _column_masks(p, nx0, ny0, nx1, ny1, nbofl, toll, True)
            if bool(np.any(intr & other)):
                break
            new_count = int(np.count_nonzero(acc & other))
            if new_count < count:
                break
            count = new_count
            cx0, cy0, cx1, cy1, bofl = nx0, ny0, nx1, ny1, nbofl
        return (cx0, cy0, cx1, cy1, bofl, toll)

    rng = np.random.default_rng(123)
    for trial in range(50):
        n = int(rng.integers(3, 25))
        x0 = rng.uniform(0, 400, n)
        y0 = rng.uniform(0, 600, n)
        rects = np.stack([x0, y0, x0 + rng.uniform(5, 200, n), y0 + rng.uniform(5, 15, n)], axis=1)
        p = _Page(rects)
        order = rng.permutation(n)
        block_len = int(rng.integers(1, n))
        current = int(order[block_len - 1])
        preceding = [int(i) for i in order[: block_len - 1]]
        got = _current_column(p, current, preceding)
        # sequential consumes its own scratch; rebuild the page to avoid
        # shared-buffer interference
        want = sequential(_Page(rects), current, preceding)
        assert tuple(float(v) for v in got) == tuple(float(v) for v in want), trial


def test_interval_column_paragraph_layout():
    """Analogue of the reference's most complex golden layout
    (test_readingorder_pdfs.py:345-429): depth-interval rows, a full-width
    paragraph, then a second interval set. Asserts the structural ordering
    the reference pins (intervals before their descriptions, the paragraph
    after the first table, the second table last)."""
    rects, texts = [], []

    def line(x0, y0, x1, y1, t):
        rects.append((x0, y0, x1, y1))
        texts.append(t)

    # first section: depth label + two description lines
    line(0, 40, 55, 52, "10-20m")
    line(70, 40, 295, 52, "desc-1a")
    line(70, 52, 290, 64, "desc-1b")
    line(0, 125, 55, 137, "20-30m")
    line(70, 125, 280, 137, "desc-2")
    # paragraph spanning the full width
    line(0, 155, 440, 167, "para-1")
    line(0, 167, 445, 179, "para-2")
    # second interval set
    line(0, 215, 60, 227, "30-40m")
    line(0, 230, 60, 242, "40-50m")
    line(150, 215, 410, 227, "Humus")
    line(150, 230, 415, 242, "Kies")

    import numpy as np

    blocks = sort_lines_indices(np.array(rects, dtype=np.float64))
    order = [texts[i] for b in blocks for i in b]

    pos = {t: i for i, t in enumerate(order)}
    # intervals precede their right-hand descriptions
    assert pos["10-20m"] < pos["desc-1a"] < pos["desc-1b"]
    assert pos["20-30m"] < pos["desc-2"]
    # the paragraph follows the whole first section
    for t in ("10-20m", "desc-1a", "desc-1b", "20-30m", "desc-2"):
        assert pos[t] < pos["para-1"]
    assert pos["para-1"] < pos["para-2"]
    # the second set comes last, depths before descriptions
    for t in ("para-1", "para-2"):
        assert pos[t] < pos["30-40m"]
    assert pos["30-40m"] < pos["40-50m"]
    assert pos["40-50m"] < pos["Humus"] < pos["Kies"]


def test_needs_to_come_before_module_vs_kernel_method():
    """The module-level needs_to_come_before (the readable spec, exported
    in __all__) and the fused _Page method (the executed hot path) are two
    encodings of the same predicate — they must agree on arbitrary
    geometry, including exact ties, or a future fix to one copy silently
    diverges from the other."""
    import random

    import numpy as np

    from swissgeol_ocr_spark.operators.readingorder import (
        _Page,
        needs_to_come_before,
    )

    rng = random.Random(99)
    for _ in range(40):
        n = rng.randint(1, 25)
        r = np.empty((n, 4))
        for i in range(n):
            x0 = rng.randrange(0, 400, 20)
            y0 = rng.randrange(0, 600, 20)
            r[i] = (x0, y0, x0 + rng.randrange(20, 240, 20), y0 + rng.randrange(8, 32, 8))
        p = _Page(r)
        xm = (r[:, 0] + r[:, 2]) / 2.0
        ym = (r[:, 1] + r[:, 3]) / 2.0
        for j in range(n):
            spec = needs_to_come_before(r, xm, ym, j)
            fused = p.needs_to_come_before(j).copy()
            assert spec.tolist() == fused.tolist(), (j, r.tolist())


def test_native_matches_numpy_random():
    """The native C reading-order twin must be bit-identical to the numpy
    implementation — block-for-block, index-for-index — on a broad random
    page population (the golden/twin suites pin whichever path is active;
    this pins the two paths against EACH OTHER)."""
    import numpy as np

    import swissgeol_ocr_spark.operators.readingorder as ro
    from swissgeol_ocr_spark.operators._native import available, native_sort_lines

    if not available():
        import pytest

        pytest.skip("native kernel unavailable (no compiler?)")
    rng = np.random.default_rng(1234)
    for _ in range(300):
        n = int(rng.integers(0, 64))
        x0 = rng.uniform(0, 560, n)
        y0 = rng.uniform(0, 760, n)
        w = rng.uniform(0.5, 320, n)
        h = rng.uniform(4, 24, n)
        r = np.stack([x0, y0, x0 + w, y0 + h], axis=1) if n else np.zeros((0, 4))
        saved = ro._native_sort_lines
        ro._native_sort_lines = None
        try:
            want = ro.sort_lines_indices(r)
        finally:
            ro._native_sort_lines = saved
        got = native_sort_lines(r)
        assert got == want
    # duplicate/tied rects exercise the lowest-index tie-breaks
    tied = np.array([[10.0, 10.0, 110.0, 22.0]] * 5 + [[10.0, 40.0, 110.0, 52.0]] * 3)
    saved = ro._native_sort_lines
    ro._native_sort_lines = None
    try:
        want = ro.sort_lines_indices(tied)
    finally:
        ro._native_sort_lines = saved
    assert native_sort_lines(tied) == want


def test_native_build_failure_logs_once(monkeypatch, tmp_path, caplog):
    """A failed native build (here: gcc exits non-zero) must degrade to the
    numpy path AND say so once per process, with gcc's stderr — not turn
    silently into a ~5x slower kernel."""
    import logging
    import subprocess

    from swissgeol_ocr_spark.operators import _native

    def failing_run(cmd, **kwargs):
        raise subprocess.CalledProcessError(1, cmd, stderr=b"gcc: fatal error: boom")

    monkeypatch.delenv("SPARK_GRAFT_NO_NATIVE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_NATIVE_DIR", str(tmp_path))
    monkeypatch.setattr(_native.subprocess, "run", failing_run)
    monkeypatch.setattr(_native, "_lib", None)  # restored after the test
    with caplog.at_level(logging.WARNING, logger="swissgeol_ocr_spark.native"):
        assert not _native.available()
        assert not _native.available()
        assert _native.native_sort_lines(np.zeros((2, 4))) is None
    records = [r for r in caplog.records if r.name == "swissgeol_ocr_spark.native"]
    assert len(records) == 1
    assert "CalledProcessError" in records[0].getMessage()
    assert "gcc: fatal error: boom" in records[0].getMessage()
