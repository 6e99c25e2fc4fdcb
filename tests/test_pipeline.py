"""End-to-end Spark pipeline tests: corpus synthesis → extraction →
invariants; mega-doc page-split equivalence; resume anti-join."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from swissgeol_ocr_spark.operators.extract import extract_document
from swissgeol_ocr_spark.plans.config import ExtractConfig
from swissgeol_ocr_spark.plans.pipeline import extract_pipeline, resume_filter
from swissgeol_ocr_spark.sources.corpus import documents_to_spans


@pytest.fixture(scope="module")
def spans_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    return documents_to_spans(docs).cache()


def test_corpus_schema_and_determinism(spark, spans_df, sf_dir):
    row = spans_df.orderBy("doc_id").first()
    assert isinstance(row.doc_id, str)
    s0 = row.spans[0]
    assert set(s0.asDict().keys()) == {
        "kind", "text", "media_ref", "offset", "page_no",
        "x0", "y0", "x1", "y1", "confidence", "orientation",
    }
    # offsets dense in array order
    offs = [s.offset for s in row.spans]
    assert offs == list(range(len(offs)))
    # regenerating gives the identical corpus (pure function of input)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    again = documents_to_spans(docs).orderBy("doc_id").first()
    assert again.spans == row.spans


def test_pipeline_output_invariants(spans_df):
    out = extract_pipeline(spans_df).cache()
    n_docs = spans_df.count()
    assert out.count() == n_docs
    # every doc emits at least one span; offsets dense per doc
    bad = out.filter(F.col("n_spans_out") == 0).count()
    assert bad == 0
    sample = out.orderBy("doc_id").limit(20).collect()
    for r in sample:
        offs = [s.offset for s in r.spans_out]
        assert offs == list(range(len(offs))), r.doc_id
        kinds = {s.kind for s in r.spans_out}
        assert kinds <= {"text", "media", "ocr-text", "path"}


def test_pipeline_matches_local_kernel(spans_df):
    """The distributed pipeline must agree span-for-span with a direct local
    invocation of the kernel — no Arrow/shuffle-induced divergence."""
    subset = spans_df.orderBy("doc_id").limit(10).cache()
    rows = subset.collect()
    out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(subset).collect()
    }
    cfg = ExtractConfig()
    for row in rows:
        spans = row.spans
        expected = extract_document(
            [s.kind for s in spans],
            [s.text for s in spans],
            [s.media_ref for s in spans],
            np.array([s.offset for s in spans]),
            np.array([s.page_no for s in spans]),
            np.array([[s.x0, s.y0, s.x1, s.y1] for s in spans], dtype=np.float64),
            np.array([s.confidence for s in spans]),
            np.array([s.orientation for s in spans]),
            cfg,
        )
        assert out[row.doc_id] == expected, row.doc_id


def test_mega_doc_split_is_exact(spans_df):
    """Page-split salting must be bit-identical to the unsplit kernel."""
    # force everything through the mega path by lowering the cutoff
    cfg_split = ExtractConfig(mega_doc_span_cutoff=1)
    cfg_plain = ExtractConfig(mega_doc_span_cutoff=10**9)
    subset = spans_df.limit(15)
    split_out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(subset, cfg_split).collect()
    }
    plain_out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(subset, cfg_plain).collect()
    }
    assert split_out == plain_out


def test_bench_mega_corpus_crosses_cutoff(spark, sf_dir):
    """The --mega bench's amplified corpus must (a) push the deterministic
    mega subset past the DEFAULT 20k-span cutoff — no cutoff lowering, the
    production split predicate decides — and (b) produce split-path output
    bit-identical to the unsplit kernel on those genuinely huge docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    spans = documents_to_spans(docs, mega_factor=4000).cache()
    cutoff = ExtractConfig().mega_doc_span_cutoff
    big = spans.filter(F.col("n_spans") > cutoff)
    n_big = big.count()
    assert n_big > 0, "amplified corpus produced no above-cutoff docs"
    # split equivalence at the REAL cutoff on the heavy docs plus a slice
    # of normal ones (both branches of the same plan live)
    subset = big.unionByName(
        spans.filter(F.col("n_spans") <= cutoff).limit(10)
    )
    split_out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(subset, has_mega=True).collect()
    }
    plain_out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(
            subset, ExtractConfig(mega_doc_span_cutoff=10**9)
        ).collect()
    }
    assert split_out == plain_out
    spans.unpersist()


def test_plan_construction_is_lazy(spark):
    """Constructing the pipeline plan must trigger ZERO Spark jobs (the
    round-1 eager isEmpty() mega probe is gone): a corpus whose evaluation
    raises must survive plan construction untouched."""
    from swissgeol_ocr_spark.sources.corpus import spans_schema_ddl

    poison = spark.range(3).select(
        F.col("id").cast("string").alias("doc_id"),
        F.from_json(
            F.raise_error(F.lit("plan construction ran a job")).cast("string"),
            spans_schema_ddl(),
        ).alias("spans"),
    )
    out = extract_pipeline(poison)  # any action here would raise
    assert "spans_out" in out.columns


def test_resume_anti_join(spark, spans_df):
    done = spans_df.select("doc_id").limit(30)
    remaining = resume_filter(spans_df, done)
    assert remaining.count() == spans_df.count() - 30
    # re-running with everything done → empty
    assert resume_filter(spans_df, spans_df.select("doc_id")).count() == 0


def test_mega_doc_id_with_hash_char(spark):
    """Mega-doc reassembly must handle doc_ids containing '#' (the page
    separator is stripped from the END, not the first occurrence)."""
    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.sources.corpus import spans_schema_ddl

    def span(page, y, text):
        return ("text", text, "", 0, page, 10.0, float(y), 100.0, float(y + 10), 1.0, 0.0)

    rows = [
        ("a#b", [span(0, 10, "x1"), span(1, 10, "x2")]),
        ("a#c", [span(0, 10, "y1"), span(1, 10, "y2")]),
    ]
    df = spark.createDataFrame(rows, f"doc_id string, spans {spans_schema_ddl()}")
    cfg_split = ExtractConfig(mega_doc_span_cutoff=1)
    out = {
        r.doc_id: [(s.kind, s.text) for s in r.spans_out]
        for r in extract_pipeline(df, cfg_split).collect()
    }
    assert set(out) == {"a#b", "a#c"}
    assert out["a#b"] == [("text", "x1"), ("text", "x2")]
    assert out["a#c"] == [("text", "y1"), ("text", "y2")]


def test_mega_split_adversarial_pages(spark):
    """Chunked page-split equivalence on adversarial page/offset shapes:
    negative and null page_no (both land in chunk ≤ 0 via the null→0
    salvage), null offsets, duplicate (page, offset) keys whose tie-break
    is the original array position, page gaps, reversed page order in the
    input array, and pages straddling the mega_doc_pages_per_task chunk
    boundary. Split (cutoff=1, chunking live) must be bit-identical to the
    unsplit kernel on every doc."""
    import random

    from swissgeol_ocr_spark.sources.corpus import spans_schema_ddl

    def span(page, off, text, kind="text"):
        return (kind, text, "", off, page, 10.0, 10.0, 100.0, 20.0, 1.0, 0.0)

    rnd = random.Random(7)
    rows = []
    # doc with pages -3..20 in shuffled array order, duplicate offsets
    spans = [span(p, off, f"p{p}o{off}")
             for p in range(-3, 21) for off in (0, 1, 1)]
    rnd.shuffle(spans)
    rows.append(("adv-neg", spans))
    # doc with null page_no / null offset mixed in (salvage → 0)
    rows.append(("adv-null", [
        span(None, 5, "nullpage"), span(0, None, "nulloff"),
        span(0, 5, "dup-a"), span(0, 5, "dup-b"), span(17, 2, "late"),
    ]))
    # doc whose pages sit exactly on chunk boundaries (7, 8, 9, 15, 16)
    rows.append(("adv-boundary", [
        span(p, o, f"b{p}.{o}") for p in (7, 8, 9, 15, 16) for o in (1, 0)
    ]))
    # media-bearing doc with sparse pages (exercises the per-page kernel leg)
    rows.append(("adv-media", [
        span(0, 0, "", kind="media"), span(0, 1, "t1"),
        span(40, 0, "", kind="media"), span(40, 1, "t2"),
    ]))
    df = spark.createDataFrame(rows, f"doc_id string, spans {spans_schema_ddl()}")

    def collect(cfg):
        return {
            r.doc_id: ([(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out],
                       r.n_spans_in, r.n_spans_out, r.n_pages, r.status)
            for r in extract_pipeline(df, cfg).collect()
        }

    split_out = collect(ExtractConfig(mega_doc_span_cutoff=1))
    plain_out = collect(ExtractConfig(mega_doc_span_cutoff=10**9))
    assert split_out == plain_out
    assert set(split_out) == {"adv-neg", "adv-null", "adv-boundary", "adv-media"}


def test_downscale_exact_power_boundary(spark):
    """n_bytes exactly 10MB / 40MB: the reference loop downsizes once more
    (strict `size < ten_mb` break, applyocr.py:38)."""
    from swissgeol_ocr_spark.functions.multimodal import TEN_MB, downscale_oversized

    rows = [("m1", "d1", "image", None, ("jpg", 100, 100, TEN_MB, 0)),
            ("m2", "d2", "image", None, ("jpg", 100, 100, 4 * TEN_MB, 0)),
            ("m3", "d3", "image", None, ("jpg", 100, 100, TEN_MB - 1, 0))]
    df = spark.createDataFrame(
        rows,
        "media_ref string, doc_id string, kind string, payload binary, "
        "meta struct<format:string,width:int,height:int,n_bytes:bigint,duration_ms:bigint>",
    )
    out = {r.media_ref: r for r in downscale_oversized(df).collect()}
    assert out["m1"].downscale_iters == 1 and not out["m1"].skip_oversized
    assert out["m2"].downscale_iters == 2 and not out["m2"].skip_oversized
    assert out["m3"].downscale_iters == 0 and not out["m3"].skip_oversized


def test_word_corpus_layout_detection(spark, sf_dir):
    """Word-granularity corpus end-to-end: (a) the distributed pipeline with
    build_lines_from_words matches the local kernel span-for-span; (b) the
    corpus geometry + assemble.lines_from_words reconstruct exactly the
    original text lines, with glued words joined WITHOUT a space (the
    draw.py:34-39 rule) and everything else space-joined."""
    import hashlib
    import math

    from swissgeol_ocr_spark.operators.assemble import lines_from_words
    from swissgeol_ocr_spark.sources.corpus import (
        WORDS_PER_LINE,
        documents_to_word_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(12)
    word_spans = documents_to_word_spans(docs).cache()
    rows = word_spans.collect()

    cfg = ExtractConfig(build_lines_from_words=True)
    out = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out]
        for r in extract_pipeline(word_spans, cfg).collect()
    }
    for row in rows:
        spans = row.spans
        expected = extract_document(
            [s.kind for s in spans],
            [s.text for s in spans],
            [s.media_ref for s in spans],
            np.array([s.offset for s in spans]),
            np.array([s.page_no for s in spans]),
            np.array([[s.x0, s.y0, s.x1, s.y1] for s in spans], dtype=np.float64),
            np.array([s.confidence for s in spans]),
            np.array([s.orientation for s in spans]),
            cfg,
        )
        assert out[row.doc_id] == expected, row.doc_id

    def h16(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:4], 16)

    texts = {str(r.doc_id): r.text for r in docs.collect()}
    checked = 0
    for row in rows:
        if h16(f"{row.doc_id}:m") % 101 == 0:
            continue  # mega doc — words repeated; skip for the line check
        words_list = texts[row.doc_id].split(" ")
        page0 = [s for s in row.spans if s.kind == "ocr-text" and s.page_no == 0]
        grouped = lines_from_words(
            [s.text for s in page0],
            np.array([[s.x0, s.y0, s.x1, s.y1] for s in page0]),
        )
        n_lines_p0 = min(40, math.ceil(len(words_list) / WORDS_PER_LINE))
        expected_lines = []
        for li in range(n_lines_p0):
            seg = words_list[li * WORDS_PER_LINE:(li + 1) * WORDS_PER_LINE]
            parts = []
            for k, w in enumerate(seg):
                j = li * WORDS_PER_LINE + k
                parts.append(w)
                if k < len(seg) - 1:
                    glued = (
                        int(hashlib.md5(f"{row.doc_id}:wd{j}".encode()).hexdigest()[:4], 16) % 7 == 0
                        and k < WORDS_PER_LINE - 1
                    )
                    if not glued:
                        parts.append(" ")
            expected_lines.append("".join(parts))
        assert [t for t, _, _ in grouped] == expected_lines, row.doc_id
        checked += 1
    assert checked >= 5


def test_python_corpus_twin_matches_spark(spark, sf_dir):
    """scripts/make_golden.py synthesizes the corpus in pure Python to keep
    the golden oracles independent of Spark; any drift between the twin and
    the Spark expressions must fail HERE (field-exact, floats included),
    not as an opaque oracle mismatch."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "make_golden",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "make_golden.py"),
    )
    mg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mg)

    from swissgeol_ocr_spark.sources.corpus import documents_to_word_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    texts = {str(r.doc_id): r.text for r in docs.collect()}

    for name, frame, twin in (
        ("line", documents_to_spans(docs), mg.synth_spans),
        ("word", documents_to_word_spans(docs), mg.synth_word_spans),
    ):
        for row in frame.collect():
            expected = twin(row.doc_id, texts[row.doc_id])
            got = [
                (s.kind, s.text, s.media_ref, s.page_no,
                 (s.x0, s.y0, s.x1, s.y1), s.confidence, s.orientation)
                for s in row.spans
            ]
            assert got == expected, (name, row.doc_id)
            assert [s.offset for s in row.spans] == list(range(len(expected)))


def test_passthrough_adversarial_differential(spark):
    """Born-digital route against an explicit spec on adversarial geometry:
    each no-media document comes back as its spans sorted by
    (page_no or 0, offset or 0, array position) — position breaks duplicate
    keys — re-ranked 0..n-1, with n_pages = distinct coalesced pages.
    Covers NULL offset/page_no, empty spans arrays, and a NULL spans row
    (preserved as an empty 'ok' doc, never dropped)."""
    import random

    from swissgeol_ocr_spark.sources.corpus import spans_schema_ddl

    rng = random.Random(42)
    rows = []
    for d in range(30):
        spans = []
        n = rng.randint(0, 12)
        for i in range(n):
            spans.append((
                "text", f"w{d}-{i}", "",
                # NULL offset/page_no ~1 in 8: ordered as 0 (salvage rule)
                None if rng.random() < 0.125 else rng.randint(0, 3),
                None if rng.random() < 0.125 else rng.randint(0, 2),
                float(rng.randint(0, 50)), float(rng.randint(0, 50)),
                float(rng.randint(51, 99)), float(rng.randint(51, 99)),
                1.0, 0.0,
            ))
        rows.append((f"doc{d}", spans))
    rows.append(("nullspans", None))
    df = spark.createDataFrame(rows, f"doc_id string, spans {spans_schema_ddl()}")

    def spec(spans):
        # span tuple: (kind, text, media_ref, offset, page_no, ...)
        order = sorted(
            range(len(spans)),
            key=lambda i: (spans[i][4] or 0, spans[i][3] or 0, i),
        )
        out = [(spans[i][0], spans[i][1], spans[i][2], rank)
               for rank, i in enumerate(order)]
        return ("ok", len(spans), len({s[4] or 0 for s in spans}), out)

    got = {
        r.doc_id: (r.status, r.n_spans_in, r.n_pages,
                   [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans_out])
        for r in extract_pipeline(df).collect()
    }
    expected = {doc_id: spec(spans or []) for doc_id, spans in rows}
    assert got == expected
    assert got["nullspans"] == ("ok", 0, 0, [])
