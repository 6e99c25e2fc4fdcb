"""Deterministic synthetic spans corpus (FIXTURES.md §1/§5/§7).

Turns the driver's flat ``documents(doc_id, text, ...)`` parquet into the
north-rule input shape

    (doc_id string, spans array<struct<kind, text, media_ref, offset,
                                       page_no, x0, y0, x1, y1,
                                       confidence, orientation>>)

entirely with JVM-side Spark expressions (``sequence`` + ``transform`` +
hash arithmetic — no UDF, no driver-side loop, no external data), so the
same generator scales from sf0.001 to any corpus size. Everything is a
pure function of (doc_id, text), hence deterministic.

Layout classes (pmod(md5-hash(doc_id || ':l'), 4) — all corpus hashing is
the engine-portable md5-prefix arithmetic of ``_h`` so the extraction
oracle can regenerate the corpus and its expected output in DuckDB):
  0 — born-digital single column ('text' lines, no media)
  1 — scanned two-column: full-page media + stale 'ocr-text' lines, the
      RIGHT column's lines defined before the left column's (the kernel
      must emit left-before-right regardless of insertion order)
  2 — text-under-image (Tiefenbrunnen/Lostorf, reference util.py:10-15):
      visible 'text' lines then a covering media span
  3 — born-digital with a hidden 'ocr-text' overlay (aggressive-strategy
      food) + a 'path' span

A small deterministic subset (pmod(md5-hash(doc_id || ':m'), MEGA_MOD) == 0) gets
its word list repeated MEGA_FACTOR× — multi-page "mega docs" driving the
skew/salting path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LINES_PER_PAGE = 40
WORDS_PER_LINE = 8
LINE_HEIGHT = 12.0
LINE_GAP = 2.0
PAGE_W = 600.0
PAGE_H = 800.0
MEGA_MOD = 101
MEGA_FACTOR = 40


# The span-synthesis Column trees are pure functions of module constants
# and UNRESOLVED column names (F.col — never bound to a specific
# DataFrame), but building them walks thousands of py4j round-trips
# (~0.85 s per call for the line corpus, measured round 6) and every
# bench pass / streaming micro-batch rebuilds them from scratch — so
# they are memoized per JVM via exprcache.cached_cols (ASTs only; see
# that module's docstring for the safety argument).
from swissgeol_ocr_spark.exprcache import cached_cols as _cached_cols


def spans_schema_ddl() -> str:
    return (
        "array<struct<kind:string,text:string,media_ref:string,offset:int,"
        "page_no:int,x0:double,y0:double,x1:double,y1:double,"
        "confidence:double,orientation:double>>"
    )


def out_spans_schema_ddl() -> str:
    return "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def replicate_documents(docs: DataFrame, factor: int) -> DataFrame:
    """Deterministically scale the corpus ×factor: replica r of a document
    keeps its text but gets doc_id '<id>-r' (distinct hash → distinct
    layout class, preserving the corpus mix). Used by the bench to size the
    job so kernel compute dominates scheduler fixed costs."""
    if factor <= 1:
        return docs
    return docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_rep"),
        *[c for c in docs.columns],
    ).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("-"), F.col("_rep")).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )


def _pre_partition(docs: DataFrame) -> DataFrame:
    """Spread the raw (doc_id, text) rows across the cluster BEFORE the
    heavy span-synthesis projections. A small parquet file arrives as ONE
    scan split, and Catalyst keeps per-row projections attached to the
    scan — without this, the entire per-word struct synthesis serializes
    in a single task and the downstream 32-way kernel stage waits on it
    (measured: a 1-task 1.5-1.9 s stage ahead of a 0.9 s kernel stage at
    sf0.1). Shuffling the raw text first costs a few MB; the derivation
    then runs at full width. NOTE: this hashes the RAW int64 doc_id while
    extract_pipeline repartitions on the string-cast doc_id the synthesis
    emits — murmur3(long) != murmur3(string), so the two exchanges do NOT
    co-partition and the pipeline's exchange can never be elided on the
    strength of this one; it exists purely to widen the synthesis stage.
    Downstream-exchange rule (A/B-measured at sf0.1 on the word path):
    the kernel is the pipeline's one consumer of the synthesis (plus the
    mega split when ``has_mega`` is set), so the flagship, word and
    aggressive queries pass ``extract_pipeline(..., repartition=False)``
    and keep exactly one exchange (1.57s vs 1.83s)."""
    return docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def _mega_words(factor: int):
    """``words`` repeated ``factor`` times for the deterministic mega
    subset (doc_id hash ≡ 0 mod MEGA_MOD), unchanged otherwise; one
    builder per cache key, shared by the line and word corpora."""
    return _cached_cols(
        ("mega_words", factor),
        lambda: F.when(
            F.pmod(_h(F.concat(F.col("doc_id"), F.lit(":m"))), F.lit(MEGA_MOD)) == 0,
            F.flatten(F.array_repeat(F.col("words"), factor)),
        ).otherwise(F.col("words")),
    )


def documents_to_spans(
    docs: DataFrame,
    mega_docs: bool = True,
    mega_factor: int | None = None,
    pre_partition: bool = True,
) -> DataFrame:
    """documents(doc_id, text) → (doc_id string, spans) deterministic.

    ``mega_factor`` overrides the word-repeat factor for the deterministic
    mega subset (default MEGA_FACTOR=40, which stays far below the 20k-span
    split cutoff — real mega docs are rare). The bench's ``--mega`` mode
    passes ~4000 so the subset genuinely crosses the cutoff and the
    page-split/reassemble subtree carries measured load, not just tests."""
    if pre_partition:
        docs = _pre_partition(docs)
    d = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.col("text"), " ").alias("words"),
    )
    if mega_docs:
        d = d.withColumn("words", _mega_words(mega_factor or MEGA_FACTOR))
    d = d.withColumn(
        "layout", F.pmod(_h(F.concat(F.col("doc_id"), F.lit(":l"))), F.lit(4)).cast("int")
    )
    d = d.withColumn(
        "n_lines",
        F.greatest(F.lit(1), F.ceil(F.size("words") / F.lit(WORDS_PER_LINE))).cast("int"),
    )
    d = d.withColumn("n_pages", (F.ceil(F.col("n_lines") / F.lit(LINES_PER_PAGE))).cast("int"))
    spans, extra = _cached_cols(("line_spans",), _build_line_spans_cols)
    return d.select(
        "doc_id",
        spans.alias("spans"),
        (F.col("n_lines") + extra).cast("int").alias("n_spans"),
        # layouts 1/2 are the only media-bearing classes. The pipeline does
        # not read this column; perfbench's route-share ledger does.
        F.col("layout").isin(1, 2).alias("has_media"),
    )


def _build_line_spans_cols() -> tuple[Column, Column]:
    """The (spans, extra) Column pair of ``documents_to_spans`` — pure
    unresolved expressions over the names doc_id/words/layout/n_lines/
    n_pages, built once per JVM via ``_cached_cols``."""
    # ONE md5 per line, materialized as an array element first: expressions
    # referenced inside transform() lambdas re-evaluate per use (no CSE in
    # higher-order functions), so width/conf/tilt all slice nibble ranges of
    # this single digest instead of hashing 3-4 times
    line_digests = F.transform(
        F.sequence(F.lit(0), F.col("n_lines") - 1),
        lambda i: F.md5(F.concat(F.col("doc_id"), F.lit(":"), i.cast("string"))),
    )

    # Offsets are FUSED into the struct builders (round 6): the old shape
    # built placeholder-offset structs and then `_renumber`ed the
    # concatenated array — a second full rebuild of every 11-field struct,
    # which profiled as the dominant synthesis cost (the md5s are cheap by
    # comparison). Each layout branch instead stamps the exact dense
    # array-order offset at construction: bit-identical arrays, one build.
    def line_spans_at(base):
        return F.transform(
            line_digests, lambda dg, i: _line_span(i, dg, base + i)
        )

    def media_spans_at(base):
        return F.transform(
            F.sequence(F.lit(0), F.col("n_pages") - 1),
            lambda p: _media_span(p, base + p),
        )
    overlay_span = F.array(
        F.struct(
            F.lit("ocr-text").alias("kind"),
            F.lit("hidden overlay").alias("text"),
            F.lit("").alias("media_ref"),
            F.col("n_lines").cast("int").alias("offset"),
            F.lit(0).alias("page_no"),
            F.lit(40.0).alias("x0"),
            F.lit(700.0).alias("y0"),
            F.lit(200.0).alias("x1"),
            F.lit(712.0).alias("y1"),
            F.lit(0.95).alias("confidence"),
            F.lit(0.0).alias("orientation"),
        ),
        F.struct(
            F.lit("path").alias("kind"),
            F.lit("").alias("text"),
            F.lit("").alias("media_ref"),
            (F.col("n_lines") + 1).cast("int").alias("offset"),
            F.lit(0).alias("page_no"),
            F.lit(40.0).alias("x0"),
            F.lit(720.0).alias("y0"),
            F.lit(560.0).alias("x1"),
            F.lit(721.0).alias("y1"),
            F.lit(1.0).alias("confidence"),
            F.lit(0.0).alias("orientation"),
        ),
    )

    # assemble per layout: media first for layout 1 (scan), media last for
    # layout 2 (text-under-image); overlay appended for layout 3. Offsets
    # are dense in array order (the draw order) by construction.
    spans = (
        F.when(
            F.col("layout") == 1,
            F.concat(media_spans_at(F.lit(0)), line_spans_at(F.col("n_pages"))),
        )
        .when(
            F.col("layout") == 2,
            F.concat(line_spans_at(F.lit(0)), media_spans_at(F.col("n_lines"))),
        )
        .when(F.col("layout") == 3, F.concat(line_spans_at(F.lit(0)), overlay_span))
        .otherwise(line_spans_at(F.lit(0)))
    )

    # materialized count: a pushdown-able predicate column so the pipeline's
    # mega-doc split never re-reads the heavy spans column; computed from the
    # layout arithmetic (not size(spans)) to avoid re-evaluating the
    # synthesis expression tree
    extra = (
        F.when(F.col("layout").isin(1, 2), F.col("n_pages"))
        .when(F.col("layout") == 3, F.lit(2))
        .otherwise(F.lit(0))
    )
    return spans, extra


def _h(key: Column, width: int = 4) -> Column:
    """Engine-portable deterministic hash: the first ``width`` hex nibbles
    of md5(key) as an integer. DuckDB computes the identical value with
    ``CAST('0x' || substr(md5(key), 1, width) AS BIGINT)`` — unlike
    xxhash64, which is Spark-only. Used wherever the corpus needs
    per-element pseudo-randomness that a cross-engine oracle must be able
    to reproduce."""
    return F.conv(F.substring(F.md5(key), 1, width), 16, 10).cast("bigint")


# (_renumber removed in round 6: offsets are fused into the span
# builders; see documents_to_spans)


# word-granularity geometry: words step 36pt with 30pt glyph width, so the
# next word starts strictly right of this one's end (explicit space on
# join, reference draw.py:34-39) — except "glued" words widened to the full
# step, whose successor starts exactly at their end (no space)
WORD_W = 30.0
WORD_STEP = 36.0


def documents_to_word_spans(
    docs: DataFrame, mega_docs: bool = True, pre_partition: bool = True
) -> DataFrame:
    """documents(doc_id, text) → word-granularity scanned spans: the raw
    detection shape the reference consumes (Textract WORD blocks,
    textract_api_schema.py:64-78 / textline.py:54). Every page carries a
    full-page media span (scanned) plus one 'ocr-text' span PER WORD, so
    the pipeline must run the from-scratch layout detection end-to-end:
    C2 strip → word→line grouping (assemble.lines_from_words, with the
    draw.py:26-39 band + space rules) → reading order → confidence filter.

    Geometry: single column, WORDS_PER_LINE words per line band (y-step
    14pt, mutual-band-disjoint between lines); a deterministic ~1/7 subset
    of words is "glued" (width = full 36pt step) so the no-space join rule
    is exercised on real pipeline data. Per-word confidence is hash-derived
    like the line corpus. Pure function of (doc_id, text); all hashing is
    the engine-portable md5 arithmetic of ``_h``."""
    if pre_partition:
        docs = _pre_partition(docs)
    d = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.col("text"), " ").alias("words"),
    )
    if mega_docs:
        d = d.withColumn("words", _mega_words(MEGA_FACTOR))
    d = d.withColumn("n_words", F.size("words"))
    d = d.withColumn(
        "n_pages",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("n_words") / F.lit(WORDS_PER_LINE * LINES_PER_PAGE)),
        ).cast("int"),
    )
    spans = _cached_cols(("word_spans",), _build_word_spans_col)
    return d.select(
        "doc_id",
        spans.alias("spans"),
        (F.col("n_words") + F.col("n_pages")).cast("int").alias("n_spans"),
    )


def _build_word_spans_col() -> Column:
    """The spans Column of ``documents_to_word_spans`` — pure unresolved
    expressions over doc_id/words/n_words/n_pages, built once per JVM."""
    word_digests = F.transform(
        F.sequence(F.lit(0), F.col("n_words") - 1),
        lambda j: F.md5(F.concat(F.col("doc_id"), F.lit(":wd"), j.cast("string"))),
    )
    # offsets fused into construction (see documents_to_spans): media
    # spans occupy array positions 0..n_pages-1, words follow
    word_spans = F.transform(
        word_digests, lambda dg, j: _word_span(j, dg, F.col("n_pages") + j)
    )
    media_spans = F.transform(
        F.sequence(F.lit(0), F.col("n_pages") - 1), lambda p: _media_span(p, p)
    )
    return F.concat(media_spans, word_spans)


def _word_span(j: Column, dg: Column, off: Column) -> Column:
    """One word span from the word index and its materialized md5 digest
    (nibbles 1-4 glued-select, 5-8 confidence); ``off`` is the span's
    final dense array-order offset."""
    line = (j / F.lit(WORDS_PER_LINE)).cast("int")
    k = j - line * F.lit(WORDS_PER_LINE)
    page = (line / F.lit(LINES_PER_PAGE)).cast("int")
    row = line - page * F.lit(LINES_PER_PAGE)
    y0 = F.lit(40.0) + row.cast("double") * F.lit(LINE_HEIGHT + LINE_GAP)
    x0 = F.lit(40.0) + k.cast("double") * F.lit(WORD_STEP)
    glued = (F.pmod(_hslice(dg, 1), F.lit(7)) == 0) & (k < F.lit(WORDS_PER_LINE - 1))
    width = F.when(glued, F.lit(WORD_STEP)).otherwise(F.lit(WORD_W))
    conf = F.lit(0.55) + F.pmod(_hslice(dg, 5), F.lit(45)).cast("double") / F.lit(100.0)
    return F.struct(
        F.lit("ocr-text").alias("kind"),
        F.element_at(F.col("words"), j + 1).alias("text"),
        F.lit("").alias("media_ref"),
        off.cast("int").alias("offset"),
        page.alias("page_no"),
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + width).alias("x1"),
        (y0 + F.lit(LINE_HEIGHT)).alias("y1"),
        conf.alias("confidence"),
        F.lit(0.0).alias("orientation"),
    )


def _hslice(dg: Column, start: int) -> Column:
    """4 hex nibbles of a materialized md5 digest as an int (1-based start).
    DuckDB twin: CAST('0x' || substr(dg, start, 4) AS BIGINT)."""
    return F.conv(F.substring(dg, start, 4), 16, 10).cast("bigint")


def _line_span(i: Column, dg: Column, off: Column) -> Column:
    """One text line span as a function of the line index, the line's
    materialized md5 digest (nibbles 1-4 width, 5-8 confidence, 9-12 tilt
    select, 13-16 tilt angle — engine-portable, see ``_h``) and its final
    dense array-order offset ``off``.

    Two-column layout per page: even pages left-column-first; line i of a
    page goes to column (local_i * 2 // LINES_PER_PAGE) — for scanned docs
    (layout 1) the kind is 'ocr-text' with a hash-derived confidence.
    """
    page = (i / F.lit(LINES_PER_PAGE)).cast("int")
    local = i - page * F.lit(LINES_PER_PAGE)
    half = (local * 2 / F.lit(LINES_PER_PAGE)).cast("int")  # 0 or 1
    # scanned docs DEFINE the right column first (insertion order must not
    # dictate reading order — the kernel has to swap them back, mirroring
    # the reference's two_columns fixture, test_readingorder_pdfs.py:30-38)
    col_no = F.when(F.col("layout") == 1, 1 - half).otherwise(half)
    row = local - half * F.lit(LINES_PER_PAGE // 2)
    y0 = F.lit(40.0) + row.cast("double") * F.lit(LINE_HEIGHT + LINE_GAP)
    x0 = F.lit(40.0) + col_no.cast("double") * F.lit(290.0)
    width = F.lit(200.0) + F.pmod(_hslice(dg, 1), F.lit(60)).cast("double")
    conf = F.lit(0.55) + F.pmod(_hslice(dg, 5), F.lit(45)).cast("double") / F.lit(100.0)
    scanned = F.col("layout") == 1
    kind = F.when(scanned, F.lit("ocr-text")).otherwise(F.lit("text"))
    text = F.array_join(
        F.slice(F.col("words"), i * F.lit(WORDS_PER_LINE) + 1, F.lit(WORDS_PER_LINE)), " "
    )
    # a deterministic subset of scanned lines carries a small detected angle
    # (within the 25° snap window) so the derotation path (T5) runs on real
    # pipeline data, like Textract's slight-skew detections
    tilt = F.when(
        scanned & (F.pmod(_hslice(dg, 9), F.lit(11)) == 0),
        (F.pmod(_hslice(dg, 13), F.lit(9)).cast("double") - 4.0),
    ).otherwise(F.lit(0.0))
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        off.cast("int").alias("offset"),
        page.alias("page_no"),
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + width).alias("x1"),
        (y0 + F.lit(LINE_HEIGHT)).alias("y1"),
        F.when(scanned, conf).otherwise(F.lit(1.0)).alias("confidence"),
        tilt.alias("orientation"),
    )


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media table matching
    functions/multimodal.media_table_schema(): one media row per document,
    format/kind/dims derived by hash arithmetic.

    Image-kind rows carry a REAL, codec-free raster payload so the decode →
    feature → invert path runs actual pixel math end-to-end:

    * non-stencil images: binary PPM (``P6``), thumbnail pw×ph RGB, pixel
      bytes = the document's text repeated (ASCII → one byte per char)
    * stencil images (h % 7 == 0): binary PGM (``P5``), 1 byte/px — the
      colorspace-less stencil pixmap of reference crop.py:187-190, which
      the feature kernel must invert (P8)

    Both are reconstructable in closed form by a SQL oracle (same substring/
    repeat/ascii arithmetic). Audio/video rows keep an opaque utf-8 blob
    (their decoders are genuine codec work — see functions/multimodal).
    meta.width/height/n_bytes stay the synthetic full-size metadata driving
    the P6/P7 budget operators; the payload is the decodable raster."""
    h = _h(F.concat(F.col("doc_id").cast("string"), F.lit(":media")), width=8)
    kind = (
        F.when(F.pmod(h, F.lit(3)) == 0, F.lit("image"))
        .when(F.pmod(h, F.lit(3)) == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    fmt = (
        F.when(F.pmod(h, F.lit(5)) == 0, F.lit("jpx"))
        .when(F.pmod(h, F.lit(5)) == 1, F.lit("jp2"))
        .when(F.pmod(h, F.lit(5)) == 2, F.lit("jpg"))
        .when(F.pmod(h, F.lit(5)) == 3, F.lit("png"))
        .otherwise(F.lit("mp4"))
    )
    n_bytes = (F.length("text").cast("bigint") + 1) * (
        F.pmod(h, F.lit(1_000_000)) + 1
    )
    pw = (F.pmod(h, F.lit(13)) + 4).cast("int")   # thumbnail width 4..16
    ph = (F.pmod(h, F.lit(7)) + 3).cast("int")    # thumbnail height 3..9
    is_stencil = F.pmod(h, F.lit(7)) == 0
    depth = F.when(is_stencil, F.lit(1)).otherwise(F.lit(3))
    # ASCII pixel stream: repeat "text " until it covers the largest
    # possible raster (16*9*3 = 432 bytes), then cut to this raster's size
    # Pixel math equates char length with utf-8 byte length, so the pixel
    # text MUST be ASCII: a multi-byte char would mis-size the raster body
    # (decode falls back to the stub and the byte-reconstructing DuckDB
    # oracles break). The driver corpus is ASCII today; this normalization
    # (identity on ASCII — goldens unaffected) makes the invariant hold for
    # ANY input text. The media oracle SQLs apply the same regexp.
    pixel_chars = F.expr(
        "substring(repeat(concat(regexp_replace(text, '[^ -~]', '?'), ' '), "
        "cast(ceil(432.0 / (length(regexp_replace(text, '[^ -~]', '?')) + 1)) as int) + 1), 1, "
        "cast(pw * ph * depth as int))"
    )
    raster = F.concat(
        F.when(is_stencil, F.lit("P5\n")).otherwise(F.lit("P6\n")),
        pw.cast("string"), F.lit(" "), ph.cast("string"), F.lit("\n255\n"),
        pixel_chars,
    )
    payload = F.when(
        kind == "image", F.encode(raster, "utf-8")
    ).otherwise(F.encode(F.col("text"), "utf-8"))
    docs = docs.withColumn("pw", pw).withColumn("ph", ph).withColumn("depth", depth)
    return docs.select(
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.col("doc_id").cast("string").alias("doc_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            fmt.alias("format"),
            (F.pmod(h, F.lit(4000)) + 100).cast("int").alias("width"),
            (F.pmod(h, F.lit(3000)) + 100).cast("int").alias("height"),
            n_bytes.alias("n_bytes"),
            (F.pmod(h, F.lit(60_000)) + 1000).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )


def _media_span(p: Column, off: Column) -> Column:
    return F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("img-"), F.col("doc_id"), F.lit("-"), p.cast("string")).alias("media_ref"),
        off.cast("int").alias("offset"),
        p.cast("int").alias("page_no"),
        F.lit(0.0).alias("x0"),
        F.lit(0.0).alias("y0"),
        F.lit(PAGE_W).alias("x1"),
        F.lit(PAGE_H).alias("y1"),
        F.lit(1.0).alias("confidence"),
        F.lit(0.0).alias("orientation"),
    )
