"""The Spark extraction pipeline (SURVEY §3.4).

    read spans table
      → left-anti join vs committed doc_ids      (resume, reference S3:
                                                   main.py:36-41)
      → repartition by hash(doc_id)              (north rule)
      → mega-doc page-split salting              (skew: one 10^4-page scan
                                                   must not stall a task)
      → mapInArrow(extract)                      (all layout kernels)
      → reassemble mega docs
      → output + metrics

Everything before/after the kernel is declarative DataFrame API — Catalyst
does pushdown/pruning/AQE; the kernel consumes Arrow record batches and
slices zero-copy numpy views per document (no per-row Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swissgeol_ocr_spark.operators.extract import (
    extract_document,
    salvage_document_inputs,
)
from swissgeol_ocr_spark.plans.config import ExtractConfig

# Pages per split task for mega docs. One page per task maximizes
# balance but pays the kernel's per-invocation overhead page by page;
# grouping a run of pages amortizes it. Round-4 measured ~6ms/invocation
# with the numpy reading-order kernel and set 8; round 6's native kernel
# cut the per-invocation cost ~25×, flipping the balance/overhead
# tradeoff — re-swept on the --mega corpus at 32 cores: 8/4/2/1 pages →
# 11.6/7.9/5.5/5.2s. 2 sits within ~5% of the optimum while keeping
# per-chunk scheduling overhead halved for narrow clusters; the
# split/reassemble output is bit-identical at any chunking
# (test_mega_doc_split_is_exact).
MEGA_DOC_PAGES_PER_TASK = 2

OUT_SCHEMA = (
    "doc_id string, "
    "spans_out array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_spans_in int, n_spans_out int, n_pages int, status string"
)

_OUT_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans_out",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
        ("n_spans_in", pa.int32()),
        ("n_spans_out", pa.int32()),
        ("n_pages", pa.int32()),
        ("status", pa.string()),
    ]
)


def configure_spark(builder_or_spark):
    """Apply the scale-relevant session conf (AQE, shuffle sizing, Arrow).

    The values are fixed (OPTIMIZATION_r06.md 'configuration' section
    justifies them); never touches ``spark.sql.shuffle.partitions`` — the
    bench/driver own that."""
    conf = {
        # joins (guide §3.1): allow shuffled-hash where it fits instead of
        # always sort-merge (no sort, same results), and let AQE demote a
        # planned SMJ to SHJ when the built side's post-shuffle partitions
        # are small. Broadcast threshold 64m: post-filter size estimates
        # without CBO stats are conservative (file size × nothing), and a
        # 64 MB broadcast relation is comfortably inside any production
        # executor heap — at true 100 TB fact-table scale the estimate is
        # far above ANY threshold, so this only affects mid-size dims.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # fewer, larger Arrow batches: per-batch JVM↔Python round-trip cost
        # dominated the kernel at high core counts. Re-swept in round 6
        # after the native reading-order kernel cut per-doc cost 4-10×
        # (the batch-overhead : kernel-work ratio moved): 512/1024/2048/
        # 4096 → 64k/66k/76k/49k docs/s at 32 cores — 2048 is the knee.
        # Pathological wide-doc batches are independently byte-bounded by
        # Spark 4's arrow.maxBytesPerBatch (64 MB default).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.files.maxPartitionBytes": "268435456",
        # pinned DST-free tz: the streaming watermark path round-trips
        # TIMESTAMP_NTZ through TIMESTAMP (watermarks reject NTZ), which
        # is lossless only when the session tz has no DST transitions —
        # under a DST tz, a spring-forward gap hour shifts window_start
        # on the way back. Everything engine-side is NTZ arithmetic, so
        # UTC changes no batch result.
        "spark.sql.session.timeZone": "UTC",
    }
    if isinstance(builder_or_spark, SparkSession):
        for k, v in conf.items():
            builder_or_spark.conf.set(k, v)
        return builder_or_spark
    for k, v in conf.items():
        builder_or_spark = builder_or_spark.config(k, v)
    return builder_or_spark


def resume_filter(input_df: DataFrame, done_df: DataFrame | None) -> DataFrame:
    """Skip-existing semantics (reference ocr/source.py:63-100 +
    main.py:36-41): anti-join the input against already-committed doc_ids.
    The done set is usually small relative to 10^12 docs per run → Spark
    broadcasts it automatically under AQE; at worst it is a shuffled
    anti-join on the same key the pipeline partitions by."""
    if done_df is None:
        return input_df
    return input_df.join(done_df.select("doc_id"), on="doc_id", how="left_anti")


def _extract_batches(
    batches: Iterator[pa.RecordBatch], config: ExtractConfig
) -> Iterator[pa.RecordBatch]:
    """Arrow-native kernel driver: per batch, slice zero-copy numpy views of
    the geometry columns and run the per-document kernel on each slice.

    Born-digital fast path, Arrow-native: a no-media document's output is
    its spans re-ordered by (page_no, offset, position) — a pure gather.
    Those documents never materialize Python strings at all: the
    permutation is computed in numpy and the output children are built
    with ONE ``pa.compute.take`` per column over the whole batch. Only
    media-bearing documents pay the per-document pylist slices + kernel."""
    import pyarrow.compute as pc

    aggressive = config.use_aggressive_strategy
    for batch in batches:
        if batch.num_rows == 0:
            continue
        doc_ids = batch.column("doc_id").to_pylist()
        spans = batch.column("spans")
        # raw list offsets index into .values (the unsliced child), keeping
        # the pair consistent even when Arrow hands us a sliced array;
        # numeric children become zero-copy numpy views
        offsets = spans.offsets.to_numpy(zero_copy_only=False)
        struct = spans.values
        kind_field = struct.field("kind")
        text_field = struct.field("text")
        media_field = struct.field("media_ref")
        media_mask = pc.fill_null(
            pc.equal(kind_field, "media"), False
        ).to_numpy(zero_copy_only=False)
        # null offset/page_no → 0 (the salvage rule, applied proactively):
        # a null would otherwise become NaN in to_numpy and order LAST in
        # the gather's lexsort instead of as page/offset 0 (the mega split
        # relies on this order too). fill_null is skipped entirely for
        # healthy batches (null_count == 0 keeps the zero-copy view).
        off_arr = struct.field("offset")
        page_arr = struct.field("page_no")
        if off_arr.null_count:
            off_arr = pc.fill_null(off_arr, 0)
        if page_arr.null_count:
            page_arr = pc.fill_null(page_arr, 0)
        off_all = off_arr.to_numpy(zero_copy_only=False)
        page_all = page_arr.to_numpy(zero_copy_only=False)
        rect_all = None  # built lazily — passthrough-only batches never need it
        # null confidence/orientation → 0.0 (salvage rule): a null would
        # become NaN in to_numpy WITHOUT raising, and a NaN confidence
        # poisons its whole block's average in the C5 filter (every line
        # silently dropped with status 'ok'); the streaming route already
        # maps null→0, so this keeps batch ≡ streaming
        conf_all = struct.field("confidence")
        orient_all = struct.field("orientation")
        if conf_all.null_count:
            conf_all = pc.fill_null(conf_all, 0.0)
        if orient_all.null_count:
            orient_all = pc.fill_null(orient_all, 0.0)

        # batch-level python-list views, converted lazily ON FIRST KERNEL
        # DOC: per-doc Arrow slice→pylist calls profiled at ~7% of the
        # kernel (call overhead, not element conversion — the same
        # elements convert either way). Passthrough-only batches never
        # convert at all (they stay on pc.take), preserving the fast path.
        _lists: list | None = None

        def _pylists(lo: int, hi: int):
            nonlocal _lists
            if _lists is None:
                _lists = (
                    kind_field.to_pylist(),
                    text_field.to_pylist(),
                    media_field.to_pylist(),
                )
            return (
                _lists[0][lo:hi],
                _lists[1][lo:hi],
                _lists[2][lo:hi],
            )

        # kernel-docs accumulator (flat children + list offsets, no per-span
        # dict objects)
        out_ids: list[str] = []
        n_in: list[int] = []
        n_pages: list[int] = []
        flat_kind: list[str] = []
        flat_text: list[str] = []
        flat_media: list[str] = []
        flat_off: list[int] = []
        list_offsets: list[int] = [0]
        statuses: list[str] = []
        # passthrough-docs accumulator (gather indices into struct children)
        pt_ids: list[str] = []
        pt_perms: list[np.ndarray] = []
        pt_counts: list[int] = []
        pt_pages: list[int] = []

        for row in range(batch.num_rows):
            lo, hi = int(offsets[row]), int(offsets[row + 1])
            if not aggressive and not media_mask[lo:hi].any():
                # fast path: identical ordering to extract_document's
                # lexsort (stable → position breaks (page, offset) ties)
                pt_ids.append(doc_ids[row])
                pt_perms.append(lo + np.lexsort((off_all[lo:hi], page_all[lo:hi])))
                pt_counts.append(hi - lo)
                pt_pages.append(int(np.unique(page_all[lo:hi]).size) if hi > lo else 0)
                continue
            if rect_all is None:
                rect_all = np.stack(
                    [
                        struct.field("x0").to_numpy(zero_copy_only=False),
                        struct.field("y0").to_numpy(zero_copy_only=False),
                        struct.field("x1").to_numpy(zero_copy_only=False),
                        struct.field("y1").to_numpy(zero_copy_only=False),
                    ],
                    axis=1,
                )
                conf_all = conf_all.to_numpy(zero_copy_only=False)
                orient_all = orient_all.to_numpy(zero_copy_only=False)
            kinds, texts, medias = _pylists(lo, hi)
            try:
                result = extract_document(
                    kinds, texts, medias,
                    off_all[lo:hi], page_all[lo:hi], rect_all[lo:hi],
                    conf_all[lo:hi], orient_all[lo:hi],
                    config,
                )
                statuses.append("ok")
            except Exception as exc:
                # P2 salvage-then-quarantine (reference __init__.py:40-57 +
                # preprocess_doc.py:8-49): normalize the malformed row and
                # retry once; only an unrecoverable row is quarantined with
                # empty output + error status, so the metrics table records
                # it and resume won't retry forever
                try:
                    repaired = salvage_document_inputs(
                        kinds, texts, medias,
                        off_all[lo:hi], page_all[lo:hi], rect_all[lo:hi],
                        conf_all[lo:hi], orient_all[lo:hi],
                    )
                    result = extract_document(*repaired, config)
                    statuses.append("salvaged")
                except Exception:
                    result = []
                    statuses.append(f"error:{type(exc).__name__}")
            out_ids.append(doc_ids[row])
            for (k, t, m, o) in result:
                flat_kind.append(k)
                flat_text.append(t)
                flat_media.append(m)
                flat_off.append(o)
            list_offsets.append(len(flat_kind))
            n_in.append(hi - lo)
            n_pages.append(int(np.unique(page_all[lo:hi]).size) if hi > lo else 0)

        if out_ids:
            struct_arr = pa.StructArray.from_arrays(
                [
                    pa.array(flat_kind, type=pa.string()),
                    pa.array(flat_text, type=pa.string()),
                    pa.array(flat_media, type=pa.string()),
                    pa.array(flat_off, type=pa.int32()),
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            spans_out = pa.ListArray.from_arrays(
                pa.array(list_offsets, type=pa.int32()), struct_arr
            )
            n_out = np.diff(np.asarray(list_offsets, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.string()),
                    spans_out.cast(_OUT_ARROW.field("spans_out").type),
                    pa.array(n_in, type=pa.int32()),
                    pa.array(n_out, type=pa.int32()),
                    pa.array(n_pages, type=pa.int32()),
                    pa.array(statuses, type=pa.string()),
                ],
                schema=_OUT_ARROW,
            )
        if pt_ids:
            take_idx = pa.array(
                np.concatenate(pt_perms) if pt_perms else np.empty(0, np.int64)
            )
            counts = np.asarray(pt_counts, dtype=np.int64)
            off_child = pa.array(
                np.concatenate([np.arange(c) for c in counts])
                if counts.size else np.empty(0, np.int64),
                type=pa.int32(),
            )
            pt_struct = pa.StructArray.from_arrays(
                [
                    pc.take(kind_field, take_idx),
                    pc.take(text_field, take_idx),
                    pc.take(media_field, take_idx),
                    off_child,
                ],
                names=["kind", "text", "media_ref", "offset"],
            )
            pt_list_offsets = np.concatenate(
                [np.zeros(1, np.int64), np.cumsum(counts)]
            ).astype(np.int32)
            pt_spans = pa.ListArray.from_arrays(pa.array(pt_list_offsets), pt_struct)
            counts32 = pa.array(counts, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pt_ids, type=pa.string()),
                    pt_spans.cast(_OUT_ARROW.field("spans_out").type),
                    counts32,
                    counts32,
                    pa.array(pt_pages, type=pa.int32()),
                    pa.array(["ok"] * len(pt_ids), type=pa.string()),
                ],
                schema=_OUT_ARROW,
            )


def extract_pipeline(
    spans_df: DataFrame,
    config: ExtractConfig | None = None,
    num_partitions: int | None = None,
    done_df: DataFrame | None = None,
    repartition: bool = True,
    has_mega: bool = True,
) -> DataFrame:
    """spans(doc_id, spans) → (doc_id, spans_out, n_spans_in, n_spans_out,
    n_pages), partitioned by hash(doc_id), with mega-docs split page-wise.

    Plan construction is fully LAZY — no Spark job runs until the caller
    acts on the result. Routing hints:

    * ``has_mega``: True (default) builds both the kernel path and the
      mega-split subtree; AQE collapses the empty side at runtime. Pass
      False when table stats prove max(n_spans) ≤ cutoff (Iceberg column
      max — drops the split subtree from the plan).
    * an optional ``n_spans`` (span count) hint column on the input — a
      plain scalar column makes the small/big predicate pushdown-able so
      neither branch re-reads the heavy spans column just to route rows.

    The mega-doc path (SURVEY §4.2): AQE's skew handling cannot split a
    single giant row, so documents with more than
    ``config.mega_doc_span_cutoff`` spans are exploded into per-page
    sub-documents BEFORE the kernel (pages are independent in the
    reference: ocr/__init__.py:73-78 processes them one by one), extracted
    in parallel, and reassembled with an ordered window — bit-identical to
    the unsplit result.
    """
    config = config or ExtractConfig()
    spans_df = resume_filter(spans_df, done_df)

    n_part = num_partitions or spans_df.sparkSession.sparkContext.defaultParallelism

    def run_kernel(df: DataFrame, do_shuffle: bool = repartition) -> DataFrame:
        # The explicit hash(doc_id) repartition (north rule) evens out the
        # kernel load for arbitrary input. When the table is already
        # bucketed/partitioned by doc_id upstream (the steady state for a
        # 100 TB Iceberg table), ``repartition=False`` skips the redundant
        # full-corpus shuffle — the single biggest cost after the kernel.
        # Hint and routing columns are pruned before the Arrow boundary.
        df = df.select("doc_id", "spans")
        if do_shuffle:
            df = df.repartition(n_part, "doc_id")
        return df.mapInArrow(
            lambda it: _extract_batches(it, config), OUT_SCHEMA
        ).withColumn(
            # captured HERE (a narrow projection on the kernel's own
            # partition), not after a write/read round-trip — this is the
            # executing partition the lineage/skew analysis needs
            "partition_id",
            F.spark_partition_id(),
        )

    if not has_mega:
        return run_kernel(spans_df)

    # Prefer a pre-materialized span count when the table carries one — a
    # plain int column is a pushdown-able predicate, so the small/big split
    # prunes at the scan instead of re-reading the heavy spans column twice.
    if "n_spans" in spans_df.columns:
        sized = spans_df.withColumnRenamed("n_spans", "_n")
    else:
        sized = spans_df.withColumn("_n", F.size("spans"))
    # NULL size (null spans array / null hint) must not drop the row from
    # both sides of the small/big split — treat it as an empty document
    sized = sized.withColumn("_n", F.coalesce(F.col("_n"), F.lit(0)))

    small = sized.filter(F.col("_n") <= config.mega_doc_span_cutoff)
    big = sized.filter(F.col("_n") > config.mega_doc_span_cutoff)

    small_out = run_kernel(small)

    # --- mega-doc salting: split into page-range chunks, extract, reassemble
    # posexplode keeps each span's original array position: the re-sort
    # restores the original array order within a chunk, and the kernel's
    # own stable (page, offset) sort (null → 0) then orders it exactly as
    # in the unsplit doc — bit-identical even with duplicate offsets.
    # Chunks of MEGA_DOC_PAGES_PER_TASK contiguous pages (not single
    # pages) amortize the kernel's per-invocation Python overhead while a
    # cutoff-size doc still fans out into dozens of tasks.
    exploded = big.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        # null page_no → 0, the salvage rule every other route applies (a
        # null here would make the split key `doc_id#NULL` itself NULL,
        # merging spans from different mega-docs into one lost NULL-id row)
        F.floor(
            F.coalesce(F.col("span.page_no"), F.lit(0))
            / F.lit(MEGA_DOC_PAGES_PER_TASK)
        ).alias("chunk"),
        "pos",
        "span",
    )
    page_docs = (
        exploded.repartition(n_part, "doc_id", "chunk")
        .groupBy("doc_id", "chunk")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("pos").alias("p"), F.col("span").alias("s"))
                )
            ).alias("ordered")
        )
        .select(
            F.concat(F.col("doc_id"), F.lit("#"), F.col("chunk").cast("string")).alias("doc_id"),
            F.transform("ordered", lambda x: x["s"]).alias("spans"),
        )
    )
    # page groups leave the groupBy already hash-distributed on
    # (doc_id, page_no) — re-shuffling them by doc_id would undo the split
    page_out = run_kernel(page_docs, do_shuffle=False)
    # reassemble: strip the LAST '#<page>' segment (we appended exactly one,
    # so an original doc_id containing '#' is handled correctly), order by
    # page, re-rank offsets
    page_seg = F.substring_index("doc_id", "#", -1)
    reassembled = (
        page_out.withColumn(
            "orig_doc_id",
            F.expr("substring(doc_id, 1, length(doc_id) - length(substring_index(doc_id, '#', -1)) - 1)"),
        )
        .withColumn("chunk", page_seg.cast("int"))
        .groupBy("orig_doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    # chunk is unique per group and sorts first, so the
                    # lexicographic struct sort never compares later fields;
                    # chunk ids are contiguous page ranges → page order kept
                    F.struct(
                        "chunk", "n_pages", "spans_out",
                        "n_spans_in", "n_spans_out", "status",
                    )
                )
            ).alias("pages"),
            F.min("partition_id").alias("partition_id"),
        )
        .select(
            F.col("orig_doc_id").alias("doc_id"),
            F.flatten(F.transform("pages", lambda p: p["spans_out"])).alias("flat"),
            F.aggregate("pages", F.lit(0), lambda a, p: a + p["n_spans_in"]).alias("n_spans_in"),
            # chunks partition a doc's pages disjointly, so summing each
            # chunk-kernel's unique-page count gives the doc's page count
            F.aggregate("pages", F.lit(0), lambda a, p: a + p["n_pages"]).cast("int").alias("n_pages"),
            F.filter("pages", lambda p: p["status"].startswith("error")).alias("_errs"),
            F.filter("pages", lambda p: p["status"] == "salvaged").alias("_salv"),
            "partition_id",
        )
        .select(
            "doc_id",
            F.transform(
                "flat",
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans_out"),
            "n_spans_in",
            F.size("flat").cast("int").alias("n_spans_out"),
            "n_pages",
            # error dominates salvaged dominates ok (a salvaged page must
            # not mask another page's quarantine)
            F.when(F.size("_errs") > 0, F.element_at("_errs", 1)["status"])
            .when(F.size("_salv") > 0, F.lit("salvaged"))
            .otherwise(F.lit("ok"))
            .alias("status"),
            "partition_id",
        )
        .select(
            "doc_id", "spans_out", "n_spans_in", "n_spans_out", "n_pages",
            "status", "partition_id",
        )
    )

    return small_out.unionByName(reassembled)


def debug_table(out_df: DataFrame, aggressive: bool = False) -> DataFrame:
    """E2 debug output (reference ocr/__init__.py:139-141): the reference
    inserts a VISIBLE copy of the drawn OCR text layer as an extra page
    after each processed page so a human can inspect what was detected.
    The engine analogue is a queryable table: one row per ocr-text-layer
    span in the output, in reading order, flagged visible — what
    ``draw_ocr_text_page(..., visible=True)`` renders.

    Under the DEFAULT strategy, documents with no media span in their
    output took the born-digital passthrough and were never OCR'd — their
    PRE-EXISTING hidden ocr-text overlay is preserved verbatim, and the
    reference draws no debug page for skipped pages — so those documents
    are excluded. Pass ``aggressive=True`` when the run used the
    aggressive strategy: there is no passthrough (every page runs the C3
    sweep, so text-only documents legitimately emit fresh ocr-text lines)
    and no document is excluded. Residual approximation (documented): in
    default mode a media-bearing document whose individual page was
    born-digital still passes that page's preserved overlay through; the
    output schema deliberately carries no per-span provenance
    (span-sequence equality with the reference forbids extra fields), so
    page-level exclusion is not expressible downstream."""
    if not aggressive:
        out_df = out_df.filter(
            F.exists("spans_out", lambda s: s["kind"] == "media")
        )
    return (
        out_df.select("doc_id", F.explode("spans_out").alias("s"))
        .filter(F.col("s.kind") == "ocr-text")
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.text").alias("text"),
            F.lit(True).alias("visible"),
        )
    )


def metrics_table(out_df: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + metrics rows (reference ProcessResult +
    S5 metadata, ocr/__init__.py:25-27, aws/aws.py:78-88): one row per
    document with the partition that EXECUTED its kernel (captured by the
    pipeline right after mapInArrow — not re-derived downstream, where
    spark_partition_id would reflect whatever scan re-read the data)."""
    return out_df.select(
        "doc_id",
        "n_pages",
        "n_spans_in",
        "n_spans_out",
        "status",
        "partition_id",
        F.lit(run_id).alias("run_id"),
        F.current_timestamp().alias("ts"),
    )


def dedup_band_guard(
    spark: SparkSession,
    sf_dir: str,
    run_id: str,
    metrics_path: str | None = None,
    config=None,
) -> list[str]:
    """Pre-flight skew guard for the banded dedup families — the
    instrument (``dedup_band_stats``) wired into the pipeline as an
    actuator's tripwire (round-4 verdict #5): a production corpus whose
    representative band buckets exceed the routing cap trips a warning
    (and a durable metrics row) BEFORE it trips a 10-hour pair-join stage.

    Runs the band-population metrics over the exact-collapsed relations
    the pair joins consume, appends one (family, band) row stamped with
    (run_id, ts) to ``metrics_path`` (the same append-parquet/Iceberg
    metrics convention as :func:`write_output`), and returns the warning
    list — one entry per band with over-cap buckets, i.e. buckets
    ``cap_band_buckets`` will route OUT of the join with a recall cost.
    Empty list = healthy corpus.

    Cost: one linear pass over the corpus per family (compact-key partial
    aggs, never candidate pairs). The collect is bounded by bands ×
    families (≤ ~20 rows), never by corpus size."""
    import logging

    from swissgeol_ocr_spark.plans.config import DedupConfig
    from swissgeol_ocr_spark.plans.queries import dedup_band_stats_relation

    cfg = config or DedupConfig()
    stats = dedup_band_stats_relation(spark, sf_dir, cfg)
    rows = stats.collect()  # ≤ bands × families rows — config-bounded
    if metrics_path:
        spark.createDataFrame(rows, stats.schema).select(
            "*",
            F.lit(run_id).alias("run_id"),
            F.current_timestamp().alias("ts"),
        ).write.mode("append").parquet(metrics_path)
    warns = [
        (
            f"dedup band skew [{run_id}]: family={r.family} band={r.band} "
            f"max_bucket={r.max_bucket} rows={r.n_rows} — {r.n_over_cap} "
            f"bucket(s) exceed band_bucket_cap={cfg.band_bucket_cap} and "
            f"will be routed out of the pair join (recall cost; see "
            f"dedup_band_stats)"
        )
        for r in rows
        if r.n_over_cap > 0
    ]
    log = logging.getLogger("swissgeol_ocr_spark.dedup")
    for w in warns:
        log.warning(w)
    return warns


def iceberg_catalog(spark) -> str | None:
    """Name of a configured-and-loadable Iceberg catalog, else None.

    The 100 TB deployment writes Iceberg tables (snapshot commits give the
    transactional done-set the resume anti-join needs, SURVEY §1.3); this
    sandbox has no Iceberg jar, so the sink gates on BOTH conditions a real
    cluster satisfies:

    1. a ``spark.sql.catalog.<name>`` entry whose implementation class
       mentions Iceberg (how Iceberg catalogs are always registered), and
    2. that class actually loadable in this JVM (the jar is on the
       classpath) — config alone is not enough: a catalog configured
       without its jar fails only at first use, which is exactly the
       late-failure mode this probe exists to avoid.
    """
    confs: dict[str, str] = {}
    try:
        confs.update(dict(spark.sparkContext.getConf().getAll()))
    except Exception:
        pass
    try:  # runtime session conf can also carry catalog registrations
        confs.update(spark.conf.getAll)
    except Exception:
        pass
    prefix = "spark.sql.catalog."
    for key, val in confs.items():
        name = key[len(prefix):]
        if not key.startswith(prefix) or "." in name:
            continue  # not a catalog impl entry (e.g. per-catalog options)
        if "iceberg" not in val.lower():
            continue
        try:
            spark._jvm.java.lang.Class.forName(val)
            return name
        except Exception:
            # keep probing: one stale catalog entry (configured without its
            # jar) must not mask a live one later in dict order — giving up
            # here would silently demote backend='auto' to parquet and make
            # an explicit 'iceberg' request raise despite a usable catalog
            continue
    return None


def resolve_sink_backend(spark, backend: str = "auto") -> str:
    """Map the requested sink backend to a concrete one.

    ``auto`` picks Iceberg when :func:`iceberg_catalog` finds a live
    catalog and falls back to the parquet+manifest sink otherwise (bit-for-
    bit the pre-gating behavior). Requesting ``iceberg`` explicitly without
    a live catalog raises immediately — failing the job at submit time
    beats appending to a parquet path the operator believes is a table."""
    if backend not in ("auto", "parquet", "iceberg"):
        raise ValueError(f"unknown sink backend: {backend!r}")
    if backend == "auto":
        return "iceberg" if iceberg_catalog(spark) else "parquet"
    if backend == "iceberg" and iceberg_catalog(spark) is None:
        raise RuntimeError(
            "sink backend 'iceberg' requested but no loadable Iceberg "
            "catalog is configured (need spark.sql.catalog.<name> plus the "
            "iceberg-spark-runtime jar on the classpath)"
        )
    return backend


def _write_output_iceberg(
    out_df: DataFrame, table: str, run_id: str, metrics_table_name: str | None
) -> None:
    """Iceberg leg of :func:`write_output`: ``path`` is a table identifier
    (``catalog.db.tbl``); each run is one atomic ``writeTo(...).append()``
    snapshot commit, stamped with the snapshot's run_id via a commit
    property AND a run_id column (the column keeps the resume/metrics reads
    engine-portable). The per-run manifest row is derived from the table's
    own ``.snapshots`` metadata relation instead of a side-car parquet —
    the snapshot IS the commit record, so a restart consults
    ``<table>.snapshots`` (metadata-only) before the doc-level anti-join."""
    spark = out_df.sparkSession

    def _append(df: DataFrame, tbl: str) -> None:
        if spark.catalog.tableExists(tbl):
            df.writeTo(tbl).append()
        else:
            df.writeTo(tbl).using("iceberg").create()

    _append(out_df.withColumn("run_id", F.lit(run_id)), table)
    if metrics_table_name:
        committed = spark.read.table(table).filter(F.col("run_id") == run_id)
        _append(
            metrics_table(
                committed.select(
                    "doc_id", "n_pages", "n_spans_in", "n_spans_out",
                    "status", "partition_id",
                ),
                run_id,
            ),
            metrics_table_name,
        )


def read_committed(spark, path: str, backend: str = "auto") -> DataFrame:
    """The committed done-set for the resume anti-join: the Iceberg table
    (snapshot-isolated — a reader never sees a half-committed run) when the
    catalog is live, the appended parquet path otherwise. Callers feed this
    to :func:`resume_filter`; only ``doc_id`` is consumed, so the scan
    prunes to one column either way."""
    if resolve_sink_backend(spark, backend) == "iceberg":
        return spark.read.table(path)
    return spark.read.parquet(path)


def write_output(
    out_df: DataFrame,
    path: str,
    run_id: str,
    metrics_path: str | None = None,
    backend: str = "auto",
) -> None:
    """Commit extraction output + metrics + snapshot manifest (parquet
    stand-in for Iceberg appends; the resume anti-join reads the committed
    doc_ids back, and the manifest row is the run's snapshot record).

    ``backend`` gates the Iceberg path (see :func:`resolve_sink_backend`):
    with a live Iceberg catalog, ``path``/``metrics_path`` are table
    identifiers and each run is an atomic snapshot commit; otherwise this
    parquet+manifest implementation runs unchanged.

    The output is stamped with the run_id so the metrics pass re-reads only
    this run's committed rows (a cheap column scan — no kernel recompute)."""
    if resolve_sink_backend(out_df.sparkSession, backend) == "iceberg":
        _write_output_iceberg(out_df, path, run_id, metrics_path)
        return
    stamped = out_df.withColumn("run_id", F.lit(run_id))
    stamped.write.mode("append").parquet(path)
    if metrics_path:
        spark = out_df.sparkSession
        committed = spark.read.parquet(path).filter(F.col("run_id") == run_id)
        metrics_table(
            committed.select(
                "doc_id", "n_pages", "n_spans_in", "n_spans_out", "status", "partition_id"
            ),
            run_id,
        ).write.mode("append").parquet(metrics_path)
        # snapshot manifest: one row per committed run (Iceberg-snapshot
        # stand-in) — what a restart consults before the doc-level anti-join
        committed.agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("status") == "ok", 1)).alias("n_ok"),
            F.count(F.when(F.col("status") == "salvaged", 1)).alias("n_salvaged"),
            F.count(F.when(F.col("status").startswith("error"), 1)).alias(
                "n_quarantined"
            ),
            F.coalesce(F.sum("n_spans_out"), F.lit(0)).alias("n_spans_out"),
        ).select(
            F.lit(run_id).alias("run_id"),
            "n_docs",
            "n_ok",
            "n_salvaged",
            "n_quarantined",
            "n_spans_out",
            F.current_timestamp().alias("committed_at"),
        ).write.mode("append").parquet(metrics_path.rstrip("/") + "_manifest")
