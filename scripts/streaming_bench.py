"""Measured streaming-vs-batch overhead for the extraction job and the
sessionizer. Writes BENCH/STREAMING.md.

What it measures (sf0.1 corpus, local[32], interleaved best-of passes —
the bench discipline from CLAUDE.md: single passes swing ±25-40% with
host drift, so only merged best-of counts):

1. EXTRACTION: the same staged spans input (replicated ×MULT so kernel
   compute dominates scheduler fixed costs) processed by
   (a) the batch pipeline writing parquet, and
   (b) the streaming job (file source, maxFilesPerTrigger=1 over K
       staged files → K real micro-batches, exactly-once parquet sink,
       checkpoint) — `run_stream_to_parquet`'s plan with an explicit
       per-file trigger so micro-batch orchestration cost is real, not
       one mega-batch, and
   (c) the full-pipeline stream (`--mode batch` face:
       `run_stream_full_pipeline`, foreachBatch running extract_pipeline
       per micro-batch — the mega-safe at-least-once deployment).
   Plus the resume probe: re-running the drained stream against its
   checkpoint must process 0 new rows in ~0 time (the streaming face of
   the skip-existing anti-join, reference ocr/target.py:29-33).

2. SESSIONIZE: batch window-walk (`q_sessionize`) vs the streaming
   session_window face drained over a two-file parity split in complete
   mode — the state-store merge path priced against the batch shuffle.

Usage: python scripts/streaming_bench.py   (~5 min; run NOTHING else
concurrently — same host-noise rule as bench.py --scaling)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
MULT = int(os.environ.get("SPARK_GRAFT_STREAM_MULT", "16"))
K_FILES = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "4"))
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))


def build_spark():
    from pyspark.sql import SparkSession

    from swissgeol_ocr_spark.plans.pipeline import configure_spark

    spark = configure_spark(
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("streaming-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.driver.memory", "96g")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SLICE_PARTS = int(os.environ.get("SPARK_GRAFT_STREAM_SLICE_PARTS", CPUS))


def stage_spans(spark, work: str) -> tuple[str, int]:
    """Replicate the corpus ×MULT, synthesize spans once, stage K slices
    (split by a stable doc_id hash — each a future micro-batch). Each
    slice is repartitioned to EXACTLY SLICE_PARTS files, so
    maxFilesPerTrigger=SLICE_PARTS yields exactly K triggers, each wide
    enough to fan the kernel across every core (one file per trigger
    measured ×21 — a staging artifact, not streaming cost). The K
    filtered writes re-scan the localCheckpoint'ed spans — in-memory,
    setup-only, untimed."""
    from swissgeol_ocr_spark.sources.corpus import (
        documents_to_spans,
        replicate_documents,
    )

    docs = replicate_documents(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), MULT
    )
    spans = documents_to_spans(docs).localCheckpoint(eager=True)
    in_dir = f"{work}/in"
    n_docs = spans.count()
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(K_FILES))
    for k in range(K_FILES):
        spans.filter(bucket == k).repartition(SLICE_PARTS).write.mode(
            "append"
        ).parquet(in_dir)
    return in_dir, n_docs


def _drain_or_die(q, timeout_s: int) -> None:
    """Drain guard — delegates to the canonical plans/queries helper so
    the stop+raise-on-timeout rule has exactly one implementation."""
    from swissgeol_ocr_spark.plans.queries import _drain

    _drain(q, timeout_s)


def run_batch(spark, in_dir: str, out_dir: str) -> float:
    from swissgeol_ocr_spark.plans.pipeline import extract_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    # repartition=False: the staged input is already well-spread (K×32
    # files) — identical input contract to the stream leg, and the same
    # mapInArrow kernel extract_stream runs.
    extract_pipeline(
        spark.read.parquet(in_dir), repartition=False
    ).write.parquet(out_dir)
    return time.perf_counter() - t0


def _timed_stream_leg(start_query, out_dir: str, ckpt: str) -> tuple[float, int]:
    """Fresh-sink/checkpoint setup, timed drain, trigger count read from
    the drained query's progress (never assumed from the staging layout).
    ``start_query`` starts and returns the availableNow query."""
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    q = start_query()
    _drain_or_die(q, 1200)
    dt = time.perf_counter() - t0
    n_triggers = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    return dt, n_triggers


def run_stream(spark, in_dir: str, out_dir: str, ckpt: str) -> tuple[float, int]:
    from swissgeol_ocr_spark.streaming.pipeline import run_stream_to_parquet

    return _timed_stream_leg(
        lambda: run_stream_to_parquet(
            spark, in_dir, out_dir, ckpt, max_files_per_trigger=SLICE_PARTS
        ),
        out_dir,
        ckpt,
    )


def run_stream_full(spark, in_dir: str, out_dir: str, ckpt: str) -> tuple[float, int]:
    """The --mode batch face: foreachBatch runs the FULL pipeline
    (kernel + mega split) per micro-batch — prices what a mega-safe
    streaming deployment pays vs the stateless sink.

    repartition=False: same input contract as the batch legs (staged
    K×32 well-spread files; the file source hands each trigger 32-wide
    splits already) — the deployment setting for a well-staged feed."""
    from swissgeol_ocr_spark.streaming.pipeline import run_stream_full_pipeline

    return _timed_stream_leg(
        lambda: run_stream_full_pipeline(
            spark, in_dir, out_dir, ckpt, max_files_per_trigger=SLICE_PARTS,
            repartition=False,
        ),
        out_dir,
        ckpt,
    )


def resume_probe(spark, in_dir: str, out_dir: str, ckpt: str) -> tuple[float, int]:
    """Re-run the drained stream: checkpoint says all files are done, so
    0 new rows — timed to show resume costs scheduler seconds, not work."""
    from swissgeol_ocr_spark.streaming.pipeline import run_stream_to_parquet

    before = spark.read.parquet(out_dir).count()
    t0 = time.perf_counter()
    q = run_stream_to_parquet(
        spark, in_dir, out_dir, ckpt, max_files_per_trigger=SLICE_PARTS
    )
    _drain_or_die(q, 600)
    dt = time.perf_counter() - t0
    after = spark.read.parquet(out_dir).count()
    return dt, after - before


def run_sessionize_batch(spark) -> float:
    from swissgeol_ocr_spark.plans.queries import q_sessionize

    t0 = time.perf_counter()
    df = q_sessionize(spark, SF_DIR)
    df.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
    ).first()
    return time.perf_counter() - t0


def run_sessionize_stream(spark, tag: str) -> float:
    # staging + checkpoint live in _staged_event_stream's own atexit-
    # reclaimed temp dir, deliberately NOT the bench workdir (the sink
    # table is read before this function returns, so that's safe)
    from swissgeol_ocr_spark.plans.queries import _staged_event_stream
    from swissgeol_ocr_spark.streaming.pipeline import sessionize_stream

    t0 = time.perf_counter()
    stream, swork = _staged_event_stream(spark, SF_DIR, "parity")
    name = f"sb_sess_{tag}"
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{swork}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain_or_die(q, 600)
    df = spark.table(name)
    df.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
    ).first()
    dt = time.perf_counter() - t0
    spark.catalog.dropTempView(name)
    return dt


def main() -> None:
    spark = build_spark()
    work = tempfile.mkdtemp(prefix="sgs_streambench_")
    try:
        in_dir, n_docs = stage_spans(spark, work)
        print(
            f"staged {n_docs} docs, {K_FILES} slices × {SLICE_PARTS} files",
            flush=True,
        )

        batch_t, stream_t, full_t, trig_counts = [], [], [], []
        for p in range(PASSES):  # interleaved best-of
            batch_t.append(run_batch(spark, in_dir, f"{work}/out_b"))
            s_dt, s_trig = run_stream(
                spark, in_dir, f"{work}/out_s", f"{work}/ckpt"
            )
            stream_t.append(s_dt)
            trig_counts.append(s_trig)
            f_dt, f_trig = run_stream_full(
                spark, in_dir, f"{work}/out_f", f"{work}/ckpt_f"
            )
            full_t.append(f_dt)
            print(
                f"pass {p}: batch {batch_t[-1]:.2f}s stream"
                f" {s_dt:.2f}s ({s_trig} triggers)"
                f" full-pipeline-stream {f_dt:.2f}s"
                f" ({f_trig} triggers)",
                flush=True,
            )
        res_t, res_rows = resume_probe(
            spark, in_dir, f"{work}/out_s", f"{work}/ckpt"
        )
        print(f"resume: {res_t:.2f}s, {res_rows} new rows", flush=True)

        sb, ss = [], []
        for p in range(PASSES):
            sb.append(run_sessionize_batch(spark))
            ss.append(run_sessionize_stream(spark, f"{p}"))
            print(f"sess pass {p}: batch {sb[-1]:.2f}s stream {ss[-1]:.2f}s",
                  flush=True)

        b, s, fp = min(batch_t), min(stream_t), min(full_t)
        n_trig = max(trig_counts)
        sbb, ssb = min(sb), min(ss)
        lines = [
            "# Streaming vs batch — measured overhead (same input, same kernel)",
            "",
            f"Corpus: `{SF_DIR}` replicated ×{MULT} ({n_docs} docs), spans"
            f" staged as {K_FILES} slices of exactly {SLICE_PARTS}"
            " part-files each (maxFilesPerTrigger groups one slice per"
            " trigger, so every micro-batch still fans out"
            f" {SLICE_PARTS}-wide — one file per trigger measured ×21, a"
            f" staging artifact, not streaming cost); `local[{CPUS}]`;"
            f" best-of-{PASSES} interleaved passes (single passes drift"
            " ±25-40% with host noise — CLAUDE.md bench discipline).",
            "",
            "## Extraction: batch pipeline vs availableNow micro-batches",
            "",
            "| leg | wall | docs/s |",
            "|---|---|---|",
            f"| batch (`extract_pipeline`, same kernel as the stream leg)"
            f" | {b:.2f}s | {n_docs / b:,.0f} |",
            f"| stream ({n_trig} micro-batches, checkpointed exactly-once"
            f" sink) | {s:.2f}s | {n_docs / s:,.0f} |",
            f"| stream, full pipeline (`--mode batch --no-repartition`:"
            f" foreachBatch runs extract_pipeline per micro-batch —"
            f" mega-safe, at-least-once) | {fp:.2f}s | {n_docs / fp:,.0f} |",
            "",
            f"Streaming overhead: ×{s / b:.2f} wall vs the batch leg"
            f" ({(s - b):.2f}s across {n_trig} triggers, measured"
            " from the drained query's progress — per-trigger planning +"
            " sink commit + source bookkeeping). The comparison is"
            " apples-to-apples: extract_stream is a bare mapInArrow, and"
            " the batch pipeline pushes every doc through the same kernel."
            f" The full-pipeline stream row (×{fp / b:.2f} vs the"
            " batch it embeds) prices the mega-safe deployment:"
            " per-trigger it re-plans the whole pipeline (both mega"
            " branches) rather than one stateless"
            " mapInArrow — the premium a feed that can contain mega"
            " documents pays. Measured with --no-repartition (the staged"
            " feed is well-spread, matching the batch legs' input"
            " contract); the default --mode batch adds a per-trigger"
            " hash(doc_id) exchange for lumpy feeds and measured ×2.25 on"
            " the same staging.",
            "",
            f"Resume probe: re-running the drained stream against its"
            f" checkpoint processed **{res_rows} new rows in {res_t:.2f}s**"
            " — the streaming face of the reference's skip-existing"
            " anti-join (ocr/target.py:29-33): restart cost is scheduler"
            " seconds, independent of how much history the sink holds.",
            "",
            "## Sessionize: batch window walk vs session_window state store",
            "",
            "| leg | wall |",
            "|---|---|",
            f"| batch `sessionize` (two window walks over one exchange) | {sbb:.2f}s |",
            f"| stream `session_window` complete mode, 2 micro-batches"
            f" (includes staging the split feed) | {ssb:.2f}s |",
            "",
            "Both faces produce identical sessions (hard oracle:"
            " `sessionize_stream` in the registry, pinned vs DuckDB and"
            " vs the batch face in tests). The stream leg prices feed"
            " staging + two state-store merge rounds; at deployment the"
            " staging cost is the ingest itself and per-trigger cost is"
            " amortized over the watermark horizon (append mode evicts"
            " finalized sessions — state bounded by active users, not"
            " corpus size).",
            "",
            "Regenerate: `python scripts/streaming_bench.py` (idle host"
            " only; timings vary with host, shapes don't).",
        ]
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH", "STREAMING.md",
        )
        with open(out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"wrote {out}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
