"""Bucketed-table co-location: the resume anti-join over two co-bucketed
tables must plan with ZERO Exchange operators (no shuffle at any scale)."""

import io
import contextlib

import pytest

from pyspark.sql import functions as F

from swissgeol_ocr_spark.sources.bucketed import (
    read_bucketed,
    resume_join_bucketed,
    write_bucketed,
)
from swissgeol_ocr_spark.sources.corpus import documents_to_spans


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    spans = documents_to_spans(docs)
    write_bucketed(spans, "spans_in", n_buckets=8)
    done = spans.limit(40).select("doc_id", F.lit(1).alias("n_spans_out"))
    write_bucketed(done, "spans_done", n_buckets=8)
    yield "spans_in", "spans_done"
    spark.sql("DROP TABLE IF EXISTS spans_in")
    spark.sql("DROP TABLE IF EXISTS spans_done")


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_resume_antijoin_shuffle_free(spark, bucketed_tables):
    inp, done = bucketed_tables
    # force the join path (not broadcast) to prove bucket co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        remaining = resume_join_bucketed(spark, inp, done)
        plan = _plan_of(remaining)
        assert "Exchange" not in plan, plan
        assert remaining.count() == 60
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_scan_roundtrip(spark, bucketed_tables):
    inp, _ = bucketed_tables
    df = read_bucketed(spark, inp)
    assert df.count() == 100
    row = df.orderBy("doc_id").first()
    assert isinstance(row.spans, list) and len(row.spans) == row.n_spans


def test_extract_pipeline_steady_state_shuffle_free(spark, sf_dir):
    """The 100 TB steady state — input pre-bucketed by hash(doc_id)
    (repartition=False) and table stats proving no mega docs
    (has_mega=False) — must plan with ZERO Exchange operators and no
    page-split subtree: scan → kernel, nothing else."""
    # no .limit() here — a global limit inserts its own SinglePartition
    # Exchange and would mask what this test pins
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # pre_partition=False: the synthesis-side width pin is a local-parquet
    # artifact (single scan split); the steady state this test pins reads
    # an ALREADY-distributed bucketed table, so the synthesized stand-in
    # must not inject the pin's Exchange
    spans = documents_to_spans(docs, pre_partition=False)
    from swissgeol_ocr_spark.plans.pipeline import extract_pipeline

    out = extract_pipeline(spans, repartition=False, has_mega=False)
    plan = _plan_of(out)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no posexplode = no mega subtree
    assert out.count() == docs.count()


def test_media_pixel_queries_shuffle_free(spark, sf_dir):
    """The real-pixel media paths (decode → features; decode → resize →
    re-encode → features) are embarrassingly parallel: their plans must be
    scan → project → MapInPandas with ZERO Exchange operators — the shape
    that scales linearly with executors on a 100 TB media table."""
    from swissgeol_ocr_spark.plans.queries import q_media_downscale, q_media_features

    for q in (q_media_features, q_media_downscale):
        plan = _plan_of(q(spark, sf_dir))
        assert "Exchange" not in plan, (q.__name__, plan)
        assert "MapInPandas" in plan, (q.__name__, plan)
