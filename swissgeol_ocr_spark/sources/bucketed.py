"""Bucketed spans tables — the co-location layer for 100 TB steady state.

At fleet scale the spans corpus and the extraction output both live as
tables bucketed by ``hash(doc_id)`` (Iceberg bucket partition transform /
Spark ``bucketBy``). Then:

* the kernel consumes scan output directly — the north rule's explicit
  repartition becomes a no-op (``extract_pipeline(..., repartition=False)``)
* the skip-existing resume anti-join (reference main.py:36-41,
  ``plans.pipeline.resume_filter``) over two such tables is
  **shuffle-free**: both sides are pre-hashed on the join key, so the plan
  is scan ⋈ scan with zero Exchange operators — verified by
  tests/test_bucketed.py against the physical plan.

Parquet ``bucketBy`` tables stand in for Iceberg bucket transforms in this
sandbox; the co-location property is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int = 64, mode: str = "overwrite"
) -> None:
    """Persist as a doc_id-bucketed, intra-bucket-sorted table."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(table)
    )

