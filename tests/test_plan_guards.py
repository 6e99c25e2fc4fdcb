"""Registry-wide physical-plan guards.

Individual queries pin their own plan shapes (broadcast joins, reused
exchanges, TakeOrderedAndProject); this sweep catches the anti-patterns
that would silently regress at 100 TB in ANY of the registered queries:

* ``CartesianProduct`` — an all-pairs scan of the corpus. Spark emits it
  only for a non-broadcast cross join, and no query here has a legitimate
  one: every intentional crossJoin is against a broadcast scalar/stats
  relation (which plans as BroadcastNestedLoopJoin over 1 row).
* ``BatchEvalPython`` — a row-at-a-time Python UDF in the hot path. All
  Python execution here is Arrow-batched (MapInArrow /
  FlatMapGroupsInPandas), ~10-100x faster; a stray F.udf would
  deserialize the corpus row by row.

The guard reads the formatted PHYSICAL plan at sf0.001 (plan construction
only — queries whose builders run bounded driver-side fixpoints, e.g.
connected components, execute their small probe jobs, which is their
documented behavior)."""

import contextlib
import io
import re

import pytest

from swissgeol_ocr_spark.plans.queries import QUERIES, RUN_ON_CALL

SF = "/root/testdata/sf0.001"

# RUN_ON_CALL entries execute a bounded streaming job and return a plain
# sink scan — auditing that scan is vacuous (their real plans run inside
# the streaming query, covered by tests/test_streaming_multimodal.py),
# and each would cost a full staged run per sweep.
GUARDED = sorted(set(QUERIES) - RUN_ON_CALL)


def _formatted_plan(df) -> str:
    # public-API capture (same shape as tests/test_bucketed.py): survives
    # internal renames and Spark Connect, unlike df._sc._jvm reach-ins
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", GUARDED)
def test_no_cartesian_or_row_udf(spark, name):
    fn, _ = QUERIES[name]
    plan = _formatted_plan(fn(spark, SF))
    assert "CartesianProduct" not in plan, f"{name}: all-pairs corpus scan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_extract_pipeline_single_route(spark):
    """Every sub-cutoff document takes the one ``mapInArrow`` kernel (no-media
    documents ride its Arrow gather): with no mega subtree the plan holds
    exactly one MapInArrow and no Union or JVM ``sort_array`` — a second
    born-digital route would show up here as both."""
    from swissgeol_ocr_spark.plans.pipeline import extract_pipeline
    from swissgeol_ocr_spark.sources.corpus import documents_to_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted_plan(
        extract_pipeline(documents_to_spans(docs), has_mega=False)
    )
    # one "(N) MapInArrow" detail header per plan node
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan
    assert "Union" not in plan, plan
    assert "sort_array" not in plan, plan
