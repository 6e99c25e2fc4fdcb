"""Measured recall evidence for the approximate-nearest-neighbor family.

The scale claims ("trained IVF beats the static codebook", "LSH bucketing
is a usable candidate filter") must be measured, not asserted: every query
here is fully deterministic (deterministic hyperplanes / quantized Lloyd
rounds), so recall@10 against the exact cosine_topk ground truth is a
fixed number per query vector — the bounds below are pinned from measured
values with margin and will fail loudly if a code change degrades recall.
"""

import pytest

from pyspark.sql import functions as F

from swissgeol_ocr_spark.functions import simsearch

SF_DIR = "/root/testdata/sf0.01"
K = 10
QUERY_IDS = [0, 7, 23, 101]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _topk_ids(df) -> list:
    return [r[0] for r in df.collect()]


def _recall(approx: list, exact: list) -> float:
    return len(set(approx) & set(exact)) / len(exact)


def test_ann_recall_at_10(emb):
    """recall@10 over several query vectors; per-method mean must clear a
    pinned bound. Exact ground truth: brute-force cosine_topk."""
    recalls = {"lsh": [], "ivf_static": [], "ivf_trained": []}
    for q in QUERY_IDS:
        exact = _topk_ids(simsearch.cosine_topk(emb, query_vec_id=q, k=K))
        assert len(exact) == K
        recalls["lsh"].append(
            _recall(
                _topk_ids(
                    simsearch.lsh_ann(
                        emb, query_vec_id=q, k=K,
                        n_planes=8, n_tables=2, probe_hamming=2,
                    )
                ),
                exact,
            )
        )
        recalls["ivf_static"].append(
            _recall(
                _topk_ids(
                    simsearch.ivf_ann_trained(
                        emb, query_vec_id=q, k=K, n_lists=8, iters=0, n_probes=1
                    )
                ),
                exact,
            )
        )
        recalls["ivf_trained"].append(
            _recall(
                _topk_ids(
                    simsearch.ivf_ann_trained(
                        emb, query_vec_id=q, k=K, n_lists=8, iters=2, n_probes=2
                    )
                ),
                exact,
            )
        )
    means = {m: sum(v) / len(v) for m, v in recalls.items()}
    # pinned bounds — deterministic queries → stable values; measured:
    # ivf_trained 0.625, ivf_static 0.5, lsh 0.5 (2 tables × Hamming-2
    # probe ring; the round-3 single-table H1 ring measured 0.175 and the
    # single-bucket variant 0.05). The corpus embeddings are near-random,
    # so exact-top-k recall is intrinsically modest — LSH's contract is
    # recall-per-fraction-scanned (2·37/256 ≈ 29% here), and the
    # trained+multi-probe IVF beating the static codebook is the design
    # claim.
    assert means["ivf_trained"] >= 0.5, means
    assert means["lsh"] >= 0.45, means
    assert means["ivf_trained"] >= means["ivf_static"], means


def test_lsh_ann_plan_shape(emb):
    """The multi-table multi-probe rewrite must keep the scale-safe plan:
    each per-table candidate fetch is a BroadcastHashJoin of the
    broadcast-size probe set against the bucketed corpus, the final top-k
    is TakeOrderedAndProject, and nothing degenerates into a sort-merge
    join or a cartesian product (the corpus is never scanned all-pairs)."""
    df = simsearch.lsh_ann(
        emb, query_vec_id=0, k=K, n_planes=8, n_tables=2, probe_hamming=2
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_trained_ivf_beats_static_per_query(emb):
    """The trained codebook + 2-probe search is never worse than the static
    codebook on any tested query vector (same n_lists, same k)."""
    for q in QUERY_IDS:
        exact = _topk_ids(simsearch.cosine_topk(emb, query_vec_id=q, k=K))
        static = _recall(
            _topk_ids(
                simsearch.ivf_ann_trained(
                    emb, query_vec_id=q, k=K, n_lists=8, iters=0, n_probes=1
                )
            ),
            exact,
        )
        trained = _recall(
            _topk_ids(
                simsearch.ivf_ann_trained(
                    emb, query_vec_id=q, k=K, n_lists=8, iters=2, n_probes=2
                )
            ),
            exact,
        )
        assert trained >= static, (q, trained, static)
