"""Construction-memo pins: the unresolved-Column cache
(swissgeol_ocr_spark.exprcache) caches ASTs ONLY — results must be
identical to fresh construction — and _t returns a fresh DataFrame per
read of a declared-schema table."""

from pyspark.sql import functions as F


def test_cached_cols_returns_same_ast_and_fresh_builds_match(spark, tmp_path):
    """Two documents_to_spans calls share one cached spans AST (no rebuild)
    yet produce row-identical output on different input DataFrames —
    the memoized Column re-resolves per plan like a fresh build would."""
    from swissgeol_ocr_spark.exprcache import cached_cols
    from swissgeol_ocr_spark.sources import corpus

    # same key -> same object; builder runs once
    calls = []
    a = cached_cols(("test", "k1"), lambda: calls.append(1) or F.lit(7))
    b = cached_cols(("test", "k1"), lambda: calls.append(1) or F.lit(8))
    assert a is b and calls == [1]

    rows1 = [(1, "alpha beta gamma delta " * 10), (2, "epsilon zeta " * 5)]
    rows2 = [(3, "eta theta iota kappa " * 8)]
    d1 = spark.createDataFrame(rows1, "doc_id long, text string")
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    s1 = corpus.documents_to_spans(d1, pre_partition=False)
    s2 = corpus.documents_to_spans(d2, pre_partition=False)
    # the cached AST binds to EACH plan's own columns: disjoint inputs,
    # disjoint outputs, and re-running the same input is bit-stable
    out1 = {r.doc_id: r.n_spans for r in s1.collect()}
    out2 = {r.doc_id: r.n_spans for r in s2.collect()}
    assert set(out1) == {"1", "2"} and set(out2) == {"3"}
    again = {r.doc_id: r.n_spans for r in
             corpus.documents_to_spans(d1, pre_partition=False).collect()}
    assert again == out1


def test_memoized_columns_survive_session_restart():
    """bench.py --scaling stops and recreates the SparkSession inside one
    Python process: memoized Columns must stay valid across the restart
    (the py4j gateway JVM persists for the life of the process). Run in a
    SUBPROCESS so the session-scoped test fixture is untouched."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from pyspark.sql import SparkSession
        from swissgeol_ocr_spark.plans.pipeline import configure_spark
        from swissgeol_ocr_spark.sources.corpus import documents_to_spans

        def run(master):
            spark = configure_spark(
                SparkSession.builder.master(master)
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "4")
            ).getOrCreate()
            docs = spark.createDataFrame(
                [(i, f"word{i} " * 25) for i in range(12)],
                "doc_id long, text string")
            out = sorted((r.doc_id, r.n_spans) for r in
                         documents_to_spans(docs, pre_partition=False).collect())
            spark.stop()
            return out

        a = run("local[2]")   # populates the AST memo
        b = run("local[3]")   # new session, same process, memo reused
        assert a == b and len(a) == 12, (a, b)
        print("RESTART_OK")
        """
    ) % (str(__import__("pathlib").Path(__file__).resolve().parents[1]),)
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert "RESTART_OK" in res.stdout, res.stdout + res.stderr


def test_t_self_join_keeps_fresh_expr_ids(spark, tmp_path):
    """_t returns a FRESH DataFrame per call (only the declared schema is shared):
    joining two _t reads of the same table must behave like two
    independent reads, not a degenerate self-join."""
    from swissgeol_ocr_spark.plans import queries as Q

    p = str(tmp_path)
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{p}/documents.parquet")
    a = Q._t(spark, p, "documents")
    b = Q._t(spark, p, "documents")
    assert a is not b
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id")
    )
    assert joined.count() == 2
