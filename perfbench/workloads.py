"""The benchmark workloads. Each one prepares its seeded input once
(cached), then runs timed passes through the engine's public functions and
checks every pass's output.

* ``LinesCommit`` — ``documents_to_spans`` over the replicated TESTDATA sf0.1
  corpus plus a small mega-document slice, through ``extract_pipeline`` →
  ``write_output``; the first run commits half the input and "crashes", the
  restart (``read_committed`` → ``extract_pipeline(done_df=…)`` →
  ``write_output``) finishes the rest.
* ``QuerySuite`` — the 14 ``bench.py`` headline queries built through
  ``QUERIES`` over the TESTDATA sf0.01 tables, every output column forced.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from bench import HEADLINE
from inputs import cached, dir_bytes, seeded_documents, write_seeded_tables

# queries whose registry oracle reads golden files pinned to the
# unseeded TESTDATA.md sf0.01 tables; checked here by their own contract instead (see README)
GOLDEN_PINNED = ("extract_flagship", "extract_words")
SAMPLE_DOCS = 24  # documents checked against the independent twin
TWIN_EDGE_PAGES = 16  # pages checked at each end of a mega-slice document
KERNEL_SAMPLE_DOCS = 64  # documents per granularity in the operator microbench


@dataclass
class PassResult:
    wall_s: float
    attempted: int
    failed: int
    digest: tuple
    layer: dict = field(default_factory=dict)
    # the Spark job descriptions the pass ran under (event-log attribution)
    descriptions: set = field(default_factory=set)


def _digest(df) -> tuple:
    """``bench.force_all_columns``' aggregate — one action that forces every
    output column — keeping its checksum too: (rows, order-independent
    hash), compared across passes."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).first()
    return int(row["n"]), row["chk"]


def _twin(root: str):
    """The independent corpus+extraction twin from scripts/ (pure Python,
    imports no engine kernel code)."""
    import importlib
    import sys

    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    make_golden = importlib.import_module("make_golden")
    ref_twin = importlib.import_module("ref_twin")
    return make_golden, ref_twin


def _twin_mismatches(root: str, rows: dict, expected_docs: dict, words: bool,
                     mega_factor: int | None = None, edge_pages: int | None = None) -> int:
    """Documents of ``expected_docs`` (doc_id → text) whose output span
    sequence (``rows``: doc_id → [(kind, text, media_ref, offset)]) differs
    from the twin's. ``mega_factor`` is the word-repeat factor the input
    synthesis used for the mega subset, when not the corpus default.

    With ``edge_pages``, only the first and the last ``edge_pages`` pages of
    each document are extracted by the twin (it is pure Python, seconds per
    mega document); the twin extracts page by page, so they must match the
    head and the tail of the output, whose offsets must be dense."""
    make_golden, ref_twin = _twin(root)
    synth = make_golden.synth_word_spans if words else make_golden.synth_spans
    default = make_golden.MEGA_FACTOR
    make_golden.MEGA_FACTOR = mega_factor or default
    try:
        bad = 0
        for doc_id, text in expected_docs.items():
            spans = synth(doc_id, text)
            # a scanned document may legitimately emit no spans at all
            got = [tuple(x) for x in rows.get(doc_id, [])]
            if edge_pages is None:
                ok = got == [tuple(x) for x in ref_twin.twin_extract(spans, build_lines_from_words=words)]
            else:
                last = max(s[3] for s in spans)
                head = ref_twin.twin_extract([s for s in spans if s[3] < edge_pages],
                                             build_lines_from_words=words)
                tail = ref_twin.twin_extract([s for s in spans if s[3] > last - edge_pages],
                                             build_lines_from_words=words)
                ok = (
                    [x[3] for x in got] == list(range(len(got)))
                    and [x[:3] for x in got[:len(head)]] == [x[:3] for x in head]
                    and [x[:3] for x in got[len(got) - len(tail):]] == [x[:3] for x in tail]
                )
            bad += not ok
    finally:
        make_golden.MEGA_FACTOR = default
    return bad


def _write_kernel_sample(spark, docs_df, out_dir: str) -> None:
    """Line- and word-granularity spans of the first KERNEL_SAMPLE_DOCS
    documents, for the Spark-free operator microbench."""
    from swissgeol_ocr_spark.sources.corpus import documents_to_spans, documents_to_word_spans

    sample = docs_df.orderBy("doc_id").limit(KERNEL_SAMPLE_DOCS)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in (("lines", documents_to_spans), ("words", documents_to_word_spans)):
        tbl = fn(sample, pre_partition=False).select("doc_id", "spans").toArrow()
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _route_shares(spans_df) -> dict:
    """Share of documents (and spans) on each extract_pipeline route,
    counted from the input's ``has_media`` / ``n_spans`` hint columns."""
    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.plans.config import ExtractConfig

    cut = ExtractConfig().mega_doc_span_cutoff
    split = F.col("n_spans") > cut
    pt = ~F.col("has_media") & ~split
    r = spans_df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum(pt.cast("long")).alias("pt"),
        F.sum(split.cast("long")).alias("split"),
        F.sum(F.when(split, F.col("n_spans")).otherwise(0)).alias("split_spans"),
        F.max("n_spans").alias("max_spans"),
        *([F.sum(F.col("first_run").cast("long")).alias("first_run")]
          if "first_run" in spans_df.columns else []),
    ).first()
    docs = max(1, r["docs"])
    return {
        "docs": r["docs"],
        "spans": int(r["spans"] or 0),
        "max_spans": int(r["max_spans"] or 0),
        "pipeline.passthrough_doc_share": r["pt"] / docs,
        "pipeline.kernel_doc_share": (docs - r["pt"] - r["split"]) / docs,
        "pipeline.split_doc_share": r["split"] / docs,
        "pipeline.split_span_share": (r["split_spans"] or 0) / max(1, r["spans"] or 0),
        "first_run_docs": r.asDict().get("first_run"),
    }


class _Workload:
    """Seeded, cached input under ``<work>/inputs/<name>-<size>-<seed>``;
    subclasses define ``name``, ``SIZES``, ``WARMUP``, ``MIN_PASSES``,
    ``_build`` (returns the input record), ``run_pass``, ``final_check``
    (the twin check after the last pass) and ``n_checked`` (documents it
    checks)."""

    def __init__(self, root: str, work: str, size: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.cfg = self.SIZES[size]
        self.dir = os.path.join(work, "inputs", f"{self.name}-{size}-{seed}")

    def prepare(self, spark) -> None:
        os.makedirs(self.dir, exist_ok=True)
        self._rec = cached(os.path.join(self.dir, "record.json"), lambda: self._build(spark))

    def n_docs(self) -> int:
        return self._rec["docs"]

    def sample_dir(self) -> str:
        return os.path.join(self.dir, "sample")

    def write_kernel_sample(self, spark) -> None:
        """The operator microbench's input (only a traced run needs it),
        cached beside the workload's input."""
        if not os.path.exists(os.path.join(self.sample_dir(), "words.parquet")):
            _write_kernel_sample(spark, self._documents(spark), self.sample_dir())

    def cleanup(self) -> None:
        pass


class LinesCommit(_Workload):
    """Extraction with writes: pipeline → sink, then a restart that must
    skip every committed document and finish the rest."""

    name = "lines_commit"
    # the JVM keeps warming for minutes; a fixed number of discarded passes
    # puts every run at the same point of that curve
    WARMUP = 1
    MIN_PASSES = 4
    # TESTDATA corpus, replicas of it (replicate_documents), and the mega
    # slice: that many documents synthesized with MEGA_SLICE_FACTOR so that
    # they cross mega_doc_span_cutoff and take the page-split path
    SIZES = {
        "full": {"sf": "sf0.1", "replicas": 2, "mega_docs": 1},
        "smoke": {"sf": "sf0.01", "replicas": 1, "mega_docs": 1},
    }
    MEGA_SLICE_FACTOR = 4000

    def prepare(self, spark) -> None:
        super().prepare(spark)
        # the table-stats lookup: keep the split subtree only when a
        # document crosses the cutoff
        from swissgeol_ocr_spark.plans.config import ExtractConfig

        self._has_mega = self._rec["max_spans"] > ExtractConfig().mega_doc_span_cutoff

    def _mega_slice(self, docs) -> list:
        """The ``mega_docs`` documents of the corpus's mega subset with the
        fewest words that still cross the cutoff at MEGA_SLICE_FACTOR (ties
        by doc_id), so every seed gets slices of about the same size."""
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.plans.config import ExtractConfig
        from swissgeol_ocr_spark.sources.corpus import WORDS_PER_LINE, documents_to_spans

        # the mega subset: documents whose span count depends on mega_docs
        counts = documents_to_spans(docs).select("doc_id", "n_spans").join(
            documents_to_spans(docs, mega_docs=False).select("doc_id", F.col("n_spans").alias("plain")),
            "doc_id",
        )
        mega = counts.filter(F.col("n_spans") != F.col("plain")).select("doc_id")
        min_words = ExtractConfig().mega_doc_span_cutoff * WORDS_PER_LINE // self.MEGA_SLICE_FACTOR + 1
        words = F.size(F.split("text", " "))
        rows = (docs.join(mega, "doc_id").filter(words >= min_words)
                .orderBy(words, "doc_id").limit(self.cfg["mega_docs"]).select("doc_id").collect())
        return [r["doc_id"] for r in rows]

    def _replicas(self, spark):
        """The seeded corpus ×replicas: replica r of document <id> is '<id>-r'."""
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.sources.corpus import replicate_documents

        docs = replicate_documents(spark.read.parquet(os.path.join(self.dir, "documents.parquet")),
                                   self.cfg["replicas"])
        return docs.withColumn("doc_id", F.col("doc_id").cast("string"))

    def _documents(self, spark):
        """The replicas outside the mega slice."""
        from pyspark.sql import functions as F

        return self._replicas(spark).filter(~F.col("doc_id").isin(self._rec["mega_slice"]))

    def _build(self, spark) -> dict:
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.sources.corpus import documents_to_spans

        pq.write_table(seeded_documents(self.cfg["sf"], self.seed).select(["doc_id", "text"]),
                       os.path.join(self.dir, "documents.parquet"))
        docs = self._replicas(spark)
        mega_ids = self._mega_slice(docs)
        in_slice = F.col("doc_id").isin(mega_ids)
        spans = documents_to_spans(docs.filter(~in_slice)).unionByName(
            documents_to_spans(docs.filter(in_slice), mega_factor=self.MEGA_SLICE_FACTOR))
        # the share of the input the interrupted first run commits
        spans = spans.withColumn("first_run", F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
        k = spark.sparkContext.defaultParallelism
        spans_path = os.path.join(self.dir, "spans")
        spans.repartition(4 * k, "doc_id").write.mode("overwrite").parquet(spans_path)
        spans = spark.read.parquet(spans_path)
        rec = _route_shares(spans)
        rec["mega_slice"] = mega_ids
        # the twin sample: every slice document, and SAMPLE_DOCS of the rest
        sample = docs.filter(~in_slice).orderBy(F.xxhash64("doc_id"), "doc_id").limit(SAMPLE_DOCS)
        rec["sample"] = {r["doc_id"]: r["text"] for r in sample.select("doc_id", "text").collect()}
        rec["sample_mega"] = {r["doc_id"]: r["text"] for r in docs.filter(in_slice).collect()}
        rec["bytes"] = dir_bytes(spans_path)
        return rec

    def run_pass(self, spark, i: int, tracer, traced: bool) -> PassResult:
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.plans.pipeline import extract_pipeline, read_committed, write_output

        sc = spark.sparkContext
        out = os.path.join(self.work, "out", self.name, f"p{i}")
        shutil.rmtree(out, ignore_errors=True)
        out_path, metrics_path = os.path.join(out, "data"), os.path.join(out, "metrics")
        layer = {"pipeline.build_ms": 0.0, "pipeline.plan_ms": 0.0, "sink.write_s": 0.0}
        spans = spark.read.parquet(os.path.join(self.dir, "spans"))

        def run(tag, df, done_df=None):
            sc.setJobDescription(f"p{i}:{tag}")
            with tracer.span(f"{tag}.build"):
                t = time.perf_counter()
                res = extract_pipeline(df, done_df=done_df, has_mega=self._has_mega)
                layer["pipeline.build_ms"] += (time.perf_counter() - t) * 1e3
            if traced:
                with tracer.span(f"{tag}.plan"):
                    t = time.perf_counter()
                    res._jdf.queryExecution().executedPlan()
                    layer["pipeline.plan_ms"] += (time.perf_counter() - t) * 1e3
            with tracer.span(f"{tag}.write_output"):
                t = time.perf_counter()
                write_output(res, out_path, run_id=f"p{i}{tag}", metrics_path=metrics_path)
                layer["sink.write_s"] += time.perf_counter() - t

        t0 = time.perf_counter()
        with tracer.span("first_run"):
            run("first", spans.filter("first_run").drop("first_run"))
        t1 = time.perf_counter()
        with tracer.span("resume"):
            done = read_committed(spark, out_path)
            run("resume", spans.drop("first_run"), done_df=done)
        t2 = time.perf_counter()
        sc.setJobDescription(None)

        # correctness: every input document exactly once, none quarantined,
        # the restart skipped exactly the first run's commits
        rec = self._rec
        r = spark.read.parquet(out_path).agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
            F.sum(F.col("status").startswith("error").cast("long")).alias("quarantined"),
            F.sum((F.col("run_id") == f"p{i}first").cast("long")).alias("first"),
            F.bit_xor(F.xxhash64("doc_id", "spans_out", "status")).alias("chk"),
        ).first()
        failed = (
            abs(rec["docs"] - r["docs"]) + (r["rows"] - r["docs"]) + (r["quarantined"] or 0)
            + abs((r["first"] or 0) - rec["first_run_docs"])
        )
        digest = (r["rows"], r["chk"])
        layer["sink.resume_s"] = t2 - t1
        layer["sink.resume_skip_share"] = (r["first"] or 0) / max(1, rec["docs"])
        layer["sink.files"] = sum(1 for f in os.listdir(out_path) if f.endswith(".parquet"))
        layer["sink.bytes_per_input_byte"] = dir_bytes(out_path) / max(1, rec["bytes"])
        self._last_out = out_path
        return PassResult(t2 - t0, rec["docs"], failed, digest, layer, {f"p{i}:first", f"p{i}:resume"})

    def final_check(self, spark) -> int:
        """Sample documents and every mega-slice document of the last pass's
        committed output against the twin; returns the number of mismatches."""
        from pyspark.sql import functions as F

        sample, mega = self._rec["sample"], self._rec["sample_mega"]
        rows = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans_out"]]
            for r in spark.read.parquet(self._last_out)
            .filter(F.col("doc_id").isin([*sample, *mega])).select("doc_id", "spans_out").collect()
        }
        return (_twin_mismatches(self.root, rows, sample, words=False)
                + _twin_mismatches(self.root, rows, mega, words=False,
                                   mega_factor=self.MEGA_SLICE_FACTOR, edge_pages=TWIN_EDGE_PAGES))

    def n_checked(self) -> int:
        return len(self._rec["sample"]) + len(self._rec["sample_mega"])

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out", self.name), ignore_errors=True)


class QuerySuite(_Workload):
    """Many short jobs: driver construction and planning carry weight."""

    name = "query_suite"
    # the first pass compiles 14 plans and runs at about half speed
    WARMUP = 1
    MIN_PASSES = 3
    # only the sf0.01 tables ship with the benchmark; the smoke size runs
    # them too, with fewer passes
    SIZES = {"full": {"sf": "sf0.01"}, "smoke": {"sf": "sf0.01"}}

    def __init__(self, root: str, work: str, size: str, seed: int):
        super().__init__(root, work, size, seed)
        self.tables = os.path.join(self.dir, "tables")

    def _documents(self, spark):
        return spark.read.parquet(os.path.join(self.tables, "documents.parquet"))

    def _build(self, spark) -> dict:
        import duckdb

        from swissgeol_ocr_spark.plans.queries import QUERIES, TABLES
        from swissgeol_ocr_spark.sources.corpus import documents_to_spans

        rows = write_seeded_tables(self.tables, self.seed, self.cfg["sf"])
        # the DuckDB oracle's row count per query, computed once per seed
        con = duckdb.connect()
        try:
            con.sql("SET threads TO 2")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            expected = {
                name: con.sql(f"SELECT count(*) FROM ({QUERIES[name][1]})").fetchone()[0]
                for name in HEADLINE if name not in GOLDEN_PINNED
            }
        finally:
            con.close()
        # extract_flagship: one output row per document
        expected["extract_flagship"] = rows["documents"]
        docs = pq.read_table(os.path.join(self.tables, "documents.parquet"))
        rec = _route_shares(documents_to_spans(self._documents(spark)))
        rec.update(docs=rows["documents"], rows=rows, expected=expected)
        rec["bytes"] = dir_bytes(self.tables)
        step = max(1, docs.num_rows // SAMPLE_DOCS)
        rec["sample"] = {str(d): t for d, t in zip(
            docs["doc_id"].to_pylist()[::step][:SAMPLE_DOCS], docs["text"].to_pylist()[::step])}
        return rec

    def run_pass(self, spark, i: int, tracer, traced: bool) -> PassResult:
        from swissgeol_ocr_spark.plans.queries import QUERIES

        sc = spark.sparkContext
        layer = {"queries.build_ms": 0.0, "pipeline.build_ms": 0.0, "pipeline.plan_ms": 0.0}
        expected = self._rec["expected"]
        failed, digest = 0, []
        t0 = time.perf_counter()
        for name in HEADLINE:
            sc.setJobDescription(f"p{i}:{name}")
            with tracer.span(f"query.{name}"):
                t = time.perf_counter()
                with tracer.span("build"):
                    df = QUERIES[name][0](spark, self.tables)
                b = x = time.perf_counter()
                if traced and name in GOLDEN_PINNED:
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    x = time.perf_counter()
                    layer["pipeline.plan_ms"] += (x - b) * 1e3
                with tracer.span("execute"):
                    n, chk = _digest(df)
                e = time.perf_counter()
            layer["queries.build_ms"] += (b - t) * 1e3
            if name in GOLDEN_PINNED:
                layer["pipeline.build_ms"] += (b - t) * 1e3
                layer["pipeline.exec_s"] = layer.get("pipeline.exec_s", 0.0) + e - x
            layer[f"query.{name}_s"] = e - t
            digest.append((n, chk))
            if name in expected and n != expected[name]:
                failed += 1
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        return PassResult(wall, len(HEADLINE), failed, tuple(digest), layer,
                          {f"p{i}:{name}" for name in HEADLINE})

    def final_check(self, spark) -> int:
        """extract_words rows of the sample documents against the twin."""
        from pyspark.sql import functions as F

        from swissgeol_ocr_spark.plans.queries import QUERIES

        sample = self._rec["sample"]
        rows: dict[str, list] = {}
        df = QUERIES["extract_words"][0](spark, self.tables)
        for r in df.filter(F.col("doc_id").isin(list(sample))).collect():
            rows.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"], r["offset"]))
        for v in rows.values():
            v.sort(key=lambda s: s[3])
        return _twin_mismatches(self.root, rows, sample, words=True)

    def n_checked(self) -> int:
        return len(self._rec["sample"])


WORKLOADS = {w.name: w for w in (LinesCommit, QuerySuite)}
