#!/usr/bin/env python
"""Print or save formatted physical plans (``explain("formatted")``).

With no flags it prints the PLANS.md evidence queries to stdout:
media_features, dedup_simhash_pairs, lsh_ann (multi-table multi-probe),
ivf_ann_trained, dedup_band_stats, corpus_curation and the other audit
queries listed in ``AUDIT``. ``--queries a,b,...`` picks the queries;
``--out DIR`` writes one ``DIR/<query>.txt`` per query instead of
printing, with the per-session ids removed (``#NNN`` expression ids, the
``_NN`` suffix of lambda variables, ``RDD[NN]`` and ``plan_id``), and
without ``--queries`` it captures the ``bench.HEADLINE`` suite: run it
on two trees and ``diff -r`` the directories to check plan identity.

dedup_clusters is deliberately NOT in ``AUDIT``: its star-CC loop
localCheckpoints every round, so even constructing the final plan executes
jobs — its scale argument is the per-round shape (two grouped aggregations
on the node key) documented in PLANS.md and pinned by the chain/union-find
tests.

Usage: python scripts/plan_audit.py [sf_dir] [--queries a,b,...] [--out DIR]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = (
    "media_features", "dedup_simhash_pairs", "lsh_ann", "ivf_ann_trained",
    "dedup_band_stats", "corpus_curation", "dedup_lines", "pii_scrub",
    "tfidf_topk", "temperature_mix", "lm_score", "dedup_substrings",
    "corpus_stats", "winnow_fingerprint",
)

# ids that differ between two sessions planning the same query
_SESSION_IDS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
)


def strip_session_ids(plan: str) -> str:
    for pattern, repl in _SESSION_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--queries",
        help="comma-separated registry names (default: AUDIT, or "
        "bench.HEADLINE with --out)",
    )
    ap.add_argument("--out", help="write DIR/<query>.txt instead of printing")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bench import HEADLINE
    from swissgeol_ocr_spark.plans.pipeline import configure_spark
    from swissgeol_ocr_spark.plans.queries import QUERIES

    if args.queries:
        names = [q for q in args.queries.split(",") if q]
    else:
        names = HEADLINE if args.out else AUDIT
    spark = configure_spark(
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in names:
        fn, _ = QUERIES[name]
        df = fn(spark, args.sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        if args.out:
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(strip_session_ids(buf.getvalue()))
        else:
            print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
            print(buf.getvalue(), end="")
    spark.stop()


if __name__ == "__main__":
    main()
